"""Versioned table catalog — Iceberg semantics, parquet+manifest backend.

The north rule targets Iceberg tables (BASELINE.json). The sandbox has no
Iceberg runtime jar and no network to fetch one (SURVEY.md §7), so this
module provides the same *semantics* behind one interface:

- ``append`` / ``overwrite`` are atomic commits producing a new table
  version (manifest-JSON swap via ``os.replace`` — atomic on POSIX),
- every version is retained → snapshot isolation + time travel, which is
  what makes any crawl round resumable (SURVEY.md §2 O14; the reference
  gets durability from durable-queue slab files + LMDB under ``:job-dir``,
  shriphani/pegasus ``src/pegasus/cache.clj`` — symbol cite per SURVEY.md §0),
- readers always see the last committed version; a crash mid-append
  leaves only orphan data dirs, never a torn table.

On a real cluster, swap ``ManifestCatalog`` for an Iceberg catalog:
``df.writeTo(name).append()`` and ``CALL rollback_to_snapshot`` map 1:1
to ``append``/``restore``. Data dirs are written by Spark executors in
parallel (the manifest only lists directories), so nothing here funnels
rows through the driver — it scales to 10^10-row tables; the manifest
grows by one path per commit, not per file.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class ManifestCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # multi-table transaction state: staged {table → version} whose
        # manifest files are on disk but whose CURRENT pointers haven't
        # been swapped yet (see txn())
        self._txn_pending: dict[str, int] | None = None
        self._txn_lock = threading.Lock()

    # ---- paths -----------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _mdir(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_manifest")

    def _mpath(self, name: str, version: int) -> str:
        return os.path.join(self._mdir(name), f"v{version:06d}.json")

    # ---- lifecycle -------------------------------------------------
    def create(self, name: str, schema_ddl: str,
               bucket_by: tuple[str, int] | None = None,
               write_options: dict[str, str] | None = None) -> None:
        """Create an empty table (version 0). Idempotent.

        ``bucket_by=(col, B)`` is the Iceberg ``bucket(B, col)`` partition
        transform analogue: every write hash-distributes rows into B
        directory partitions (``_bucket=<pmod(col, B)>``), recorded in the
        manifest as a table property. Two tables bucketed the same way
        join bucket-by-bucket with no data-sized shuffle (Iceberg's
        storage-partitioned join) — see ``fetch.bucketed_store_join``.

        ``write_options`` are per-table writer defaults (Iceberg
        per-table write properties analogue, e.g. parquet.block.size for
        blob tables) — a TABLE property, so every writer honors them:
        appends, overwrites AND compaction rewrites (which previously
        silently reverted compacted blob dirs to the default 128 MB/
        dictionary parquet shape — ADVICE r4 #2). Per-call ``options``
        override per key."""
        if self.exists(name):
            return
        os.makedirs(self._mdir(name), exist_ok=True)
        os.makedirs(os.path.join(self._tdir(name), "data"), exist_ok=True)
        self._commit(name, {"version": 0, "schema_ddl": schema_ddl, "dirs": [],
                            "parent": None,
                            "bucket_by": list(bucket_by) if bucket_by else None,
                            "write_options": dict(write_options) if write_options else None})

    def bucket_spec(self, name: str) -> tuple[str, int] | None:
        b = self._manifest(name).get("bucket_by")
        return (b[0], int(b[1])) if b else None

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._mdir(name), "CURRENT"))

    def _manifest(self, name: str, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version(name)
        with open(self._mpath(name, version)) as f:
            return json.load(f)

    def is_empty(self, name: str) -> bool:
        """True if the table has never been written (no data dirs in the
        current manifest). Manifest-only — costs no Spark job."""
        return not self._manifest(name)["dirs"]

    def current_version(self, name: str) -> int:
        pending = self._txn_pending
        if pending is not None and name in pending:
            return pending[name]  # read-your-writes inside a transaction
        with open(os.path.join(self._mdir(name), "CURRENT")) as f:
            return int(f.read().strip())

    def _swap_current(self, name: str, v: int) -> None:
        cur = os.path.join(self._mdir(name), "CURRENT")
        tmp = cur + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, cur)

    def _commit(self, name: str, manifest: dict) -> int:
        v = manifest["version"]
        mp = self._mpath(name, v)
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mp)
        if self._txn_pending is not None:
            # stage: the versioned manifest is inert until CURRENT points
            # at it; the swap happens for every table at txn exit
            with self._txn_lock:
                self._txn_pending[name] = v
        else:
            self._swap_current(name, v)
        return v

    @contextmanager
    def txn(self):
        """Multi-table commit: every append/overwrite inside the block
        writes its data + versioned manifest immediately (executor-side
        writes proceed in parallel; reads inside the block see the staged
        versions), but all CURRENT pointers swap together at exit — so a
        crawl round's frontier/corpus/bloom/hosts/metrics commits become
        one atomic unit (Iceberg's multi-table transaction analogue). On
        error nothing is published: CURRENTs still point at the pre-txn
        versions, the orphan data/manifests are inert."""
        if self._txn_pending is not None:
            yield  # nested: inner block joins the outer transaction
            return
        self._txn_pending = {}
        try:
            pending = None
            yield
            pending = self._txn_pending
        finally:
            self._txn_pending = None
            if pending:
                for name, v in pending.items():
                    self._swap_current(name, v)

    # ---- I/O -------------------------------------------------------
    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Current (or time-travel) snapshot, logical schema only — the
        ``_bucket`` partition column of bucketed tables is stripped, so
        readers are layout-agnostic.

        Bucketed tables are read as ONE flat multi-path relation over
        the per-bucket LEAF directories (which hold plain files —
        ``partitionBy`` strips the partition column), not via
        ``read_bucketed``'s per-commit union: the union exists only
        because multi-root partition DISCOVERY trips
        CONFLICTING_DIRECTORY_STRUCTURES, and a logical read needs no
        ``_bucket`` column — one relation keeps bucketed-table reads at
        plain-table planning cost (an R-branch union per read was the
        main residual per-round overhead of the bucketed crawl layout)."""
        m = self._manifest(name, version)
        if not m.get("bucket_by"):
            return self.read_bucketed(name, version)
        dirs = []
        for d in m["dirs"]:
            if not os.path.isdir(d):  # (absent leaf buckets are just empty)
                raise FileNotFoundError(f"table {name!r} commit dir {d!r} is missing")
            dirs.extend(
                os.path.join(d, leaf) for leaf in sorted(os.listdir(d))
                if leaf.startswith("_bucket="))
        if not dirs:
            return self.spark.createDataFrame([], m["schema_ddl"])
        return self.spark.read.schema(m["schema_ddl"]).parquet(*dirs)

    def read_bucketed(self, name: str, version: int | None = None) -> DataFrame:
        """Snapshot INCLUDING the ``_bucket`` partition column (bucketed
        tables only). A filter on ``_bucket`` prunes whole directories at
        planning time — the physical handle for bucket-wise joins."""
        m = self._manifest(name, version)
        spec = m.get("bucket_by")
        ddl = m["schema_ddl"] + (", _bucket int" if spec else "")
        if not m["dirs"]:
            return self.spark.createDataFrame([], ddl)
        if not spec:
            return self.spark.read.schema(ddl).parquet(*m["dirs"])
        # bucketed commits each carry their own _bucket=N partition tree;
        # a multi-root read trips Spark's partition discovery
        # (CONFLICTING_DIRECTORY_STRUCTURES), so read per commit dir and
        # union — a _bucket filter still prunes directories inside EVERY
        # branch's scan (partition filters push through union)
        parts = [self.spark.read.schema(ddl).parquet(d) for d in m["dirs"]]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read_bucket(self, name: str, bucket: int,
                    version: int | None = None) -> DataFrame:
        """ONE bucket's rows across all commits, as a SINGLE relation.

        The bucket-wise join loops must NOT be built on
        ``read_bucketed(...).where(_bucket == b)``: that embeds the full
        per-commit union (R branches after R rounds) inside every one of
        the B bucket branches — O(B·R) plan nodes, which grows with
        crawl length and OOMs the driver long before the data does
        (measured: a 1 GB driver died at B=8, R≈10 during plan
        analysis). Listing just this bucket's leaf directories collapses
        that to one multi-path relation per bucket: O(B) plan nodes
        total, independent of round count. (A real Iceberg catalog gets
        this for free — one scan node, manifest-pruned.)"""
        m = self._manifest(name, version)
        spec = m.get("bucket_by")
        if not spec:
            raise ValueError(f"{name} is not bucketed")
        dirs = [p for d in m["dirs"]
                if os.path.isdir(p := os.path.join(d, f"_bucket={bucket}"))]
        if not dirs:
            return self.spark.createDataFrame([], m["schema_ddl"])
        # leaf dirs hold plain files (partitionBy strips _bucket), so a
        # multi-root read is safe — no partition discovery conflict
        return self.spark.read.schema(m["schema_ddl"]).parquet(*dirs)

    def _write_data(self, name: str, df: DataFrame,
                    options: dict[str, str] | None = None) -> str:
        from pyspark.sql import functions as F

        d = os.path.join(self._tdir(name), "data", uuid.uuid4().hex)
        m = self._manifest(name)
        spec = m.get("bucket_by")
        if spec:
            col, nb = spec[0], int(spec[1])
            if "_bucket" not in df.columns:
                df = df.withColumn("_bucket", F.pmod(F.col(col), F.lit(nb)).cast("int"))
            # cluster rows so each task writes whole buckets (~1 file per
            # bucket per commit — Iceberg's write.distribution-mode=hash)
            w = df.repartition(nb, "_bucket").write.mode("errorifexists").partitionBy("_bucket")
        else:
            w = df.write.mode("errorifexists")
        # table-property defaults first, per-call options override per key
        merged = dict(m.get("write_options") or {})
        merged.update(options or {})
        for k, v in merged.items():
            w = w.option(k, v)
        w.parquet(d)
        return d

    def append(self, name: str, df: DataFrame,
               options: dict[str, str] | None = None) -> int:
        """Atomic append commit → new version id. ``options`` are writer
        options (e.g. parquet.block.size for blob tables — Iceberg's
        per-table write properties analogue)."""
        m = self._manifest(name)
        d = self._write_data(name, df, options)
        return self._commit(name, self._next_manifest(m, m["dirs"] + [d]))

    def overwrite(self, name: str, df: DataFrame,
                  options: dict[str, str] | None = None) -> int:
        """Atomic replace commit (full-table overwrite) → new version id."""
        m = self._manifest(name)
        d = self._write_data(name, df, options)
        return self._commit(name, self._next_manifest(m, [d]))

    @staticmethod
    def _next_manifest(m: dict, dirs: list[str]) -> dict:
        """Successor manifest: bumps version, carries table PROPERTIES
        (bucket_by, write_options — Iceberg table metadata survives
        every commit)."""
        return {"version": m["version"] + 1, "schema_ddl": m["schema_ddl"],
                "dirs": dirs, "parent": m["version"],
                "bucket_by": m.get("bucket_by"),
                "write_options": m.get("write_options")}

    # ---- driver-local commits (no Spark job) -------------------------
    # For DRIVER-KNOWN small data only (per-round metrics rows, bloom
    # partition rows — O(P) by design): writing them via a Spark job
    # costs a full scheduler round-trip for a few KB. pyarrow writes the
    # same parquet, the manifest commit is identical.
    def _write_local(self, name: str, table: "pa.Table") -> str:
        if self._manifest(name).get("bucket_by"):
            raise ValueError(f"{name} is bucketed; local commits would "
                             "break the directory-per-bucket layout")
        d = os.path.join(self._tdir(name), "data", uuid.uuid4().hex)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        return d

    def append_local(self, name: str, table: "pa.Table") -> int:
        m = self._manifest(name)
        d = self._write_local(name, table)
        return self._commit(name, self._next_manifest(m, m["dirs"] + [d]))

    def overwrite_local(self, name: str, table: "pa.Table") -> int:
        m = self._manifest(name)
        d = self._write_local(name, table)
        return self._commit(name, self._next_manifest(m, [d]))

    # ---- compaction (Iceberg rewrite_data_files analogue) ----------
    def compact(self, name: str, target_dirs: int = 8) -> int:
        """Bin-packing compaction: merge the SMALLEST commit dirs so the
        current snapshot references at most ``target_dirs`` dirs.

        Append-only tables gain one dir per commit; every read lists all
        of them and bucketed reads probe B leaf dirs per commit — at the
        10^4-round design point that is 10^4 dirs per round, forever.
        Iceberg bounds this with incremental file compaction; this is
        the manifest-catalog analogue. Incremental on purpose: only the
        smallest dirs (typically many tiny per-round appends) are
        rewritten — cost is bounded by what is merged, NOT O(table) —
        and large already-compacted dirs are left in place.

        Rows are preserved exactly (tables are read as sets everywhere;
        callers that need an order sort explicitly). Old versions keep
        referencing the merged dirs, so time travel across the
        compaction boundary still works; nothing is deleted. Returns the
        new version (or the current one if no compaction was needed).
        """
        m = self._manifest(name)
        dirs = m["dirs"]
        if len(dirs) <= target_dirs:
            return m["version"]

        def _du(d: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(d):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total

        by_size = sorted(dirs, key=_du)
        # merge enough of the smallest dirs that (kept + merged-result)
        # lands exactly at target_dirs
        merge = by_size[: len(dirs) - target_dirs + 1]
        keep = [d for d in dirs if d not in set(merge)]
        spec = m.get("bucket_by")
        if spec:
            # leaf-dir read per bucket keeps this a flat multi-path scan;
            # _write_data re-derives _bucket from the key column, which
            # is pmod-identical to the original placement
            parts = []
            for d in merge:
                sub = self.spark.read.schema(
                    m["schema_ddl"] + ", _bucket int").parquet(d)
                parts.append(sub.drop("_bucket"))
        else:
            parts = [self.spark.read.schema(m["schema_ddl"]).parquet(d)
                     for d in merge]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        newdir = self._write_data(name, df)
        return self._commit(name, self._next_manifest(m, keep + [newdir]))

    # ---- snapshots (resume) ----------------------------------------
    def snapshot(self, names: list[str]) -> dict[str, int]:
        return {n: self.current_version(n) for n in names}

    def restore(self, versions: dict[str, int]) -> None:
        """Roll CURRENT pointers back to a snapshot (time travel).
        Versions after the snapshot remain on disk but unreachable —
        matching Iceberg rollback semantics."""
        for n, v in versions.items():
            if not os.path.exists(self._mpath(n, v)):
                raise ValueError(f"table {n} has no version {v}")
            cur = os.path.join(self._mdir(n), "CURRENT")
            tmp = cur + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(v))
            os.replace(tmp, cur)


class CheckpointStore:
    """Per-round crawl checkpoints: {round → table snapshot + counters}.

    One JSON per round + an atomically-swapped CURRENT pointer. The
    checkpoint is written AFTER all table commits for the round, so a
    crash at any point resumes from the last fully-committed round
    (SURVEY.md §4.2 item 4)."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_checkpoints")
        os.makedirs(self.dir, exist_ok=True)

    def path(self, rnd: int) -> str:
        return os.path.join(self.dir, f"r{rnd:06d}.json")

    def save(self, rnd: int, state: dict) -> None:
        tmp = self.path(rnd) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"round": rnd, **state}, f)
        os.replace(tmp, self.path(rnd))
        cur = os.path.join(self.dir, "CURRENT")
        with open(cur + ".tmp", "w") as f:
            f.write(str(rnd))
        os.replace(cur + ".tmp", cur)

    def latest(self) -> dict | None:
        cur = os.path.join(self.dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            rnd = int(f.read().strip())
        with open(self.path(rnd)) as f:
            return json.load(f)
