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
Bucketed tables (``create(bucket_by=...)``) are Spark bucketed tables,
so Spark joins two of them on the bucket column with no exchange.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import uuid
from contextlib import contextmanager
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

# the manifest property that marks a bucketed table's commit dirs as
# Spark bucket files; a bucketed manifest without it holds the older
# ``_bucket=<b>`` directory partitions
BUCKET_LAYOUT = "spark-bucketBy"
# registered snapshots kept per table (a DataFrame read from an older one
# can no longer be planned): a round's reads, and its seen-set rebuild,
# which may read the version the round's append just staged
KEEP_REGISTERED = 2


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class ManifestCatalog:
    # session-catalog tables over bucketed snapshots, oldest first, per
    # (Spark application, catalog root, table) — shared by every instance
    _registered: dict[tuple[str, str, str], list[str]] = {}
    _register_lock = threading.Lock()

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._app = spark.sparkContext.applicationId
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
        transform analogue: every write lands as Spark ``bucketBy(B, col)``
        files, recorded in the manifest as table properties (``bucket_by``,
        ``bucket_layout``). Two tables bucketed the same way join with no
        data-sized shuffle (Iceberg's storage-partitioned join) — see
        ``read``.

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
                            "bucket_layout": BUCKET_LAYOUT if bucket_by else None,
                            "write_options": dict(write_options) if write_options else None})

    @staticmethod
    def _bucket_by(name: str, m: dict) -> tuple[str, int] | None:
        """The manifest's ``(col, B)``, or None if the table is not
        bucketed. A manifest in the older ``_bucket=<b>`` directory
        layout raises: read as Spark bucket files it would be misread."""
        b = m.get("bucket_by")
        if b and m.get("bucket_layout") != BUCKET_LAYOUT:
            raise ValueError(
                f"table {name!r} is in the `_bucket=<b>` directory layout, which this "
                "version no longer reads or writes; crawl into a new job_dir")
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
        """Current (or time-travel) snapshot, logical schema only.

        A bucketed snapshot is read through its session-catalog table
        (``_register``), so Spark knows the scan is bucketed. The
        always-true ``_commit`` partition filter makes Spark size the scan
        from its files; without it a catalog table with no statistics is
        sized at ``spark.sql.defaultSizeInBytes`` and is never broadcast."""
        m = self._manifest(name, version)
        spec = self._bucket_by(name, m)
        if spec is None or not m["dirs"]:
            return self._scan(m, m["dirs"])
        return (self.spark.table(self._register(name, m, spec))
                .where(F.col("_commit") >= 0).drop("_commit"))

    def _register(self, name: str, m: dict, spec: tuple[str, int]) -> str:
        """The session-catalog table of one bucketed snapshot: an external
        table ``CLUSTERED BY (col) INTO B BUCKETS`` with a ``_commit=i``
        partition per commit dir, named by the snapshot's content so it is
        registered once. Only the ``KEEP_REGISTERED`` newest per table
        stay; dropping one removes metadata only."""
        dirs = m["dirs"]
        for d in dirs:
            # a lost commit must not read as fewer rows (registering it
            # as a partition would even recreate it empty)
            if not os.path.isdir(d):
                raise FileNotFoundError(f"table {name!r} commit dir {d!r} is missing")
        tname = "pegasus_" + hashlib.sha1(json.dumps(
            [self.root, name, m["schema_ddl"], spec, dirs]).encode()).hexdigest()[:24]
        with self._register_lock:
            live = self._registered.setdefault((self._app, self.root, name), [])
            if tname in live:
                live.remove(tname)
            else:
                loc = os.path.join(self._tdir(name), "_catalog")  # stays empty
                os.makedirs(loc, exist_ok=True)
                self.spark.sql(
                    f"CREATE TABLE IF NOT EXISTS {tname} ({m['schema_ddl']}, _commit int) "
                    f"USING parquet PARTITIONED BY (_commit) CLUSTERED BY ({spec[0]}) "
                    f"INTO {spec[1]} BUCKETS LOCATION {_sql_str(loc)}")
                self.spark.sql(f"ALTER TABLE {tname} ADD IF NOT EXISTS " + " ".join(
                    f"PARTITION (_commit={i}) LOCATION {_sql_str(d)}"
                    for i, d in enumerate(dirs)))
            live.append(tname)
            while len(live) > KEEP_REGISTERED:
                self._drop_table(live.pop(0))
        return tname

    def _drop_table(self, tname: str) -> None:
        # the session catalog's own drop: unlike DROP TABLE it does not
        # uncache persisted DataFrames that read the table
        ident = self.spark._jvm.org.apache.spark.sql.catalyst.TableIdentifier.apply(tname)
        self.spark._jsparkSession.sessionState().catalog().dropTable(ident, True, False)

    def _scan(self, m: dict, dirs: list[str]) -> DataFrame:
        if not dirs:
            # an empty read must be empty to the OPTIMIZER: limit(0)
            # folds to an empty LocalRelation, so it runs no task and
            # joins/unions against it are pruned at plan time (a bare
            # createDataFrame([]) is a Python RDD that runs one Python
            # task per default partition, ~0.2 s CPU each)
            return self.spark.createDataFrame([], m["schema_ddl"]).limit(0)
        return self.spark.read.schema(m["schema_ddl"]).parquet(*dirs)

    def _write_data(self, name: str, df: DataFrame,
                    options: dict[str, str] | None = None) -> str:
        d = os.path.join(self._tdir(name), "data", uuid.uuid4().hex)
        m = self._manifest(name)
        spec = self._bucket_by(name, m)
        # the repartition hashes rows the way bucketBy does, so each task
        # writes one whole bucket (~1 file per bucket per commit —
        # Iceberg's write.distribution-mode=hash)
        w = (df.repartition(spec[1], spec[0]) if spec else df).write.mode("errorifexists")
        # table-property defaults first, per-call options override per key
        merged = dict(m.get("write_options") or {})
        merged.update(options or {})
        for k, v in merged.items():
            w = w.option(k, v)
        if spec is None:
            w.parquet(d)
            return d
        # Spark writes bucket files only through a catalog table: write an
        # external one at d, then drop its entry so only the files remain
        tmp = f"pegasus_write_{uuid.uuid4().hex}"
        try:
            w.format("parquet").bucketBy(spec[1], spec[0]).option("path", d).saveAsTable(tmp)
        finally:
            self._drop_table(tmp)
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
        (bucket_by, bucket_layout, write_options — Iceberg table
        metadata survives every commit)."""
        return {"version": m["version"] + 1, "schema_ddl": m["schema_ddl"],
                "dirs": dirs, "parent": m["version"],
                "bucket_by": m.get("bucket_by"),
                "bucket_layout": m.get("bucket_layout"),
                "write_options": m.get("write_options")}

    # ---- driver-local commits (no Spark job) -------------------------
    # For DRIVER-KNOWN small data only (per-round metrics rows, bloom
    # partition rows — O(P) by design): writing them via a Spark job
    # costs a full scheduler round-trip for a few KB. pyarrow writes the
    # same parquet, the manifest commit is identical.
    def _write_local(self, name: str, table: "pa.Table") -> str:
        if self._manifest(name).get("bucket_by"):
            raise ValueError(f"{name} is bucketed; a local commit would "
                             "not be in Spark's bucket file layout")
        d = os.path.join(self._tdir(name), "data", uuid.uuid4().hex)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        return d

    def append_local(self, name: str, table: "pa.Table") -> int:
        m = self._manifest(name)
        d = self._write_local(name, table)
        return self._commit(name, self._next_manifest(m, m["dirs"] + [d]))

    # ---- compaction (Iceberg rewrite_data_files analogue) ----------
    def compact(self, name: str, target_dirs: int = 8) -> int:
        """Bin-packing compaction: merge the SMALLEST commit dirs so the
        current snapshot references at most ``target_dirs`` dirs.

        Append-only tables gain one dir per commit; every read lists all
        of them — at the 10^4-round design point that is 10^4 dirs per
        round, forever.
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
        # bucket files are plain parquet; _write_data re-buckets the rows
        parts = [self.spark.read.schema(m["schema_ddl"]).parquet(d) for d in merge]
        newdir = self._write_data(name, reduce(DataFrame.unionByName, parts))
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
            self._swap_current(n, v)


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
