"""URL-seen set: partitioned Bloom filter + overflow over an exact set.

Replaces shriphani/pegasus's LMDB visited-cache (``src/pegasus/cache.clj``
``initialize-caches`` — symbol cite per SURVEY.md §0) per the north rule's
"partitioned Bloom-filter-with-cuckoo-overflow URL-seen set"
(BASELINE.json). Design (SURVEY.md §2 O4):

- exact set: the ``url_hash`` column of the caller's ``exact_source``
  (the crawl passes its frontier table, which is append-only and
  dedup-gated) — **the source of truth**; there is no separate ``seen``
  table. The north rule requires *matching* the reference's URL-seen
  set, so the bloom is an I/O saver, never authoritative.
- ``bloom`` table: one row per partition ``part_id = pmod(url_hash, P)``,
  numpy bit array (binary) + an exact int64 *overflow* array holding
  hashes inserted after the partition reached its fpp capacity (the
  cuckoo-overflow role). When the overflow grows past a threshold, the
  partition's bloom is rebuilt at 2× m from its exact-set rows
  (executor-side).
- ``probe``: candidates are co-grouped with their own bloom row by
  ``part_id`` (grouped-map ``applyInPandas`` over a cogroup) — rows the
  bloom rejects are *definitely new*. They still pass through the exact
  anti-join, whose exact side is shuffled or broadcast whole either way;
  the ``maybe_seen`` condition only spares them its hash probe.

Scale invariant (10^10 URLs, SURVEY.md §7.3; P = 2048 × 48 MB blooms =
~96 GB total state): **bloom bytes never touch the driver.** Probe and
merge are co-partitioned executor-side passes — each task holds exactly
one bloom partition plus its candidate/new-hash group; merged blooms are
written back by the executors (``df`` overwrite commit). The only values
the driver ever sees from this subsystem are O(P) scalar counters
(overflow sizes for the rebuild decision).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from .hashing import bloom_indexes
from .lineage import _obs_get
from .tables import ManifestCatalog

BLOOM_DDL = "part_id int, m_bits long, bloom binary, n_items long, overflow binary"


def _set_bits(bits: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> None:
    idx = bloom_indexes(hashes, m_bits, k)
    np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _bloom_state(bloom_pdf: pd.DataFrame, m_default: int) -> tuple[int, np.ndarray, np.ndarray, int]:
    """Unpack a (≤1-row) bloom partition group → (m_bits, bits, ovf, n)."""
    if len(bloom_pdf):
        r = bloom_pdf.iloc[0]
        m_bits = int(r["m_bits"])
        bits = np.frombuffer(r["bloom"], dtype=np.uint8)
        ovf = (np.frombuffer(r["overflow"], dtype=np.int64)
               if len(r["overflow"]) else np.empty(0, dtype=np.int64))
        return m_bits, bits, ovf, int(r["n_items"])
    return m_default, np.zeros(m_default // 8, dtype=np.uint8), np.empty(0, dtype=np.int64), 0


def bucket_of(col: str, n: int) -> Column:
    """A hash's bloom partition: ``pmod(col, n)``. A NULL key has none."""
    return F.pmod(F.col(col), F.lit(n)).cast("int")


class SeenSet:
    def __init__(
        self,
        catalog: ManifestCatalog,
        n_parts: int = 8,
        m_bits: int = 1 << 20,
        k: int = 5,
        overflow_rebuild: int = 4096,
        *,
        exact_source,
        probe_min_rows: int = 0,
    ):
        """``exact_source``: zero-arg callable returning the exact
        ever-enqueued DataFrame (must carry ``url_hash``, each hash once).
        The exact set is a PROJECTION of that source: the crawl passes the
        frontier table, so at the 10^10 design point there is no 80 GB
        duplicate of its key column. The caller appends to the source;
        ``add`` maintains only the bloom table.

        ``probe_min_rows``: size-adaptive probe gate. The bloom probe
        exists to spare candidates the exact anti-join's build side when
        the seen set is HUGE (10^10 hashes); while the exact side is
        small (≤ this many rows ≈ ≤ tens of MB of int64 keys) the
        anti-join alone is both exact and cheaper than the probe's extra
        shuffle + two Arrow/Python stages per round. Callers that track
        an (approximate, floor-safe) seen-set size pass it as
        ``approx_seen_rows`` to ``filter_new`` and ``add``; below the
        threshold ``filter_new`` skips the probe — maybe_seen=True for
        every row, the anti-join result is IDENTICAL, only the physical
        plan changes — and ``add`` defers the bloom merge (no job) and
        marks the bloom behind: ``filter_new`` keeps to the exact
        anti-join, and the next merging ``add`` (the gate-crossing
        round's) rebuilds every partition from the exact set plus its
        new hashes in one executor-side pass. 0 (default) never skips."""
        self.cat = catalog
        self.n_parts = n_parts
        self.m_bits = m_bits
        self.k = k
        self.overflow_rebuild = overflow_rebuild
        self.exact_source = exact_source
        self.probe_min_rows = probe_min_rows
        # None = unknown (fresh or resumed instance — a prior deferring
        # run may have left the table behind); True = verified/maintained
        # in sync; False = known behind (a deferred add since the last
        # sync)
        self._bloom_synced: bool | None = None
        catalog.create("bloom", BLOOM_DDL)

    def _exact(self) -> DataFrame:
        return self.exact_source().select("url_hash")

    def _below_gate(self, approx_seen_rows: int | None) -> bool:
        return approx_seen_rows is not None and approx_seen_rows < self.probe_min_rows

    def with_part_id(self, df: DataFrame) -> DataFrame:
        return df.withColumn("part_id", bucket_of("url_hash", self.n_parts))

    # ---- probe ------------------------------------------------------
    def split_maybe_seen(self, df: DataFrame) -> DataFrame:
        """Adds ``maybe_seen:boolean``. False ⇒ definitely not in the set
        (bloom guarantee); True ⇒ must be checked against the exact set.

        Executor-side: candidates are shuffled to their ``part_id`` and
        co-grouped with that partition's single bloom row, so each task
        probes against exactly one bloom — no driver collect, no
        full-bloom-set broadcast (the round-1 design funneled all bloom
        bytes through the driver; at 2048×48 MB that is a driver OOM).
        A bloom left behind by deferred merges is rebuilt first."""
        self._ensure_bloom_covers()
        if self.cat.is_empty("bloom"):
            return df.withColumn("maybe_seen", F.lit(False))
        cand = self.with_part_id(df)
        bloom_df = self.cat.read("bloom")
        out_schema = StructType(
            cand.schema.fields + [StructField("maybe_seen", BooleanType())]
        )
        out_cols = [f.name for f in out_schema.fields]
        k, m_default = self.k, self.m_bits

        def probe(_key: tuple, cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
            res = cdf.copy()
            if len(bdf) == 0:
                res["maybe_seen"] = False
                return res[out_cols]
            m_bits, bits, ovf, _n = _bloom_state(bdf, m_default)
            hv = cdf["url_hash"].to_numpy(dtype=np.int64)
            idx = bloom_indexes(hv, m_bits, k)
            hit = ((bits[idx >> 3] >> (idx & 7)) & 1).all(axis=1)
            if len(ovf):
                hit |= np.isin(hv, ovf)
            res["maybe_seen"] = hit
            return res[out_cols]

        return (
            cand.groupBy("part_id")
            .cogroup(bloom_df.groupBy("part_id"))
            .applyInPandas(probe, schema=out_schema)
            .drop("part_id")
        )

    def filter_new(self, df: DataFrame, approx_seen_rows: int | None = None) -> DataFrame:
        """Exact 'not in seen set' filter on ``url_hash``: bloom prefilter
        + ONE anti-join whose condition is gated on the bloom verdict
        (SURVEY.md §2 O4).

        Single-branch on purpose: ``maybe_seen AND hash match`` as the
        anti-join condition gives the same result as splitting into
        definitely-new ∪ checked branches, but keeps every upstream node
        unique in the plan — callers can attach ``observe()`` metrics
        without double-counting, and the probe still prunes the join
        (rows with maybe_seen=false never probe the hash table).

        ``approx_seen_rows`` (a floor-safe estimate of the exact set's
        size) enables the size-adaptive probe gate — see ``__init__``
        on ``probe_min_rows``. A bloom known to be behind (deferred adds)
        is not probed either: the next merging ``add`` rebuilds it, so a
        probe here would pay that rebuild serially, ahead of the rows.
        Result rows are identical either way."""
        if self._bloom_synced is False or self._below_gate(approx_seen_rows):
            probed = df.withColumn("maybe_seen", F.lit(True))
        else:
            probed = self.split_maybe_seen(df)
        seen = self._exact().select(F.col("url_hash").alias("_seen_hash"))
        cond = F.col("maybe_seen") & (F.col("url_hash") == F.col("_seen_hash"))
        return probed.join(seen, on=cond, how="left_anti").drop("maybe_seen")

    # ---- update -----------------------------------------------------
    def add(self, new_hashes: DataFrame, approx_seen_rows: int | None = None) -> None:
        """Insert distinct, not-yet-present ``url_hash`` values into the
        bloom (the caller appends them to the exact source): OR-merge the
        blooms per partition executor-side (cogroup of new hashes × bloom
        rows on ``part_id``) and write the merged bloom table back from
        the executors. The driver learns only ONE scalar (max overflow
        bytes, via ``observe`` riding the write) to decide whether any
        partition needs a rebuild.

        ``approx_seen_rows`` is the seen-set size the caller passed to
        ``filter_new`` for these hashes. Below ``probe_min_rows`` the
        merge is deferred: no job, the bloom is marked behind. The next
        merging ``add`` on a bloom known behind — the round that crosses
        ``probe_min_rows`` — rebuilds every partition from exact ∪ new
        instead of merging, concurrently with the caller's own append of
        ``new`` to the exact source (hashes are deduplicated per
        partition, so a source that already holds them is not
        double-counted). Measured rationale: while the seen set is below
        ``probe_min_rows`` the bloom is never probed, and the per-round
        merge job was ~12% of the headline crawl's wall — maintenance for
        a reader that does not exist yet; deferring converts it into one
        rebuild at the threshold crossing, amortized over the crawl's
        lifetime."""
        if self._below_gate(approx_seen_rows):
            self._bloom_synced = False
            return
        hdf = self.with_part_id(new_hashes.select("url_hash"))
        if self._bloom_synced is False:
            self._rebuild_full(extra=hdf)
            self._bloom_synced = True
            return

        bloom_df = self.cat.read("bloom")
        m_default, k = self.m_bits, self.k

        def merge(key: tuple, new_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            m_bits, bits, ovf, n_items = _bloom_state(bloom_pdf, m_default)
            hv = new_pdf["url_hash"].to_numpy(dtype=np.int64)
            if len(hv):
                bits = bits.copy()
                room = max(0, int(m_bits * 0.693 / k) - n_items)
                into_bloom, into_ovf = hv[:room], hv[room:]
                if len(into_bloom):
                    _set_bits(bits, into_bloom, m_bits, k)
                if len(into_ovf):
                    ovf = np.concatenate([ovf, into_ovf])
                n_items += len(hv)
            return pd.DataFrame({
                "part_id": [pid], "m_bits": [m_bits], "bloom": [bits.tobytes()],
                "n_items": [n_items], "overflow": [ovf.tobytes()],
            })

        # cogroup emits the union of part_ids: partitions with no new
        # hashes pass through unchanged, new partitions start fresh —
        # so the overwrite is always the complete bloom table
        merged = (
            hdf.groupBy("part_id")
            .cogroup(bloom_df.groupBy("part_id"))
            .applyInPandas(merge, schema=BLOOM_DDL)
        )
        obs = Observation()
        max_ovf_of = F.max(F.octet_length("overflow")).alias("max_ovf")
        self.cat.overwrite("bloom", merged.observe(obs, max_ovf_of))
        max_ovf = _obs_get(obs, lambda: self.cat.read("bloom").agg(max_ovf_of).collect()[0])
        if int(max_ovf["max_ovf"] or 0) // 8 > self.overflow_rebuild:
            # partitions whose overflow passed the threshold get a fresh
            # bloom at 2× m; the driver collects only (part_id, m_bits) ints
            self._rebuild_full(over={
                int(r["part_id"]): int(r["m_bits"]) * 2
                for r in self.cat.read("bloom")
                .filter(F.octet_length("overflow") / 8 > self.overflow_rebuild)
                .select("part_id", "m_bits").collect()
            })

    def _ensure_bloom_covers(self) -> None:
        """Verify the bloom covers the exact set (deferred merges leave
        it behind); rebuild every partition from the exact set if not.
        A fresh or resumed instance over an in-sync bloom therefore pays
        two small jobs before its first probe, not a rebuild.

        Check: Σ n_items over bloom rows vs count(exact). Deferral in
        the filter_new/add protocol skips exactly the rows it appends,
        so Σ n_items < exact count ⇔ some hash was never merged (the
        exact source holds each hash once, and a merge counts only the
        hashes it inserts — the criterion never under-triggers). Both
        sides are O(P)-scalar / one count job, paid only while
        ``_bloom_synced`` is unknown or False."""
        if self._bloom_synced:
            return
        exact_n = self._exact().count()
        bloom_n = 0 if self.cat.is_empty("bloom") else int(
            self.cat.read("bloom").agg(F.sum("n_items").alias("s"))
            .collect()[0]["s"] or 0)
        if bloom_n < exact_n:
            self._rebuild_full()
        self._bloom_synced = True

    def _rebuild_full(self, extra: DataFrame | None = None,
                      over: dict[int, int] | None = None) -> None:
        """Rebuild bloom partitions from the exact set (plus the
        ``url_hash``/``part_id`` rows of ``extra``) in one executor-side
        grouped-map pass; each partition deduplicates its hashes — a hash
        in both inputs counts once. Without ``over`` EVERY partition is
        rebuilt and sizes itself so its capacity covers its distinct
        count (2× geometric growth from the default m — n is known inside
        the task, so no driver statistics are needed); empty partitions
        simply have no row, which the probe already treats as all-new.
        ``over`` (``{part_id: m_bits}``, the overflow rebuild) rebuilds
        only those partitions, at the given sizes, and keeps the other
        partitions' rows."""
        k, m_default = self.k, self.m_bits

        def rebuild(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            hv = np.unique(pdf["url_hash"].to_numpy(dtype=np.int64))
            n = len(hv)
            if over is not None:
                m_bits = over[pid]
            else:
                m_bits = m_default
                while int(m_bits * 0.693 / k) < n:
                    m_bits *= 2
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            _set_bits(bits, hv, m_bits, k)
            return pd.DataFrame({
                "part_id": [pid], "m_bits": [m_bits], "bloom": [bits.tobytes()],
                "n_items": [n], "overflow": [b""],
            })

        src = self.with_part_id(self._exact())
        if extra is not None:
            src = src.unionByName(extra.select("url_hash", "part_id"))
        if over is not None:
            src = src.filter(F.col("part_id").isin(list(over)))
        rebuilt = src.groupBy("part_id").applyInPandas(rebuild, schema=BLOOM_DDL)
        if over is not None:
            keep = self.cat.read("bloom").filter(~F.col("part_id").isin(list(over)))
            rebuilt = keep.unionByName(rebuilt)
        self.cat.overwrite("bloom", rebuilt)
