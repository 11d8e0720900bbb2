"""URL-seen set: partitioned Bloom filter + exact table + overflow.

Replaces shriphani/pegasus's LMDB visited-cache (``src/pegasus/cache.clj``
``initialize-caches`` — symbol cite per SURVEY.md §0) per the north rule's
"partitioned Bloom-filter-with-cuckoo-overflow URL-seen set"
(BASELINE.json). Design (SURVEY.md §2 O4):

- ``seen`` table: exact ever-enqueued ``url_hash`` rows, partitioned by
  ``part_id = pmod(url_hash, P)`` — **the source of truth**. The north
  rule requires *matching* the reference's URL-seen set, so the bloom is
  an I/O saver, never authoritative.
- ``bloom`` table: one row per partition, numpy bit array (binary) +
  an exact int64 *overflow* array holding hashes inserted after the
  partition reached its fpp capacity (the cuckoo-overflow role). When
  the overflow grows past a threshold, the partition's bloom is rebuilt
  at 2× m from the exact ``seen`` partition (executor-side).
- ``probe``: candidates are co-grouped with their own bloom row by
  ``part_id`` (grouped-map ``applyInPandas`` over a cogroup) — rows the
  bloom rejects are *definitely new* and skip the exact anti-join
  entirely; only "maybe seen" rows pay the join.

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
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from .hashing import bloom_indexes
from .tables import ManifestCatalog

SEEN_DDL = "url_hash long, part_id int"
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


class SeenSet:
    def __init__(
        self,
        catalog: ManifestCatalog,
        n_parts: int = 8,
        m_bits: int = 1 << 20,
        k: int = 5,
        overflow_rebuild: int = 4096,
        exact_source=None,
        probe_min_rows: int = 0,
    ):
        """``exact_source``: optional zero-arg callable returning the
        exact ever-enqueued DataFrame (must carry ``url_hash``). When
        set, the exact seen set is a PROJECTION of that source (the
        crawl passes the frontier table — its url_hash column IS the
        seen set, so the separate ``seen`` table append is skipped: one
        fewer Spark job per round, and at the 10^10 design point one
        fewer 80 GB duplicate table). The bloom table is maintained
        either way; standalone uses (no source) keep the exact table.

        ``probe_min_rows``: size-adaptive probe gate. The bloom probe
        exists to spare candidates the exact anti-join's build side when
        the seen set is HUGE (10^10 hashes); while the exact side is
        small (≤ this many rows ≈ ≤ tens of MB of int64 keys) the
        anti-join alone is both exact and cheaper than the probe's extra
        shuffle + two Arrow/Python stages per round. Callers that track
        an (approximate, floor-safe) seen-set size pass it to
        ``filter_new``; below the threshold the probe is skipped —
        maybe_seen=True for every row, the anti-join result is
        IDENTICAL, only the physical plan changes. 0 (default) never
        skips. Callers that skip probes may also pass
        ``defer_bloom=True`` to ``add`` — the merge job is then skipped
        too, and the first probing ``filter_new`` detects the gap
        (bloom item count < exact row count) and rebuilds every
        partition from the exact set in one executor-side pass."""
        self.cat = catalog
        self.n_parts = n_parts
        self.m_bits = m_bits
        self.k = k
        self.overflow_rebuild = overflow_rebuild
        self.exact_source = exact_source
        self.probe_min_rows = probe_min_rows
        # None = unknown (fresh instance — a prior deferring run may have
        # left the table behind); True = verified/maintained in sync
        self._bloom_synced: bool | None = None
        catalog.create("seen", SEEN_DDL)
        catalog.create("bloom", BLOOM_DDL)

    def _exact(self) -> DataFrame:
        if self.exact_source is not None:
            return self.exact_source().select("url_hash")
        return self.cat.read("seen").select("url_hash")

    def _capacity(self, m_bits: int) -> int:
        # items at which the partition hits its design fpp: n ≈ m·ln2/k
        return int(m_bits * 0.693 / self.k)

    def with_part_id(self, df: DataFrame, col: str = "url_hash") -> DataFrame:
        return df.withColumn("part_id", F.pmod(F.col(col), F.lit(self.n_parts)).cast("int"))

    # ---- probe ------------------------------------------------------
    def split_maybe_seen(self, df: DataFrame, col: str = "url_hash") -> DataFrame:
        """Adds ``maybe_seen:boolean``. False ⇒ definitely not in the set
        (bloom guarantee); True ⇒ must be checked against ``seen``.

        Executor-side: candidates are shuffled to their ``part_id`` and
        co-grouped with that partition's single bloom row, so each task
        probes against exactly one bloom — no driver collect, no
        full-bloom-set broadcast (the round-1 design funneled all bloom
        bytes through the driver; at 2048×48 MB that is a driver OOM).
        A bloom left behind by deferred merges is rebuilt first."""
        self._ensure_bloom_covers()
        if self.cat.is_empty("bloom"):
            return df.withColumn("maybe_seen", F.lit(False))
        added_part = "part_id" not in df.columns
        cand = self.with_part_id(df, col) if added_part else df
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
            hv = cdf[col].to_numpy(dtype=np.int64)
            idx = bloom_indexes(hv, m_bits, k)
            hit = ((bits[idx >> 3] >> (idx & 7)) & 1).all(axis=1)
            if len(ovf):
                hit |= np.isin(hv, ovf)
            res["maybe_seen"] = hit
            return res[out_cols]

        probed = (
            cand.groupBy("part_id")
            .cogroup(bloom_df.groupBy("part_id"))
            .applyInPandas(probe, schema=out_schema)
        )
        return probed.drop("part_id") if added_part else probed

    def filter_new(self, df: DataFrame, col: str = "url_hash",
                   approx_seen_rows: int | None = None) -> DataFrame:
        """Exact 'not in seen set' filter: bloom prefilter + ONE anti-join
        whose condition is gated on the bloom verdict (SURVEY.md §2 O4).

        Single-branch on purpose: ``maybe_seen AND hash match`` as the
        anti-join condition gives the same result as splitting into
        definitely-new ∪ checked branches, but keeps every upstream node
        unique in the plan — callers can attach ``observe()`` metrics
        without double-counting, and the probe still prunes the join
        (rows with maybe_seen=false never probe the hash table).

        ``approx_seen_rows`` (a floor-safe estimate of the exact set's
        size) enables the size-adaptive probe gate — see ``__init__``
        on ``probe_min_rows``. Result rows are identical either way."""
        if (approx_seen_rows is not None
                and approx_seen_rows < self.probe_min_rows):
            probed = df.withColumn("maybe_seen", F.lit(True))
        else:
            probed = self.split_maybe_seen(df, col)
        seen = self._exact().select(F.col("url_hash").alias("_seen_hash"))
        cond = F.col("maybe_seen") & (F.col(col) == F.col("_seen_hash"))
        return probed.join(seen, on=cond, how="left_anti").drop("maybe_seen")

    # ---- update -----------------------------------------------------
    def add(self, new_hashes: DataFrame, col: str = "url_hash",
            defer_bloom: bool = False) -> None:
        """Insert distinct, not-yet-present hashes: append to the exact
        table; OR-merge the blooms per partition executor-side (cogroup
        of new hashes × bloom rows on ``part_id``) and write the merged
        bloom table back from the executors. The driver learns only ONE
        scalar (max overflow bytes, via ``observe`` riding the write) to
        decide whether any partition needs a rebuild.

        ``defer_bloom=True`` skips the merge job (the EXACT set is still
        updated — with ``exact_source`` set this call is then a no-op,
        since that source table is maintained by the caller). Sound only
        for callers that probe exclusively through ``filter_new``: its
        probe path rebuilds a behind bloom from the exact set before the
        first probe (see ``_ensure_bloom_covers``). Measured rationale:
        while the seen set is below ``probe_min_rows`` the bloom is
        never probed, and the per-round merge job was ~12% of the
        headline crawl's wall — maintenance for a reader that does not
        exist yet; deferring converts it into one rebuild at the
        threshold crossing, amortized over the crawl's lifetime."""
        if defer_bloom:
            self._bloom_synced = False
            if self.exact_source is None:
                self.cat.append(
                    "seen",
                    self.with_part_id(new_hashes.select(F.col(col).alias("url_hash"))),
                )
            return
        hdf = self.with_part_id(new_hashes.select(F.col(col).alias("url_hash"))).persist()
        if self.exact_source is None:
            self.cat.append("seen", hdf)  # else: the source table IS the exact set

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
        merged = merged.observe(obs, F.max(F.octet_length("overflow")).alias("max_ovf"))
        self.cat.overwrite("bloom", merged)
        hdf.unpersist()
        try:
            max_ovf = int(obs.get["max_ovf"] or 0)
        except Exception:  # AQE may elide CollectMetrics on empty relations
            max_ovf = int(
                self.cat.read("bloom").agg(
                    F.max(F.octet_length("overflow")).alias("m")
                ).collect()[0]["m"] or 0
            )
        if max_ovf // 8 > self.overflow_rebuild:
            self._rebuild_overflowed()

    def _ensure_bloom_covers(self) -> None:
        """Verify the bloom covers the exact set (deferred merges leave
        it behind); rebuild every partition from the exact set if not.

        Check: Σ n_items over bloom rows vs count(exact). Deferral in
        the filter_new/add protocol skips exactly the rows it appends,
        so Σ n_items < exact count ⇔ some hash was never merged (a
        duplicate standalone add can only INFLATE n_items, and a
        duplicate's bits are already set — the criterion never
        under-triggers). Both sides are O(P)-scalar / one count job,
        paid only while ``_bloom_synced`` is unknown or False — i.e.
        once per instance plus once per threshold crossing."""
        if self._bloom_synced:
            return
        exact_n = self._exact().count()
        bloom_n = 0 if self.cat.is_empty("bloom") else int(
            self.cat.read("bloom").agg(F.sum("n_items").alias("s"))
            .collect()[0]["s"] or 0)
        if bloom_n < exact_n:
            self._rebuild_full()
        self._bloom_synced = True

    def _rebuild_full(self) -> None:
        """Rebuild EVERY bloom partition from the exact set in one
        executor-side grouped-map pass; each partition sizes itself so
        its capacity covers its row count (same 2× geometric growth as
        the overflow rebuild — n is known inside the task, so no driver
        statistics are needed). Empty partitions simply have no row,
        which the probe already treats as all-new."""
        k, m_default = self.k, self.m_bits

        def rebuild(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            n = len(pdf)
            m_bits = m_default
            while int(m_bits * 0.693 / k) < n:
                m_bits *= 2
            hv = pdf["url_hash"].to_numpy(dtype=np.int64)
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            _set_bits(bits, hv, m_bits, k)
            return pd.DataFrame({
                "part_id": [pid], "m_bits": [m_bits], "bloom": [bits.tobytes()],
                "n_items": [n], "overflow": [b""],
            })

        rebuilt = (
            self.with_part_id(self._exact())
            .groupBy("part_id")
            .applyInPandas(rebuild, schema=BLOOM_DDL)
        )
        self.cat.overwrite("bloom", rebuilt)

    def _rebuild_overflowed(self) -> None:
        """Partitions whose overflow passed the threshold get a fresh
        bloom at 2× m rebuilt from the exact seen partition — grouped-map
        executor-side; the driver collects only (part_id, m_bits) ints."""
        bloom_df = self.cat.read("bloom")
        over = {
            int(r["part_id"]): int(r["m_bits"]) * 2
            for r in bloom_df
            .filter(F.octet_length("overflow") / 8 > self.overflow_rebuild)
            .select("part_id", "m_bits").collect()
        }
        if not over:
            return
        k = self.k

        def rebuild(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            m_bits = over[pid]
            hv = pdf["url_hash"].to_numpy(dtype=np.int64)
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            _set_bits(bits, hv, m_bits, k)
            return pd.DataFrame({
                "part_id": [pid], "m_bits": [m_bits], "bloom": [bits.tobytes()],
                "n_items": [len(hv)], "overflow": [b""],
            })

        over_ids = list(over)
        rebuilt = (
            self.with_part_id(self._exact())
            .filter(F.col("part_id").isin(over_ids))
            .groupBy("part_id")
            .applyInPandas(rebuild, schema=BLOOM_DDL)
        )
        keep = bloom_df.filter(~F.col("part_id").isin(over_ids))
        self.cat.overwrite("bloom", keep.unionByName(rebuilt))
