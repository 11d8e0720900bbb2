"""Seen-set unit tests: bloom soundness (no false negatives), exactness
under forced collisions (tiny m), overflow/cuckoo path + rebuild
(SURVEY.md §5.2 item 4, FIXTURES.md dup-storm)."""

import numpy as np
import pytest

from pegasus_spark.seen import SeenSet
from pegasus_spark.tables import ManifestCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return ManifestCatalog(spark, str(tmp_path / "cat"))


def _hashes_df(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals], "url_hash long")


def _seen_set(cat, **kw):
    """A SeenSet under the crawl's contract: its exact set is a ``src``
    table (the crawl's frontier), and each ``add`` appends its hashes to
    ``src`` first, as the crawl appends them to the frontier."""
    cat.create("src", "url_hash long")
    s = SeenSet(cat, exact_source=lambda: cat.read("src"), **kw)
    add = s.add

    def add_to_src_first(df, **add_kw):
        cat.append("src", df)
        add(df, **add_kw)

    s.add = add_to_src_first
    return s


def test_filter_new_empty_set(spark, cat):
    s = _seen_set(cat, n_parts=2)
    df = _hashes_df(spark, [1, 2, 3])
    assert s.filter_new(df).count() == 3


def test_add_then_filter_exact(spark, cat):
    s = _seen_set(cat, n_parts=2)
    s.add(_hashes_df(spark, range(100)))
    out = {r["url_hash"] for r in s.filter_new(_hashes_df(spark, range(50, 150))).collect()}
    assert out == set(range(100, 150))


def test_forced_collisions_still_exact(spark, cat):
    # tiny bloom (m=64 bits, k=2) → massive false-positive rate; the
    # exact anti-join must still yield a correct result
    s = _seen_set(cat, n_parts=2, m_bits=64, k=2)
    rng = np.random.default_rng(5)
    a = rng.integers(-(2**62), 2**62, size=500).tolist()
    b = rng.integers(-(2**62), 2**62, size=500).tolist()
    s.add(_hashes_df(spark, a))
    got = {r["url_hash"] for r in s.filter_new(_hashes_df(spark, a + b)).collect()}
    assert got == set(b) - set(a)
    # bloom must be full of collisions (sanity: the test is meaningful)
    probed = s.split_maybe_seen(_hashes_df(spark, b))
    assert probed.filter("maybe_seen").count() > 0


def test_no_false_negatives(spark, cat):
    s = _seen_set(cat, n_parts=4, m_bits=1 << 12, k=3)
    vals = list(range(1000))
    s.add(_hashes_df(spark, vals))
    # every added value must probe maybe_seen=True (bloom soundness)
    probed = s.split_maybe_seen(_hashes_df(spark, vals))
    assert probed.filter("NOT maybe_seen").count() == 0


def test_overflow_and_rebuild(spark, cat):
    # capacity = m*0.693/k = 64*0.693/2 ≈ 22 → everything past ~22 goes
    # to overflow; overflow_rebuild=50 → rebuild doubles m
    s = _seen_set(cat, n_parts=1, m_bits=64, k=2, overflow_rebuild=50)
    s.add(_hashes_df(spark, range(30)))
    rows = cat.read("bloom").collect()
    assert len(rows) == 1 and len(rows[0]["overflow"]) > 0  # overflow engaged
    s.add(_hashes_df(spark, range(1000, 1100)))  # overflow > 50 → rebuild
    rows = cat.read("bloom").collect()
    assert rows[0]["m_bits"] == 128  # doubled
    assert len(rows[0]["overflow"]) == 0  # folded into rebuilt bloom
    # still sound + exact after rebuild
    probed = s.split_maybe_seen(_hashes_df(spark, list(range(30)) + list(range(1000, 1100))))
    assert probed.filter("NOT maybe_seen").count() == 0
    assert s.filter_new(_hashes_df(spark, [5, 1050, 99999])).count() == 1


def test_overflow_rebuild_keeps_other_partitions(spark, cat):
    # only partition 0 (the even hashes) overflows past the threshold: it
    # is rebuilt at 2× m, and partition 1 keeps its merged row
    s = _seen_set(cat, n_parts=2, m_bits=64, k=2, overflow_rebuild=50)
    vals = [1, 3, 5] + list(range(0, 200, 2))
    s.add(_hashes_df(spark, vals))
    rows = {r["part_id"]: r for r in cat.read("bloom").collect()}
    assert rows[0]["m_bits"] == 128 and len(rows[0]["overflow"]) == 0
    assert rows[1]["m_bits"] == 64 and rows[1]["n_items"] == 3
    probed = s.split_maybe_seen(_hashes_df(spark, vals))
    assert probed.filter("NOT maybe_seen").count() == 0


def test_driver_never_materializes_bloom_bytes(spark, cat, monkeypatch):
    # the 10^10 design point is 2048 partitions × 48 MB of bloom bytes —
    # probe/merge must stay executor-side. Spy on every driver
    # materialization (collect/toPandas) during add+probe at P=64 and
    # assert none of them carries a binary column (bloom bytes).
    from pyspark.sql import DataFrame

    collected_schemas = []
    orig_collect, orig_topandas = DataFrame.collect, DataFrame.toPandas

    def spy_collect(self):
        collected_schemas.append(self.schema)
        return orig_collect(self)

    def spy_topandas(self):
        collected_schemas.append(self.schema)
        return orig_topandas(self)

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "toPandas", spy_topandas)

    # capacity = 128*0.693/3 = 29 per partition. The first add fills
    # partitions 0-15 with 32 hashes (3 overflow) and the rest with 31
    # (2 overflow); the second adds 8 more to partitions 0-3 and 16-63 and
    # 7 to 4-15, all into overflow. Only partitions 0-3 pass 10 overflow
    # hashes: the second add rebuilds them and keeps the other 60 rows.
    s = _seen_set(cat, n_parts=64, m_bits=1 << 7, k=3, overflow_rebuild=10)
    s.add(_hashes_df(spark, range(2000)))
    s.add(_hashes_df(spark, range(2000, 2500)))    # small m → overflow + rebuild
    got = {r["url_hash"] for r in s.filter_new(_hashes_df(spark, range(1500, 3000))).collect()}
    assert got == set(range(2500, 3000))
    rebuilt = {r["part_id"] for r in cat.read("bloom").select("part_id", "m_bits").collect()
               if r["m_bits"] > 1 << 7}
    assert rebuilt == {0, 1, 2, 3}
    for sch in collected_schemas:
        assert not any(f.dataType.typeName() == "binary" for f in sch.fields), (
            f"driver materialized bloom bytes: {sch.simpleString()}"
        )
    # and all 64 partitions exist as rows in the bloom table
    assert cat.read("bloom").select("part_id").distinct().count() == 64


def test_incremental_adds_match_bulk(spark, cat, tmp_path):
    s1 = _seen_set(cat, n_parts=2, m_bits=1 << 10, k=3)
    for lo in range(0, 300, 100):
        s1.add(_hashes_df(spark, range(lo, lo + 100)))
    cat2 = ManifestCatalog(spark, str(tmp_path / "cat2"))
    s2 = _seen_set(cat2, n_parts=2, m_bits=1 << 10, k=3)
    s2.add(_hashes_df(spark, range(300)))
    q = list(range(250, 400))
    got1 = {r["url_hash"] for r in s1.filter_new(_hashes_df(spark, q)).collect()}
    got2 = {r["url_hash"] for r in s2.filter_new(_hashes_df(spark, q)).collect()}
    assert got1 == got2 == set(range(300, 400))


def _n_items(cat):
    return sum(r["n_items"] for r in cat.read("bloom").select("n_items").collect())


def test_deferred_bloom_skip_and_rebuild_at_crossing(spark, cat):
    """Size-adaptive gate: adds below the probe threshold defer the bloom
    merge and mark the bloom behind. At and above the threshold,
    filter_new keeps to the exact anti-join while the bloom is known
    behind (no probe, no bloom write ahead of the rows); the crossing
    round's merging add rebuilds every partition from exact ∪ new, after
    which the bloom is in sync, sound, and merged incrementally."""
    s = _seen_set(cat, n_parts=2, probe_min_rows=100)
    s.add(_hashes_df(spark, range(50)), approx_seen_rows=0)
    v0 = cat.current_version("bloom")
    for approx in (50, 200):  # below, then past the threshold
        q = s.filter_new(_hashes_df(spark, range(40, 60)), approx_seen_rows=approx)
        assert "FlatMapCoGroupsInPandas" not in q._jdf.queryExecution().optimizedPlan().toString()
        assert {r["url_hash"] for r in q.collect()} == set(range(50, 60))
    assert cat.current_version("bloom") == v0
    # the crossing add: the exact source already holds the new hashes
    # (the helper appends them first), and they count once
    s.add(_hashes_df(spark, range(50, 60)))
    assert _n_items(cat) == 60
    v1 = cat.current_version("bloom")
    probed = s.split_maybe_seen(_hashes_df(spark, range(60)))
    assert probed.filter("NOT maybe_seen").count() == 0
    assert cat.current_version("bloom") == v1  # in sync: no rebuild before probing
    # probing again past the threshold, and subsequent merged adds keep it in sync
    out = {r["url_hash"]
           for r in s.filter_new(_hashes_df(spark, range(55, 65)),
                                 approx_seen_rows=200).collect()}
    assert out == set(range(60, 65))
    s.add(_hashes_df(spark, range(100, 120)))
    assert _n_items(cat) == 80
    probed = s.split_maybe_seen(_hashes_df(spark, range(100, 120)))
    assert probed.filter("NOT maybe_seen").count() == 0


def test_crossing_add_counts_a_racing_source_append_once(spark, cat):
    """The crossing round's add runs concurrently with the caller's
    append of the same new hashes to the exact source (the crawl's
    frontier); if the append lands first, the rebuild sees them in both
    inputs and must still count each hash once."""
    s = _seen_set(cat, n_parts=4, probe_min_rows=10)
    s.add(_hashes_df(spark, range(100)), approx_seen_rows=0)
    assert cat.is_empty("bloom")  # a deferred add writes nothing
    # the helper's append to src lands first, as the racing append can
    s.add(_hashes_df(spark, range(100, 150)), approx_seen_rows=100)
    assert _n_items(cat) == 150
    probed = s.split_maybe_seen(_hashes_df(spark, range(150)))
    assert probed.filter("NOT maybe_seen").count() == 0


def test_fresh_instance_verifies_in_sync_bloom_without_rebuild(spark, cat):
    """A fresh (resumed) instance does not know the bloom's state: its
    first probe verifies Σ n_items against the exact set and rebuilds
    only a bloom that is behind."""
    _seen_set(cat, n_parts=2).add(_hashes_df(spark, range(100)))
    v0 = cat.current_version("bloom")
    s = _seen_set(cat, n_parts=2, probe_min_rows=10)
    out = {r["url_hash"]
           for r in s.filter_new(_hashes_df(spark, range(90, 110)),
                                 approx_seen_rows=100).collect()}
    assert out == set(range(100, 110))
    assert cat.current_version("bloom") == v0
    # behind: a deferred add by another instance, then a fresh one probes
    _seen_set(cat, n_parts=2, probe_min_rows=1000).add(
        _hashes_df(spark, range(200, 250)), approx_seen_rows=100)
    s = _seen_set(cat, n_parts=2, probe_min_rows=10)
    probed = s.split_maybe_seen(_hashes_df(spark, range(200, 250)))
    assert probed.filter("NOT maybe_seen").count() == 0
    assert cat.current_version("bloom") == v0 + 1
    assert _n_items(cat) == 150


def test_split_maybe_seen_sound_after_deferred_add(spark, cat):
    """A deferred merge leaves the bloom behind the exact set (empty, or
    missing the deferred hashes); a direct split_maybe_seen must bring it
    up to date first, so every added hash still probes maybe_seen=True."""
    s = _seen_set(cat, n_parts=2, probe_min_rows=100)
    s.add(_hashes_df(spark, range(50)), approx_seen_rows=0)
    probed = s.split_maybe_seen(_hashes_df(spark, range(50)))
    assert probed.filter("NOT maybe_seen").count() == 0
    # and over a non-empty bloom that lacks the deferred hashes
    s.add(_hashes_df(spark, range(1000, 1050)), approx_seen_rows=50)
    probed = s.split_maybe_seen(_hashes_df(spark, range(1000, 1050)))
    assert probed.filter("NOT maybe_seen").count() == 0
