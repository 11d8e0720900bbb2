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


def test_filter_new_empty_set(spark, cat):
    s = SeenSet(cat, n_parts=2)
    df = _hashes_df(spark, [1, 2, 3])
    assert s.filter_new(df).count() == 3


def test_add_then_filter_exact(spark, cat):
    s = SeenSet(cat, n_parts=2)
    s.add(_hashes_df(spark, range(100)))
    out = {r["url_hash"] for r in s.filter_new(_hashes_df(spark, range(50, 150))).collect()}
    assert out == set(range(100, 150))


def test_forced_collisions_still_exact(spark, cat):
    # tiny bloom (m=64 bits, k=2) → massive false-positive rate; the
    # exact anti-join must still yield a correct result
    s = SeenSet(cat, n_parts=2, m_bits=64, k=2)
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
    s = SeenSet(cat, n_parts=4, m_bits=1 << 12, k=3)
    vals = list(range(1000))
    s.add(_hashes_df(spark, vals))
    # every added value must probe maybe_seen=True (bloom soundness)
    probed = s.split_maybe_seen(_hashes_df(spark, vals))
    assert probed.filter("NOT maybe_seen").count() == 0


def test_overflow_and_rebuild(spark, cat):
    # capacity = m*0.693/k = 64*0.693/2 ≈ 22 → everything past ~22 goes
    # to overflow; overflow_rebuild=50 → rebuild doubles m
    s = SeenSet(cat, n_parts=1, m_bits=64, k=2, overflow_rebuild=50)
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

    s = SeenSet(cat, n_parts=64, m_bits=1 << 10, k=3, overflow_rebuild=8)
    s.add(_hashes_df(spark, range(2000)))          # small m → overflow + rebuild
    s.add(_hashes_df(spark, range(2000, 2500)))
    got = {r["url_hash"] for r in s.filter_new(_hashes_df(spark, range(1500, 3000))).collect()}
    assert got == set(range(2500, 3000))
    for sch in collected_schemas:
        assert not any(f.dataType.typeName() == "binary" for f in sch.fields), (
            f"driver materialized bloom bytes: {sch.simpleString()}"
        )
    # and all 64 partitions exist as rows in the bloom table
    assert cat.read("bloom").select("part_id").distinct().count() == 64


def test_incremental_adds_match_bulk(spark, cat, tmp_path):
    s1 = SeenSet(cat, n_parts=2, m_bits=1 << 10, k=3)
    for lo in range(0, 300, 100):
        s1.add(_hashes_df(spark, range(lo, lo + 100)))
    cat2 = ManifestCatalog(spark, str(tmp_path / "cat2"))
    s2 = SeenSet(cat2, n_parts=2, m_bits=1 << 10, k=3)
    s2.add(_hashes_df(spark, range(300)))
    q = list(range(250, 400))
    got1 = {r["url_hash"] for r in s1.filter_new(_hashes_df(spark, q)).collect()}
    got2 = {r["url_hash"] for r in s2.filter_new(_hashes_df(spark, q)).collect()}
    assert got1 == got2 == set(range(300, 400))


def test_deferred_bloom_skip_and_rebuild_at_crossing(spark, cat):
    """r6 size-adaptive gate: adds below the probe threshold defer the
    bloom merge; the first probing filter_new detects the gap
    (Σ n_items < exact count) and rebuilds every partition from the
    exact set — results identical in both modes, bloom sound after."""
    s = SeenSet(cat, n_parts=2, probe_min_rows=100)
    s.add(_hashes_df(spark, range(50)), defer_bloom=True)
    # skip mode (approx below threshold): plain exact anti-join
    out = {r["url_hash"]
           for r in s.filter_new(_hashes_df(spark, range(40, 60)),
                                 approx_seen_rows=50).collect()}
    assert out == set(range(50, 60))
    # the deferred merge left the bloom EMPTY while the exact set has 50
    # rows — a raw probe now would yield false negatives; the probing
    # filter_new path must rebuild first and still be exact
    out = {r["url_hash"]
           for r in s.filter_new(_hashes_df(spark, range(40, 60)),
                                 approx_seen_rows=200).collect()}
    assert out == set(range(50, 60))
    # bloom soundness restored: every added value probes maybe_seen=True
    probed = s.split_maybe_seen(_hashes_df(spark, range(50)))
    assert probed.filter("NOT maybe_seen").count() == 0
    # and subsequent merged adds keep it in sync (no rebuild needed)
    s.add(_hashes_df(spark, range(100, 120)))
    probed = s.split_maybe_seen(_hashes_df(spark, range(100, 120)))
    assert probed.filter("NOT maybe_seen").count() == 0


def test_split_maybe_seen_sound_after_deferred_add(spark, cat):
    """A deferred merge leaves the bloom behind the exact set (empty, or
    missing the deferred hashes); a direct split_maybe_seen must bring it
    up to date first, so every added hash still probes maybe_seen=True."""
    s = SeenSet(cat, n_parts=2)
    s.add(_hashes_df(spark, range(50)), defer_bloom=True)
    probed = s.split_maybe_seen(_hashes_df(spark, range(50)))
    assert probed.filter("NOT maybe_seen").count() == 0
    # and over a non-empty bloom that lacks the deferred hashes
    s.add(_hashes_df(spark, range(1000, 1050)), defer_bloom=True)
    probed = s.split_maybe_seen(_hashes_df(spark, range(1000, 1050)))
    assert probed.filter("NOT maybe_seen").count() == 0
