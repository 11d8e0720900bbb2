"""Incremental catalog compaction (Iceberg rewrite_data_files analogue).

Append-only tables gain one commit dir per round; compact() bin-packs
the smallest dirs so snapshots reference a bounded dir count — the
metadata-growth bound for 10^4-round crawls. Rows must be preserved
exactly, bucketed layouts must stay bucketed, and time travel across
the compaction boundary must still see the old layout.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.tables import ManifestCatalog
from tests.test_bucketed import assert_bucket_files


def test_compact_preserves_rows_and_bounds_dirs(spark):
    tmp = tempfile.mkdtemp()
    try:
        cat = ManifestCatalog(spark, tmp)
        cat.create("t", "k bigint, v int")
        for i in range(12):
            cat.append("t", spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k"), F.col("id").cast("int").alias("v")))
        pre_version = cat.current_version("t")
        assert len(cat._manifest("t")["dirs"]) == 12

        v = cat.compact("t", target_dirs=4)
        assert v == pre_version + 1
        m = cat._manifest("t")
        assert len(m["dirs"]) == 4
        got = sorted(r["v"] for r in cat.read("t").collect())
        assert got == list(range(120))

        # time travel: the pre-compaction version still reads 12 dirs
        old = cat.read("t", version=pre_version)
        assert sorted(r["v"] for r in old.collect()) == list(range(120))

        # idempotent at the bound
        assert cat.compact("t", target_dirs=4) == v
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_bucketed_keeps_layout(spark):
    tmp = tempfile.mkdtemp()
    try:
        cat = ManifestCatalog(spark, tmp)
        cat.create("t", "url_hash bigint, v int", bucket_by=("url_hash", 4))
        for i in range(6):
            cat.append("t", spark.range(i * 20, (i + 1) * 20).select(
                F.xxhash64("id").alias("url_hash"),
                F.col("id").cast("int").alias("v")))
        cat.compact("t", target_dirs=2)
        m = cat._manifest("t")
        assert len(m["dirs"]) == 2 and m["bucket_by"] == ["url_hash", 4]
        assert m["bucket_layout"] == "spark-bucketBy"

        # logical read: exact rows over the compacted + kept dirs
        assert sorted(r["v"] for r in cat.read("t").collect()) == list(range(120))
        # physical: the merged dir is written as Spark bucket files too
        for d in m["dirs"]:
            assert_bucket_files(spark, d, 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_crawl_with_aggressive_compaction_is_identical(spark):
    """compact_every=2 during a multi-round crawl: corpus/frontier/
    metrics identical to the uncompacted engine, dirs bounded."""
    tmp = tempfile.mkdtemp()
    try:
        web = generate_web(WebParams(seed=53, n_pages=150, n_hosts=6,
                                     fanout=2.5, n_seeds=3,
                                     redirect_frac=0.15, flaky_frac=0.1,
                                     flaky_until=2))
        write_web(web, f"{tmp}/web")

        def run(job, **kw):
            # 3x-wide rounds (24000 vs the 8000 default at min_delay
            # 1000): 15 rounds → 11, same BFS output — compaction still
            # fires 5x at compact_every=2 (CI wall-clock trim)
            crawl(spark, CrawlConfig(
                web_dir=f"{tmp}/web", job_dir=f"{tmp}/{job}",
                min_delay_ms=1000, round_width_vt=24_000,
                seen_parts=4, host_buckets=8, **kw))
            cat = ManifestCatalog(spark, f"{tmp}/{job}")
            corpus = sorted(map(tuple, cat.read("corpus").select(
                "url_hash", "fetch_round", "fetch_vt", "valid",
                "fetch_status").collect()))
            frontier = {r["url_hash"] for r in
                        cat.read("frontier").select("url_hash").collect()}
            metrics = sorted(map(tuple, cat.read("metrics")
                                 .filter("part_id = -1")
                                 .select("round", "fetched", "enqueued",
                                         "retried").collect()))
            return cat, corpus, frontier, metrics

        _, c0, f0, m0 = run("job_plain", compact_every=0)
        cat, c1, f1, m1 = run("job_compact", compact_every=2,
                              compact_target_dirs=3)
        assert c1 == c0 and f1 == f0 and m1 == m0
        # the compacted run's tables are actually bounded
        n_rounds = max(r for r, *_ in m1) + 1
        assert n_rounds > 4, "fixture must crawl >4 rounds for the test to bite"
        for t in ("frontier", "corpus", "metrics"):
            assert len(cat._manifest(t)["dirs"]) <= 3 + cat_extra(n_rounds), \
                (t, len(cat._manifest(t)["dirs"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cat_extra(n_rounds: int) -> int:
    # at compact_every=2 at most 2 rounds of appends land after the last
    # compaction (plus the final round's append before the stop)
    return 2
