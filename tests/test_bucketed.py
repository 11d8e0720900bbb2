"""Bucketed layout (Iceberg bucket(B, url_hash) analogue).

Covers the catalog's bucket_by table property, Spark-native bucket file
writes, the bucketed read that Spark plans joins over without an
exchange, and full-crawl equivalence between the default and
fully-bucketed engines.
"""

import glob
import os
import re
import shutil
import tempfile
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.tables import ManifestCatalog


def _hashed(spark, lo, hi, name="v"):
    return spark.range(lo, hi).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").cast("int").alias(name))


def assert_bucket_files(spark, commit_dir, n):
    """Every parquet file of a commit dir is a Spark bucket file (bucket
    id in its name) whose rows all hash to that bucket, the way
    ``bucketBy(n, "url_hash")`` places them."""
    files = glob.glob(os.path.join(commit_dir, "*.parquet"))
    assert files
    for f in files:
        b = int(re.search(r"_(\d+)\.c\d+\.", os.path.basename(f)).group(1))
        assert 0 <= b < n
        wrong = spark.read.parquet(f).where(F.pmod(F.hash("url_hash"), F.lit(n)) != b)
        assert wrong.count() == 0, f


@contextmanager
def no_broadcast(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_table_roundtrip(spark):
    tmp = tempfile.mkdtemp()
    try:
        cat = ManifestCatalog(spark, tmp)
        cat.create("t", "url_hash bigint, v int", bucket_by=("url_hash", 4))
        m = cat._manifest("t")
        assert (m["bucket_by"], m["bucket_layout"]) == (["url_hash", 4], "spark-bucketBy")
        cat.append("t", _hashed(spark, 0, 100))
        cat.append("t", _hashed(spark, 100, 150))

        # logical read: layout-transparent, exact rows
        got = cat.read("t")
        assert got.columns == ["url_hash", "v"]
        assert sorted(r["v"] for r in got.collect()) == list(range(150))
        # physical: each commit dir holds Spark bucket files only
        for d in cat._manifest("t")["dirs"]:
            assert_bucket_files(spark, d, 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("how", ["inner", "left_anti"])
def test_bucketed_join_matches_plain_join(spark, how):
    """A join of two bucketed tables on their bucket column returns the
    plain join's rows, both broadcast and, with broadcast off, as a
    bucketed sort-merge join with no exchange. A NULL key matches
    nothing, as in the plain join."""
    tmp = tempfile.mkdtemp()
    try:
        cat = ManifestCatalog(spark, tmp)
        cat.create("t", "url_hash bigint, v int", bucket_by=("url_hash", 4))
        cat.create("s", "url_hash bigint, w int", bucket_by=("url_hash", 4))
        for lo in (0, 60):
            cat.append("t", _hashed(spark, lo, lo + 60))
        cat.append("s", _hashed(spark, 40, 160, "w").unionByName(
            spark.createDataFrame([(None, -1)], "url_hash bigint, w int")))
        plain = (spark.read.parquet(*cat._manifest("t")["dirs"])
                 .join(spark.read.parquet(*cat._manifest("s")["dirs"]), "url_hash", how))
        want = sorted(map(tuple, plain.collect()))
        assert len(want) == (80 if how == "inner" else 40)

        out = cat.read("t").join(cat.read("s"), "url_hash", how)
        assert sorted(map(tuple, out.collect())) == want
        assert "BroadcastHashJoin" in _executed_plan(out)
        with no_broadcast(spark):
            out = cat.read("t").join(cat.read("s"), "url_hash", how)
            plan = _executed_plan(out)
            assert sorted(map(tuple, out.collect())) == want
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pending_join_plan_is_bucketed_at_any_b(spark):
    """The round's pending anti-join over bucketed frontier/corpus tables,
    with broadcast off: no exchange below the join, and one scan node per
    table whatever B is."""
    scans = {}
    for nb in (4, 64):
        tmp = tempfile.mkdtemp()
        try:
            cat = ManifestCatalog(spark, tmp)
            cat.create("frontier", "url_hash bigint, v int", bucket_by=("url_hash", nb))
            cat.create("corpus", "url_hash bigint, w int", bucket_by=("url_hash", nb))
            for lo in (0, 100):
                cat.append("frontier", _hashed(spark, lo, lo + 100))
                cat.append("corpus", _hashed(spark, lo, lo + 90, "w"))
            with no_broadcast(spark):
                pending = cat.read("frontier").join(
                    cat.read("corpus").select("url_hash"), "url_hash", "left_anti")
                plan = _executed_plan(pending)
                assert pending.count() == 20
            assert "Exchange" not in plan, plan
            scans[nb] = plan.count("FileScan")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    assert scans[4] == scans[64] == 2


def test_bucketed_crawl_equivalence(spark):
    """Full crawl with the bucketed frontier/corpus tables, broadcast off
    (so the pending anti-join runs as the bucketed sort-merge join) and
    the politeness prune and shuffle fetch/extract joins forced on,
    produces the exact corpus, frontier and metrics of the default
    engine."""
    tmp = tempfile.mkdtemp()
    try:
        web = generate_web(WebParams(seed=77, n_pages=150, n_hosts=6,
                                     fanout=2.5, n_seeds=3))
        write_web(web, f"{tmp}/web")

        def run(job, **kw):
            cfg = CrawlConfig(web_dir=f"{tmp}/web", job_dir=f"{tmp}/{job}",
                              min_delay_ms=1000, round_width_vt=24_000,
                              seen_parts=4, host_buckets=8,
                              **kw)
            crawl(spark, cfg)
            cat = ManifestCatalog(spark, f"{tmp}/{job}")
            corpus = sorted(map(tuple, cat.read("corpus").select(
                "url_hash", "image_id", "fetch_round", "fetch_vt", "valid",
                "fetch_status").collect()))
            frontier = {r["url_hash"] for r in
                        cat.read("frontier").select("url_hash").collect()}
            metrics = sorted(map(tuple, cat.read("metrics").filter("part_id = -1")
                                 .select("round", "fetched", "enqueued",
                                         "dropped_seen", "deferred").collect()))
            return corpus, frontier, metrics

        base = run("job_default")
        with no_broadcast(spark):
            bucketed = run("job_bucketed", table_bucket_count=4,
                           fetch_broadcast_max=0, politeness_prune_min_rows=0)
        assert bucketed[0] == base[0]
        assert bucketed[1] == base[1]
        assert bucketed[2] == base[2]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
