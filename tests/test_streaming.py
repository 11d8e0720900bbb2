"""Streaming skin: seed batches arriving as a stream drive the same
durable crawl state; results match a batch crawl over the union of seeds."""

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.streaming.stream_crawl import stream_crawl
from pegasus_spark.tables import CheckpointStore, ManifestCatalog

PARAMS = WebParams(seed=31, n_pages=120, n_hosts=6, fanout=2.5, n_seeds=4)


def _write_seed_batch(d, name, urls):
    t = pa.table({"url": pa.array(urls, pa.string()),
                  "priority": pa.array([0] * len(urls), pa.int32())})
    pq.write_table(t, os.path.join(d, name))


def test_stream_crawl_matches_batch(spark):
    tmp = tempfile.mkdtemp()
    try:
        web = generate_web(PARAMS)
        write_web(web, f"{tmp}/web")
        seeds = list(web["seeds"]["url"])

        # batch reference: all seeds at once
        cfg_b = CrawlConfig(web_dir=f"{tmp}/web", job_dir=f"{tmp}/job_batch",
                            seen_parts=4, seeds=seeds)
        res_b = crawl(spark, cfg_b)

        # streaming: seeds arrive in two files
        sdir = f"{tmp}/seed_stream"
        os.makedirs(sdir)
        _write_seed_batch(sdir, "b0.parquet", seeds[:2])
        _write_seed_batch(sdir, "b1.parquet", seeds[2:])
        cfg_s = CrawlConfig(web_dir=f"{tmp}/web", job_dir=f"{tmp}/job_stream",
                            seen_parts=4, seeds=[])
        q = stream_crawl(spark, cfg_s, sdir, f"{tmp}/stream_ckpt",
                         available_now=True)
        q.awaitTermination(300)

        cat_b = ManifestCatalog(spark, f"{tmp}/job_batch")
        cat_s = ManifestCatalog(spark, f"{tmp}/job_stream")
        visited_b = {r["url_hash"] for r in cat_b.read("corpus").select("url_hash").collect()}
        visited_s = {r["url_hash"] for r in cat_s.read("corpus").select("url_hash").collect()}
        # same final visited set (ordering may differ: seeds arrived over
        # two batches, i.e. a different — but valid — discovery timeline)
        assert visited_s == visited_b
        assert res_b.visited == len(visited_s)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stream(spark, cfg, sdir, ckpt_dir):
    q = stream_crawl(spark, cfg, sdir, ckpt_dir, available_now=True)
    q.awaitTermination(300)


def _corpus_trace(spark, job_dir):
    pdf = ManifestCatalog(spark, job_dir).read("corpus").toPandas()
    return sorted(zip(pdf["fetch_round"], pdf["fetch_vt"], pdf["url_hash"]))


def test_stream_crawl_corpus_size_stop(spark):
    """corpus_size is a terminal stop in streaming too: the capped round
    truncates to exactly N rows and the stop is checkpointed; a seed file
    arriving after the stop (here: on a restart) injects nothing and runs
    no round."""
    tmp = tempfile.mkdtemp()
    try:
        web = generate_web(PARAMS)
        write_web(web, f"{tmp}/web")
        seeds = list(web["seeds"]["url"])
        sdir = f"{tmp}/seed_stream"
        os.makedirs(sdir)
        n = 25
        cfg = CrawlConfig(web_dir=f"{tmp}/web", job_dir=f"{tmp}/job",
                          seen_parts=4, seeds=[], corpus_size=n, max_rounds=12)
        _write_seed_batch(sdir, "b0.parquet", seeds[:2])
        _stream(spark, cfg, sdir, f"{tmp}/stream_ckpt")
        ckpt = CheckpointStore(f"{tmp}/job")
        stop = ckpt.latest()
        assert stop["stopped"] and stop["reason"] == "corpus_size"
        assert stop["visited"] == n

        _write_seed_batch(sdir, "b1.parquet", seeds[2:])
        _stream(spark, cfg, sdir, f"{tmp}/stream_ckpt")
        assert ckpt.latest() == stop
        cat = ManifestCatalog(spark, f"{tmp}/job")
        assert cat.current_version("frontier") == stop["versions"]["frontier"]
        assert cat.read("corpus").count() == n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class _Kill(Exception):
    pass


def test_stream_crash_mid_crawl_resume_identical(spark):
    """Streaming twin of test_resume's crash test: a crash AFTER round
    1's table commits but BEFORE its checkpoint, then a restart on the
    same stream checkpoint dir, must end in the same corpus as an
    uninterrupted stream over the same seed file."""
    tmp = tempfile.mkdtemp()
    try:
        web = generate_web(PARAMS)
        write_web(web, f"{tmp}/web")
        sdir = f"{tmp}/seed_stream"
        os.makedirs(sdir)
        _write_seed_batch(sdir, "b0.parquet", list(web["seeds"]["url"]))

        def cfg(job, **kw):
            return CrawlConfig(web_dir=f"{tmp}/web", job_dir=f"{tmp}/{job}",
                               seen_parts=4, seeds=[], **kw)

        _stream(spark, cfg("job_a"), sdir, f"{tmp}/ckpt_a")

        def killer(r, v, ex):
            if r >= 1:
                raise _Kill()
            return False

        q = stream_crawl(spark, cfg("job_b", stop_check=killer), sdir,
                         f"{tmp}/ckpt_b", available_now=True)
        with pytest.raises(Exception, match="_Kill"):
            q.awaitTermination(300)
        # round 1's table commits exist but its checkpoint does not
        assert CheckpointStore(f"{tmp}/job_b").latest()["round"] == 0

        _stream(spark, cfg("job_b"), sdir, f"{tmp}/ckpt_b")
        trace_a = _corpus_trace(spark, f"{tmp}/job_a")
        assert len(trace_a) > 0
        assert _corpus_trace(spark, f"{tmp}/job_b") == trace_a
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
