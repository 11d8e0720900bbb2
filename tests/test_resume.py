"""Checkpoint/resume parity (SURVEY.md §2 O14, FIXTURES.md kill-resume):
a crawl interrupted between rounds and resumed must produce EXACTLY the
same final state as an uninterrupted run."""

import shutil
import tempfile

import pytest

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.round import FRONTIER_DDL
from pegasus_spark.streaming.stream_crawl import stream_crawl
from pegasus_spark.tables import CheckpointStore, ManifestCatalog

PARAMS = WebParams(seed=21, n_pages=150, n_hosts=6, fanout=3.0, n_seeds=3)


def _final_state(spark, job_dir):
    cat = ManifestCatalog(spark, job_dir)
    corpus = cat.read("corpus").toPandas().sort_values(
        ["fetch_round", "fetch_vt", "url_hash"]).reset_index(drop=True)
    seen = sorted(r["url_hash"] for r in cat.read("frontier").select("url_hash").collect())
    frontier = sorted(r["url_hash"] for r in cat.read("frontier").select("url_hash").collect())
    return corpus, seen, frontier


@pytest.fixture(scope="module")
def web_dir():
    tmp = tempfile.mkdtemp()
    write_web(generate_web(PARAMS), f"{tmp}/web")
    yield f"{tmp}/web"
    shutil.rmtree(tmp, ignore_errors=True)


class _Kill(Exception):
    pass


def test_crash_mid_crawl_resume_identical(spark, web_dir):
    """Crash AFTER round 1's table commits but BEFORE its checkpoint
    (the worst torn state): resume must roll back and replay to a state
    bit-identical with an uninterrupted run."""
    tmp = tempfile.mkdtemp()
    try:
        # uninterrupted reference run
        cfg_a = CrawlConfig(web_dir=web_dir, job_dir=f"{tmp}/job_a",
                            corpus_size=60, seen_parts=4)
        res_a = crawl(spark, cfg_a)

        def killer(r, v, ex):
            if r >= 1:
                raise _Kill()
            return False

        cfg_b = CrawlConfig(web_dir=web_dir, job_dir=f"{tmp}/job_b",
                            corpus_size=60, seen_parts=4, stop_check=killer)
        with pytest.raises(_Kill):
            crawl(spark, cfg_b)
        # round 1's table commits exist but its checkpoint does not
        assert CheckpointStore(f"{tmp}/job_b").latest()["round"] == 0

        cfg_b2 = CrawlConfig(web_dir=web_dir, job_dir=f"{tmp}/job_b",
                             corpus_size=60, seen_parts=4)
        res_b2 = crawl(spark, cfg_b2, resume=True)
        assert res_b2.stop_reason == res_a.stop_reason
        assert res_b2.visited == res_a.visited

        ca, sa, fa = _final_state(spark, f"{tmp}/job_a")
        cb, sb, fb = _final_state(spark, f"{tmp}/job_b")
        assert sa == sb
        assert fa == fb
        assert list(ca["url_hash"]) == list(cb["url_hash"])
        assert list(ca["fetch_vt"]) == list(cb["fetch_vt"])
        assert list(ca["fetch_round"]) == list(cb["fetch_round"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_with_other_table_bucket_count(spark, web_dir):
    """B comes from the tables, not the config: a crawl started at
    table_bucket_count=4, crashed after round 1's commits and resumed at
    table_bucket_count=2 (the tables keep B=4) must still see every
    pending row and match an uninterrupted B=4 crawl."""
    tmp = tempfile.mkdtemp()
    try:
        kw = dict(web_dir=web_dir, corpus_size=60, seen_parts=4)
        res_a = crawl(spark, CrawlConfig(job_dir=f"{tmp}/job_a", table_bucket_count=4, **kw))

        def killer(r, v, ex):
            if r >= 1:
                raise _Kill()
            return False

        with pytest.raises(_Kill):
            crawl(spark, CrawlConfig(job_dir=f"{tmp}/job_b", table_bucket_count=4,
                                     stop_check=killer, **kw))
        assert CheckpointStore(f"{tmp}/job_b").latest()["round"] == 0
        res_b = crawl(spark, CrawlConfig(job_dir=f"{tmp}/job_b", table_bucket_count=2, **kw),
                      resume=True)
        assert ManifestCatalog(spark, f"{tmp}/job_b")._manifest("frontier")["bucket_by"] \
            == ["url_hash", 4]
        assert (res_b.stop_reason, res_b.visited) == (res_a.stop_reason, res_a.visited)

        key = ["fetch_round", "fetch_vt", "url_hash"]
        ca, _, _ = _final_state(spark, f"{tmp}/job_a")
        cb, _, _ = _final_state(spark, f"{tmp}/job_b")
        assert ca[key].values.tolist() == cb[key].values.tolist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_from_checkpoint_listing_seen(spark, web_dir, tmp_path):
    """Crawls keep no ``seen`` table (the frontier is the exact seen set),
    but checkpoints written while they did list it: such a job_dir must
    still restore and finish."""
    job = str(tmp_path / "job")
    cfg = CrawlConfig(web_dir=web_dir, job_dir=job, corpus_size=30, seen_parts=4)

    def killer(r, v, ex):
        raise _Kill()

    with pytest.raises(_Kill):
        crawl(spark, CrawlConfig(web_dir=web_dir, job_dir=job, corpus_size=30,
                                 seen_parts=4, stop_check=killer))
    cat = ManifestCatalog(spark, job)
    assert not cat.exists("seen")
    # the table and checkpoint entry an older crawl left behind
    cat.create("seen", "url_hash bigint, part_id int")
    ck = CheckpointStore(job)
    latest = ck.latest()
    latest["versions"]["seen"] = cat.current_version("seen")
    ck.save(latest.pop("round"), latest)
    res = crawl(spark, cfg, resume=True)
    assert res.stop_reason == "corpus_size" and res.visited >= 30


def test_resume_after_stop_is_noop(spark, web_dir):
    tmp = tempfile.mkdtemp()
    try:
        cfg = CrawlConfig(web_dir=web_dir, job_dir=f"{tmp}/job",
                          corpus_size=30, seen_parts=4)
        res1 = crawl(spark, cfg)
        assert res1.stop_reason == "corpus_size"
        # the frontier is the exact seen set: no separate seen table
        assert not ManifestCatalog(spark, f"{tmp}/job").exists("seen")
        v1 = ManifestCatalog(spark, f"{tmp}/job").current_version("corpus")
        res2 = crawl(spark, cfg, resume=True)
        assert res2.visited == res1.visited
        assert res2.stop_reason == res1.stop_reason
        v2 = ManifestCatalog(spark, f"{tmp}/job").current_version("corpus")
        assert v1 == v2  # no new commits
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_restore_rolls_back_partial_commits(spark, web_dir, tmp_path):
    """A crash AFTER a table commit but BEFORE the round checkpoint must
    be invisible after resume: restore() rolls CURRENT pointers back."""
    job = str(tmp_path / "job")
    cfg = CrawlConfig(web_dir=web_dir, job_dir=job, corpus_size=30, seen_parts=4,
                      stop_check=lambda r, v, ex: r >= 0)
    crawl(spark, cfg)  # stops after round 0's checkpoint
    cat = ManifestCatalog(spark, job)
    ck = CheckpointStore(job)
    committed = ck.latest()["versions"]
    # simulate a torn round: an extra corpus append without a checkpoint
    extra = cat.read("corpus").limit(1)
    cat.append("corpus", extra)
    assert cat.current_version("corpus") != committed["corpus"]
    cat.restore(committed)
    assert cat.current_version("corpus") == committed["corpus"]


def test_both_drivers_refuse_stale_job_dir(spark, web_dir, tmp_path):
    """The shared start-up step: tables with no checkpoint (a crash before
    the first commit) are refused by both drivers, with or without
    resume; checkpoints without resume=True are refused too."""
    job = str(tmp_path / "job")
    cat = ManifestCatalog(spark, job)
    cat.create("frontier", FRONTIER_DDL)
    cat.append("frontier", spark.createDataFrame(
        [("http://h0.test/a", 1, "h0.test", 0, 0, None)], FRONTIER_DDL))
    cfg = CrawlConfig(web_dir=web_dir, job_dir=job, seen_parts=4)
    for resume in (False, True):
        with pytest.raises(ValueError, match="no checkpoint"):
            crawl(spark, cfg, resume=resume)
    with pytest.raises(ValueError, match="no checkpoint"):
        stream_crawl(spark, cfg, str(tmp_path / "seeds"), str(tmp_path / "ckpt"))
    CheckpointStore(job).save(0, {"versions": {}, "visited": 0, "stopped": False})
    with pytest.raises(ValueError, match="prior crawl"):
        crawl(spark, cfg)
