"""Jobs-per-round regression gate (VERDICT r3 'next round' item 8).

The r2→r3 crawl wins came from collapsing per-round job-latency chains
(counts riding writes via observe(), three concurrent independent jobs
per round, local metric commits with no Spark job). Nothing in the test
suite pinned that structure, so an innocent-looking refactor could
quietly re-introduce a per-round count() or an extra action and the
suite would stay green while the 10^4-round design point pays one more
scheduler round-trip per round, forever.

This test crawls a fixed fixture and pins the TOTAL number of Spark
jobs the engine submits. Job ids are allocated sequentially per
SparkContext, so max-job-id deltas count submissions exactly even if
the UI store evicts old entries.
"""

import shutil
import tempfile

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web

# Measured on the round-5 engine: a 9-round exhaustion crawl (seed=7/
# 120-page fixture, round_width_vt=24000) submits 289 Spark jobs end to
# end (~32/round: AQE materializes each shuffle stage as its own
# sub-job, so one logical action fans into several job ids; setup
# probes + final stop check included). The ~10% slack absorbs AQE plan
# wobble; a real structural regression (one extra count()/collect() per
# round) adds >=10 logical actions ≈ 20-30 AQE jobs and trips the bound.
MAX_JOBS_TOTAL = 320


def _max_job_id(spark) -> int:
    seq = spark._jsparkSession.sparkContext().statusStore().jobsList(None)
    n = seq.size()
    return max((seq.apply(i).jobId() for i in range(n)), default=-1)


# Same fixture crawled in the full PRODUCTION layout (bucketed
# frontier/corpus + compaction firing mid-crawl): each compaction pass
# adds a handful of rewrite jobs. Measured round 5 at
# round_width_vt=24000 (9 rounds): 342.
MAX_JOBS_TOTAL_BUCKETED = 380
PRODUCTION_LAYOUT = dict(table_bucket_count=4, compact_every=4, compact_target_dirs=4)


def _run_pinned(spark, ceiling, label, **cfg_kw) -> tuple[int, int]:
    """Crawl the pinned fixture; returns (Spark jobs submitted, rounds)."""
    tmp = tempfile.mkdtemp()
    try:
        web = generate_web(WebParams(seed=7, n_pages=120, n_hosts=5,
                                     fanout=2.5, n_seeds=3))
        write_web(web, f"{tmp}/web")
        before = _max_job_id(spark)
        res = crawl(spark, CrawlConfig(
            web_dir=f"{tmp}/web", job_dir=f"{tmp}/job",
            min_delay_ms=1000, round_width_vt=24_000,
            seen_parts=4, host_buckets=8, **cfg_kw))
        delta = _max_job_id(spark) - before
        assert res.rounds >= 5, "fixture must exercise a multi-round crawl"
        per_round = delta / res.rounds
        assert delta <= ceiling, (
            f"{label} crawl submitted {delta} Spark jobs over {res.rounds} "
            f"rounds (~{per_round:.1f}/round) — job structure regressed past "
            f"the pinned ceiling of {ceiling}; if the growth is an "
            "intentional structural change, re-measure and move the pin "
            "in the same commit")
        return delta, res.rounds
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_jobs_per_crawl_pinned(spark):
    _run_pinned(spark, MAX_JOBS_TOTAL, "default")


def test_jobs_per_crawl_pinned_production_layout(spark):
    _run_pinned(spark, MAX_JOBS_TOTAL_BUCKETED, "bucketed+compacting",
                **PRODUCTION_LAYOUT)


def test_corpus_cap_adds_no_job_per_round(spark):
    """A corpus_size cap that never trips runs the same rounds as an
    uncapped crawl, and the cap costs no Spark job of its own: the
    truncation reads the selected count off the schedule checkpoint
    instead of a dedicated count action (one job per round would show
    as a difference of at least the round count)."""
    jobs, rounds = _run_pinned(spark, MAX_JOBS_TOTAL_BUCKETED, "bucketed+compacting",
                               **PRODUCTION_LAYOUT)
    capped_jobs, capped_rounds = _run_pinned(
        spark, MAX_JOBS_TOTAL_BUCKETED, "bucketed+compacting+capped",
        corpus_size=10_000, **PRODUCTION_LAYOUT)
    assert capped_rounds == rounds
    assert capped_jobs - jobs < rounds, (
        f"capped crawl submitted {capped_jobs} jobs vs {jobs} uncapped "
        f"over {rounds} rounds")
