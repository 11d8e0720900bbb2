"""Continuous crawling as Structured Streaming (optional skin, SURVEY.md
§2 'streaming-only concepts' / §7.6).

shriphani/pegasus runs continuously: its core.async queue workers poll
forever and new URLs can be injected while the crawl runs. The batch
engine models that as a driver loop; this module recovers the
*continuous* shape with Structured Streaming: a directory of seed-batch
parquet files is an unbounded source, and ``foreachBatch`` folds each
arriving seed batch into the SAME durable crawl state (frontier / seen /
corpus tables + checkpoints) with ``crawl``'s seed commit, then drains
the frontier with ``crawl``'s round loop — same stop rules, checkpoints,
compaction and resume. Exactly-once-ish: the engine's own enqueue dedup
makes seed redelivery idempotent, and Spark's streaming checkpoint tracks
which seed files were consumed.

Stop semantics: ``max_rounds`` is an absolute round cap; an ``exhausted``
stop idles until the next seed batch; any other stop is terminal (later
batches inject nothing and run no rounds).

No watermarks/event-time needed: politeness windows are virtual-time
arithmetic, not stream-time windows (SURVEY.md §2 O3).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..config import CrawlConfig
from ..crawl import _commit_seeds, _open, _run_rounds


def stream_crawl(
    spark: SparkSession,
    cfg: CrawlConfig,
    seeds_stream_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start a streaming crawl over arriving seed batches, resuming from
    ``cfg.job_dir``'s checkpoints if it has any. Each micro-batch commits
    its seeds, then runs crawl rounds until a stop rule fires. Returns
    the StreamingQuery."""
    ctx, ckpt, latest = _open(spark, cfg, resume=True)

    state = {"round": 0, "visited": 0, "reason": None}
    if latest is not None:
        state.update(round=latest["round"] + 1, visited=latest["visited"],
                     reason=latest["reason"] if latest.get("stopped") else None)

    def process_batch(batch_df, batch_id: int):
        if (state["reason"] not in (None, "exhausted")
                or state["round"] >= cfg.max_rounds):
            return  # terminal stop: later seed batches are not crawled
        _commit_seeds(ctx, ckpt, batch_df.select("url", "priority"),
                      state["round"], state["visited"])
        res = _run_rounds(ctx, ckpt, state["round"], state["visited"])
        state.update(round=state["round"] + res.rounds, visited=res.visited,
                     reason=res.stop_reason)

    stream = (
        spark.readStream.schema("url string, priority int")
        .parquet(seeds_stream_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
