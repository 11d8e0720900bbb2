"""Driver loop — the public API (SURVEY.md §3.1).

``crawl(spark, CrawlConfig)`` is the analogue of the reference's single
public entry point ``(pegasus.core/crawl config)`` (``src/pegasus/
core.clj`` — symbol cite per SURVEY.md §0): config in, bounded polite
crawl out. Differences by design: the steady-state is a *driver loop of
batch rounds* (each round = one DataFrame job, checkpointed, resumable)
instead of a continuously-running channel topology; durability comes
from versioned-table snapshots instead of durable-queue slabs + LMDB.

Stop conditions (O13): ``visited ≥ corpus_size`` (with deterministic
final-round truncation) or frontier exhaustion — pegasus's
corpus-size/num-visited stop semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .config import CrawlConfig
from .robots import (
    ROBOTS_DDL,
    RobotsCache,
    load_crawl_delays,
    load_raw,
    load_rules_df,
    make_gate,
)
from .round import (
    CORPUS_DDL,
    FRONTIER_DDL,
    HOSTS_DDL,
    METRICS_DDL,
    REDIRECTS_DDL,
    RETRIES_DDL,
    RoundContext,
    frontier_exhausts_after,
    inject_seeds,
    run_round,
)
from .seen import SeenSet
from .tables import CheckpointStore, ManifestCatalog
from .fetch import load_pages, store_has_flaky, store_has_lossy, store_has_redirects

TABLES = ["frontier", "corpus", "hosts", "metrics", "seen", "bloom", "robots",
          "redirects", "retries"]


@dataclass
class CrawlResult:
    rounds: int
    visited: int
    stop_reason: str  # "corpus_size" | "exhausted" | "max_rounds"
    round_stats: list = field(default_factory=list)
    # wall seconds spent in between-round incremental compaction — table
    # MAINTENANCE, not crawl critical path (on a real lakehouse this is a
    # separate background job); surfaced so benchmarks can attribute the
    # bucketed/compacted layout's cost precisely
    compact_sec: float = 0.0


def _make_ctx(spark: SparkSession, cfg: CrawlConfig) -> tuple[RoundContext, CheckpointStore]:
    # Round plans reference every manifest commit dir (table reads union
    # per-commit snapshots), so the plan DESCRIPTION Spark renders for
    # the UI/event listeners on each action grows with commit count. At
    # Spark's near-unbounded default maxPlanStringLength (2^31) that
    # string alone OOMed a 1 GB driver on a 10-round toy crawl; at the
    # 10^4-round design point it would OOM any driver. Cap it (runtime
    # SQL conf) unless the user already chose a bound.
    try:
        if int(spark.conf.get("spark.sql.maxPlanStringLength")) > 10_000_000:
            spark.conf.set("spark.sql.maxPlanStringLength", "200000")
    except Exception:
        pass
    cat = ManifestCatalog(spark, cfg.job_dir)
    # Iceberg bucket(B, url_hash) partition-transform analogue on the two
    # data-sized tables: every append lands directory-per-bucket, and the
    # pending anti-join runs bucket-wise (round.py) — create() is
    # idempotent, so on resume the spec comes from the existing manifest
    tb = (("url_hash", cfg.table_bucket_count)
          if cfg.table_bucket_count > 0 else None)
    cat.create("frontier", FRONTIER_DDL, bucket_by=tb)
    # the blob-writer shape is a TABLE property: compaction rewrites and
    # any future writer inherit it from the manifest (create is
    # idempotent — on resume the property comes from the existing one)
    cat.create("corpus", CORPUS_DDL, bucket_by=tb,
               write_options=cfg.corpus_write_options)
    cat.create("hosts", HOSTS_DDL)
    cat.create("metrics", METRICS_DDL)
    cat.create("redirects", REDIRECTS_DDL)
    cat.create("retries", RETRIES_DDL)
    seen = SeenSet(
        cat,
        n_parts=cfg.seen_parts,
        m_bits=cfg.bloom_bits_per_part,
        k=cfg.bloom_k,
        overflow_rebuild=cfg.bloom_overflow_rebuild,
        # the frontier is append-only and dedup-gated, so its url_hash
        # column IS the URL-seen set — no separate seen table to write
        exact_source=lambda: cat.read("frontier"),
        probe_min_rows=cfg.bloom_probe_min_rows,
    )
    cat.create("robots", ROBOTS_DDL)  # versioned even in preparsed mode
    if cfg.robots_mode == "discover":
        robots = RobotsCache(spark, cat, load_raw(spark, cfg.web_dir), cfg.user_agent)
        gate = robots.gate()  # empty table until first ensure()
        crawl_delays = robots.crawl_delays()
    elif cfg.robots_mode == "preparsed":
        robots = None
        robots_path = f"{cfg.web_dir}/robots_txt.parquet"
        gate = make_gate(load_rules_df(spark, robots_path))
        crawl_delays = load_crawl_delays(spark, robots_path)
    else:
        raise ValueError(f"unknown robots_mode {cfg.robots_mode!r}")
    pages = load_pages(spark, cfg.web_dir, cfg.pages_bucketed_dir)
    if cfg.cache_pages:
        pages = pages.persist()
    ctx = RoundContext(
        spark, cat, seen, cfg,
        # the page store is read every round (it stands in for HTTP);
        # cached across rounds unless the config says it won't fit
        pages=pages,
        gate=gate,
        crawl_delays=crawl_delays,
        robots=robots,
        # one fmt-column probe: an all-lossless store lets every fetch
        # prune the raw pixels_ref column (validation via stored
        # checksums only)
        has_lossy=store_has_lossy(pages),
        # 3xx / transient-failure probes: all-200 never-failing stores
        # skip the redirect and retry machinery entirely (round plan
        # unchanged)
        has_redirects=store_has_redirects(pages),
        has_flaky=store_has_flaky(pages),
    )
    for stage in (cfg.extractor, cfg.pre_enqueue, cfg.writer):
        if stage is not None:
            stage.setup(spark, cfg)
    return ctx, CheckpointStore(cfg.job_dir)


import os as _os
import time as _time

_TIMING = _os.environ.get("PEGASUS_DEBUG_TIMING") == "1"


def _tlap(t0: float, label: str) -> float:
    now = _time.monotonic()
    if _TIMING:
        print(f"  [crawl] {label}: {now - t0:.2f}s", flush=True)
    return now


def crawl(spark: SparkSession, cfg: CrawlConfig, resume: bool = False) -> CrawlResult:
    if not resume:
        # a fresh crawl over stale state would silently drop the re-injected
        # seeds (seen-set) and misalign round-0 virtual time with the
        # already-advanced host clocks — refuse instead of corrupting
        if CheckpointStore(cfg.job_dir).latest() is not None:
            raise ValueError(
                f"job_dir {cfg.job_dir!r} holds a prior crawl's checkpoints; "
                "pass resume=True to continue it or point at a clean job_dir"
            )
        # a run that crashed BEFORE its first checkpoint leaves populated
        # (possibly mutually inconsistent) tables with no checkpoint to
        # resume from — equally unsafe to build on
        probe = ManifestCatalog(spark, cfg.job_dir)
        for t in ("frontier", "corpus"):
            if probe.exists(t) and not probe.is_empty(t):
                raise ValueError(
                    f"job_dir {cfg.job_dir!r} holds a non-empty {t!r} table "
                    "but no checkpoint (a crawl crashed before its first "
                    "commit?); point at a clean job_dir"
                )
    _t = _time.monotonic()
    ctx, ckpt = _make_ctx(spark, cfg)
    _t = _tlap(_t, "make_ctx")
    cat = ctx.cat

    start_round = 0
    visited = 0
    stats: list[dict] = []

    latest = ckpt.latest() if resume else None
    if latest is not None:
        if latest.get("stopped"):
            return CrawlResult(
                rounds=latest["round"] + 1, visited=latest["visited"],
                stop_reason=latest["reason"],
            )
        # roll tables back to the last fully-committed round, continue
        cat.restore(latest["versions"])
        start_round = latest["round"] + 1
        visited = latest["visited"]
        # floor-safe frontier-size seed for the size-adaptive plan gates
        # (frontier rows ≥ visited rows — see RoundContext)
        ctx.approx_frontier_rows = visited
    else:
        if cfg.seeds is not None:
            seeds_df = spark.createDataFrame(
                [(u, 0) for u in cfg.seeds], "url string, priority int"
            )
        else:
            seeds_df = spark.read.parquet(f"{cfg.web_dir}/seeds.parquet")
        with cat.txn():  # seed injection = one atomic frontier+bloom commit
            inject_seeds(ctx, seeds_df)
        _t = _tlap(_t, "inject_seeds")
        ckpt.save(-1, {"versions": cat.snapshot(TABLES), "visited": 0, "stopped": False})

    stop_reason = "max_rounds"
    compact_sec = 0.0
    r = start_round
    while r < cfg.max_rounds:
        st = run_round(ctx, r, visited)
        stats.append(st)
        visited += st["fetched"]
        stopped = False
        if st["exhausted"]:
            stop_reason, stopped = "exhausted", True
        elif cfg.corpus_size is not None and visited >= cfg.corpus_size:
            stop_reason, stopped = "corpus_size", True
        elif frontier_exhausts_after(st):
            # the round's own counts prove the next pending set is empty:
            # stop now instead of paying a full empty probe round (the
            # oracle applies the identical rule — see round.py docstring)
            stop_reason, stopped = "exhausted", True
        elif cfg.stop_check is not None and cfg.stop_check(r, visited, st["exhausted"]):
            stop_reason, stopped = "stop_check", True
        if cfg.update_state is not None:
            cfg.update_state(st)  # may mutate st → lands in the checkpoint
        ckpt.save(r, {
            "versions": cat.snapshot(TABLES), "visited": visited,
            "stopped": stopped, "reason": stop_reason if stopped else None,
            "stats": {k: v for k, v in st.items() if k != "round"},
        })
        r += 1
        if stopped:
            break
        if cfg.compact_every and r % cfg.compact_every == 0:
            # between rounds, after the checkpoint: compaction commits
            # are ordinary versions (a crash mid-compaction resumes from
            # the pre-compaction snapshot; merged dirs stay on disk for
            # time travel). Row sets are unchanged, so fetch order,
            # parity and golden traces are unaffected.
            # seen appends only in overflow mode and robots only in
            # discover mode; compact() is a no-op at ≤ target dirs
            _c0 = _time.monotonic()
            for t in ("frontier", "corpus", "redirects", "retries",
                      "metrics", "seen", "robots"):
                cat.compact(t, cfg.compact_target_dirs)
            compact_sec += _time.monotonic() - _c0

    for stage in (cfg.extractor, cfg.pre_enqueue, cfg.writer):
        if stage is not None:
            stage.teardown()
    return CrawlResult(rounds=r - start_round, visited=visited,
                       stop_reason=stop_reason, round_stats=stats,
                       compact_sec=round(compact_sec, 2))
