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

``streaming.stream_crawl`` runs the same start-up step, seed commit and
round loop (``_open``, ``_commit_seeds``, ``_run_rounds``) per seed batch.
"""

from __future__ import annotations

import time
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
    _StepTimer,
    frontier_exhausts_after,
    inject_seeds,
    run_round,
)
from .seen import SeenSet
from .tables import CheckpointStore, ManifestCatalog
from .fetch import load_pages, store_has_flaky, store_has_lossy, store_has_redirects

TABLES = ["frontier", "corpus", "hosts", "metrics", "bloom", "robots",
          "redirects", "retries"]


@dataclass
class CrawlResult:
    rounds: int
    visited: int
    stop_reason: str  # "corpus_size" | "exhausted" | "stop_check" | "max_rounds"
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
    # SQL conf) unless the user already chose a bound. The conf is a byte
    # size (the default reads back as '2147483632b'), so the JVM's parsed
    # value is compared, not the string.
    if spark._jsparkSession.sessionState().conf().maxPlanStringLength() > 10_000_000:
        spark.conf.set("spark.sql.maxPlanStringLength", "200000")
    cat = ManifestCatalog(spark, cfg.job_dir)
    # Iceberg bucket(B, url_hash) partition-transform analogue on the two
    # data-sized tables: every append lands as Spark bucket files, so the
    # pending anti-join can run as a bucketed join (round.py) — create()
    # is idempotent, so on resume the spec comes from the existing manifest
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
        # column IS the URL-seen set
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
    pages = load_pages(spark, cfg.web_dir)
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


def _open(spark: SparkSession, cfg: CrawlConfig, resume: bool
          ) -> tuple[RoundContext, CheckpointStore, dict | None]:
    """Start-up step of both drivers: refuse stale state, build the round
    context, and on resume roll the tables back to the latest checkpoint
    (``latest``; None when there is none and the crawl starts fresh)."""
    latest = CheckpointStore(cfg.job_dir).latest()
    if latest is not None and not resume:
        # a fresh crawl over stale state would silently drop the re-injected
        # seeds (seen-set) and misalign round-0 virtual time with the
        # already-advanced host clocks — refuse instead of corrupting
        raise ValueError(
            f"job_dir {cfg.job_dir!r} holds a prior crawl's checkpoints; "
            "pass resume=True to continue it or point at a clean job_dir"
        )
    if latest is None:
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
    timer = _StepTimer("crawl")
    ctx, ckpt = _make_ctx(spark, cfg)
    timer.lap("make_ctx")
    if latest is not None:
        # a crash between a round's commits and its checkpoint: roll
        # them back so the round replays instead of stacking on them
        ctx.cat.restore(latest["versions"])
        # floor-safe frontier-size seed for the size-adaptive plan gates
        # (frontier rows ≥ visited rows — see RoundContext)
        ctx.approx_frontier_rows = latest["visited"]
    return ctx, ckpt, latest


def _commit_seeds(ctx: RoundContext, ckpt: CheckpointStore, seeds_df,
                  r: int, visited: int) -> None:
    """Seed commit: one atomic frontier+bloom commit, then a checkpoint
    at round ``r - 1`` so a crash before round ``r``'s checkpoint
    resumes with the seeds in place."""
    timer = _StepTimer("crawl")
    with ctx.cat.txn():
        inject_seeds(ctx, seeds_df)
    timer.lap("inject_seeds")
    ckpt.save(r - 1, {"versions": ctx.cat.snapshot(TABLES), "visited": visited,
                      "stopped": False})


def _run_rounds(ctx: RoundContext, ckpt: CheckpointStore, r: int,
                visited: int) -> CrawlResult:
    """The round loop of both drivers: run rounds from ``r`` until a stop
    rule fires or round ``max_rounds`` (an absolute cap) is reached,
    checkpointing every round and compacting every ``compact_every``."""
    cfg, cat = ctx.cfg, ctx.cat
    res = CrawlResult(rounds=0, visited=visited, stop_reason="max_rounds")
    while r < cfg.max_rounds:
        st = run_round(ctx, r, res.visited)
        res.round_stats.append(st)
        res.visited += st["fetched"]
        stopped = True
        if st["exhausted"]:
            res.stop_reason = "exhausted"
        elif cfg.corpus_size is not None and res.visited >= cfg.corpus_size:
            res.stop_reason = "corpus_size"
        elif frontier_exhausts_after(st):
            # the round's own counts prove the next pending set is empty:
            # stop now instead of paying a full empty probe round (the
            # oracle applies the identical rule — see round.py docstring)
            res.stop_reason = "exhausted"
        elif cfg.stop_check is not None and cfg.stop_check(r, res.visited, st["exhausted"]):
            res.stop_reason = "stop_check"
        else:
            stopped = False
        if cfg.update_state is not None:
            cfg.update_state(st)  # may mutate st → lands in the checkpoint
        ckpt.save(r, {
            "versions": cat.snapshot(TABLES), "visited": res.visited,
            "stopped": stopped, "reason": res.stop_reason if stopped else None,
            "stats": {k: v for k, v in st.items() if k != "round"},
        })
        r += 1
        res.rounds += 1
        if stopped:
            break
        if cfg.compact_every and r % cfg.compact_every == 0:
            # between rounds, after the checkpoint: compaction commits
            # are ordinary versions (a crash mid-compaction resumes from
            # the pre-compaction snapshot; merged dirs stay on disk for
            # time travel). Row sets are unchanged, so fetch order,
            # parity and golden traces are unaffected.
            # robots appends only in discover mode; compact() is a
            # no-op at ≤ target dirs
            c0 = time.monotonic()
            for t in ("frontier", "corpus", "redirects", "retries",
                      "metrics", "robots"):
                cat.compact(t, cfg.compact_target_dirs)
            res.compact_sec += time.monotonic() - c0
    res.compact_sec = round(res.compact_sec, 2)
    return res


def crawl(spark: SparkSession, cfg: CrawlConfig, resume: bool = False) -> CrawlResult:
    ctx, ckpt, latest = _open(spark, cfg, resume)
    if latest is not None and latest.get("stopped"):
        return CrawlResult(rounds=latest["round"] + 1, visited=latest["visited"],
                           stop_reason=latest["reason"])
    if latest is None:
        if cfg.seeds is not None:
            seeds_df = spark.createDataFrame(
                [(u, 0) for u in cfg.seeds], "url string, priority int"
            )
        else:
            seeds_df = spark.read.parquet(f"{cfg.web_dir}/seeds.parquet")
        _commit_seeds(ctx, ckpt, seeds_df, 0, 0)
    r, visited = (latest["round"] + 1, latest["visited"]) if latest else (0, 0)
    res = _run_rounds(ctx, ckpt, r, visited)
    for stage in (cfg.extractor, cfg.pre_enqueue, cfg.writer):
        if stage is not None:
            stage.teardown()
    return res
