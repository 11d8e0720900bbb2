"""One crawl round as ONE DataFrame dataflow (SURVEY.md §3.1).

shriphani/pegasus wires its stages as core.async channels (visited/robots
filters → fetch → extract → write → enqueue; ``src/pegasus/core.clj``
crawl — symbol cite per SURVEY.md §0). Here the whole stage list folds
into a single Catalyst plan per round; channels' pipelining/backpressure
becomes whole-stage codegen + bounded rounds (SURVEY.md §2 O16).

Physical design notes (the 100 TB story):
- exactly two data-sized shuffles per round: the per-host politeness
  window and the enqueue dedup aggregation; the robots gate is a
  broadcast-side pandas UDF, the seen check is bloom-prefiltered,
  the fetch/decode re-shuffle is on the *salted* host_bucket;
- the frontier is append-only (no rewrite churn): "pending" is
  recomputed as frontier ⟕̸ corpus (anti-join on url_hash) — on Iceberg
  both sides are bucketed by url_hash so this is a co-partitioned join;
- metrics are appended per round with a per-bucket breakdown
  (per-partition lineage + metrics per the north rule).
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import politeness
from .canon import resolve_canonicalize
from .config import CrawlConfig
from .fetch import fetch_and_validate
from .lineage import free_checkpoint
from .seen import SeenSet
from .tables import ManifestCatalog

FRONTIER_DDL = (
    "url string, url_hash long, host string, priority int, "
    "discovered_round int, src_url_hash long"
)
CORPUS_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, url string, url_hash long, host string, fetch_round int, "
    "fetch_vt long, valid boolean, psnr double, final_url string, "
    "fetch_status string"
)
HOSTS_DDL = "host string, next_vt long"
# URLs visited as redirect chain members (3xx hops + final targets):
# they carry no corpus row of their own — the content lives on the
# SOURCE's corpus row via final_url — but they must never be fetched
# again, so pending = frontier ⟕̸ (corpus ∪ redirects)
REDIRECTS_DDL = "url_hash long, src_url_hash long, round int"
# failed transient attempts (one row per attempt): attempts-so-far =
# count per url_hash; rows stay pending until success or max_attempts
RETRIES_DDL = "url_hash long, round int"
METRICS_DDL = (
    "round int, part_id int, fetched long, enqueued long, dropped_seen long, "
    "dropped_robots long, deferred long, retried long, wall_ms long"
)
METRICS_ARROW = pa.schema([
    ("round", pa.int32()), ("part_id", pa.int32()), ("fetched", pa.int64()),
    ("enqueued", pa.int64()), ("dropped_seen", pa.int64()),
    ("dropped_robots", pa.int64()), ("deferred", pa.int64()),
    ("retried", pa.int64()), ("wall_ms", pa.int64()),
])


def _metrics_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in METRICS_ARROW.names]
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, METRICS_ARROW)],
        schema=METRICS_ARROW,
    )


from pyspark.sql.types import StringType


@F.pandas_udf(StringType())
def _canon_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    return resolve_canonicalize(base, href)


# canon is pure, but asNondeterministic() stops Catalyst from (a) pushing
# the `url IS NOT NULL` filter below the repartition exchange — which
# re-evaluated the UDF on the UN-repartitioned input, single-task for a
# one-file seed list (measured: a second full canon pass, 30s at 150k
# seeds) — and (b) collapsing it into multiple projections (double
# evaluation for the filter + the column).
_canon_udf = _canon_udf.asNondeterministic()


def canonicalize_links(df: DataFrame, base_col: str = "base_url", href_col: str = "href") -> DataFrame:
    """href resolved+canonicalized → ``url``, hashed JVM-side → ``url_hash``,
    ``host`` extracted JVM-side. Non-crawlable hrefs dropped."""
    return (
        df.withColumn("url", _canon_udf(F.col(base_col), F.col(href_col)))
        .filter(F.col("url").isNotNull())
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
    )


def dedupe_candidates(links: DataFrame) -> DataFrame:
    """Within-batch dedup (O10): one row per url_hash; the winning parent
    is min (parent_priority, src_url_hash) — deterministic lineage."""
    return (
        links.groupBy("url_hash")
        .agg(
            F.min("url").alias("url"),
            F.min("host").alias("host"),
            F.min(F.struct("parent_priority", "src_url_hash")).alias("_p"),
        )
        .select(
            "url_hash", "url", "host",
            (F.col("_p.parent_priority") + F.lit(1)).cast("int").alias("priority"),
            F.col("_p.src_url_hash").alias("src_url_hash"),
        )
    )


class RoundContext:
    """Per-crawl helpers shared across rounds. ``gate``/``crawl_delays``
    are refreshed per round when robots are discovered mid-crawl
    (``robots`` is a RobotsCache in discover mode, None in preparsed).
    ``gate(df, url_col)`` adds ``allowed:boolean`` via a host-join against
    the rules table (robots.make_gate — no driver-side rules structure).
    ``has_lossy``/``has_redirects``/``has_flaky`` are the crawl-start
    page-store probes (fetch.store_has_*)."""

    def __init__(self, spark: SparkSession, cat: ManifestCatalog, seen: SeenSet,
                 cfg: CrawlConfig, pages: DataFrame, gate, crawl_delays: DataFrame,
                 robots=None, *, has_lossy: bool, has_redirects: bool, has_flaky: bool):
        self.spark = spark
        self.cat = cat
        self.seen = seen
        self.cfg = cfg
        self.pages = pages
        self.gate = gate
        self.crawl_delays = crawl_delays
        self.robots = robots
        self.has_lossy = has_lossy
        self.has_redirects = has_redirects
        self.has_flaky = has_flaky
        # floor-safe approximate frontier row count (resume seeds it with
        # the visited count; every enqueue adds its n_new) — drives the
        # size-adaptive plan gates (config.bloom_probe_min_rows /
        # politeness_prune_min_rows); an underestimate only delays the
        # switch to the big-data plan shape, never changes any result
        self.approx_frontier_rows = 0


def enqueue_new(ctx: RoundContext, cand: DataFrame, discovered_round: int) -> tuple[int, int, int]:
    """Robots-gate, seen-gate, append to frontier+seen.
    Returns (n_enqueued, dropped_robots, dropped_seen)."""
    et = _StepTimer(f"enq{discovered_round}")
    if ctx.robots is not None:
        # discover mode: robots-fetch sub-batch for hosts first seen in
        # this candidate set (pegasus fetches robots.txt the first time a
        # host is touched). Every frontier row passes through here, so
        # the schedule stage downstream never sees an unknown host.
        cand = cand.persist()
        ctx.robots.ensure(cand.select("host"), discovered_round)
        ctx.gate = ctx.robots.gate()
        ctx.crawl_delays = ctx.robots.crawl_delays()
    # every count rides the single frontier-append job via observe() —
    # filter_new is single-branch by design (see SeenSet.filter_new), so
    # each observed node appears exactly once in the plan
    obs_f = Observation()
    flagged = ctx.gate(cand).observe(
        obs_f,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
    )
    obs_n = Observation()
    new = (
        ctx.seen.filter_new(flagged.filter("allowed").drop("allowed"),
                            approx_seen_rows=ctx.approx_frontier_rows)
        .observe(obs_n, F.count(F.lit(1)).alias("n_new"))
        .persist()
    )
    rows = new.select(
        "url", "url_hash", "host", "priority",
        F.lit(discovered_round).cast("int").alias("discovered_round"),
        "src_url_hash",
    )
    # frontier append and bloom merge are independent consumers of the
    # persisted `new` (different tables, txn-staged commits): run them as
    # concurrent jobs. seen.add is now unconditional — the n_new>0 gate
    # required the append's observation first, re-serializing the chain;
    # an empty merge is a tiny pass-through cogroup of P bloom rows.
    from concurrent.futures import ThreadPoolExecutor

    # below the probe threshold the bloom has no reader: defer the merge
    # (the frontier append IS the exact-set update; filter_new's probe
    # path rebuilds the bloom once at the threshold crossing) — the
    # per-round merge job was ~12% of the headline crawl's wall
    defer_bloom = ctx.approx_frontier_rows < ctx.cfg.bloom_probe_min_rows
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_app = pool.submit(ctx.cat.append, "frontier", rows)
        f_seen = pool.submit(ctx.seen.add, new.select("url_hash"),
                             defer_bloom=defer_bloom)
        f_app.result()
        f_seen.result()
    et.lap("frontier_append|seen_add")
    cf = _obs_get(obs_f, lambda: ctx.gate(cand).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("allowed").cast("long")).alias("n_allowed")).collect()[0])
    n_uniq, n_allowed = int(cf["n"]), int(cf["n_allowed"] or 0)
    n_new = int(_obs_get(obs_n, lambda: {"n_new": new.count()})["n_new"])
    ctx.approx_frontier_rows += n_new
    et.lap("obs_counts")
    new.unpersist()
    if ctx.robots is not None:
        cand.unpersist()
    return n_new, n_uniq - n_allowed, n_allowed - n_new


def inject_seeds(ctx: RoundContext, seeds: DataFrame) -> tuple[int, int, int]:
    """O1: canonicalize seed URLs and enqueue at depth 0, round 0."""
    links = seeds.select(
        F.col("url").alias("base_url"),
        F.col("url").alias("href"),
        (F.col("priority") - F.lit(1)).alias("parent_priority"),  # so +1 = seed priority
        F.lit(None).cast("long").alias("src_url_hash"),
    # seed lists often arrive as ONE file/row group → without this the
    # canonicalize stage runs single-task (a 10^5-seed inject measured
    # 31 s in one task vs ~2 s spread over the cores)
    ).repartition(ctx.spark.sparkContext.defaultParallelism)
    cand = dedupe_candidates(canonicalize_links(links))
    return enqueue_new(ctx, cand, discovered_round=0)


def _obs_get(obs: Observation, fallback):
    """Observation.get, tolerant of AQE empty-relation propagation: when a
    round's plan collapses to an empty LocalRelation, the CollectMetrics
    node is optimized away and `get` raises — fall back to a (trivially
    cheap, because empty) aggregate job."""
    try:
        return obs.get
    except Exception:
        return fallback()


_TIMING = os.environ.get("PEGASUS_DEBUG_TIMING") == "1"


class _StepTimer:
    """Per-stage wall clock. Laps are always collected (a handful of
    monotonic() calls per round) and returned in the round stats, so the
    bench can report a data-phase vs coordination split; printing stays
    behind PEGASUS_DEBUG_TIMING."""

    def __init__(self, rnd: int):
        self.rnd = rnd
        self.t = time.monotonic()
        self.laps: dict[str, float] = {}

    def lap(self, label: str) -> None:
        now = time.monotonic()
        self.laps[label] = self.laps.get(label, 0.0) + (now - self.t)
        if _TIMING:
            print(f"    [r{self.rnd}] {label}: {now - self.t:.2f}s", flush=True)
        self.t = now


def frontier_exhausts_after(st: dict) -> bool:
    """True when a just-finished round PROVES the next pending set is
    empty without running it: nothing was deferred past the politeness
    horizon, nothing awaits a transient retry, and nothing new was
    enqueued — so every frontier row is visited and the next round would
    be a pure empty probe (schedule + three empty concurrent writes,
    ~1.6-2 s of fixed latency at the bench's round sizes). Pure function
    of the round's committed counts, so stopping here is deterministic
    and trace-equivalent minus the empty probe round; tests/oracle.py
    applies the identical rule. Capped rounds are excluded (they skip
    enqueue by design — the corpus-size stop handles them)."""
    return (not st.get("capped", False)
            and st.get("deferred", 0) == 0
            and st.get("retried", 0) == 0
            and st.get("enqueued", 0) == 0)


def run_round(ctx: RoundContext, r: int, visited_total: int) -> dict:
    """Execute crawl round r (one multi-table transaction — all the
    round's commits publish together). Returns the round's stats dict."""
    with ctx.cat.txn():
        return _run_round_inner(ctx, r, visited_total)


def _run_round_inner(ctx: RoundContext, r: int, visited_total: int) -> dict:
    t_start = time.monotonic()
    st_t = _StepTimer(r)
    cfg = ctx.cfg
    W = cfg.round_width
    round_start, round_end = r * W, (r + 1) * W

    if ctx.robots is not None:
        # re-bind to the robots table's current version (fresh ctx after
        # resume; rows appended by earlier rounds' sub-batches)
        ctx.crawl_delays = ctx.robots.crawl_delays()
        ctx.gate = ctx.robots.gate()

    frontier = ctx.cat.read("frontier")
    has_redirects, has_flaky = ctx.has_redirects, ctx.has_flaky
    visited_hashes = ctx.cat.read("corpus").select("url_hash")
    if has_redirects:
        # redirect-chain members are visited without corpus rows of their
        # own; this read pins the round-start version (reads are bound at
        # construction), so the concurrent appends below can't leak
        # this round's rows into its own dedup
        visited_hashes = visited_hashes.unionByName(
            ctx.cat.read("redirects").select("url_hash"))
    tb = cfg.table_bucket_count
    # SPJ size gate (same counter as the bloom/prune gates): the
    # bucket-wise anti-join exists so that at 10^10 rows NEITHER
    # data-sized table is hash-shuffled or globally broadcast — but its
    # per-round fixed cost (B frontier bucket relations + B visited
    # slice scans + B broadcast builds, ~2× the plain plan's driver/
    # scheduling latency at bench scale) buys nothing while the visited
    # key column is itself a trivial broadcast. Below the threshold the
    # pending join therefore runs in the PLAIN shape over the bucketed
    # files (cat.read is layout-transparent); above it the bucket-wise
    # SPJ form takes over. Identical rows either way; the SPJ plan
    # shape itself stays pinned by
    # test_bucketed.py::test_bucketed_crawl_equivalence (which forces
    # the gate with bloom_probe_min_rows=0).
    use_spj = (tb > 0 and ctx.cat.bucket_spec("frontier")
               and ctx.approx_frontier_rows >= cfg.bloom_probe_min_rows)
    if use_spj:
        # bucket-wise pending anti-join (Iceberg SPJ analogue): frontier
        # and corpus share the bucket(B, url_hash) layout, so the dedup
        # runs as B directory-listed sub-joins — each visited slice
        # (1/B of the visited set, key column only) broadcasts into its
        # matching frontier bucket scan; neither data-sized table is
        # ever hash-shuffled. At 10^10 rows / B=1024 a slice is ~10^7
        # keys ≈ 80 MB — the bounded build side SPJ would give natively.
        # read_bucket (one multi-path relation per bucket, O(B) plan
        # nodes) — NOT read_bucketed().where(): that embeds the R-commit
        # union in every bucket branch and the O(B·R) plan OOMs the
        # driver as the crawl ages (see tables.read_bucket docstring).
        vparts = []
        for b in range(tb):
            v_b = ctx.cat.read_bucket("corpus", b).select("url_hash")
            if has_redirects:
                v_b = v_b.unionByName(
                    ctx.cat.read("redirects").select("url_hash")
                    .where(F.pmod(F.col("url_hash"), F.lit(tb)) == b))
            vparts.append(
                ctx.cat.read_bucket("frontier", b)
                .join(F.broadcast(v_b), "url_hash", "left_anti"))
        pending = vparts[0]
        for p in vparts[1:]:
            pending = pending.unionByName(p)
        pending = pending.join(ctx.crawl_delays, "host", "left")
    else:
        # no broadcast hint on the delays side: Catalyst auto-broadcasts
        # while the robots table is under the threshold and shuffle-joins
        # past it (10^8 hosts) — same policy as the rules gate
        pending = frontier.join(visited_hashes, "url_hash", "left_anti").join(
            ctx.crawl_delays, "host", "left"
        )
    host_state = ctx.cat.read("hosts")

    sched = politeness.schedule(
        pending, host_state, round_start, round_end, cfg.min_delay_ms,
        # stage-1 prune exists to bound a hot host's window partition at
        # 10^9+ pending rows; below the threshold the exact window alone
        # is cheaper (identical selection — politeness.schedule docstring)
        prune=ctx.approx_frontier_rows >= cfg.politeness_prune_min_rows,
    )
    # Every consumer (fetch, extract, host clocks, each redirect hop and,
    # on bucketed layouts, each of their B slices) reads only the
    # selected rows, so only those are materialized: one eager
    # localCheckpoint roots the round-bounded selection (≤ hosts·budget
    # rows, not the whole pending frontier) as a LogicalRDD, so no
    # consumer re-plans the frontier-scan → anti-join → window subtree
    # (re-embedded per bucket and per hop it grew to O(B²·hops) plan
    # nodes and OOMed a 4 GB driver on a 120-page bucketed crawl). The
    # pending/selected counts ride that same job via observe(), so they
    # are known before the branch fan-out — for the corpus-size
    # truncation, and so an exhausted frontier exits before any write.
    obs_s = Observation()
    root = sched.observe(
        obs_s,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("selected").cast("long")).alias("n_sel"),
    ).filter("selected").localCheckpoint(eager=True)
    cs = _obs_get(obs_s, lambda: sched.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("selected").cast("long")).alias("n_sel")).collect()[0])
    n_pending, n_sel = int(cs["n"]), int(cs["n_sel"] or 0)
    st_t.lap("schedule+counts")
    if n_pending == 0:
        free_checkpoint(root)
        wall_ms = int((time.monotonic() - t_start) * 1000)
        ctx.cat.append_local("metrics", _metrics_table([(r, -1, 0, 0, 0, 0, 0, 0, wall_ms)]))
        return {"round": r, "fetched": 0, "enqueued": 0, "dropped_seen": 0,
                "dropped_robots": 0, "deferred": 0, "retried": 0, "exhausted": True,
                "capped": False, "wall_ms": wall_ms}

    selected = root
    capped = False
    if cfg.corpus_size is not None and visited_total + n_sel > cfg.corpus_size:
        remaining = cfg.corpus_size - visited_total
        # deterministic final-round truncation in global fetch order (O13)
        selected = selected.orderBy("fetch_vt", "url_hash").limit(remaining)
        n_sel = remaining
        capped = True

    # --- redirect-chain resolution + transient-failure split ---
    # Both are selection-bounded skinny dataflows, gated OFF by the
    # crawl-start store probes so an all-200 store runs the exact
    # pre-redirect round plan. Chains resolve FIRST (3xx responses are
    # always served) so the flaky gate can key on the CONTENT page —
    # the final target of a followed chain (see fetch.split_flaky).
    # resolve_redirects short-circuits to None when this round selects
    # no redirect source, so most rounds of a mixed store pay nothing.
    from .fetch import resolve_redirects, split_flaky

    retry_rows = None
    exhausted = None
    has_exh = False
    n_retried = 0
    rmap = None
    if has_redirects:
        rmap = resolve_redirects(
            selected, ctx.pages, lambda b, h: _canon_udf(b, h),
            max_hops=cfg.max_redirect_hops,
        )
    if has_flaky:
        if rmap is not None:
            # consumed twice below (flaky split + mapping assembly):
            # materialize the per-hop store-scan branches once
            rmap = rmap.localCheckpoint(eager=True)
        fetchable, retry_rows, exhausted = split_flaky(
            selected, ctx.pages, ctx.cat.read("retries"), r,
            cfg.max_fetch_attempts, mapping=rmap,
        )
        # tiny (this round's failing rows on their last attempt);
        # consumed by fetch_input, the mapping and the emptiness gate
        exhausted = exhausted.localCheckpoint(eager=True)
        has_exh = bool(exhausted.take(1))
        fetch_input = fetchable.unionByName(exhausted)
    else:
        fetchable = selected
        fetch_input = selected
    mapping = None
    if rmap is not None or has_exh:
        parts = []
        if rmap is not None:
            if has_flaky:
                # a source whose chain hit a transiently-failing target is
                # retried (or exhausted): its chain resolution is void this
                # round — chain members are NOT visited, the retry attempt
                # re-walks the chain (fetch.split_flaky contract)
                failed = retry_rows.select("url_hash").unionByName(
                    exhausted.select("url_hash"))
                rmap = rmap.join(F.broadcast(failed), "url_hash", "left_anti")
            parts.append(rmap)
        if has_exh:
            parts.append(exhausted.select(
                "url_hash",
                F.col("url_hash").alias("final_hash"),
                F.lit(None).cast("string").alias("final_url"),
                F.lit("transient_exhausted").alias("fetch_status"),
                F.array().cast("array<long>").alias("chain"),
            ))
        mapping = parts[0]
        for p in parts[1:]:
            mapping = mapping.unionByName(p)
        # tiny (redirect sources + exhausted rows only), consumed by the
        # fetch join, the extraction join and the redirects append —
        # rooting it as a LogicalRDD keeps consumer plans flat (see the
        # selection note above); inputs are already materialized, so this is
        # one cheap job, and rounds with neither chains nor exhaustions
        # skip it entirely
        mapping = mapping.localCheckpoint(eager=True)

    # --- fetch + validate (salted by host_bucket) ---
    # NOT persisted: its only consumer is the corpus append. Extraction
    # reads out_links straight from the page store (below) — persisting
    # payload-bearing rows would re-materialize GBs per round for a stage
    # that needs one tiny column.
    fetched = fetch_and_validate(
        fetch_input, ctx.pages, cfg.host_buckets, cfg.validate_payloads,
        selection_count=n_sel,
        broadcast_max=cfg.fetch_broadcast_max,
        has_lossy=ctx.has_lossy,
        mapping=(mapping.select("url_hash", "final_hash", "final_url", "fetch_status")
                 if mapping is not None else None),
        store_buckets=cfg.store_bucket_count,
    )

    # per-bucket lineage counts ride the corpus write via observe():
    # no extra job for the per-partition metrics breakdown
    obs = Observation(f"round-{r}")
    bucket_aggs = [
        F.sum(F.when(F.col("host_bucket") == i, 1).otherwise(0)).alias(f"b{i}")
        for i in range(cfg.host_buckets)
    ]
    corpus_rows = fetched.observe(obs, *bucket_aggs).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "url", "url_hash", "host",
        F.lit(r).cast("int").alias("fetch_round"),
        "fetch_vt", "valid", "psnr", "final_url", "fetch_status",
    )
    if cfg.writer is not None:
        # pegasus's :writer plug point (default-writer-fn override): the
        # user stage transforms corpus rows before the append (e.g. a
        # thumbnail-only corpus rewrites `bytes`). Contract: keep the
        # corpus schema and row set — url_hash rows drive the visited
        # bookkeeping (pending = frontier ⟕̸ corpus), so filtering rows
        # here would cause refetches
        corpus_rows = cfg.writer.apply(corpus_rows)

    def _do_corpus():
        ctx.cat.append("corpus", corpus_rows, options=cfg.corpus_write_options)
        return _obs_get(obs, lambda: {f"b{i}": 0 for i in range(cfg.host_buckets)})

    def _do_enqueue():
        if capped:  # pegasus stops consuming docs once corpus-size trips
            return 0, 0, 0
        # link extraction never depends on decode output: join the
        # selection against ONLY the page store's out_links column
        # (columnar pruning — the payload bytes are not re-read). Inner
        # join ≡ fetched pages; 404 rows have no links by construction.
        # Redirected fetches extract from the FINAL page's out_links with
        # the final URL as the relative-link base (content semantics);
        # lineage (src_url_hash, parent priority) stays the SOURCE's.
        sel_keys = fetchable.select("url", "url_hash", "priority")
        if mapping is not None:
            m2 = mapping.select(
                "url_hash",
                F.col("final_hash").alias("_final_hash"),
                F.col("final_url").alias("_final_url"),
                F.col("fetch_status").alias("_status0"),
            )
            sel_keys = (
                sel_keys.join(F.broadcast(m2), "url_hash", "left")
                # chains that never reached content yield no links
                .where(F.col("_status0").isNull() | (F.col("_status0") == "redirect"))
                .select(
                    F.coalesce("_final_url", "url").alias("url"),
                    F.coalesce("_final_hash", "url_hash").alias("_content_hash"),
                    "url_hash", "priority",
                )
            )
        else:
            sel_keys = sel_keys.withColumn("_content_hash", F.col("url_hash"))
        bcast_sel = cfg.fetch_broadcast_max > 0 and n_sel <= cfg.fetch_broadcast_max
        page_links = ctx.pages
        if cfg.extract_fmts is not None:
            # content-type gate (pegasus drops non-HTML before extraction):
            # non-crawlable payloads stay fetched/visited, yield no links
            page_links = page_links.filter(F.col("fmt").isin(list(cfg.extract_fmts)))
        sb = cfg.store_bucket_count
        if not bcast_sel and sb > 0 and "_bucket" in page_links.columns:
            # giant-round path over the bucketed store: same SPJ shape as
            # the fetch join — out_links scan pruned per bucket, 1/B
            # selection slices broadcast, zero shuffle
            parts = []
            for b in range(sb):
                sk_b = sel_keys.where(F.pmod(F.col("_content_hash"), F.lit(sb)) == b)
                pl_b = (page_links.where(F.col("_bucket") == b)
                        .select(F.col("url_hash").alias("_content_hash"), "out_links"))
                parts.append(pl_b.join(F.broadcast(sk_b), "_content_hash", "inner"))
            joined_links = parts[0]
            for p in parts[1:]:
                joined_links = joined_links.unionByName(p)
        else:
            sel_in = F.broadcast(sel_keys) if bcast_sel else sel_keys
            joined_links = (
                page_links.select(F.col("url_hash").alias("_content_hash"), "out_links")
                .join(sel_in, "_content_hash", "inner")
            )
        links = (
            joined_links
            .filter(F.col("out_links").isNotNull())
            .select(
                F.col("url").alias("base_url"),
                F.col("priority").alias("parent_priority"),
                F.col("url_hash").alias("src_url_hash"),
                F.explode("out_links").alias("href"),
            )
        )
        if cfg.extractor is not None:
            links = cfg.extractor.apply(links)
        cand = dedupe_candidates(canonicalize_links(links))
        if cfg.pre_enqueue is not None:
            cand = cfg.pre_enqueue.apply(cand)
        return enqueue_new(ctx, cand, discovered_round=r + 1)

    def _do_hosts():
        # clocks advance over the FULL selection (transient failures
        # consumed their politeness slot too)
        new_hosts = politeness.next_host_state(selected, host_state)
        ctx.cat.overwrite("hosts", new_hosts)

    def _do_retries():
        obs_r = Observation()
        ctx.cat.append("retries",
                       retry_rows.observe(obs_r, F.count(F.lit(1)).alias("n")))
        return int(_obs_get(obs_r, lambda: {"n": retry_rows.count()})["n"])

    def _do_redirects():
        # every chain member beyond the source becomes visited: dedup
        # within the batch deterministically (min source), exclude hashes
        # already visited BEFORE this round (visited_hashes reads pin the
        # round-start table versions, so concurrent commits can't race)
        ch = (
            mapping.where(F.size("chain") > 1)
            .select(F.col("url_hash").alias("_src"),
                    F.explode(F.expr("slice(chain, 2, size(chain) - 1)")).alias("url_hash"))
            .groupBy("url_hash").agg(F.min("_src").alias("src_url_hash"))
            .join(visited_hashes, "url_hash", "left_anti")
            .select("url_hash", "src_url_hash", F.lit(r).cast("int").alias("round"))
        )
        ctx.cat.append("redirects", ch)

    # --- the corpus append, the extract/enqueue chain and the host-clock
    # update are pairwise INDEPENDENT (all consume the checkpointed selection;
    # they write different tables and the txn serializes only the final
    # CURRENT swaps): submit all three as concurrent Spark jobs. The
    # driver's serial commit/scheduling path was the measured scaling
    # bottleneck at small round sizes (BENCH/scaling_crawl.json r2) —
    # concurrency collapses three job-latency chains into max() of them.
    from concurrent.futures import ThreadPoolExecutor

    n_workers = 3 + (1 if retry_rows is not None else 0) + (1 if rmap is not None else 0)

    def _timed(label, fn):
        # per-branch wall clock (concurrent branches overlap, so these
        # do NOT sum to the stage lap — they identify the critical path)
        def run():
            t0 = time.monotonic()
            try:
                return fn()
            finally:
                st_t.laps[f"branch:{label}"] = round(
                    st_t.laps.get(f"branch:{label}", 0.0)
                    + (time.monotonic() - t0), 3)
        return run

    with ThreadPoolExecutor(max_workers=n_workers) as pool:
        f_corpus = pool.submit(_timed("corpus", _do_corpus))
        f_enq = pool.submit(_timed("enqueue", _do_enqueue))
        f_hosts = pool.submit(_timed("hosts", _do_hosts))
        f_retry = (pool.submit(_timed("retries", _do_retries))
                   if retry_rows is not None else None)
        # only rounds that actually resolved a chain have members to
        # record (rmap None ⇒ nothing to append — skip the empty commit)
        f_redir = (pool.submit(_timed("redirects", _do_redirects))
                   if rmap is not None else None)
        bucket_counts = f_corpus.result()
        n_enq, dropped_robots, dropped_seen = f_enq.result()
        f_hosts.result()
        n_retried = f_retry.result() if f_retry is not None else 0
        if f_redir is not None:
            f_redir.result()
    st_t.lap("corpus_append | extract+enqueue | hosts (concurrent)")

    # --- metrics: rollup row + per-bucket lineage rows ---
    # fetched = corpus rows this round (selection minus transient retries)
    n_fetched = n_sel - n_retried
    wall_ms = int((time.monotonic() - t_start) * 1000)
    mrows = [(r, -1, n_fetched, n_enq, dropped_seen, dropped_robots,
              n_pending - n_sel, n_retried, wall_ms)] + [
        (r, i, int(bucket_counts[f"b{i}"] or 0), 0, 0, 0, 0, 0, 0)
        for i in range(cfg.host_buckets)
        if int(bucket_counts[f"b{i}"] or 0) > 0
    ]
    ctx.cat.append_local("metrics", _metrics_table(mrows))

    free_checkpoint(root)
    if mapping is not None:
        free_checkpoint(mapping)
    return {"round": r, "fetched": n_fetched, "enqueued": n_enq,
            "dropped_seen": dropped_seen, "dropped_robots": dropped_robots,
            "deferred": n_pending - n_sel, "retried": n_retried, "exhausted": False,
            "capped": capped, "wall_ms": wall_ms,
            "laps": {k: round(v, 3) for k, v in st_t.laps.items()}}
