"""The three workloads: set-up, timed work, correctness checks, metrics.

Each run is one closed-loop client in one process: one crawl or one query
suite at a time, on a ``local[cores]`` session. ``run_crawl`` and
``run_query_suite`` return the end-to-end metrics (untraced) or the
per-layer metrics (traced).
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from . import fixtures, spans

# the labels whose Spark jobs the traced run reports (see README.md)
JOB_LABELS = ["inject", "schedule", "commit.frontier", "commit.corpus",
              "commit.hosts", "seen.add", "seen.sync", "checkpoint", "compact"]


@dataclass
class Env:
    root: str  # the checkout
    build: str  # scratch space inside the checkout
    cores: int
    seed: int
    seconds: float
    t_start: float  # time.monotonic() at process start
    cpu_start: tuple  # cpu_seconds() at process start
    fixture_s: float = 0.0


@dataclass
class Outcome:
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


# ---- session -------------------------------------------------------------


def start_session(env: Env):
    from pyspark.sql import SparkSession

    tmp = os.path.join(env.build, "tmp")
    # ParallelGC with capped threads and small Arrow / parquet reader
    # batches: the settings bench.py measured for blob-heavy rounds
    spark = (
        SparkSession.builder.master(f"local[{env.cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "4g")
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={env.cores} -XX:TieredStopAtLevel=1 "
                f"-XX:ReservedCodeCacheSize=512m "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(env.build, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(env.build, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * env.cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> tuple[float, float]:
    """The machine's (busy, stolen) CPU seconds since boot, from
    ``/proc/stat``: busy = user + nice + system + irq + softirq; stolen =
    time a virtual CPU had work to run while the hypervisor ran another
    guest."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK, v[7] / _TICK


class Stopwatch:
    """Times a window in wall seconds and in *unstolen* seconds.

    On a virtual machine the hypervisor takes CPU time from the guest
    (steal) in amounts that vary from minute to minute with other guests'
    load; on the 4-vCPU host this benchmark was tuned on, steal ranged
    from near 0 to ~37% of busy time and moved walls by as much. The
    unstolen time, wall x busy / (busy + stolen), removes the stolen
    share: it is the wall the window would have taken had the hypervisor
    run every thread that was ready. Every timing metric reports it; the
    raw walls and the steal share are in the report."""

    def __init__(self, t0: float | None = None, cpu0: tuple[float, float] | None = None):
        self.t0 = time.monotonic() if t0 is None else t0
        self.cpu0 = cpu_seconds() if cpu0 is None else cpu0

    def stop(self) -> "Stopwatch":
        self.wall = time.monotonic() - self.t0
        busy, stolen = cpu_seconds()
        self.busy, self.stolen = busy - self.cpu0[0], stolen - self.cpu0[1]
        return self

    @property
    def steal_frac(self) -> float:
        return self.stolen / max(1e-9, self.busy + self.stolen)

    @property
    def seconds(self) -> float:
        return self.wall * (1 - self.steal_frac)


def set_up(env: Env, warm_up):
    """Session start + ``warm_up(spark)``, which compiles the workload's
    plans and starts Spark's Python workers before timing. Returns the
    session, set-up seconds since process start (fixture generation
    excluded; unstolen, see Stopwatch), and its session and warm-up
    parts."""
    spark = start_session(env)
    session = Stopwatch(env.t_start, env.cpu_start).stop()
    warm = Stopwatch()
    warm_up(spark)
    warm.stop()
    session_s = (session.wall - env.fixture_s) * (1 - session.steal_frac)
    return spark, session_s + warm.seconds, session_s, warm.seconds


# ---- crawls ----------------------------------------------------------------


@dataclass
class CrawlSpec:
    web_dir: str
    cfg_kw: dict
    check: object  # (spark, cfg, result) -> (attempted, failed, problems)
    steady_from: int = 0  # first round counted in step_p50_s


def _crawl(spark, env: Env, web_dir: str, cfg_kw: dict):
    from pegasus_spark.config import CrawlConfig
    from pegasus_spark.crawl import crawl

    job_dir = tempfile.mkdtemp(prefix="job_", dir=os.path.join(env.build, "tmp"))
    cfg = CrawlConfig(web_dir=web_dir, job_dir=job_dir, **cfg_kw)
    sw = Stopwatch()
    res = crawl(spark, cfg)
    return res, sw.stop(), cfg


def _urls(res) -> int:
    return res.visited + sum(s["enqueued"] for s in res.round_stats)


def bfs_spec(env: Env) -> tuple[CrawlSpec, dict]:
    web_dir, expect = fixtures.prepare_bfs(os.path.join(env.build, "fixtures"), env.seed)
    kw = dict(min_delay_ms=fixtures.BFS_MIN_DELAY_MS,
              round_width_vt=fixtures.BFS_ROUND_WIDTH_VT, seen_parts=8, host_buckets=32)

    def check(spark, cfg, res):
        from pegasus_spark.tables import ManifestCatalog

        problems = []
        fetched = [s["fetched"] for s in res.round_stats]
        enqueued = [s["enqueued"] for s in res.round_stats]
        if res.rounds != expect["rounds"]:
            problems.append(f"rounds {res.rounds} != oracle {expect['rounds']}")
        problems += [f"round {r} fetched {a} != oracle {b}"
                     for r, (a, b) in enumerate(zip(fetched, expect["fetched"])) if a != b]
        problems += [f"round {r} enqueued {a} != oracle {b}"
                     for r, (a, b) in enumerate(zip(enqueued, expect["enqueued"])) if a != b]
        corpus = ManifestCatalog(spark, cfg.job_dir).read("corpus")
        rows = corpus.select("url_hash", "valid", "fetch_status").toPandas()
        diff = set(rows.url_hash.astype("int64")) ^ set(expect["visited"])
        if diff:
            problems.append(f"visited set differs from oracle in {len(diff)} urls")
        invalid = int(((rows.fetch_status == "ok") & ~rows.valid.astype(bool)).sum())
        if invalid:
            problems.append(f"{invalid} existing pages fetched invalid")
        failed = invalid + len(diff) + sum(1 for p in problems if p.startswith(("round", "rounds")))
        selected = sum(s["fetched"] + s["retried"] for s in res.round_stats)
        return selected, failed, problems

    spec = CrawlSpec(web_dir, kw, check)
    return spec, {"oracle_rounds": expect["rounds"], "oracle_fetches": len(expect["visited"])}


# Gated plans fire on frontier_drain below their production thresholds:
# the frontier is ~13.5k rows, so the bloom probe / SPJ gate (5M by
# default) and the salt prune gate (2M) are lowered under it. Inject
# crosses both, so round 0 rebuilds the bloom; rounds 1-2 are the steady
# state, and compaction runs after round 1.
DRAIN_GATES = dict(bloom_probe_min_rows=10_000, politeness_prune_min_rows=5_000)
DRAIN_ROUNDS = 3


def _link_candidates(web_dir: str, frontier, corpus) -> dict:
    """Per round: the distinct canonical out-links of the pages fetched in
    it, and how many of them the frontier already held before it -- both
    counted here from the page store, independently of enqueue_new."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pegasus_spark.canon import resolve_canonicalize

    pages = pq.read_table(f"{web_dir}/pages.parquet",
                          columns=["url_hash", "out_links"]).to_pandas()
    fetched = corpus.merge(pages, on="url_hash").merge(
        frontier[["url_hash", "url"]], on="url_hash")
    links = fetched[["fetch_round", "url", "out_links"]].explode("out_links").dropna()
    canon = resolve_canonicalize(pd.Series(links.url, dtype="string"),
                                 pd.Series(links.out_links, dtype="string"))
    links = links.assign(cand=canon.to_numpy()).dropna(subset=["cand"])
    first_seen = dict(zip(frontier.url, frontier.discovered_round))
    out = {}
    for r, grp in links.groupby("fetch_round"):
        cands = set(grp.cand)
        known = sum(1 for c in cands if first_seen.get(c, r + 1) <= r)
        out[int(r)] = (len(cands), known)
    return out


def drain_spec(env: Env) -> tuple[CrawlSpec, dict]:
    cache = os.path.join(env.build, "fixtures")
    web_dir = fixtures.prepare_drain(cache, env.seed)
    kw = dict(min_delay_ms=2000, round_width_vt=100_000, seen_parts=8, host_buckets=32,
              cache_pages=False, table_bucket_count=8, compact_every=2,
              compact_target_dirs=1, max_rounds=DRAIN_ROUNDS)

    def check(spark, cfg, res):
        from pyspark.sql import functions as F
        from pegasus_spark.tables import ManifestCatalog

        cat = ManifestCatalog(spark, cfg.job_dir)
        frontier = cat.read("frontier").select(
            "url_hash", "url", "discovered_round").toPandas()
        corpus = cat.read("corpus").select(
            "url_hash", "fetch_round", "fetch_status", "valid").toPandas()
        n_retries = {r["round"]: r["n"] for r in
                     cat.read("retries").groupBy("round").agg(F.count("*").alias("n")).collect()}
        problems = []
        if frontier.url_hash.nunique() != len(frontier):
            problems.append(f"frontier url_hash not unique: {len(frontier)} rows, "
                            f"{frontier.url_hash.nunique()} keys")
        stats = res.round_stats
        if len(corpus) != sum(s["fetched"] for s in stats):
            problems.append("corpus rows != sum of fetched")
        rows_by_round = corpus.fetch_round.value_counts().to_dict()
        disc = frontier.discovered_round.value_counts().to_dict()
        links = _link_candidates(cfg.web_dir, frontier, corpus)
        for s in stats:
            r = s["round"]
            if rows_by_round.get(r, 0) + n_retries.get(r, 0) != s["fetched"] + s["retried"]:
                problems.append(f"round {r}: corpus+retry rows != fetched+retried")
            if disc.get(r + 1, 0) != s["enqueued"]:
                problems.append(f"round {r}: frontier rows discovered != enqueued")
            # enqueued <= allowed <= candidates, against counts made here
            n_cand, n_known = links.get(r, (0, 0))
            if s["enqueued"] + s["dropped_seen"] + s["dropped_robots"] != n_cand:
                problems.append(f"round {r}: enqueued+dropped != {n_cand} link candidates")
            if s["enqueued"] > n_cand - n_known or s["dropped_seen"] > n_known:
                problems.append(f"round {r}: enqueued or dropped_seen exceeds the "
                                f"candidates new to / already in the frontier")
        if not set(corpus.url_hash) <= set(frontier.url_hash):
            problems.append("visited urls missing from the frontier")
        invalid = int(((corpus.fetch_status == "ok") & ~corpus.valid.astype(bool)).sum())
        failed = invalid + len(problems)
        if invalid:
            problems.append(f"{invalid} existing pages fetched invalid")
        return sum(s["fetched"] + s["retried"] for s in stats), failed, problems

    spec = CrawlSpec(web_dir, dict(kw, **DRAIN_GATES), check, steady_from=1)
    shape = fixtures.DRAIN
    return spec, {"frontier_rows": int(shape.pages * shape.seeded) + shape.synthetic,
                  **DRAIN_GATES}


def _warm_up(env: Env, web_dir: str):
    """Compile the fetch+decode and canon plans and start Spark's Python
    workers on a slice of the page store before the clock starts (the
    warm-up bench.py uses)."""

    def warm(spark):
        from pyspark.sql import functions as F
        from pegasus_spark.fetch import fetch_and_validate, load_pages
        from pegasus_spark.round import canonicalize_links

        raw = spark.read.parquet(f"{web_dir}/pages.parquet").limit(16 * env.cores)
        sel = raw.select("url", "url_hash", "host", F.lit(0).alias("priority"),
                         F.lit(0).cast("long").alias("fetch_vt"),
                         F.lit(0).cast("long").alias("delay_ms"))
        fetch_and_validate(sel, load_pages(spark, web_dir), 32).agg(F.count("*")).collect()
        links = raw.select(F.col("url").alias("base_url"), F.lit(0).alias("parent_priority"),
                           F.col("url_hash").alias("src_url_hash"),
                           F.explode("out_links").alias("href"))
        canonicalize_links(links).agg(F.count("*")).collect()

    return warm


def _checked_crawl(spark, env: Env, spec: CrawlSpec, out: Outcome):
    res, sw, cfg = _crawl(spark, env, spec.web_dir, spec.cfg_kw)
    attempted, failed, problems = spec.check(spark, cfg, res)
    out.attempted += attempted
    out.failed += failed
    out.problems += problems
    return res, sw, cfg


@contextmanager
def timed_rounds():
    """Time every ``run_round`` call made inside with its own Stopwatch
    (patched where ``crawl`` looks it up), so each round is corrected by
    the steal share of its own window. Yields the list of stopwatches, one
    per ``round_stats`` entry."""
    import pegasus_spark.crawl as crawl_mod

    orig, sws = crawl_mod.run_round, []

    def run_round(*args, **kwargs):
        sw = Stopwatch()
        try:
            return orig(*args, **kwargs)
        finally:
            sws.append(sw.stop())

    crawl_mod.run_round = run_round
    try:
        yield sws
    finally:
        crawl_mod.run_round = orig


def run_crawl(env: Env, spec: CrawlSpec, notes: dict, traced: bool) -> Outcome:
    out = Outcome(notes=dict(notes))
    spark, setup_s, session_s, warmup_s = set_up(env, _warm_up(env, spec.web_dir))
    try:
        if not traced:
            sws, rounds_s, urls, n_rounds = [], [], [], []
            t0 = time.monotonic()
            while not sws or time.monotonic() - t0 < env.seconds:
                with timed_rounds() as round_sws:
                    res, sw, cfg = _checked_crawl(spark, env, spec, out)
                shutil.rmtree(cfg.job_dir, ignore_errors=True)
                sws.append(sw)
                urls.append(_urls(res))
                n_rounds.append(res.rounds)
                rounds_s += [rsw.seconds for s, rsw in zip(res.round_stats, round_sws)
                             if s["round"] >= spec.steady_from]
            out.put("setup_s", setup_s, "s")
            out.put("work_s", statistics.median(sw.seconds for sw in sws), "s")
            out.put("items_per_s", statistics.median(u / sw.seconds for u, sw in zip(urls, sws)),
                    "1/s")
            out.put("step_p50_s", statistics.median(rounds_s), "s")
            out.put("peak_rss_mb", peak_rss_mb(spark), "MB")
            out.notes.update(crawls=len(sws), rounds=n_rounds, round_samples=len(rounds_s),
                             urls=urls, crawl_walls_s=[round(sw.wall, 3) for sw in sws],
                             steal_frac=[round(sw.steal_frac, 4) for sw in sws])
        else:
            from .layers import crawl_layer_metrics

            crawl_layer_metrics(spark, env, spec, out, setup=(session_s, warmup_s))
    finally:
        stop_session(spark)
    return out


# ---- query suite -------------------------------------------------------------


def suite_names() -> list[str]:
    """bench.py's 30 timed queries plus repetition_metrics: all 31
    oracle-checked queries of __spark_entry__."""
    import __spark_entry__ as E

    names = list(E.queries())
    if len(names) != 31 or not set(names) <= set(E.oracle_sql()):
        raise RuntimeError(f"expected 31 oracle-checked queries, got {names}")
    return names


def _suite_pass(spark, qs, names, data, tracer=None):
    """Run every query once, timed from building the DataFrame to its rows
    collected to pandas, the result the oracle check compares outside the
    timed region. Each query executes once: a noop-sink write plus a
    separate collect for the check ran it twice, ~7 s more per run.
    Returns (results, per-query stopwatches). A failing query's result is
    its exception, counted by the check instead of ending the run."""
    results, times = {}, {}
    for name in names:
        sw = Stopwatch()
        try:
            df = qs[name](spark, data)
            with tracer.span(f"q.{name}", f"q.{name}") if tracer else nullcontext():
                results[name] = df.toPandas()
            times[name] = sw.stop()
        except Exception as ex:
            times.setdefault(name, sw.stop())
            results[name] = ex
    return results, times


def run_query_suite(env: Env, traced: bool) -> Outcome:
    import duckdb
    import __spark_entry__ as E
    from check_entry import value_hash

    out = Outcome()
    t0 = time.monotonic()
    data = fixtures.prepare_suite(os.path.join(env.build, "fixtures"), env.seed)
    env.fixture_s = time.monotonic() - t0
    names = suite_names()
    qs = E.queries()

    def warm(spark):
        qs[names[0]](spark, data).toPandas()

    spark, setup_s, session_s, warmup_s = set_up(env, warm)
    try:
        # a traced run makes one pass, with spans (see README.md for why
        # there is no untraced pass beside it)
        tracer = spans.Tracer(*spans.spark_job_group(spark.sparkContext)) if traced else None
        results, times = _suite_pass(spark, qs, names, data, tracer)
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    con = duckdb.connect()
    for t in fixtures.SUITE_ROWS.keys() | {"region", "nation"}:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles = E.oracle_sql()
    wanted = {}  # by SQL text: both dedup_clusters queries share one oracle
    for name in names:
        got = results[name]
        if isinstance(got, Exception):
            out.problems.append(f"{name}: {type(got).__name__}: {got}")
            continue
        sql = oracles[name]
        if sql not in wanted:
            wanted[sql] = con.sql(sql).df()
        want = wanted[sql]
        if (len(got) != len(want) or sorted(got.columns) != sorted(want.columns)
                or value_hash(got) != value_hash(want)):
            out.problems.append(f"{name}: result differs from the DuckDB oracle")
    con.close()
    out.attempted, out.failed = len(names), len(out.problems)

    secs = {name: sw.seconds for name, sw in times.items()}
    if not traced:
        total = sum(secs.values())
        busy = sum(sw.busy for sw in times.values())
        stolen = sum(sw.stolen for sw in times.values())
        out.put("setup_s", setup_s, "s")
        out.put("work_s", total, "s")
        out.put("items_per_s", len(names) / total, "1/s")
        out.put("step_p50_s", statistics.median(secs.values()), "s")
        out.put("peak_rss_mb", rss, "MB")
        out.notes.update(slowest_query=max(secs, key=secs.get),
                         suite_wall_s=round(sum(sw.wall for sw in times.values()), 3),
                         steal_frac=round(stolen / max(1e-9, busy + stolen), 4))
    else:
        from .layers import zero_layer_metrics

        zero_layer_metrics(out)
        for name in names:
            out.put(f"q.{name}_s", secs[name], "s")
        out.put("setup.session_s", session_s, "s")
        out.put("setup.warmup_s", warmup_s, "s")
        out.put("setup.fixture_s", env.fixture_s, "s")
        out.put("trace.overhead_frac",
                tracer.overhead_s / sum(sw.wall for sw in times.values()), "ratio")
    return out
