"""Per-layer metrics of a crawl workload: one traced crawl plus layer probes.

The traced crawl runs with spans wrapped around the engine's public
functions (see ``spans.py``); Spark jobs are attributed to labels from the
driver's status store after the crawl. The probes then restore a
mid-crawl table snapshot (the checkpoint's table versions: time travel)
and time each lazy public layer function warm through the noop sink, on
both sides of its size gate.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from . import spans
from .workloads import JOB_LABELS, _crawl, suite_names

PROBE_REPEATS = 1
# canon runs in Python (~5-7k hrefs/s on 4 cores): its probe input is capped
CANON_PROBE_ROWS = 10_000

_CRAWL_LAYER = [
    ("crawl.self_s", "s", "lower"),
    ("crawl.rounds", "count", "lower"),
    ("round.schedule_s", "s", "lower"),
    ("round.enqueue_s", "s", "lower"),
    ("round.corpus_s", "s", "lower"),
    ("round.hosts_s", "s", "lower"),
    ("round.jobs", "count", "lower"),
    ("round.stages", "count", "lower"),
    ("round.tasks", "count", "lower"),
    ("round.selected_frac", "ratio", "higher"),
    *[(f"{label}.{k}", unit, "lower") for label in JOB_LABELS
      for k, unit in (("s", "s"), ("jobs", "count"), ("executor_s", "s"),
                      ("shuffle_mb", "MB"), ("gc_s", "s"))],
    ("politeness.schedule_probe_s", "s", "lower"),
    ("politeness.schedule_prune_probe_s", "s", "lower"),
    ("politeness.next_host_probe_s", "s", "lower"),
    ("seen.filter_probe_s", "s", "lower"),
    ("seen.filter_bloom_probe_s", "s", "lower"),
    ("seen.definitely_new_frac", "ratio", "higher"),
    ("canon.probe_s", "s", "lower"),
    ("canon.hrefs_per_s", "1/s", "higher"),
    ("canon.drop_frac", "ratio", "lower"),
    ("robots.gate_probe_s", "s", "lower"),
    ("fetch.probe_s", "s", "lower"),
    ("fetch.probe_shuffle_s", "s", "lower"),
    ("fetch.images_per_s", "1/s", "higher"),
    ("seen.new_frac", "ratio", "higher"),
    ("robots.dropped", "count", "lower"),
    ("fetch.missing", "count", "lower"),
    ("fetch.valid_frac", "ratio", "higher"),
    ("tables.commits", "count", "lower"),
    ("tables.written_mb", "MB", "lower"),
    ("tables.write_amp", "ratio", "lower"),
    ("tables.max_dirs", "count", "lower"),
]
_COMMON = [
    ("setup.session_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("setup.fixture_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in report order."""
    return (_CRAWL_LAYER + [(f"q.{n}_s", "s", "lower") for n in suite_names()]
            + _COMMON)


def zero_layer_metrics(out) -> None:
    """Report 0 for every per-layer metric of a layer the workload does
    not run, so each traced run prints the full per-layer set."""
    for name, unit, _ in per_layer_metrics():
        out.metrics.setdefault(name, (0.0, unit))


def _patches():
    import pegasus_spark.crawl as crawl_mod
    import pegasus_spark.round as round_mod
    from pegasus_spark.seen import SeenSet
    from pegasus_spark.tables import CheckpointStore, ManifestCatalog

    def commit(self, name, *args, **kwargs):
        return f"commit.{name}"

    # (owner, attribute, span name, label, pin): each name is patched where
    # the engine looks it up at call time
    return [
        (crawl_mod, "inject_seeds", "inject", "inject", True),
        (crawl_mod, "run_round", "round", "schedule", False),
        (round_mod, "enqueue_new", "enqueue", "commit.frontier", False),
        (ManifestCatalog, "append", "append", commit, False),
        (ManifestCatalog, "overwrite", "overwrite", commit, False),
        (ManifestCatalog, "append_local", "append_local", commit, False),
        (ManifestCatalog, "compact", "compact", "compact", True),
        (CheckpointStore, "save", "checkpoint", "checkpoint", False),
        (SeenSet, "add", "seen.add", "seen.add", True),
        (SeenSet, "filter_new", "seen.filter", "seen.sync", True),
    ]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def crawl_layer_metrics(spark, env, spec, out, setup) -> None:
    from pyspark.sql import functions as F
    from pegasus_spark.tables import ManifestCatalog

    tracer = spans.Tracer(*spans.spark_job_group(spark.sparkContext))
    tracer.install(_patches())
    try:
        with tracer.span("crawl", "crawl") as root:
            res, sw, cfg = _crawl(spark, env, spec.web_dir, spec.cfg_kw)
    finally:
        tracer.uninstall()
    attempted, failed, problems = spec.check(spark, cfg, res)
    out.attempted += attempted
    out.failed += failed
    out.problems += problems
    put = out.put

    kids = tracer.children()
    top = kids.get(root.id, [])
    crawl_self = tracer.self_time(root, kids)
    covered = sum(s.end - s.start for s in top) + crawl_self
    if abs(covered / (root.end - root.start) - 1) > 0.05:
        out.problems.append("inject + round + checkpoint spans + crawl.self_s "
                            "do not sum to the crawl's wall time")
        out.failed += 1
    put("crawl.self_s", crawl_self, "s")
    put("crawl.rounds", res.rounds, "count")

    stats = res.round_stats
    laps = lambda key: sum(s.get("laps", {}).get(key, 0.0) for s in stats)
    put("round.schedule_s", laps("schedule+counts"), "s")
    put("round.enqueue_s", laps("branch:enqueue"), "s")
    put("round.corpus_s", laps("branch:corpus"), "s")
    put("round.hosts_s", laps("branch:hosts"), "s")
    selected = sum(s["fetched"] + s["retried"] for s in stats)
    put("round.selected_frac", selected / max(1, selected + sum(s["deferred"] for s in stats)),
        "ratio")

    jobs = [j for j in spans.spark_jobs(spark)
            if j["submit_ms"] is not None
            and root.start * 1000 <= j["submit_ms"] <= root.end * 1000]
    rounds = tracer.named("round")
    per_round = [[j for j in jobs if r.start * 1000 <= j["submit_ms"] <= r.end * 1000]
                 for r in rounds]
    n = max(1, len(rounds))
    put("round.jobs", sum(len(js) for js in per_round) / n, "count")
    put("round.stages", sum(j["stages"] for js in per_round for j in js) / n, "count")
    put("round.tasks", sum(j["tasks"] for js in per_round for j in js) / n, "count")
    self_by_label = tracer.self_by_label()
    for label in JOB_LABELS:
        mine = [j for j in jobs if j["group"] == label]
        put(f"{label}.s", self_by_label.get(label, 0.0), "s")
        put(f"{label}.jobs", len(mine), "count")
        put(f"{label}.executor_s", sum(j["executor_ms"] for j in mine) / 1000, "s")
        put(f"{label}.shuffle_mb", sum(j["shuffle_bytes"] for j in mine) / 1e6, "MB")
        put(f"{label}.gc_s", sum(j["gc_ms"] for j in mine) / 1000, "s")
    out.notes["unlabelled_jobs"] = sum(1 for j in jobs if j["group"] is None)

    allowed = sum(s["enqueued"] + s["dropped_seen"] for s in stats)
    put("seen.new_frac", sum(s["enqueued"] for s in stats) / max(1, allowed), "ratio")
    put("robots.dropped", sum(s["dropped_robots"] for s in stats), "count")
    cat = ManifestCatalog(spark, cfg.job_dir)
    corpus = cat.read("corpus")
    c = corpus.agg(
        F.sum((F.col("fetch_status") == "missing").cast("long")).alias("missing"),
        F.sum((F.col("fetch_status") == "ok").cast("long")).alias("ok"),
        F.sum(((F.col("fetch_status") == "ok") & F.col("valid")).cast("long")).alias("valid"),
        F.sum(F.octet_length("bytes")).alias("payload"),
    ).collect()[0]
    put("fetch.missing", c["missing"] or 0, "count")
    put("fetch.valid_frac", (c["valid"] or 0) / max(1, c["ok"] or 0), "ratio")
    written = _du(cfg.job_dir)
    put("tables.commits", sum(1 for s in tracer.spans if s.name in
                              ("append", "overwrite", "append_local", "compact")), "count")
    put("tables.written_mb", written / 1e6, "MB")
    put("tables.write_amp", written / max(1, c["payload"] or 0), "ratio")
    put("tables.max_dirs", max(len(cat._manifest(t)["dirs"]) for t in ("frontier", "corpus")),
        "count")

    layer_probes(spark, cfg, res, put)
    shutil.rmtree(cfg.job_dir, ignore_errors=True)

    put("setup.session_s", setup[0], "s")
    put("setup.warmup_s", setup[1], "s")
    put("setup.fixture_s", env.fixture_s, "s")
    put("trace.overhead_frac", tracer.overhead_s / sw.wall, "ratio")
    out.notes.update(crawl_s=round(sw.seconds, 3), crawl_wall_s=round(sw.wall, 3),
                     span_coverage=round(covered / (root.end - root.start), 4))
    zero_layer_metrics(out)


def _time_noop(df) -> float:
    """Median wall of ``PROBE_REPEATS`` noop-sink writes after one warm one."""
    df.write.format("noop").mode("overwrite").save()
    walls = []
    for _ in range(PROBE_REPEATS):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def layer_probes(spark, cfg, res, put) -> None:
    """Time each lazy layer function on the tables as they stood after a
    mid-crawl round, restored from that round's checkpoint."""
    from pyspark.sql import functions as F
    from pegasus_spark import politeness
    from pegasus_spark.fetch import fetch_and_validate, load_pages, store_has_lossy
    from pegasus_spark.robots import load_crawl_delays, load_rules_df, make_gate
    from pegasus_spark.round import canonicalize_links, dedupe_candidates
    from pegasus_spark.seen import SeenSet
    from pegasus_spark.tables import CheckpointStore, ManifestCatalog

    mid = max(0, res.rounds // 2 - 1)
    with open(CheckpointStore(cfg.job_dir).path(mid)) as f:
        versions = json.load(f)["versions"]
    cat = ManifestCatalog(spark, cfg.job_dir)
    cat.restore(versions)
    r, width = mid + 1, cfg.round_width
    robots_path = f"{cfg.web_dir}/robots_txt.parquet"

    pending = (cat.read("frontier")
               .join(cat.read("corpus").select("url_hash"), "url_hash", "left_anti")
               .join(load_crawl_delays(spark, robots_path), "host", "left")
               .localCheckpoint())
    hosts = cat.read("hosts").localCheckpoint()

    def sched(prune):
        return politeness.schedule(pending, hosts, r * width, (r + 1) * width,
                                   cfg.min_delay_ms, prune=prune)

    put("politeness.schedule_probe_s", _time_noop(sched(False)), "s")
    put("politeness.schedule_prune_probe_s", _time_noop(sched(True)), "s")
    selected = sched(False).filter("selected").localCheckpoint()
    put("politeness.next_host_probe_s",
        _time_noop(politeness.next_host_state(selected, hosts)), "s")

    pages = load_pages(spark, cfg.web_dir)
    if cfg.cache_pages:
        pages = pages.persist()
    n_sel = selected.count()
    n_img = selected.join(pages.select("url_hash"), "url_hash").count()
    has_lossy = store_has_lossy(pages)

    def fetch(broadcast_max):
        return fetch_and_validate(selected, pages, cfg.host_buckets, cfg.validate_payloads,
                                  selection_count=n_sel, broadcast_max=broadcast_max,
                                  has_lossy=has_lossy)

    fetch_s = _time_noop(fetch(cfg.fetch_broadcast_max))
    put("fetch.probe_s", fetch_s, "s")
    put("fetch.probe_shuffle_s", _time_noop(fetch(0)), "s")
    put("fetch.images_per_s", n_img / fetch_s, "1/s")

    # canon input: the seed list plus every out-link in the page store,
    # capped at CANON_PROBE_ROWS
    seeds = spark.read.parquet(f"{cfg.web_dir}/seeds.parquet")
    raw = spark.read.parquet(f"{cfg.web_dir}/pages.parquet")
    links = (
        raw.select(F.col("url").alias("base_url"), F.lit(0).alias("parent_priority"),
                     F.col("url_hash").alias("src_url_hash"),
                     F.explode("out_links").alias("href"))
        .unionByName(seeds.select(F.col("url").alias("base_url"),
                                  F.col("priority").alias("parent_priority"),
                                  F.lit(None).cast("long").alias("src_url_hash"),
                                  F.col("url").alias("href")))
        .limit(CANON_PROBE_ROWS)
        .localCheckpoint())
    n_links = links.count()
    canon = canonicalize_links(links)
    canon_s = _time_noop(canon)
    put("canon.probe_s", canon_s, "s")
    put("canon.hrefs_per_s", n_links / canon_s, "1/s")
    put("canon.drop_frac", 1 - canon.count() / max(1, n_links), "ratio")

    cand = dedupe_candidates(canon).localCheckpoint()
    n_cand = cand.count()
    put("robots.gate_probe_s",
        _time_noop(make_gate(load_rules_df(spark, robots_path))(cand)), "s")
    seen = SeenSet(cat, n_parts=cfg.seen_parts, m_bits=cfg.bloom_bits_per_part,
                   k=cfg.bloom_k, overflow_rebuild=cfg.bloom_overflow_rebuild,
                   exact_source=lambda: cat.read("frontier"),
                   probe_min_rows=cfg.bloom_probe_min_rows)
    put("seen.filter_probe_s", _time_noop(seen.filter_new(cand, approx_seen_rows=0)), "s")
    # past the gate: the first call brings the bloom up to the snapshot
    put("seen.filter_bloom_probe_s",
        _time_noop(seen.filter_new(cand, approx_seen_rows=cfg.bloom_probe_min_rows)), "s")
    clear = seen.split_maybe_seen(cand).filter(~F.col("maybe_seen")).count()
    put("seen.definitely_new_frac", clear / max(1, n_cand), "ratio")
    if cfg.cache_pages:
        pages.unpersist()
