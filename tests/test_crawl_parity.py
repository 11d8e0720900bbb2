"""Crawl-ordering / visited-set / metrics parity vs the pure-Python oracle
(SURVEY.md §5.2 — the reference's corpus-size/num-visited crawl tests)."""

import shutil
import tempfile

import pytest

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.tables import ManifestCatalog

from oracle import simulate

# Parity scenarios run with a 3x-widened politeness round (round_width_vt
# 16000→48000): the BFS completes in ~30-50% fewer rounds while every
# scenario-coverage hook (expect lambdas, retried>0, dropped_robots>0,
# deferred>0 — re-swept via the oracle sim at 1x/2x/3x/4x/6x) stays
# true. Per-round driver latency dominates the suite wall at 100-300-row
# fixtures, so fewer-but-wider rounds is pure wall-clock with identical
# semantic coverage. The golden-trace tests below deliberately do NOT
# take these knobs — their literals stay pinned at the default width.
_W3 = dict(round_width_vt=48_000)
_W3_SIM = dict(round_width=48_000)

SCENARIOS = {
    # FIXTURES.md §5 scenario matrix (sizes trimmed for CI wall-clock)
    "smoke": dict(params=WebParams(seed=42, n_pages=100, n_hosts=5, fanout=3.0, n_seeds=3),
                  corpus_size=50, cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM)),
    "exhaustion": dict(params=WebParams(seed=7, n_pages=300, n_hosts=20, fanout=2.0, n_seeds=5),
                       corpus_size=None, cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM)),
    "corpus-cap": dict(params=WebParams(seed=9, n_pages=400, n_hosts=10, fanout=4.0, n_seeds=3),
                       corpus_size=120, cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM)),
    # the same crawl over the bucketed frontier/corpus layout, with the
    # politeness stage-1 prune forced on: layout and prune are physical
    # only, so the oracle sim is unchanged
    "corpus-cap-bucketed": dict(params=WebParams(seed=9, n_pages=400, n_hosts=10, fanout=4.0,
                                                 n_seeds=3),
                                corpus_size=120,
                                cfg_kw=dict(table_bucket_count=4, politeness_prune_min_rows=0,
                                            **_W3),
                                sim_kw=dict(**_W3_SIM)),
    "hot-host": dict(params=WebParams(seed=11, n_pages=300, n_hosts=8, zipf_s=2.5,
                                      fanout=3.0, n_seeds=4),
                     corpus_size=100, cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM)),
    # seeds=8 (not 4): the disallow-heavy graph's crawlable diameter is
    # seed-bound — 8 seeds + the wide round cut 17 rounds to 11 with
    # dropped_robots still 67 (was 73)
    "robots-heavy": dict(params=WebParams(seed=13, n_pages=250, n_hosts=10,
                                          disallow_host_frac=0.5, fanout=3.0, n_seeds=8),
                         corpus_size=None, cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM)),
    # content-type gate: ~30% opaque (fmt='bin', undecodable) payloads are
    # fetched + visited but contribute no links (pegasus's non-HTML drop).
    # fanout=4/seeds=8 shrink the graph diameter (19 rounds → 9) and
    # RAISE the gate's coverage (75 opaque pages visited, was 63)
    "opaque-gate": dict(params=WebParams(seed=19, n_pages=250, n_hosts=10,
                                         fanout=4.0, n_seeds=8, opaque_frac=0.3),
                        corpus_size=None,
                        cfg_kw=dict(extract_fmts=("png", "qnt"), **_W3),
                        sim_kw=dict(extract_fmts=("png", "qnt"), **_W3_SIM)),
    # 3xx semantics: ~25% redirect pages incl multi-hop chains, a planted
    # 2-cycle loop, a hop-cap chain AND one junk (uncanonicalizable)
    # Location; source + every chain member enter the visited set,
    # content+links come from the final target. The `expect` hook pins
    # that the fixture really exercised every terminal status.
    "redirects": dict(params=WebParams(seed=31, n_pages=150, n_hosts=8,
                                       fanout=3.0, n_seeds=4, redirect_frac=0.25,
                                       junk_redirect=True),
                      corpus_size=None,
                      cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM),
                      expect=lambda sim: (
                          {"redirect", "redirect_loop", "redirect_cap",
                           "redirect_dangling"} <= set(sim.status.values())
                          and any(s == "redirect_dangling" and h not in sim.final_url
                                  for h, s in sim.status.items()))),
    # transient failures: ~20% of pages fail until round 2 — bounded
    # retries, politeness slots consumed, exhaustion after max attempts
    "flaky": dict(params=WebParams(seed=29, n_pages=200, n_hosts=8,
                                   fanout=2.5, n_seeds=4,
                                   flaky_frac=0.2, flaky_until=2),
                  corpus_size=None, cfg_kw=dict(**_W3), sim_kw=dict(**_W3_SIM)),
    # tight attempt budget: pages failing until round 4 with only 2
    # allowed attempts → 'transient_exhausted' corpus rows
    "flaky-exhaust": dict(params=WebParams(seed=31, n_pages=150, n_hosts=6,
                                           fanout=2.0, n_seeds=3,
                                           flaky_frac=0.3, flaky_until=4),
                          corpus_size=None,
                          cfg_kw=dict(max_fetch_attempts=2, **_W3),
                          sim_kw=dict(max_fetch_attempts=2, **_W3_SIM)),
    # redirects + flaky composed, incl. chains TERMINATING at
    # transiently-failing pages (retried, and — under the 2-attempt
    # budget — exhausted redirect sources) and a junk Location
    "redirect-flaky": dict(params=WebParams(seed=53, n_pages=150, n_hosts=8,
                                            fanout=2.5, n_seeds=4,
                                            redirect_frac=0.25, flaky_frac=0.25,
                                            flaky_until=6, junk_redirect=True),
                           corpus_size=None,
                           cfg_kw=dict(max_fetch_attempts=2, **_W3),
                           sim_kw=dict(max_fetch_attempts=2, **_W3_SIM),
                           expect=lambda sim: sim.flaky_redirects > 0
                           and "transient_exhausted" in set(sim.status.values())),
}


def _run_engine(spark, web_dir, job_dir, corpus_size, **cfg_kw):
    cfg = CrawlConfig(web_dir=web_dir, job_dir=job_dir, corpus_size=corpus_size,
                      seen_parts=4, **cfg_kw)
    res = crawl(spark, cfg)
    cat = ManifestCatalog(spark, job_dir)
    corpus = cat.read("corpus").toPandas().sort_values(
        ["fetch_round", "fetch_vt", "url_hash"]).reset_index(drop=True)
    frontier = cat.read("frontier").select("url_hash", "discovered_round").toPandas()
    seen = set(frontier["url_hash"].tolist())
    # the frontier is the only exact seen set: each url_hash enters it once
    assert len(frontier) == len(seen), "frontier url_hash not unique"
    all_metrics = cat.read("metrics").toPandas()
    metrics = all_metrics[all_metrics["part_id"] == -1].sort_values("round")
    # per-bucket lineage rows sum to their round's rollup `fetched`;
    # round r's corpus rows number its `fetched` and its frontier
    # appends (discovered_round r+1) its `enqueued`
    per_bucket = all_metrics[all_metrics["part_id"] >= 0].groupby("round")["fetched"].sum()
    per_round = corpus.groupby("fetch_round").size()
    per_disc = frontier.groupby("discovered_round").size()
    for rnd, fetched, enq in zip(metrics["round"], metrics["fetched"], metrics["enqueued"]):
        assert int(per_bucket.get(rnd, 0)) == int(fetched), f"r{rnd}: bucket rows != fetched"
        assert int(per_round.get(rnd, 0)) == int(fetched), f"r{rnd}: corpus rows != fetched"
        assert int(per_disc.get(rnd + 1, 0)) == int(enq), f"r{rnd}: frontier rows != enqueued"
    redirects = {r["url_hash"] for r in cat.read("redirects").select("url_hash").collect()}
    return res, corpus, seen, metrics, redirects


# Golden crawl trace, pinned as LITERALS (not recomputed through the
# oracle): perf work on the round dataflow cannot silently change crawl
# semantics without failing this loudly. Matches the 'exhaustion'
# scenario (seed=7, 300 pages, 20 hosts, fanout 2.0, 5 seeds).
# r6 pin move (one commit with the early-exhaustion change): the crawl
# now stops the moment a round's counts prove the next pending set
# empty (deferred==retried==enqueued==0 — round.frontier_exhausts_after,
# mirrored in tests/oracle.py), so the trailing all-zero probe round the
# r2-r5 vectors ended with no longer runs. Every fetched/enqueued count
# before it is byte-identical to the old literals.
_GOLDEN_FETCH_VECTOR = [5, 17, 33, 37, 32, 25, 25, 24, 16, 17, 11, 10, 2]
_GOLDEN_ENQ_VECTOR = [17, 37, 50, 40, 26, 22, 21, 13, 12, 5, 4, 2, 0]


def test_golden_trace_regression(spark):
    sc = SCENARIOS["exhaustion"]
    web = generate_web(sc["params"])
    tmp = tempfile.mkdtemp()
    try:
        write_web(web, f"{tmp}/web")
        res, corpus, seen, metrics, _redirects = _run_engine(
            spark, f"{tmp}/web", f"{tmp}/job", None)
        assert res.rounds == len(_GOLDEN_FETCH_VECTOR)
        assert res.stop_reason == "exhausted"
        em = metrics.sort_values("round")
        assert [int(x) for x in em["fetched"]] == _GOLDEN_FETCH_VECTOR
        assert [int(x) for x in em["enqueued"]] == _GOLDEN_ENQ_VECTOR
        assert res.visited == sum(_GOLDEN_FETCH_VECTOR) == 254
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_golden_trace_production_layout(spark):
    """The FULL production layout — bucketed frontier/corpus tables
    (bucket-wise pending anti-join) with compaction firing mid-crawl —
    reproduces the exact golden trace literals: the layout is physical
    only, never semantic (VERDICT r4 missing #1's correctness leg; the
    bench leg is the BENCH_r05 bucketed headline row)."""
    sc = SCENARIOS["exhaustion"]
    web = generate_web(sc["params"])
    tmp = tempfile.mkdtemp()
    try:
        write_web(web, f"{tmp}/web")
        res, corpus, seen, metrics, _redirects = _run_engine(
            spark, f"{tmp}/web", f"{tmp}/job", None,
            table_bucket_count=4, compact_every=4, compact_target_dirs=4)
        assert res.rounds == len(_GOLDEN_FETCH_VECTOR)
        assert res.stop_reason == "exhausted"
        em = metrics.sort_values("round")
        assert [int(x) for x in em["fetched"]] == _GOLDEN_FETCH_VECTOR
        assert [int(x) for x in em["enqueued"]] == _GOLDEN_ENQ_VECTOR
        assert res.visited == sum(_GOLDEN_FETCH_VECTOR) == 254
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("name", list(SCENARIOS))
def test_parity(spark, name):
    sc = SCENARIOS[name]
    web = generate_web(sc["params"])
    tmp = tempfile.mkdtemp()
    try:
        write_web(web, f"{tmp}/web")
        sim = simulate(web, corpus_size=sc["corpus_size"], **sc.get("sim_kw", {}))
        if "expect" in sc:  # the fixture really exercises the behaviors
            assert sc["expect"](sim), f"{name}: fixture no longer composes the scenario"
        res, corpus, seen, metrics, redirects = _run_engine(
            spark, f"{tmp}/web", f"{tmp}/job", sc["corpus_size"],
            **sc.get("cfg_kw", {}))

        # 1. crawl ordering parity: (round, url_hash) sequence identical
        got = list(zip(corpus["fetch_round"], corpus["url_hash"]))
        want = [(r, h) for (_, r, h, _) in sim.order]
        assert got == want, f"{name}: fetch order diverged"
        # fetch_vt values too (the virtual-time schedule itself)
        assert list(corpus["fetch_vt"]) == [vt for (_, _, _, vt) in sim.order]

        # 2. visited-set and seen-set exact equality — including
        # redirect-chain members (the north rule's "both A and B enter
        # the visited set")
        assert set(corpus["url_hash"]) == sim.visited
        assert redirects == sim.extra_visited, f"{name}: chain-visited diverged"
        assert seen == sim.seen

        # 3. stop semantics
        assert res.stop_reason == sim.stop_reason
        assert res.visited == len(sim.visited)

        # 4. per-round metrics rollups
        em = metrics[["round", "fetched", "enqueued", "dropped_seen",
                      "dropped_robots", "deferred", "retried"]].astype(int)
        for om in sim.metrics:
            row = em[em["round"] == om["round"]]
            assert len(row) == 1, f"{name}: missing metrics round {om['round']}"
            for k in ("fetched", "enqueued", "dropped_seen", "dropped_robots",
                      "deferred", "retried"):
                assert int(row.iloc[0][k]) == om[k], f"{name} r{om['round']} {k}"

        # 5. payload invariant: every fetched IMAGE decodes valid; opaque
        # 'bin' payloads are visited but recorded invalid (O7 verdict)
        imgs = corpus[corpus["fmt"].isin(["png", "qnt"])]
        assert bool(imgs["valid"].all())
        opaque = corpus[corpus["fmt"] == "bin"]
        assert not bool(opaque["valid"].any())
        lossy = corpus[corpus["fmt"] == "qnt"]
        if len(lossy):
            assert float(lossy["psnr"].min()) >= 40.0

        # 6. per-row fetch_status + followed-target parity
        st = dict(zip(corpus["url_hash"], corpus["fetch_status"]))
        assert st == sim.status, f"{name}: fetch_status diverged"
        fu = {h: u for h, u in zip(corpus["url_hash"], corpus["final_url"])
              if isinstance(u, str)}
        want_fu = {h: u for h, u in sim.final_url.items()
                   if sim.status.get(h) in ("redirect", "redirect_dangling",
                                            "redirect_loop", "redirect_cap")}
        assert fu == want_fu, f"{name}: final_url diverged"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
