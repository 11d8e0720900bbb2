"""Virtual-time politeness schedule unit tests (SURVEY.md §2 O3)."""

import logging
import re

import pandas as pd
import pytest

from pegasus_spark import politeness


def _pending(spark, rows):
    # (url, url_hash, host, priority, discovered_round, crawl_delay_ms)
    return spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, priority int, "
        "discovered_round int, crawl_delay_ms long",
    )


def _hosts(spark, rows):
    return spark.createDataFrame(rows, "host string, next_vt long")


def test_budget_per_host_and_fifo_order(spark):
    rows = [(f"u{i}", i, "a", 0, 0, None) for i in range(10)]
    out = politeness.schedule(
        _pending(spark, rows), _hosts(spark, []), 0, 8000, 2000
    ).toPandas().sort_values("rn")
    # W/delay = 4 fetches fit: vt 0,2000,4000,6000; the other 6 are
    # deferred and not returned
    assert len(out) == 4 and out["selected"].all()
    assert list(out["url_hash"]) == [0, 1, 2, 3]
    assert list(out["fetch_vt"]) == [0, 2000, 4000, 6000]


def test_crawl_delay_overrides_min_delay(spark):
    rows = [(f"u{i}", i, "a", 0, 0, 4000) for i in range(5)]
    out = politeness.schedule(
        _pending(spark, rows), _hosts(spark, []), 0, 8000, 2000
    ).toPandas()
    sel = out[out["selected"]].sort_values("rn")
    assert list(sel["fetch_vt"]) == [0, 4000]  # only 2 fit at 4s delay


def test_host_clock_defers_start(spark):
    rows = [("u0", 0, "a", 0, 0, None), ("u1", 1, "a", 0, 0, None)]
    out = politeness.schedule(
        _pending(spark, rows), _hosts(spark, [("a", 7000)]), 0, 8000, 2000
    ).toPandas().sort_values("rn")
    # t0 = max(0, 7000) → first at 7000 (fits), second at 9000 (deferred)
    assert list(out["url_hash"]) == [0]
    assert list(out["fetch_vt"]) == [7000]
    assert out["selected"].all()


def test_priority_then_discovery_then_hash_ordering(spark):
    rows = [
        ("x", 50, "a", 1, 0, None),   # depth 1 → after depth 0
        ("y", 99, "a", 0, 1, None),   # depth 0, later discovery
        ("z", 10, "a", 0, 0, None),   # depth 0, round 0, smallest hash
        ("w", 20, "a", 0, 0, None),
    ]
    out = politeness.schedule(
        _pending(spark, rows), _hosts(spark, []), 0, 100000, 2000
    ).toPandas().sort_values("rn")
    assert list(out["url_hash"]) == [10, 20, 99, 50]


def test_hosts_independent(spark):
    rows = [(f"u{i}", i, h, 0, 0, None) for h in ("a", "b") for i in range(3)]
    out = politeness.schedule(
        _pending(spark, rows), _hosts(spark, []), 0, 8000, 2000
    ).toPandas()
    assert out["selected"].all()  # 3 per host fit in 4-slot budget
    for h in ("a", "b"):
        assert list(out[out["host"] == h].sort_values("rn")["fetch_vt"]) == [0, 2000, 4000]


# a hot host with many more rows than fit a round (forcing real pruning
# by the map-side group limit), a second cold host and a crawl-delayed third
_PRUNE_ROWS = (
    [(f"a{i}", i * 4, "a", i % 3, i % 2, None) for i in range(60)]
    + [(f"b{i}", i * 4 + 1, "b", 0, 0, None) for i in range(3)]
    + [(f"c{i}", i * 4 + 2, "c", 0, 0, 4000) for i in range(20)]
)


def _reference(rows, next_vt, round_start, round_end, min_delay_ms):
    """The one-stage spec in pandas: {url_hash: (rn, fetch_vt)} of the
    selected rows."""
    ref = pd.DataFrame(rows, columns=["url", "url_hash", "host", "priority",
                                      "discovered_round", "crawl_delay_ms"])
    sel_ref = {}
    for host, g in ref.groupby("host"):
        g = g.sort_values(["priority", "discovered_round", "url_hash"])
        cd = g["crawl_delay_ms"].iloc[0]
        d = max(min_delay_ms, 0 if pd.isna(cd) else int(cd))
        t0 = max(round_start, next_vt.get(host, 0))
        for rn, (_, r) in enumerate(g.iterrows(), start=1):
            vt = t0 + (rn - 1) * d
            if vt < round_end:
                sel_ref[int(r["url_hash"])] = (rn, vt)
    return sel_ref


def _assert_matches_reference(out, sel_ref):
    assert out["selected"].all()
    assert len(out) == len(sel_ref)
    got = {int(r.url_hash): (int(r.rn), int(r.fetch_vt)) for r in out.itertuples()}
    assert got == sel_ref


def _plan_nodes(node, parents=()):
    """(node, ancestors) over an executed physical plan, through AQE's
    final plan and its query stages."""
    yield node, parents
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = [node.children().apply(i) for i in range(node.children().size())]
    for kid in kids:
        yield from _plan_nodes(kid, parents + (node,))


def _group_limits(df):
    """{mode: (node, ancestors)} of the executed WindowGroupLimits."""
    return {n.mode().toString(): (n, up)
            for n, up in _plan_nodes(df._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() == "WindowGroupLimitExec"}


@pytest.mark.parametrize("prune", [True, False])
def test_two_stage_prune_matches_one_stage(spark, prune):
    """With or without the map-side group limit (``prune``) the output is
    exactly the one-stage spec's selection: the same keys with the same
    rn/fetch_vt, and no other rows."""
    pending = _pending(spark, _PRUNE_ROWS)
    hosts = _hosts(spark, [("a", 3000)])
    sched = politeness.schedule(pending, hosts, 0, 8000, 2000, prune=prune)
    out = sched.toPandas()
    limits = _group_limits(sched)
    if prune:  # the Partial limit really drops rows in the map tasks
        shipped = limits["Partial"][0].metrics().get("numOutputRows").get().value()
        assert len(out) <= shipped < len(_PRUNE_ROWS), shipped
    else:
        assert limits == {}
    _assert_matches_reference(out, _reference(_PRUNE_ROWS, {"a": 3000}, 0, 8000, 2000))


def test_pruned_schedule_plan_runs_each_stage_once(spark):
    """The pruned schedule runs one window over one host shuffle: a
    Partial group limit below the Exchange on host, a Final one above
    it, and one host-clock join."""
    sched = politeness.schedule(_pending(spark, _PRUNE_ROWS), _hosts(spark, [("a", 3000)]),
                                0, 8000, 2000, prune=True)
    sched.collect()
    # operator names of the executed (AQE final) physical plan
    final = sched._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    ops = re.findall(r"(?m)^[\s:+\-]*(?:\*\(\d+\) )?(\w+)", final)
    assert ops.count("Window") == 1, ops
    assert ops.count("WindowGroupLimit") == 2, ops
    assert sum(op.endswith("Join") for op in ops) == 1, ops
    limits = _group_limits(sched)
    final_limit, above_final = limits["Final"]
    partial, above_partial = limits["Partial"]
    assert above_partial[:len(above_final) + 1] == above_final + (final_limit,)
    host_exchanges = [n for n in above_partial[len(above_final):]
                      if n.getClass().getSimpleName() == "ShuffleExchangeExec"
                      and n.outputPartitioning().toString().startswith("hashpartitioning(host")]
    assert len(host_exchanges) == 1, final
    assert final_limit.limit() == partial.limit() == 4  # ⌈8000 / 2000⌉


def test_horizon_above_group_limit_threshold_is_logged(spark, caplog):
    """K = ⌈2,000,000 / 1000⌉ = 2000 exceeds Spark's default
    windowGroupLimitThreshold (1000): Spark plans no group limit, the
    schedule says so on the ``pegasus_spark`` logger, and the selection
    is still the spec's."""
    assert int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")) == 1000
    with caplog.at_level(logging.DEBUG, logger="pegasus_spark"):
        sched = politeness.schedule(_pending(spark, _PRUNE_ROWS), _hosts(spark, [("a", 3000)]),
                                    0, 2_000_000, 1000, prune=True)
    assert sum("map-side group limit" in r.getMessage() for r in caplog.records) == 1
    out = sched.toPandas()
    assert _group_limits(sched) == {}
    _assert_matches_reference(out, _reference(_PRUNE_ROWS, {"a": 3000}, 0, 2_000_000, 1000))


def test_zero_min_delay_runs_unpruned(spark, caplog):
    """min_delay_ms=0 bounds no host, so the schedule plans no group
    limit; the crawl-delayed host is still spaced by its own delay."""
    with caplog.at_level(logging.DEBUG, logger="pegasus_spark"):
        sched = politeness.schedule(_pending(spark, _PRUNE_ROWS), _hosts(spark, [("a", 3000)]),
                                    0, 8000, 0, prune=True)
    out = sched.toPandas()
    assert not any("map-side group limit" in r.getMessage() for r in caplog.records)
    assert _group_limits(sched) == {}
    sel_ref = _reference(_PRUNE_ROWS, {"a": 3000}, 0, 8000, 0)
    assert sorted(vt for h, (_, vt) in sel_ref.items() if h % 4 == 2) == [0, 4000]
    _assert_matches_reference(out, sel_ref)


def test_next_host_state_advances_only_fetched(spark):
    rows = [(f"u{i}", i, "a", 0, 0, None) for i in range(6)]
    sched = politeness.schedule(
        _pending(spark, rows), _hosts(spark, [("a", 0), ("b", 5000)]), 0, 8000, 2000
    )
    ns = politeness.next_host_state(sched.filter("selected"), _hosts(spark, [("a", 0), ("b", 5000)]))
    got = {r["host"]: r["next_vt"] for r in ns.collect()}
    assert got["a"] == 6000 + 2000  # last fetch 6000 + delay
    assert got["b"] == 5000  # untouched host keeps its clock
