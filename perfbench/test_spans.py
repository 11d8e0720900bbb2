"""Tests of the benchmark's span / job-label helper and its metric list.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import concurrent.futures
import json
import os
import statistics
import threading

import pytest

from perfbench import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_nesting_parent_and_label_inheritance():
    tr = spans.Tracer()
    with tr.span("crawl", "crawl") as root:
        with tr.span("round", "schedule") as rnd:
            with tr.span("enqueue") as enq:  # no label: inherits
                pass
        with tr.span("inject", "inject", pin=True) as inj:
            with tr.span("append", "commit.frontier") as app:  # pinned
                pass
    assert rnd.parent == root.id and enq.parent == rnd.id and app.parent == inj.id
    assert enq.label == "schedule"
    assert app.label == "inject" and app.pin
    assert all(s.end is not None for s in tr.spans)
    assert tr.overhead_s > 0


def test_job_group_set_and_restored_per_thread():
    state = threading.local()

    def set_group(label):
        prev = getattr(state, "group", None)
        state.group = label
        return prev

    def reset_group(prev):
        state.group = prev

    tr = spans.Tracer(set_group, reset_group)
    with tr.span("a", "x"):
        with tr.span("b", "y"):
            assert state.group == "y"
        assert state.group == "x"
    assert getattr(state, "group", None) is None


def test_labels_follow_concurrent_threadpool_branches():
    seen = {}
    lock = threading.Lock()

    def set_group(label):
        with lock:
            seen.setdefault(threading.get_ident(), []).append(label)

    class Engine:
        def commit(self, table):
            return table

    tr = spans.Tracer(set_group)
    tr.install([(Engine, "commit", "append", lambda self, t: f"commit.{t}", False)])
    try:
        eng = Engine()
        with tr.span("round", "schedule") as rnd:
            # the engine imports the executor at call time, as round.py does
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [pool.submit(eng.commit, t) for t in ("corpus", "frontier", "hosts")]
                assert [f.result(timeout=10) for f in futs] == ["corpus", "frontier", "hosts"]
    finally:
        tr.uninstall()
    branches = tr.named("append")
    assert len(branches) == 3
    assert {s.parent for s in branches} == {rnd.id}
    assert sorted(s.label for s in branches) == ["commit.corpus", "commit.frontier",
                                                  "commit.hosts"]
    worker_labels = {lab for tid, labs in seen.items()
                     if tid != threading.get_ident() for lab in labs}
    assert worker_labels == {"commit.corpus", "commit.frontier", "commit.hosts"}
    # uninstall restores the patched names
    assert Engine.commit.__name__ == "commit" and not hasattr(Engine.commit, "__wrapped__")
    assert concurrent.futures.ThreadPoolExecutor is spans._ORIGINAL_EXECUTOR


def test_self_time_subtracts_union_of_concurrent_children():
    tr = spans.Tracer()
    # two overlapping concurrent children [1, 4] and [3, 6], and a
    # grandchild [2, 3] under the first
    tr.spans = [
        spans.Span(0, None, "parent", "p", False, 0.0, 10.0),
        spans.Span(1, 0, "child", "c", False, 1.0, 4.0),
        spans.Span(2, 0, "child", "c", False, 3.0, 6.0),
        spans.Span(3, 1, "grandchild", "c", False, 2.0, 3.0),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10 - 5)
    assert tr.self_time(tr.spans[1]) == pytest.approx(3 - 1)
    assert tr.self_by_label() == {"p": pytest.approx(5), "c": pytest.approx(2 + 3 + 1)}
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)


def test_span_times_come_from_the_clock():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    clock.t = 2.0
    with tr.span("a", "x") as a:
        clock.t = 5.5
    assert (a.start, a.end) == (2.0, 5.5)


def test_benchmark_json_lists_every_metric_the_runs_print():
    from perfbench.layers import per_layer_metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        per_layer_metrics()
    assert {w["name"] for w in bench["workloads"]} <= {
        "bfs_crawl", "frontier_drain", "query_suite"}


def test_spread_is_quartile_distance_over_median():
    from perfbench.spread import seed_list, spread

    assert seed_list("1-3,7") == [1, 2, 3, 7]
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / 10.0)


def test_fast_oracle_matches_plain_oracle():
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import oracle
    from pegasus_spark.fixtures import WebParams, generate_web

    from perfbench.fixtures import BFS_MIN_DELAY_MS, _oracle_expectations

    web = generate_web(WebParams(seed=5, n_pages=40, n_hosts=3, fanout=3.0, n_seeds=3))
    fast = _oracle_expectations(web, round_width=400_000)
    plain = oracle.simulate(web, min_delay_ms=BFS_MIN_DELAY_MS, round_width=400_000)
    assert fast["rounds"] == plain.rounds
    assert fast["visited"] == sorted(plain.visited)
    assert fast["fetched"] == [m["fetched"] for m in plain.metrics]


def test_spark_jobs_carry_the_span_label_of_their_thread():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    try:
        tr = spans.Tracer(*spans.spark_job_group(spark.sparkContext))
        tr.install([])
        try:
            from concurrent.futures import ThreadPoolExecutor

            def branch(label):
                with tr.span("branch", label):
                    return spark.range(100).count()

            with tr.span("round", "schedule"):
                spark.range(10).count()
                with ThreadPoolExecutor(max_workers=2) as pool:
                    futs = [pool.submit(branch, lab) for lab in ("commit.a", "commit.b")]
                    assert [f.result(timeout=120) for f in futs] == [100, 100]
        finally:
            tr.uninstall()
        groups = [j["group"] for j in spans.spark_jobs(spark)]
        assert {"schedule", "commit.a", "commit.b"} <= set(groups)
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    finally:
        spark.stop()
