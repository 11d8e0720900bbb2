"""Benchmark entry point: one workload, one seed, one process.

Run from the repository root:

    python3 perfbench/run.py --workload bfs_crawl --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it are a human-readable report. Inputs are generated from the
seed and cached under ``.bench_build/perfbench/``; every file the run
writes stays under that directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

WORKLOADS = ("bfs_crawl", "frontier_drain", "query_suite")
# what the benchmark imports from the repository besides itself
REQUIRED = ("pegasus_spark", "__spark_entry__.py", "tests/oracle.py",
            "tools/check_entry.py")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum measured time; at least one crawl or suite always runs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.monotonic()
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "tests"), os.path.join(root, "tools")]
    from perfbench import workloads as W

    cpu_start = W.cpu_seconds()
    args = parse_args(argv)
    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(root, r))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}",
              file=sys.stderr)
        return 2

    build = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    # Spark's Python workers import pegasus_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    env = W.Env(root=root, build=build, cores=len(os.sched_getaffinity(0)),
                seed=args.seed, seconds=args.seconds, t_start=t_start, cpu_start=cpu_start)
    traced = bool(args.trace)
    if args.workload == "query_suite":
        out = W.run_query_suite(env, traced)
    else:
        t0 = time.monotonic()
        spec, notes = (W.bfs_spec if args.workload == "bfs_crawl" else W.drain_spec)(env)
        env.fixture_s = time.monotonic() - t0
        out = W.run_crawl(env, spec, notes, traced)

    failed_frac = out.failed / max(1, out.attempted)
    print(f"# {args.workload} seed={args.seed} local[{env.cores}] trace={args.trace}")
    for name, (value, unit) in out.metrics.items():
        print(f"#   {name} = {value:.6g} {unit}")
    print(f"#   failed_frac = {failed_frac:.6g} ({out.failed}/{out.attempted})")
    for k, v in out.notes.items():
        print(f"#   {k}: {v}")
    for p in out.problems:
        print(f"# PROBLEM {p}")
    print(json.dumps({
        "correct": out.failed == 0 and not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
