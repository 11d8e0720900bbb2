"""Run the benchmark once per seed and report each metric's spread.

Run from the repository root:

    python3 perfbench/spread.py --workloads frontier_drain,query_suite \
        --seeds 1-10 --out perfbench/baseline/runs_trace0.jsonl

Each run is ``perfbench/run.py`` in its own process with the run length
from ``BENCHMARK.json``. Every result line is appended to ``--out`` with
its workload, seed and wall time. At the end, per workload and metric:
the median and the quartile spread, (Q3 - Q1) / median with the
quartiles of ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True, help="JSONL file to append to")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]

    runs: dict[str, list[dict]] = {}
    with open(args.out, "a") as out:
        for seed in seed_list(args.seeds):
            for w in args.workloads.split(","):
                t0 = time.monotonic()
                proc = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(args.trace)],
                    capture_output=True, text=True)
                wall = time.monotonic() - t0
                lines = proc.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
                rec = {"workload": w, "seed": seed, "trace": args.trace, "rc": proc.returncode,
                       "wall_s": round(wall, 1), **result}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                runs.setdefault(w, []).append(rec)
                print(f"{w} seed={seed} rc={proc.returncode} wall={wall:.0f}s "
                      f"correct={result.get('correct')}", flush=True)
                if proc.returncode:
                    print(proc.stderr[-2000:], file=sys.stderr)

    for w, recs in runs.items():
        ok = [r for r in recs if r.get("metrics")]
        print(f"== {w}: {len(ok)}/{len(recs)} runs")
        if len(ok) < 2:
            continue
        for name in ok[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in ok]
            if statistics.median(vals):
                print(f"   {name}: median {statistics.median(vals):.4g} "
                      f"spread {spread(vals):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
