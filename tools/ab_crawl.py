"""Interleaved A/B(/C) adjudication of the BFS-profile crawl headline.

Round-3's headline regressed 17% vs round-2 on a single-pass measurement
over a host whose disclosed throughput drift is ±25%-3× — unadjudicable
(VERDICT r3 "What's wrong" #2). This harness runs the SAME sf0.1 BFS
crawl (10k pages, cached fixture, identical 18-round/9207-fetch trace)
from multiple code trees / env arms in fresh subprocesses, fully
interleaved (arm1, arm2, ..., arm1, arm2, ...) so host drift hits every
arm equally, and reports per-arm medians + per-pass deltas.

Usage: python tools/ab_crawl.py ARM=PATH[:ENV=V[,ENV=V]] ... [--runs N]
  e.g. python tools/ab_crawl.py base=/tmp/base_tree head=. --runs 3
Writes BENCH/ab_<arms>.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(tree: str, extra_env: dict[str, str], n_pages: int) -> dict:
    env = dict(
        os.environ,
        PEGASUS_BENCH_PAGES=str(n_pages),
        PEGASUS_BENCH_MODE="crawl",
        PEGASUS_BENCH_PROFILE="default",
        **extra_env,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600, cwd=tree,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"bench failed in {tree}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])
    n_pages = int(os.environ.get("PEGASUS_BENCH_PAGES", "10000"))

    arms: dict[str, tuple[str, dict]] = {}
    for a in args:
        if a.isdigit():
            continue
        name, spec = a.split("=", 1)
        tree, _, envs = spec.partition(":")
        env = dict(kv.split("=", 1) for kv in envs.split(",")) if envs else {}
        arms[name] = (tree, env)

    raw: dict[str, list[dict]] = {k: [] for k in arms}
    for i in range(runs):
        for name, (tree, env) in arms.items():  # interleaved
            t0 = time.time()
            r = run_once(tree, env, n_pages)
            raw[name].append(r)
            print(f"pass {i} {name}: crawl {r['crawl_sec']}s, "
                  f"{r['urls_per_sec']} urls/s, fetched {r['urls_fetched']} "
                  f"(subprocess {time.time()-t0:.0f}s)", flush=True)

    summary = {"runs": runs, "n_pages": n_pages}
    for name, rs in raw.items():
        secs = sorted(r["crawl_sec"] for r in rs)
        summary[name] = {
            "crawl_sec_median": secs[len(secs) // 2],
            "crawl_sec_all": [r["crawl_sec"] for r in rs],
            "urls_fetched": rs[0]["urls_fetched"],
            "rounds": rs[0]["rounds_to_exhaustion"],
        }
    print(json.dumps(summary, indent=2))
    out_path = os.path.join(REPO, "BENCH", f"ab_{'_vs_'.join(arms)}.json")
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "all": raw}, f, indent=2)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
