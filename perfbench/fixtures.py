"""Deterministic per-seed inputs for the three workloads, cached on disk.

Everything is generated in-process (numpy, pyarrow); nothing is read from
outside the checkout. Each ``prepare_*`` writes into
``<cache>/<workload>-<key>/`` and marks the directory complete last, so
an interrupted run regenerates instead of reading half a fixture.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---- bfs_crawl ---------------------------------------------------------

# bench.py's default crawl profile: 17 rounds and 9207 fetches at seed 42
BFS_PARAMS = dict(n_pages=10_000, n_hosts=100, fanout=3.0, n_seeds=20,
                  img_min=8, img_max=16)
BFS_ROUND_WIDTH_VT = 512_000
BFS_MIN_DELAY_MS = 2000


def _cached(cache: str, name: str, build) -> str:
    out = os.path.join(cache, name)
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out)
    with open(os.path.join(out, "_COMPLETE"), "w") as f:
        f.write("ok")
    return out


def _oracle_expectations(web: dict, round_width: int = BFS_ROUND_WIDTH_VT) -> dict:
    """Visited set and per-round counts from tests/oracle.simulate.

    The oracle canonicalizes one href at a time through the engine's
    vectorized canon function (~18 ms per call); every (base, href) pair
    of this web is canonicalized in one batch first and looked up, which
    returns the same strings ~100x faster."""
    import oracle
    from pegasus_spark.canon import canonicalize_one, resolve_canonicalize

    pages, seeds = web["pages"], web["seeds"]
    base = [u for u, ls in zip(pages.url, pages.out_links) for _ in ls]
    href = [h for ls in pages.out_links for h in ls]
    base += list(seeds.url)
    href += list(seeds.url)
    canon = resolve_canonicalize(pd.Series(base, dtype="string"),
                                 pd.Series(href, dtype="string"))
    memo = {(b, h): (None if pd.isna(c) else str(c))
            for b, h, c in zip(base, href, canon)}
    orig = oracle.canonicalize_one
    oracle.canonicalize_one = (
        lambda b, h: memo[(b, h)] if (b, h) in memo else canonicalize_one(b, h))
    try:
        sim = oracle.simulate(web, min_delay_ms=BFS_MIN_DELAY_MS,
                              round_width=round_width)
    finally:
        oracle.canonicalize_one = orig
    return {
        "rounds": sim.rounds,
        "visited": sorted(int(h) for h in sim.visited),
        "fetched": [m["fetched"] for m in sim.metrics],
        "enqueued": [m["enqueued"] for m in sim.metrics],
    }


def prepare_bfs(cache: str, seed: int) -> tuple[str, dict]:
    from pegasus_spark.fixtures import WebParams, generate_web, write_web

    params = WebParams(seed=seed, **BFS_PARAMS)

    def build(out):
        web = generate_web(params)
        write_web(web, os.path.join(out, "web"))
        with open(os.path.join(out, "oracle.json"), "w") as f:
            json.dump(_oracle_expectations(web), f)

    d = _cached(cache, f"bfs_crawl-s{seed}", build)
    with open(os.path.join(d, "oracle.json")) as f:
        return os.path.join(d, "web"), json.load(f)


# ---- frontier_drain ----------------------------------------------------


@dataclass(frozen=True)
class DrainShape:
    pages: int = 2000  # decode-heavy real pages
    seeded: float = 0.75  # share of the real pages seeded at priority 0
    synthetic: int = 12_000  # dangling low-priority seed URLs (404s)
    hosts: int = 20
    img_min: int = 96
    img_max: int = 128
    synthetic_priority: int = 9


DRAIN = DrainShape()


def prepare_drain(cache: str, seed: int, shape: DrainShape = DRAIN) -> str:
    """The page store comes from the engine's parallel generator (all png,
    96-128 px) with a fixed generator seed: it is made once per shape and
    hard-linked into every seed's directory, since making it takes ~15 s
    on 4 cores, a third of a run if paid for each seed. The seed picks
    ``seeds.parquet``: a ``shape.seeded`` share of the real pages at
    priority 0 (their links find the rest, which are enqueued mid-crawl),
    plus ``shape.synthetic`` URLs spread uniformly over the same hosts
    that the page store does not hold."""
    from pegasus_spark.fixtures import WebParams, generate_web_fast

    params = WebParams(seed=0, n_pages=shape.pages, n_hosts=shape.hosts,
                       zipf_s=0.4, fanout=1.0, lossy_frac=0.0,
                       img_min=shape.img_min, img_max=shape.img_max,
                       n_seeds=shape.pages)
    key = "-".join(f"{k}{v}" for k, v in asdict(shape).items())
    store = _cached(cache, f"frontier_drain-store-{key}", lambda out: generate_web_fast(
        params, out, procs=min(4, os.cpu_count() or 1)))

    def build(out):
        for d, _, files in os.walk(store):
            rel = os.path.relpath(d, store)
            os.makedirs(os.path.join(out, rel), exist_ok=True)
            for f in files:
                if f not in ("_COMPLETE", "seeds.parquet"):
                    os.link(os.path.join(d, f), os.path.join(out, rel, f))
        real = pq.read_table(os.path.join(store, "pages.parquet"), columns=["url"])
        rng = np.random.default_rng((seed, 0xD7A1))
        n_seeded = int(shape.seeded * real.num_rows)
        seeded = rng.permutation(real.num_rows)[:n_seeded]
        hosts = rng.integers(0, shape.hosts, size=shape.synthetic)
        synthetic = [f"http://h{h}.example/s/{i}" for i, h in enumerate(hosts)]
        urls = real.column("url").take(np.sort(seeded)).to_pylist() + synthetic
        prio = np.concatenate([
            np.zeros(n_seeded, dtype=np.int32),
            np.full(shape.synthetic, shape.synthetic_priority, dtype=np.int32)])
        pq.write_table(pa.table({"url": urls, "priority": prio}),
                       os.path.join(out, "seeds.parquet"), row_group_size=65536)

    return _cached(cache, f"frontier_drain-s{seed}-{key}", build)


# ---- query_suite -------------------------------------------------------
# The driver-style TPC-H-ish star schema plus events / documents /
# embeddings, shaped like half the sf0.01 test data the oracle tests use.

SUITE_ROWS = dict(customer=750, supplier=50, part=1000, orders=7500,
                  lineitem=30000, events=5000, documents=250, embeddings=250)
_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "vector order line table data agg value key stream window spark a "
          "part group big sort query fast the").split()
_DAY = np.timedelta64(1, "D")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo), np.datetime64(hi)
    span = int((hi_d - lo_d) / _DAY)
    return (lo_d + rng.integers(0, span + 1, size=n) * _DAY).astype("datetime64[us]")


def _choice(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def suite_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng((seed, 0x5017E))
    n = SUITE_ROWS
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    adj = ["blue", "red", "cold", "hot", "new", "large", "small", "old"]
    noun = ["rod", "gear", "anvil", "bolt", "ring", "widget", "nut", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=i64),
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, adj, n["part"]),
                                              _choice(rng, noun, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=i64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n["orders"])})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(i64),
        "l_partkey": rng.integers(0, n["part"], m).astype(i64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(i64),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": _choice(rng, ["A", "N", "R"], m),
        "l_linestatus": _choice(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=i64),
        "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, e).astype(i64),
        "event_type": _choice(rng, ["click", "purchase", "error", "signup", "view"], e),
        "value": np.maximum(np.round(rng.exponential(50, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts: list[str] = []
    for k in range(d):
        if k >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(_choice(rng, _WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=i64),
        "text": texts,
        "lang": _choice(rng, ["en", "fr", "es", "zh", "de"], d,
                        p=[0.44, 0.13, 0.14, 0.15, 0.14]),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=i64)})
    v = n["embeddings"]
    x = rng.standard_normal((v, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=i64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(i32)})
    return t


def prepare_suite(cache: str, seed: int) -> str:
    def build(out):
        for name, table in suite_tables(seed).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    key = "-".join(f"{k}{v}" for k, v in SUITE_ROWS.items())
    return _cached(cache, f"query_suite-s{seed}-{key}", build)
