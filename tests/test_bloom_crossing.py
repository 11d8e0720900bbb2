"""The round that crosses ``bloom_probe_min_rows`` (the bloom probe gate).

Below the gate the bloom merge is deferred; the crossing round keeps to
the exact anti-join and rebuilds the bloom from frontier ∪ new
concurrently with its frontier append. The crawl's rows must not depend
on where the gate sits, and the rebuilt bloom must cover the frontier
exactly once. A resumed crawl over an in-sync bloom must not rebuild it.
"""

import shutil
import tempfile

import numpy as np
import pytest

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.hashing import bloom_indexes
from pegasus_spark.seen import SeenSet
from pegasus_spark.tables import ManifestCatalog

PARAMS = WebParams(seed=7, n_pages=120, n_hosts=5, fanout=2.5, n_seeds=3)
CFG = dict(corpus_size=60, seen_parts=4)
STAT_KEYS = ("fetched", "enqueued", "dropped_seen", "dropped_robots", "deferred",
             "retried", "exhausted", "capped")


@pytest.fixture(scope="module")
def web_dir():
    tmp = tempfile.mkdtemp()
    write_web(generate_web(PARAMS), f"{tmp}/web")
    yield f"{tmp}/web"
    shutil.rmtree(tmp, ignore_errors=True)


def _corpus(spark, job_dir):
    return sorted(tuple(r) for r in ManifestCatalog(spark, job_dir).read("corpus")
                  .select("fetch_round", "fetch_vt", "url_hash").collect())


def _bloom_misses(bloom, hashes, n_parts, k) -> int:
    """Hashes the bloom rows (a pandas frame) do not report as maybe-seen,
    probed here with numpy, independently of SeenSet."""
    rows = {int(r.part_id): r for r in bloom.itertuples()}
    misses = 0
    for h in hashes:
        r = rows.get(int(np.mod(h, n_parts)))
        if r is None:
            misses += 1
            continue
        bits = np.frombuffer(r.bloom, dtype=np.uint8)
        idx = bloom_indexes(np.array([h], dtype=np.int64), int(r.m_bits), k)
        hit = bool(((bits[idx >> 3] >> (idx & 7)) & 1).all())
        ovf = np.frombuffer(r.overflow, dtype=np.int64) if len(r.overflow) else ()
        misses += not (hit or h in ovf)
    return misses


def test_crossing_after_inject_matches_other_gates(spark, web_dir, tmp_path):
    """Gate 1: inject (frontier 0 rows) defers, round 0 (the seed rows)
    is the crossing round. Its rows and round stats equal those of the same
    crawl probing from the start (gate 0) and never probing (default
    gate); right after it the bloom covers the frontier exactly once."""
    after_r0 = {}

    def snapshot(st):
        if st["round"] == 0:
            cat = ManifestCatalog(spark, str(tmp_path / "cross"))
            after_r0["bloom"] = cat.read("bloom").toPandas()
            after_r0["frontier"] = [r["url_hash"] for r in
                                    cat.read("frontier").select("url_hash").collect()]

    runs, cfgs = {}, {}
    for name, kw in (("cross", dict(bloom_probe_min_rows=1, update_state=snapshot)),
                     ("zero", dict(bloom_probe_min_rows=0)),
                     ("default", {})):
        cfg = cfgs[name] = CrawlConfig(web_dir=web_dir, job_dir=str(tmp_path / name),
                                       **CFG, **kw)
        res = crawl(spark, cfg)
        runs[name] = (_corpus(spark, cfg.job_dir),
                      [{k: s[k] for k in STAT_KEYS} for s in res.round_stats],
                      res.stop_reason)
    assert runs["cross"] == runs["zero"] == runs["default"]
    stats = runs["cross"][1]
    assert len(stats) >= 2 and stats[0]["enqueued"] > 0 and stats[1]["dropped_seen"] > 0

    bloom, frontier = after_r0["bloom"], after_r0["frontier"]
    assert int(bloom["n_items"].sum()) == len(frontier)
    assert _bloom_misses(bloom, frontier, CFG["seen_parts"], cfgs["cross"].bloom_k) == 0


def test_resume_over_in_sync_bloom_does_not_rebuild(spark, web_dir, tmp_path, monkeypatch):
    """Probing from the start (gate 0) keeps the bloom merged every round.
    A crawl resumed over it verifies the bloom and probes it as it is:
    its first bloom write is a merge inside SeenSet.add, never a rebuild."""
    job = str(tmp_path / "job")
    crawl(spark, CrawlConfig(web_dir=web_dir, job_dir=job, bloom_probe_min_rows=0,
                             max_rounds=2, **CFG))
    events = []
    orig_add, orig_overwrite = SeenSet.add, ManifestCatalog.overwrite
    orig_rebuild = SeenSet._rebuild_full

    def add(self, *a, **kw):
        events.append("add")
        return orig_add(self, *a, **kw)

    def overwrite(self, name, *a, **kw):
        if name == "bloom":
            events.append("overwrite bloom")
        return orig_overwrite(self, name, *a, **kw)

    def rebuild(self, *a, **kw):
        events.append("rebuild")
        return orig_rebuild(self, *a, **kw)

    monkeypatch.setattr(SeenSet, "add", add)
    monkeypatch.setattr(ManifestCatalog, "overwrite", overwrite)
    monkeypatch.setattr(SeenSet, "_rebuild_full", rebuild)
    res = crawl(spark, CrawlConfig(web_dir=web_dir, job_dir=job, bloom_probe_min_rows=0,
                                   **CFG), resume=True)
    assert res.rounds >= 1
    assert "rebuild" not in events
    assert "overwrite bloom" in events
    assert events[0] == "add", events
