"""Crawl configuration + pluggable stage protocol (SURVEY.md §2 O15).

Mirrors shriphani/pegasus's config-map keys (``:seeds :user-agent
:corpus-size :min-delay-ms :extractor :writer :stop-check`` — README /
``src/pegasus/defaults.clj``, symbol cites per SURVEY.md §0) and its
``PipelineComponentProtocol`` (``initialize/run/clean``, ``src/pegasus/
process.clj``): users swap any stage by passing a :class:`Stage` whose
``apply`` maps DataFrame → DataFrame; stages are folded into the single
per-round Catalyst plan, so a custom stage costs nothing extra.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


class Stage:
    """initialize/run/clean ≡ setup/apply/teardown."""

    name = "stage"

    def setup(self, spark: SparkSession, cfg: "CrawlConfig") -> None:  # noqa: D401
        pass

    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def teardown(self) -> None:
        pass


@dataclass
class CrawlConfig:
    # where the synthetic web lives (pages/seeds/robots_txt parquet — the
    # sandbox stand-in for HTTP, SURVEY.md §2 O6)
    web_dir: str
    # durable state root (frontier/seen/corpus/metrics tables + checkpoints)
    job_dir: str
    seeds: Optional[list[str]] = None  # default: read <web_dir>/seeds.parquet
    user_agent: str = "pegasus-spark/0.1"
    corpus_size: Optional[int] = None  # None → crawl to frontier exhaustion
    min_delay_ms: int = 2000
    round_width_vt: Optional[int] = None  # default 8×min_delay_ms
    max_rounds: int = 10_000
    # seen-set sizing
    seen_parts: int = 8
    bloom_bits_per_part: int = 1 << 20
    bloom_k: int = 5
    bloom_overflow_rebuild: int = 4096
    # skew: the fetch/decode stage shuffles on host_bucket, not host
    host_buckets: int = 32
    validate_payloads: bool = True
    # SIZE-ADAPTIVE physical-plan gates (guide: pick strategy by data
    # size, not cluster shape — outputs are identical on both sides of
    # each threshold; only the plan changes). The driver tracks an
    # approximate frontier row count (floor-safe: resumes seed it with
    # the visited count, each round adds its enqueued count) and
    # compares it against these:
    # - bloom_probe_min_rows: below it, the URL-seen check runs as the
    #   plain exact anti-join (the frontier key column is ≤ ~tens of MB
    #   — a cheap broadcast/hash build) and skips the bloom probe's
    #   extra shuffle + two Arrow stages per round; above it, the bloom
    #   probe runs first. It does not shrink the anti-join's exact side,
    #   which is still shuffled or broadcast whole; it only spares the
    #   rows it marks definitely-new the hash probe.
    # - politeness_prune_min_rows: below it, the politeness window runs
    #   without its ``rn <= ⌈W/min_delay_ms⌉`` bound, so Spark plans no
    #   map-side group limit and skips that per-map-task sort; the limit
    #   exists to bound a HOT HOST's window shuffle at 10^9+ pending
    #   rows, a regime a small frontier cannot be in (selection/schedule
    #   provably identical, politeness.schedule docstring).
    bloom_probe_min_rows: int = 5_000_000
    politeness_prune_min_rows: int = 2_000_000
    # robots acquisition: "preparsed" reads the fixture's pre-fetched
    # rules table (the LMDB-cache-already-warm case); "discover" fetches
    # and parses raw robots.txt per host the first time the host is
    # touched (pegasus's actual behavior), honoring `user_agent` group
    # selection
    robots_mode: str = "preparsed"
    # redirect chains are followed inline within the fetch (clj-http's
    # default inside pegasus's fetcher) up to this many hops; longer
    # chains record fetch_status='redirect_cap'
    max_redirect_hops: int = 4
    # transiently-failing URLs (HTTP-503 analogue) are retried on later
    # rounds up to this many total attempts; the last attempt records a
    # 'transient_exhausted' corpus row (URL permanently visited)
    max_fetch_attempts: int = 3
    # cache the page store across rounds (good for many-round BFS crawls;
    # turn off for few-round drains of stores larger than executor memory)
    cache_pages: bool = True
    # fetch join strategy: selections up to this many rows broadcast into
    # the page store (map-side join, store never shuffles); larger rounds
    # (10^7-10^8 URLs at design scale would blow the 8 GB broadcast
    # ceiling) fall back to a co-partitioned shuffle join
    fetch_broadcast_max: int = 2_000_000
    # corpus (blob-table) writer options — Iceberg per-table write
    # properties analogue. Measured (BENCH/BASELINE.md r3): the default
    # 128 MB parquet row group makes EVERY writer task buffer 128 MB of
    # image blobs on-heap — at 32 concurrent writers that is a 4 GB live
    # set and a GC death spiral (decode+write 78-146 s vs 26 s with this
    # shape); and dictionary-encoding unique ~30 KB blobs is pure waste
    # (hashes every value, then falls back). 16 MB groups ≈ 500 blob rows
    # — column-pruned metadata scans are unaffected.
    corpus_write_options: dict = field(default_factory=lambda: {
        "parquet.block.size": str(16 * 1024 * 1024),
        "parquet.enable.dictionary": "false",
    })
    # table_bucket_count>0 creates frontier+corpus as Spark-bucketed
    # tables (Iceberg bucket(B, url_hash) transform analogue —
    # tables.ManifestCatalog; a resume keeps the B the tables were
    # created with), so the pending anti-join runs as a bucketed join
    # with no exchange once the visited keys outgrow a broadcast — the
    # zero-data-shuffle dedup shape for 10^10-row frontiers.
    table_bucket_count: int = 0
    # incremental catalog compaction (Iceberg rewrite_data_files
    # analogue): every compact_every rounds, the append-heavy tables are
    # bin-packed so their snapshots reference ≤ compact_target_dirs
    # commit dirs. Append-only tables otherwise gain one dir per round —
    # at the 10^4-round design point that is 10^4 dirs listed per read,
    # forever. Merging only the smallest dirs keeps each row rewritten
    # O(log rounds) times (LSM-style). 0 = off.
    compact_every: int = 32
    compact_target_dirs: int = 8
    # content-type gate (pegasus's defaults drop non-HTML bodies before
    # link extraction): pages whose ``fmt`` is not in this set are still
    # fetched + recorded as visited, but contribute no out-links. None =
    # extract from everything (the fixture webs are all-image).
    extract_fmts: Optional[tuple] = None
    # plug points (pegasus :extractor / :writer / :stop-check analogues)
    extractor: Optional[Stage] = None
    pre_enqueue: Optional[Stage] = None
    writer: Optional[Stage] = None  # pegasus default-writer-fn override
    stop_check: Optional[Callable[[int, int, bool], bool]] = None
    # pegasus :update-state / default-update-state-fn analogue: called
    # once per round with the round's stats dict BEFORE the checkpoint is
    # written; mutations land in the checkpoint's ``stats`` blob, so a
    # user can persist custom per-round state without their own table
    update_state: Optional[Callable[[dict], None]] = None

    @property
    def round_width(self) -> int:
        return self.round_width_vt or 8 * self.min_delay_ms
