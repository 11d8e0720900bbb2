"""Per-host politeness as a deterministic virtual-time schedule (O2/O3).

shriphani/pegasus serializes fetches per host: a durable-queue worker
``take!``s the host's FIFO and sleeps ≥ min-delay between consecutive
fetches (``src/pegasus/queue.clj`` setup-queue-worker — symbol cite per
SURVEY.md §0). Wall-clock sleeps are not reproducible — even by the
reference — so our engine AND the parity oracle both implement the same
*virtual-time specification* (SURVEY.md §2 O3, §5.2):

- virtual clock in ms; round r covers [r·W, (r+1)·W) where W = round
  width; each host carries ``next_vt`` (earliest allowed next fetch).
- within a round a host's pending URLs are ranked FIFO-deterministic:
  (priority, discovered_round, url_hash); the i-th ranked URL gets
  ``fetch_vt = max(round_start, next_vt) + (i-1)·delay`` with
  ``delay = max(min_delay_ms, robots crawl_delay_ms)``;
- only URLs with ``fetch_vt < round_end`` are fetched this round; the
  rest are *deferred*, not dropped (they stay pending — frontier is
  append-only, selection is recomputed each round);
- after the round, ``next_vt(host) = last fetch_vt + delay``.

Global fetch order = (fetch_vt, url_hash) — a total order both sides
can compute.

Physical shape — TWO-STAGE selection (the 10^10-frontier skew bound):
a one-stage ``Window.partitionBy(host)`` sorts EVERY pending row of a
host in one task; a host holding 10% of a 10^10-row frontier would push
10^9 rows through one partition every round, forever (measured on the
Zipf(2.0) fixture: 60.5% of the window shuffle in one partition —
BENCH/skew_window.json r3). But only the first K = ⌈W/delay⌉ rows per
host can possibly satisfy ``fetch_vt < round_end`` (t0 ≥ round_start ⇒
rn−1 < W/delay), so:

1. *pre-prune* per (host, salt=pmod(url_hash, S)): rank within each of
   the S salt buckets by the same key and keep the first K — any row in
   the host's global top-K is in its own bucket's top-K, so no
   selectable row is ever pruned, and the hottest host's shuffle share
   drops from its frontier share to ~1/S of it;
2. run the *exact* per-host window on the survivors (≤ S·K rows per
   host — budget-bounded, skew-free by construction). Its first K ranks
   equal the one-stage ranks, so the selected set, fetch_vt values and
   host-clock advancement are bit-identical to the one-stage spec.

The output is the selection alone, each row with its exact
``rn``/``fetch_vt``; deferred rows are not returned.
``delay_ms = 0`` (no politeness floor) disables pruning for that host —
every row is then selectable and goes through the exact window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_RANK_KEY = ("priority", "discovered_round", "url_hash")


def _with_delay(pending: DataFrame, host_state: DataFrame, min_delay_ms: int) -> DataFrame:
    """Join the host clock, resolve the effective per-host delay."""
    cand = pending.join(host_state, "host", "left").withColumn(
        "next_vt", F.coalesce(F.col("next_vt"), F.lit(0)).cast("long")
    )
    delay = F.greatest(
        F.lit(min_delay_ms).cast("long"),
        F.coalesce(F.col("crawl_delay_ms"), F.lit(0)).cast("long"),
    )
    return cand.withColumn("delay_ms", delay)


def _prune_to_horizon(
    cand: DataFrame, round_start: int, round_end: int, salt_buckets: int
) -> DataFrame:
    """Stage 1: per-(host, salt) partial top-K with K = ⌈W/delay⌉.

    Returns the survivors: every row that could possibly be selected
    this round. The rows it drops are provably past the horizon (their
    bucket-local rank alone puts fetch_vt ≥ round_end).
    """
    W = round_end - round_start
    # +1 margin makes any float-rounding of W/delay provably irrelevant
    # (the true bound is rn ≤ ⌈W/delay⌉; one extra row per bucket is free)
    cap = F.when(
        F.col("delay_ms") > 0,
        F.ceil(F.lit(float(W)) / F.col("delay_ms")).cast("long") + F.lit(1),
    )  # NULL cap (delay 0) → every row selectable → no pruning
    w1 = Window.partitionBy("host", "_salt").orderBy(*_RANK_KEY)
    staged = (
        cand.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(salt_buckets)).cast("int"))
        .withColumn("_cap", cap)
        .withColumn("_srn", F.row_number().over(w1))
    )
    keep = F.col("_cap").isNull() | (F.col("_srn") <= F.col("_cap"))
    return staged.filter(keep).drop("_salt", "_cap", "_srn")


def schedule(
    pending: DataFrame,
    host_state: DataFrame,
    round_start: int,
    round_end: int,
    min_delay_ms: int,
    salt_buckets: int = 32,
    prune: bool = True,
) -> DataFrame:
    """The round's selection: pending URLs with ``fetch_vt < round_end``,
    annotated with (rn, delay_ms, fetch_vt, selected).

    ``pending`` must carry: url, url_hash, host, priority,
    discovered_round, crawl_delay_ms (nullable). ``host_state``:
    host, next_vt. Output has one row per SELECTED pending row, with its
    exact rn/fetch_vt; ``selected`` is always true (kept for callers
    that filter on it).

    ``prune=False`` skips stage 1 and runs the exact per-host window on
    EVERY pending row — the size-adaptive fast path for small frontiers,
    where even the hottest host's full row set is one cheap task and the
    salt window's extra shuffle+sort is pure overhead. The output is
    identical either way (stage 1 never drops a selectable row).
    """
    cand = _with_delay(pending, host_state, min_delay_ms)
    if prune:
        cand = _prune_to_horizon(cand, round_start, round_end, salt_buckets)
    w = Window.partitionBy("host").orderBy(*_RANK_KEY)
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .withColumn("t0", F.greatest(F.lit(round_start).cast("long"), F.col("next_vt")))
        .withColumn(
            "fetch_vt",
            (F.col("t0") + (F.col("rn") - F.lit(1)).cast("long") * F.col("delay_ms")),
        )
        .filter(F.col("fetch_vt") < F.lit(round_end))
        .withColumn("selected", F.lit(True))
        .drop("t0", "next_vt")
    )


def next_host_state(selected: DataFrame, host_state: DataFrame) -> DataFrame:
    """New (host, next_vt): fetched hosts advance to last fetch_vt+delay;
    untouched hosts keep their clock."""
    advanced = selected.groupBy("host").agg(
        (F.max("fetch_vt") + F.max("delay_ms")).alias("next_vt_new")
    )
    merged = host_state.join(advanced, "host", "full").select(
        "host",
        F.greatest(
            F.coalesce(F.col("next_vt"), F.lit(0)),
            F.coalesce(F.col("next_vt_new"), F.lit(0)),
        ).alias("next_vt"),
    )
    return merged
