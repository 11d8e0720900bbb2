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

Physical shape — a map-side group limit (the 10^10-frontier skew bound):
a plain ``Window.partitionBy(host)`` shuffles and sorts EVERY pending row
of a host into one task; a host holding 10% of a 10^10-row frontier would
push 10^9 rows through one partition every round, forever (measured on
the Zipf(2.0) fixture: 60.5% of the window shuffle in one partition —
BENCH/skew_window.json r3). But only the first K = ⌈W/min_delay_ms⌉ rows
per host can satisfy ``fetch_vt < round_end``: t0 ≥ round_start and
delay ≥ min_delay_ms, so fetch_vt < round_end implies rn ≤ K. The pruned
schedule therefore adds ``rn <= K`` to the window's filter. That filter
never changes the result; it changes the plan. Spark's
``InferWindowGroupLimit`` turns it into a Partial ``WindowGroupLimit``
below the host exchange (each map task keeps its first K rows per host
in rank order) and a Final one above it, so rows past the horizon never
leave their map task and a hot host ships at most K rows per map
partition: one window, one shuffle. Spark applies the limit only while
K ≤ ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000);
above it the window runs unlimited, and ``schedule`` logs that on the
``pegasus_spark`` logger. ``min_delay_ms = 0`` (no politeness floor)
gives no bound, so the exact window then runs unpruned.

The output is the selection alone, each row with its exact
``rn``/``fetch_vt``; deferred rows are not returned.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F

_RANK_KEY = ("priority", "discovered_round", "url_hash")
log = logging.getLogger("pegasus_spark")


def schedule(
    pending: DataFrame,
    host_state: DataFrame,
    round_start: int,
    round_end: int,
    min_delay_ms: int,
    prune: bool = True,
) -> DataFrame:
    """The round's selection: pending URLs with ``fetch_vt < round_end``,
    annotated with (rn, delay_ms, fetch_vt, selected).

    ``pending`` must carry: url, url_hash, host, priority,
    discovered_round, crawl_delay_ms (nullable). ``host_state``:
    host, next_vt. Output has one row per SELECTED pending row, with its
    exact rn/fetch_vt; ``selected`` is always true (kept for callers
    that filter on it).

    ``prune=True`` adds the ``rn <= ⌈W/min_delay_ms⌉`` bound that Spark
    plans as a map-side group limit (module docstring); ``prune=False``
    runs the plain window, with no per-map-task sort. The output is
    identical either way (the bound never drops a selectable row).
    """
    delay = F.greatest(
        F.lit(min_delay_ms).cast("long"),
        F.coalesce(F.col("crawl_delay_ms"), F.lit(0)).cast("long"),
    )
    w = Window.partitionBy("host").orderBy(*_RANK_KEY)
    ranked = pending.withColumn("delay_ms", delay).withColumn("rn", F.row_number().over(w))
    if prune and min_delay_ms > 0:
        k = -(-(round_end - round_start) // min_delay_ms)
        key = "spark.sql.optimizer.windowGroupLimitThreshold"
        limit_max = int(pending.sparkSession.conf.get(key))
        if k > limit_max:
            log.debug("politeness horizon %d rows per host exceeds %s=%d; "
                      "the host window runs without a map-side group limit",
                      k, key, limit_max)
        ranked = ranked.filter(F.col("rn") <= F.lit(k))
    # the host clock only shifts t0, so it joins after the window: the
    # host join sees the bounded rows, and a shuffle it needs cannot
    # move a host's rows ahead of the group limit
    t0 = F.greatest(F.lit(round_start).cast("long"),
                    F.coalesce(F.col("next_vt"), F.lit(0)).cast("long"))
    return (
        ranked.join(host_state, "host", "left")
        .withColumn("t0", t0)
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
