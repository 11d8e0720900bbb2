"""Lineage helpers shared by the crawl round, the seen set and the
iterative graph operators: release of ``localCheckpoint`` blocks, and
``Observation`` reads that fall back to an aggregate job.

``DataFrame.unpersist()`` is a no-op on a checkpointed DataFrame: its
blocks belong to the RDD under the LogicalRDD root, not to a cached
plan. Loops that checkpoint every round or iteration would otherwise
hold every checkpoint in executor storage until driver GC reaches it.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation

log = logging.getLogger("pegasus_spark")
_fallback_logged = False


def _obs_get(obs: Observation, fallback):
    """Observation.get, tolerant of empty-relation propagation: when a
    plan collapses to an empty LocalRelation (statically empty table
    reads, or AQE at run time), the CollectMetrics node can be optimized
    away and `get` raises — fall back to a (trivially cheap, because
    empty) aggregate job, and say so on the ``pegasus_spark`` logger."""
    try:
        return obs.get
    except Exception as e:
        log.debug("observation unavailable (%s); running its aggregate job instead",
                  type(e).__name__)
        return fallback()


def free_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint(eager=True)``'s cached
    blocks. The checkpointed Dataset's analyzed plan is a LogicalRDD
    whose ``rdd`` field is exactly the persisted RDD; unpersist it
    non-blocking. Failure is harmless — Spark's ContextCleaner
    unpersists the RDD anyway once the driver-side reference is
    garbage-collected — but it is logged once, so a Spark version whose
    analyzed plan is not a bare LogicalRDD shows up."""
    global _fallback_logged
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError as e:
        if not _fallback_logged:
            _fallback_logged = True
            log.debug("free_checkpoint: cannot reach the checkpoint RDD (%s); "
                      "leaving its blocks to Spark's ContextCleaner", type(e).__name__)
