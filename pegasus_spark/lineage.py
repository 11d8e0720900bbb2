"""Release of ``localCheckpoint`` blocks, shared by the crawl round and the
iterative graph operators.

``DataFrame.unpersist()`` is a no-op on a checkpointed DataFrame: its
blocks belong to the RDD under the LogicalRDD root, not to a cached
plan. Loops that checkpoint every round or iteration would otherwise
hold every checkpoint in executor storage until driver GC reaches it.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

log = logging.getLogger("pegasus_spark")
_fallback_logged = False


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
