"""Release of ``localCheckpoint`` blocks, shared by the crawl round and the
iterative graph operators.

``DataFrame.unpersist()`` is a no-op on a checkpointed DataFrame: its
blocks belong to the RDD under the LogicalRDD root, not to a cached
plan. Loops that checkpoint every round or iteration would otherwise
hold every checkpoint in executor storage until driver GC reaches it.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def free_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint(eager=True)``'s cached
    blocks. The checkpointed Dataset's analyzed plan is a LogicalRDD
    whose ``rdd`` field is exactly the persisted RDD; unpersist it
    non-blocking. Failure is harmless — Spark's ContextCleaner
    unpersists the RDD anyway once the driver-side reference is
    garbage-collected."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:
        pass
