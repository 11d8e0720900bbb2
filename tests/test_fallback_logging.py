"""Silent fallbacks are logged on the ``pegasus_spark`` logger."""

import logging

from py4j.protocol import Py4JError
from pyspark.sql import Observation

from pegasus_spark import lineage
from pegasus_spark.lineage import _obs_get


def test_obs_get_fallback_is_logged(spark, caplog):
    # an Observation no action has filled raises on get, as one whose
    # CollectMetrics node the optimizer dropped does
    with caplog.at_level(logging.DEBUG, logger="pegasus_spark"):
        assert _obs_get(Observation(), lambda: {"n": 0}) == {"n": 0}
    assert any("observation unavailable" in r.getMessage() for r in caplog.records)


def test_free_checkpoint_fallback_is_logged_once(caplog, monkeypatch):
    class _Unreachable:
        @property
        def _jdf(self):
            raise Py4JError("no LogicalRDD root")

    monkeypatch.setattr(lineage, "_fallback_logged", False)
    with caplog.at_level(logging.DEBUG, logger="pegasus_spark"):
        lineage.free_checkpoint(_Unreachable())
        lineage.free_checkpoint(_Unreachable())
    assert sum("free_checkpoint" in r.getMessage() for r in caplog.records) == 1
