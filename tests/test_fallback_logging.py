"""Silent fallbacks are logged on the ``pegasus_spark`` logger, and a
crawl's start-up conf cap applies without one."""

import logging

from py4j.protocol import Py4JError
from pyspark.sql import Observation

from pegasus_spark import lineage
from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import _make_ctx
from pegasus_spark.fixtures import WebParams, generate_web, write_web
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


def test_crawl_start_caps_plan_string_length(spark, tmp_path):
    """Crawl start-up caps spark.sql.maxPlanStringLength when it is at
    Spark's default (a byte size that reads back as '2147483632b', not
    an int) and keeps a smaller bound the user set."""
    key = "spark.sql.maxPlanStringLength"
    web = str(tmp_path / "web")
    write_web(generate_web(WebParams(seed=3, n_pages=20, n_hosts=2, n_seeds=2)), web)
    try:
        spark.conf.unset(key)
        _make_ctx(spark, CrawlConfig(web_dir=web, job_dir=str(tmp_path / "a")))
        assert spark.conf.get(key) == "200000"
        spark.conf.set(key, "50000")
        _make_ctx(spark, CrawlConfig(web_dir=web, job_dir=str(tmp_path / "b")))
        assert spark.conf.get(key) == "50000"
    finally:
        spark.conf.unset(key)
