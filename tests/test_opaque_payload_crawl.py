"""A crawl with payload validation off over a web with undecodable pages.

With ``validate_payloads=False`` the engine does not decode what it
fetches: every fetched row, image or opaque ``fmt='bin'`` blob, is
committed to the corpus as-is with per-row status. This is the only
crawl that runs that branch of ``fetch_and_validate``.
"""

import shutil
import tempfile

from pyspark.sql import functions as F

from pegasus_spark.config import CrawlConfig
from pegasus_spark.crawl import crawl
from pegasus_spark.fixtures import WebParams, generate_web, write_web
from pegasus_spark.tables import ManifestCatalog


def test_crawl_without_validation_keeps_opaque_payloads(spark):
    web = generate_web(WebParams(seed=43, n_pages=80, n_hosts=4,
                                 fanout=2.5, n_seeds=4,
                                 disallow_host_frac=0.0, opaque_frac=0.3))
    tmp = tempfile.mkdtemp()
    try:
        write_web(web, f"{tmp}/web")
        cfg = CrawlConfig(web_dir=f"{tmp}/web", job_dir=f"{tmp}/job",
                          min_delay_ms=1000, seen_parts=4, host_buckets=8,
                          validate_payloads=False)
        res = crawl(spark, cfg)
        assert res.stop_reason == "exhausted"

        corpus = ManifestCatalog(spark, f"{tmp}/job").read("corpus")
        assert corpus.where(F.col("fmt") == "bin").count() > 0, \
            "opaque payloads were not crawled"
        fetched = corpus.where(F.col("bytes").isNotNull())
        bad = fetched.where((F.col("fetch_status") != "ok")
                            | ~F.coalesce(F.col("valid"), F.lit(False)))
        assert fetched.count() > 0 and bad.count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
