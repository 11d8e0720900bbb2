"""Catalog unit tests: atomic versioned commits, empty reads, time travel."""

import pyarrow as pa
import pytest

from pegasus_spark.tables import CheckpointStore, ManifestCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return ManifestCatalog(spark, str(tmp_path / "cat"))


def test_empty_table_has_schema(spark, cat):
    cat.create("t", "a long, b string")
    df = cat.read("t")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def _max_job_id(spark) -> int:
    seq = spark._jsparkSession.sparkContext().statusStore().jobsList(None)
    return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1)


def test_empty_reads_run_no_job(spark, cat):
    """A never-written table, plain or bucketed, reads as a relation the
    optimizer knows is empty: collecting it submits no Spark job, its
    plan holds no (Python) RDD scan, and a join against it is pruned at
    plan time."""
    cat.create("t", "a long, b string")
    cat.create("u", "url_hash long", bucket_by=("url_hash", 4))
    for df in (cat.read("t"), cat.read("u")):
        before = _max_job_id(spark)
        assert df.collect() == []
        assert _max_job_id(spark) == before
        assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    big = spark.range(10).selectExpr("id as url_hash")
    for how in ("inner", "left_anti"):
        plan = big.join(cat.read("u"), "url_hash", how) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan


def test_bucketed_read_over_many_commits_runs_no_job(spark, cat):
    """Building and planning the read of a B=8 table over 10 commits
    submits no Spark job: the read lists one dir per commit, under
    Spark's parallel-listing threshold of 32 paths."""
    cat.create("t", "url_hash long", bucket_by=("url_hash", 8))
    for i in range(10):
        cat.append("t", spark.range(i * 50, (i + 1) * 50).selectExpr("xxhash64(id) as url_hash"))
    before = _max_job_id(spark)
    cat.read("t")._jdf.queryExecution().executedPlan()
    assert _max_job_id(spark) == before
    assert cat.read("t").count() == 500


def test_old_bucket_layout_raises(spark, cat):
    """A bucketed manifest written in the older ``_bucket=<b>`` directory
    layout (no ``bucket_layout`` property) is refused by name, on read
    and on write, instead of being read as Spark bucket files."""
    import json
    import os

    cat.create("t", "a long", bucket_by=("a", 4))
    d = os.path.join(cat._tdir("t"), "data", "old")
    spark.range(8).selectExpr("id as a", "cast(pmod(id, 4) as int) as _bucket") \
        .write.partitionBy("_bucket").parquet(d)
    m = cat._manifest("t")
    del m["bucket_layout"]
    cat._commit("t", dict(m, version=1, dirs=[d], parent=0))
    assert any(leaf.startswith("_bucket=") for leaf in os.listdir(d))
    with pytest.raises(ValueError, match="_bucket=<b>"):
        cat.read("t")
    with pytest.raises(ValueError, match="_bucket=<b>"):
        cat.append("t", spark.range(2).selectExpr("id as a"))
    assert json.load(open(cat._mpath("t", 1)))["dirs"] == [d]


def test_append_versions_and_time_travel(spark, cat):
    cat.create("t", "a long")
    v1 = cat.append("t", spark.range(3).selectExpr("id as a"))
    v2 = cat.append("t", spark.range(2).selectExpr("id + 10 as a"))
    assert (v1, v2) == (1, 2)
    assert cat.read("t").count() == 5
    assert cat.read("t", version=v1).count() == 3
    assert cat.read("t", version=0).count() == 0


def test_overwrite_replaces(spark, cat):
    cat.create("t", "a long")
    cat.append("t", spark.range(5).selectExpr("id as a"))
    cat.overwrite("t", spark.range(2).selectExpr("id as a"))
    assert cat.read("t").count() == 2


def test_restore_rolls_back(spark, cat):
    cat.create("t", "a long")
    cat.append("t", spark.range(3).selectExpr("id as a"))
    snap = cat.snapshot(["t"])
    cat.append("t", spark.range(4).selectExpr("id as a"))
    assert cat.read("t").count() == 7
    cat.restore(snap)
    assert cat.read("t").count() == 3
    # a new commit after restore branches forward
    cat.append("t", spark.range(1).selectExpr("id as a"))
    assert cat.read("t").count() == 4


def test_create_idempotent(spark, cat):
    cat.create("t", "a long")
    cat.append("t", spark.range(3).selectExpr("id as a"))
    cat.create("t", "a long")  # no-op, keeps data
    assert cat.read("t").count() == 3


def test_local_append_roundtrips_through_spark(spark, cat):
    cat.create("m", "x int, y long")
    t = pa.table({"x": pa.array([1, 2], pa.int32()), "y": pa.array([10, 20], pa.int64())})
    cat.append_local("m", t)
    got = cat.read("m").toPandas().sort_values("x")
    assert list(got["y"]) == [10, 20]


def test_checkpoint_store(tmp_path):
    ck = CheckpointStore(str(tmp_path))
    assert ck.latest() is None
    ck.save(0, {"visited": 5, "stopped": False})
    ck.save(1, {"visited": 9, "stopped": True})
    assert ck.latest()["round"] == 1
    assert ck.latest()["visited"] == 9


def test_append_writer_options_reach_parquet(spark, cat, tmp_path):
    """Blob-table writer shape (CrawlConfig.corpus_write_options):
    append(options=...) must reach the parquet writer — bounded row
    groups and NO dictionary encoding for the blob column."""
    import glob

    import pyarrow.parquet as pq

    from pegasus_spark.config import CrawlConfig

    import numpy as np

    cat.create("blobs", "id long, blob binary")
    rng = np.random.default_rng(3)
    # incompressible payloads so the 16 MB row-group bound actually trips
    # (snappy-compressed buffered size is what the writer checks)
    rows = [(i, rng.integers(0, 256, 4096, dtype=np.uint8).tobytes())
            for i in range(10_000)]
    df = spark.createDataFrame(rows, "id long, blob binary").coalesce(1)
    opts = CrawlConfig(web_dir="", job_dir="").corpus_write_options
    cat.append("blobs", df, options=opts)
    f = glob.glob(str(cat._tdir("blobs")) + "/data/*/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    # 10k rows x 4 KB = ~40 MB raw -> >1 row group at the 16 MB bound
    assert md.num_row_groups > 1, md.num_row_groups
    for g in range(md.num_row_groups):
        encs = md.row_group(g).column(1).encodings
        assert not any("DICTIONARY" in e for e in encs), encs


def test_table_write_options_survive_compaction(spark, cat, tmp_path):
    """write_options as a TABLE property (create(write_options=...)):
    every writer — plain appends AND compact()'s rewrites — must honor
    the blob shape, so compacted corpus dirs keep bounded row groups and
    no dictionary encoding (ADVICE r4 #2: compact() previously reverted
    them to the 128 MB/dictionary default)."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    from pegasus_spark.config import CrawlConfig

    opts = CrawlConfig(web_dir="", job_dir="").corpus_write_options
    cat.create("blobs2", "id long, blob binary", write_options=opts)
    rng = np.random.default_rng(7)
    for c in range(4):  # 4 commits -> compaction target 1 merges all
        rows = [(c * 10_000 + i,
                 rng.integers(0, 256, 4096, dtype=np.uint8).tobytes())
                for i in range(6_000)]
        # NO per-call options: the table property must apply by itself
        cat.append("blobs2", spark.createDataFrame(
            rows, "id long, blob binary").coalesce(1))
    v = cat.compact("blobs2", target_dirs=1)
    m = cat._manifest("blobs2", v)
    assert len(m["dirs"]) == 1
    files = glob.glob(m["dirs"][0] + "/*.parquet")
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            # dictionary OFF + bounded groups: both come from the table
            # property (the 128 MB/dictionary default would dictionary-
            # encode the blob column and buffer up to 128 MB per group)
            encs = rg.column(1).encodings
            assert not any("DICTIONARY" in e for e in encs), encs
            comp = sum(rg.column(c).total_compressed_size
                       for c in range(rg.num_columns))
            assert comp < 20 * 1024 * 1024, comp


def test_bucketed_read_missing_commit_dir_raises(spark, cat):
    """A commit dir listed in a bucketed table's manifest but gone from
    disk is a lost commit: read() must fail, not return fewer rows (nor
    register it as a partition, which would recreate it empty). A commit
    with no rows in some buckets, or none at all, stays legitimate."""
    import os
    import shutil

    cat.create("t", "a long", bucket_by=("a", 4))
    cat.append("t", spark.range(8).selectExpr("id as a"))
    cat.append("t", spark.range(8, 9).selectExpr("id as a"))  # one bucket
    cat.append("t", spark.range(0).selectExpr("id as a"))  # no rows
    assert cat.read("t").count() == 9
    lost = cat._manifest("t")["dirs"][0]
    shutil.rmtree(lost)
    with pytest.raises(FileNotFoundError, match="missing"):
        cat.read("t")
    assert not os.path.exists(lost)
