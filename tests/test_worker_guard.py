"""The Python-worker zipimport guard (`pegasus_spark/worker.py`).

PySpark's worker calls `importlib.invalidate_caches()` on every task, which
on CPython 3.11 makes each `zipimporter` re-parse its archive. With the
guard, an unchanged archive is not re-read; a changed or deleted one takes
the stock path.
"""

import importlib
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from pegasus_spark import worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_tasks_reread_no_archive(spark):
    guard = worker._invalidate_caches

    def probe(batches):
        # `guard` is pickled by reference: unpickling this UDF imports
        # pegasus_spark in the worker, as any engine UDF does
        import os
        import time
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        t0 = time.monotonic()
        reads = []
        stock_read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "pid": [os.getpid()], "t": [t0], "reads": [len(reads)],
            "zips": [zips],
            "guarded": [zipimport.zipimporter.invalidate_caches is guard],
        })

    rows = (
        spark.range(0, 16, 1, 16)
        .mapInPandas(probe, "pid long, t double, reads long, zips long, guarded boolean")
        .toPandas()
        .sort_values(["pid", "t"])
    )
    assert len(rows) == 16
    assert rows["guarded"].all()
    # the worker imports from zip archives (pyspark.zip, py4j, the spark-core
    # jar), so a stock invalidate_caches() would re-read them
    assert (rows["zips"] > 0).all()
    later = rows[rows.groupby("pid").cumcount() > 0]
    assert len(later) > 0, "no worker ran a second task"
    assert later["reads"].tolist() == [0] * len(later)


def test_install_is_a_noop_on_the_driver():
    stock = zipimport.zipimporter.invalidate_caches
    assert worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard in this process; restore `zipimport` afterwards.

    Yields the list of archives `_read_directory` is called on.
    """
    stock = zipimport.zipimporter.invalidate_caches
    assert stock is not worker._invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(worker, "_stock", None)
    monkeypatch.setattr(worker, "_keys", {})
    reads = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker.guard_zipimport()
    reads.clear()
    yield reads


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "zg.zip")
    _write_zip(archive, {"zg_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import zg_a

    assert zg_a.X == 1
    yield archive
    for name in ("zg_a", "zg_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_zip_is_not_reread(zip_on_path, guarded):
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)
    guarded.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in guarded


def test_rewritten_zip_is_reread(zip_on_path, guarded):
    _write_zip(zip_on_path, {"zg_a": "X = 1\n", "zg_b": "Y = 2\n"})
    guarded.clear()
    importlib.invalidate_caches()
    assert guarded.count(zip_on_path) == 1
    import zg_b

    assert zg_b.Y == 2
    guarded.clear()
    importlib.invalidate_caches()
    assert zip_on_path not in guarded


def test_deleted_zip_takes_the_stock_path(zip_on_path, guarded):
    importer = sys.path_importer_cache[zip_on_path]
    os.remove(zip_on_path)
    guarded.clear()
    importlib.invalidate_caches()
    assert guarded == [zip_on_path]
    assert importer._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    assert zip_on_path not in worker._keys


def test_second_install_does_not_double_wrap(guarded):
    stock = worker._stock
    worker.guard_zipimport()
    assert zipimport.zipimporter.invalidate_caches is worker._invalidate_caches
    assert worker._stock is stock
    assert stock is not worker._invalidate_caches


def test_pyfiles_zip_is_guarded(tmp_path):
    """The `--py-files` zip of `tools/make_pyfiles.py`, in a fresh interpreter."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    archive = str(tmp_path / "pegasus_spark.zip")
    shutil.copy(make_pyfiles.main(), archive)
    script = textwrap.dedent(f"""
        import importlib, sys, zipimport
        sys.path.insert(0, {archive!r})
        stock = zipimport.zipimporter.invalidate_caches
        import pegasus_spark.hashing
        from pegasus_spark import worker
        assert pegasus_spark.__file__.startswith({archive!r}), pegasus_spark.__file__
        assert zipimport.zipimporter.invalidate_caches is stock  # not a worker
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter) and f.archive == {archive!r}]
        assert len(importers) == 2, importers  # the zip and its package path
        worker.guard_zipimport()
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or stock_read(a)
        importlib.invalidate_caches()
        assert reads == [], reads
        import pegasus_spark.codec
        print("ok")
    """)
    out = subprocess.run([sys.executable, "-I", "-c", script],
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


@pytest.mark.parametrize("make_udf", ["_sig64_udf"])
def test_simops_udf_imports_the_package_when_unpickled(spark, make_udf):
    """The nested pandas UDF of `functions/simops.py` pickles by value. A
    Python worker that unpickles it, in a fresh interpreter, must import
    `pegasus_spark`, whose import installs the guard in a task."""
    from pyspark import cloudpickle

    from pegasus_spark.functions import simops

    fn = getattr(simops, make_udf)(8).func
    blob = cloudpickle.dumps(fn)
    script = textwrap.dedent(f"""
        import pickle, sys
        import numpy as np, pandas as pd
        sys.path.insert(0, {REPO!r})
        assert "pegasus_spark" not in sys.modules
        fn = pickle.loads(sys.stdin.buffer.read())
        assert "pegasus_spark" in sys.modules
        emb = pd.Series([np.linspace(-1, 1, 8) * s for s in (1, -1, 0.5)])
        print(pd.DataFrame(fn(emb)).to_json())
    """)
    out = subprocess.run([sys.executable, "-I", "-c", script], input=blob,
                         capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr.decode()
    import numpy as np
    import pandas as pd

    emb = pd.Series([np.linspace(-1, 1, 8) * s for s in (1, -1, 0.5)])
    assert out.stdout.decode().strip() == pd.DataFrame(fn(emb)).to_json()
