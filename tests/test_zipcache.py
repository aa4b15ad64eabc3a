"""aarhus_spark._zipcache: ``importlib.invalidate_caches()`` must not
re-read an unchanged zip archive's directory (PySpark's worker calls it
before every task), must re-read a rewritten one, and must be in place
in the Python workers that ran engine code."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from aarhus_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no wrapper")

MOD = "aarhus_zipcache_probe_mod"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", body)


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """A zip on sys.path holding module MOD, and a list that records
    every read of that zip's directory."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert getattr(before, "_aarhus_keeps_unchanged", False)


def test_unchanged_zip_is_not_reread(zip_module):
    archive, reads = zip_module
    mod = importlib.import_module(MOD)
    assert mod.VALUE == 1
    importlib.invalidate_caches()
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n


def test_rewritten_zip_is_reread(zip_module):
    archive, reads = zip_module
    mod = importlib.import_module(MOD)
    importlib.invalidate_caches()
    n = len(reads)
    _write_zip(archive, "VALUE = 2  # a different size\n")
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.reload(mod).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_python_workers_run_the_wrapper(spark, sf_dir):
    """After an engine op, the reused workers that ran its tasks have
    imported aarhus_spark and so carry the wrapper. The probe is pickled
    by value and imports nothing of the engine itself."""
    from aarhus_spark.harness import _ensure_index
    from aarhus_spark.operators.search import search_topk
    idx = _ensure_index(spark, sf_dir)
    qdf = spark.createDataFrame([(0, "the data")], "query_id long, qtext string")
    search_topk(spark, idx, qdf).collect()

    def probe(batches):
        import os
        import sys as _sys
        import zipimport as _zi

        import pandas as _pd
        for _ in batches:
            yield _pd.DataFrame({
                "pid": [os.getpid()],
                "engine": ["aarhus_spark" in _sys.modules],
                "wrapped": [getattr(_zi.zipimporter.invalidate_caches,
                                    "_aarhus_keeps_unchanged", False)]})

    rows = (spark.range(0, 16, numPartitions=16)
            .mapInPandas(probe, "pid long, engine boolean, wrapped boolean")
            .collect())
    engine = [r for r in rows if r["engine"]]
    assert engine, "no probe task reused a worker that ran engine code"
    assert all(r["wrapped"] for r in engine)
