"""The package's zip-import cache fix (``deepdoc_api_spark/__init__.py``).

Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
archive directory on every call, and PySpark calls
``importlib.invalidate_caches()`` at the start of every Python task.
Importing the package replaces it with a re-read that happens only when
the archive changed. These tests pin both halves of that contract: no
re-read of an unchanged archive, a re-read (and working imports) after
a rewrite, and the replacement being live inside a Spark worker.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

import deepdoc_api_spark

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport re-reads lazily; the package leaves it alone",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, count_reads):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"ddspark_probe_same": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    importer.invalidate_caches()  # first call: this importer reads
    del count_reads[:]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert count_reads == []


def test_rewritten_archive_is_reread_and_imports(tmp_path, count_reads, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"ddspark_probe_old": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("ddspark_probe_old").X == 1
        importlib.invalidate_caches()
        del count_reads[:]
        _write_zip(
            path,
            {"ddspark_probe_old": "X = 1\n", "ddspark_probe_new": "Y = 2\n"},
        )
        importlib.invalidate_caches()
        assert count_reads == [path]
        assert importlib.import_module("ddspark_probe_new").Y == 2
    finally:
        sys.path_importer_cache.pop(path, None)
        for name in ("ddspark_probe_old", "ddspark_probe_new"):
            sys.modules.pop(name, None)


def test_replacement_is_installed_in_spark_workers(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        import deepdoc_api_spark  # noqa: F401

        owner = zipimport.zipimporter.invalidate_caches.__module__
        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([owner] * rb.num_rows)], names=["owner"]
            )

    rows = spark.range(0, 8, 1, 4).mapInArrow(probe, "owner string").collect()
    assert {r.owner for r in rows} == {deepdoc_api_spark.__name__}
