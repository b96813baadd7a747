"""The zip-directory guard installed by ``import barks_ocr_spark``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython < 3.13 that re-parses the central directory of every
zip archive on ``sys.path`` once per importer; the guard re-reads an
archive only when its ``(mtime_ns, size, inode)`` changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import barks_ocr_spark  # noqa: F401  (installs the guard)

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("zguard_a", "zguard_b"):
        sys.modules.pop(name, None)


def test_guard_is_installed_once():
    first = zipimport.zipimporter.invalidate_caches
    barks_ocr_spark._reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is first
    assert hasattr(first, "stamps") == GUARDED


def test_rewritten_archive_is_reread(zip_on_path):
    _write_zip(zip_on_path, {"zguard_a": "X = 1\n"})
    assert importlib.import_module("zguard_a").X == 1
    importlib.invalidate_caches()  # records the archive's stamp
    _write_zip(zip_on_path, {"zguard_a": "X = 1\n", "zguard_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zguard_b").Y == 2


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zguard_a": "X = 1\n"})
    importlib.import_module("zguard_a")
    importlib.invalidate_caches()
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert sys.path_importer_cache[zip_on_path]._files is (
        zipimport._zip_directory_cache[zip_on_path]
    )


@pytest.mark.skipif(not GUARDED, reason="CPython 3.13 invalidates zip caches lazily")
def test_spark_workers_reuse_the_pyspark_zip_directory(spark):
    import pyarrow as pa

    from barks_ocr_spark.datagen import docs as dg
    from barks_ocr_spark.operators import extraction
    from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA

    pdf = dg.gen_documents(40, seed=5)
    docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SPANS_SCHEMA).repartition(4)
    assert len(extraction.extract(docs).collect()) == 40

    def report(batches):
        # references a package module, as every package kernel does
        assert extraction.__name__
        for _ in batches:
            pass
        archives = [a for a in zipimport._zip_directory_cache if a.endswith("pyspark.zip")]
        same = []
        for archive in archives:
            importlib.invalidate_caches()
            before = zipimport._zip_directory_cache[archive]
            importlib.invalidate_caches()
            same.append(zipimport._zip_directory_cache[archive] is before)
        yield pa.RecordBatch.from_pydict({
            "guard": [hasattr(zipimport.zipimporter.invalidate_caches, "stamps")],
            "archives": [len(archives)],
            "reused": [all(same)],
        })

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(report, "guard boolean, archives long, reused boolean")
        .collect()
    )
    assert len(rows) == 4
    if not any(r.archives for r in rows):
        pytest.skip("the Python workers do not import pyspark from pyspark.zip")
    assert all(r.guard and r.archives and r.reused for r in rows)
