"""The worker daemon re-reads a zip archive's directory only when it changed.

Every Python task calls ``importlib.invalidate_caches()``; on CPython
< 3.13 the stock ``zipimporter.invalidate_caches`` re-reads the whole
directory of every archive on the worker's ``sys.path`` each time.
"""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from sbs_suptech_etl_v2_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zip directories lazily itself",
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


def test_invalidation_rereads_a_changed_archive_once_for_all_importers(
    tmp_path, monkeypatch
):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/a.py": "A = 1\n"})
    # both importers share the archive's one cached directory
    root = zipimport.zipimporter(str(archive))
    pkg = zipimport.zipimporter(str(archive / "pkg"))

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.lazy_invalidation(zipimport.zipimporter.invalidate_caches),
    )

    # the first sight of an archive reads it once and stamps it
    root.invalidate_caches()
    pkg.invalidate_caches()
    assert len(reads) == 1

    reads.clear()
    root_files, pkg_files = root._files, pkg._files
    root.invalidate_caches()
    pkg.invalidate_caches()
    assert reads == []
    assert root._files is root_files and pkg._files is pkg_files

    _write_zip(archive, {"pkg/__init__.py": "", "pkg/a.py": "A = 1\n", "pkg/b.py": "B = 2\n"})
    pkg.invalidate_caches()
    root.invalidate_caches()
    assert reads == [str(archive)]
    assert pkg.find_spec("pkg.b") is not None
    assert root.find_spec("pkg") is not None
    assert "pkg/b.py" in root._files


def test_python_task_rereads_no_zip_archive(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        importers = [
            v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)
        ]
        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        yield len(importers), len(reads)

    [(importers, reads)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    # pyspark.zip and the spark-core jar are on every worker's sys.path
    assert importers > 0
    assert reads == 0
