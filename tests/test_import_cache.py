"""A reused Python worker re-reads a zip archive's directory only when
the archive changed (``pdf_to_text_spark._reread_zip_directories_only_when_changed``).

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task; on CPython 3.10–3.12 every zipimporter then re-reads its archive,
which the package stops for archives whose ``(st_mtime_ns, st_size)``
is unchanged."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pdf_to_text_spark  # noqa: F401 — installs the stamp check

pytestmark = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="only CPython 3.10-3.12 re-read zip directories eagerly",
)


def test_worker_invalidate_skips_unchanged_archives(spark):
    """In a Spark worker that has imported the package, the second of
    two invalidates reads no zip directory, though the worker imports
    pyspark from zip archives."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import pdf_to_text_spark  # noqa: F401

        importlib.invalidate_caches()
        orig, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda path: reads.append(path) or orig(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        importers = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        yield len(importers), len(reads)

    [(importers, reads)] = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert importers > 0
    assert reads == 0


def _write_pkg(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("stamped_zip_pkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"stamped_zip_pkg/{name}.py", src)


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    archive = str(tmp_path / "pkg.zip")
    _write_pkg(archive, {"a": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        import stamped_zip_pkg.a

        assert stamped_zip_pkg.a.VALUE == 1
        importlib.invalidate_caches()  # takes the archive's stamp
        orig, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda path: reads.append(path) or orig(path)
        try:
            importlib.invalidate_caches()
            assert archive not in reads, "an unchanged archive was re-read"

            _write_pkg(archive, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"})
            importlib.invalidate_caches()
            assert archive in reads, "a rewritten archive was not re-read"
            import stamped_zip_pkg.b

            assert stamped_zip_pkg.b.VALUE == 2

            os.remove(archive)
            importlib.invalidate_caches()  # a deleted archive does not raise
        finally:
            zipimport._read_directory = orig
    finally:
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for name in [m for m in sys.modules if m.split(".")[0] == "stamped_zip_pkg"]:
            del sys.modules[name]
