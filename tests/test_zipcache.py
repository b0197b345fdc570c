"""The package's stat-checked ``zipimporter.invalidate_caches``.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; on Python < 3.12 the stdlib method re-reads every zip archive on
``sys.path``. Importing the package makes an unchanged archive cost one
``stat`` instead, while a changed archive is still re-read.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mhtml_to_html_spark import _zipcache

EAGER_STDLIB = sys.version_info < (3, 12)


class _CountReads:
    """Counts ``zipimport._read_directory`` calls, per archive."""

    def __enter__(self):
        self.archives = []
        self._orig = zipimport._read_directory

        def counting(archive):
            self.archives.append(archive)
            return self._orig(archive)

        zipimport._read_directory = counting
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self._orig


def _write_zip(path, members):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    os.replace(tmp, path)


def test_install_is_idempotent():
    _zipcache.install()
    _zipcache.install()
    method = zipimport.zipimporter.invalidate_caches
    if EAGER_STDLIB:
        assert method is _zipcache._invalidate_caches
        assert _zipcache._eager is not _zipcache._invalidate_caches
    else:
        assert method is not _zipcache._invalidate_caches


@pytest.mark.skipif(not EAGER_STDLIB, reason="the stdlib re-reads lazily from 3.12")
def test_changed_archive_is_reread_and_unchanged_one_is_not(tmp_path):
    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, {"zc_probe_a.py": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_probe_a").VALUE == "a"
        _write_zip(
            archive, {"zc_probe_a.py": "VALUE = 'a'\n", "zc_probe_b.py": "VALUE = 'b'\n"}
        )
        with _CountReads() as changed:
            importlib.invalidate_caches()
        assert archive in changed.archives
        assert importlib.import_module("zc_probe_b").VALUE == "b"

        with _CountReads() as unchanged:
            importlib.invalidate_caches()
        assert unchanged.archives == []
        # the importer still finds what the cached directory holds
        sys.modules.pop("zc_probe_b")
        assert importlib.import_module("zc_probe_b").VALUE == "b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _zipcache._stamps.pop(archive, None)
        for name in ("zc_probe_a", "zc_probe_b"):
            sys.modules.pop(name, None)


@pytest.mark.spark
def test_python_worker_skips_unchanged_archives(spark):
    """A task that imports the package re-reads no archive on the next
    ``invalidate_caches()``, the call pyspark makes before each task."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import mhtml_to_html_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()  # the next task's set-up
        reads = [0]
        orig = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [reads[0]], "importers": [importers]})

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(probe, "reads int, importers int")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.importers > 0 for r in rows), "no zip archive on the worker's path"
    if EAGER_STDLIB:
        assert [r.reads for r in rows] == [0, 0]
