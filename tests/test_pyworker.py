"""Python-worker import-cache fix (``tbl_spark.pyworker``).

Every PySpark task calls ``importlib.invalidate_caches()``; on CPython
< 3.13 each ``zipimporter`` then re-parses its archive's whole central
directory. Importing ``tbl_spark`` installs a wrapper that re-reads an
archive only when its stat key changed since the last read.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import tbl_spark  # noqa: F401 — importing the package installs the wrapper

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads on 3.13+")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@needs_eager_reread
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, {"zpkg/__init__.py": "",
                         "zpkg/a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        import zpkg.a
        assert zpkg.a.VALUE == 1
        # one importer for the archive root, one for the zpkg/ prefix
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)
                     and f.archive == archive]
        assert len(importers) >= 2

        reads = []
        original = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return original(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        # no stat key is recorded until the first invalidation reads once
        importlib.invalidate_caches()
        reads.clear()
        for _ in range(20):
            importlib.invalidate_caches()
        assert reads == [], f"{len(reads)} re-reads of an unchanged archive"

        # a rewritten archive (new size) must still be re-read
        _write_zip(archive, {"zpkg/__init__.py": "",
                             "zpkg/a.py": "VALUE = 1\n",
                             "zpkg/b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads, "changed archive was not re-read"
        import zpkg.b
        assert zpkg.b.VALUE == 2

        # a corrupt archive stays unreadable, however often it is
        # invalidated: a new importer for it must still refuse it
        with open(archive, "wb") as f:
            f.write(b"not a zip archive")
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        with pytest.raises(zipimport.ZipImportError):
            zipimport.zipimporter(archive)
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(archive)]:
            del sys.path_importer_cache[key]


@needs_eager_reread
def test_spark_worker_runs_wrapped_invalidate(spark):
    import pyarrow as pa

    def probe(batches):
        import importlib
        import os
        import zipimport

        import tbl_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()   # records keys on a fresh worker
            first = len(reads)
            importlib.invalidate_caches()   # what every later task does
        finally:
            zipimport._read_directory = original
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [hasattr(zipimport.zipimporter.invalidate_caches,
                                  "__wrapped__")],
            "rereads": [len(reads) - first]})

    schema = "pid long, installed boolean, rereads long"
    rows = []
    for _ in range(2):
        df = spark.range(0, 4, numPartitions=2).mapInArrow(probe, schema)
        rows += df.collect()
    assert len(rows) == 4
    assert all(r.installed for r in rows), rows
    assert all(r.rereads == 0 for r in rows), rows
