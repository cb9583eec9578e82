"""Python-worker import-cache fix (``tbl_spark.pyworker``).

Every PySpark task calls ``importlib.invalidate_caches()``; on CPython
< 3.13 each ``zipimporter`` then re-parses its archive's whole central
directory. Importing ``tbl_spark`` installs a wrapper that re-reads an
archive only when its stat key changed since the last read, and
``get_spark``'s worker daemon (``tbl_spark._daemon``) installs it before
any worker is forked.
"""

from __future__ import annotations

import importlib
import json
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


@pytest.fixture
def fresh_workers(spark):
    """Workers forked by a new daemon: Spark keys its Python worker
    daemons by environment, so a unique variable gives this test workers
    that no earlier task (and no earlier ``import tbl_spark``) touched."""
    import uuid
    env = spark.sparkContext.environment
    env["TBL_SPARK_PROBE"] = uuid.uuid4().hex
    try:
        yield spark
    finally:
        del env["TBL_SPARK_PROBE"]


def _worker_state_probe():
    """A probe that never imports ``tbl_spark``: (pid, wrapper installed,
    directory reads of two invalidations after the task's own). Nested,
    so cloudpickle ships it by value and no test module is imported in
    the worker."""
    def state():
        import importlib
        import os
        import zipimport

        reads = []
        original = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        installed = hasattr(zipimport.zipimporter.invalidate_caches,
                            "__wrapped__")
        return os.getpid(), installed, len(reads)
    return state


def _assert_every_worker_fast(rows):
    assert rows and all(installed for _, installed, _ in rows), rows
    assert all(reads == 0 for _, _, reads in rows), rows


@needs_eager_reread
def test_python_rdd_workers_fork_with_wrapper(fresh_workers):
    state = _worker_state_probe()
    sc = fresh_workers.sparkContext
    rows = []
    for _ in range(2):
        rows += sc.parallelize(range(4), 4).mapPartitions(
            lambda it: [state()]).collect()
    assert len(rows) == 8
    _assert_every_worker_fast(rows)


@needs_eager_reread
def test_udf_without_tbl_spark_import_forks_with_wrapper(fresh_workers):
    state = _worker_state_probe()

    def probe(batches):
        import pyarrow as pa
        for _ in batches:
            pass
        pid, installed, reads = state()
        yield pa.RecordBatch.from_pydict(
            {"pid": [pid], "installed": [installed], "reads": [reads]})

    rows = []
    for _ in range(2):
        df = fresh_workers.range(0, 4, numPartitions=4).mapInArrow(
            probe, "pid long, installed boolean, reads long")
        rows += [tuple(r) for r in df.collect()]
    assert len(rows) == 8
    _assert_every_worker_fast(rows)


def test_directory_install_sets_daemon_module(spark, caplog):
    from tbl_spark.session import DAEMON_MODULE, daemon_module
    with caplog.at_level("WARNING", logger="tbl_spark"):
        assert daemon_module() == DAEMON_MODULE
    assert not caplog.records
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE


def test_zip_install_keeps_default_daemon(tmp_path):
    """A ``tbl_spark`` shipped as a ``--py-files`` zip keeps Spark's
    default daemon, logs why once, and its Python tasks still run."""
    import os
    import shutil
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    archive = tmp_path / "tbl_spark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(repo, "tbl_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    job = tmp_path / "job.py"
    job.write_text(
        "import json\n"
        "from tbl_spark.session import get_spark\n"
        "spark = get_spark(cores=1, shuffle_partitions=1)\n"
        "def where(_):\n"
        "    import tbl_spark\n"
        "    yield tbl_spark.__file__\n"
        "files = spark.sparkContext.parallelize([0], 1)"
        ".mapPartitions(where).collect()\n"
        "daemon = spark.sparkContext.getConf()"
        ".get('spark.python.daemon.module', None)\n"
        "print(json.dumps({'daemon': daemon, 'files': files}))\n"
        "spark.stop()\n")
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [spark_submit, "--master", "local[1]", "--py-files", str(archive),
         "--conf", "spark.ui.showConsoleProgress=false", str(job)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    # spark-submit merges the Python driver's stderr into its stdout
    lines = proc.stdout.splitlines()
    out = json.loads([line for line in lines if line.startswith("{")][-1])
    assert out["daemon"] is None
    assert len(out["files"]) == 1 and ".zip" in out["files"][0]
    warnings = [line for line in lines
                if "keep Spark's default daemon" in line]
    assert len(warnings) == 1, proc.stdout[-4000:]


def test_reused_workers_freeze_their_import_heap(fresh_workers):
    """A fresh worker's first task imports pyarrow and pyspark's worker
    stack; the daemon's wrapper then freezes what survived, so a reused
    worker's per-task collection no longer scans that heap."""
    def probe(batches):
        import gc
        import os

        import pyarrow as pa
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "frozen": [gc.get_freeze_count()]})

    runs = []
    for _ in range(2):
        df = fresh_workers.range(0, 4, numPartitions=4).mapInArrow(
            probe, "pid long, frozen long")
        runs.append([tuple(r) for r in df.collect()])
    assert len(runs[1]) == 4
    assert all(frozen > 0 for _, frozen in runs[1]), runs


_FREEZE_PROBE = """
import gc, io, json, sys, weakref
sys.path[:0] = [{repo!r}, {mods!r}]
from tbl_spark._daemon import _freeze_after_imports

gc.disable()          # only explicit collections run from here on
gc.collect()
events = []
gc.callbacks.append(
    lambda phase, info: phase == "start" and events.append("gc"))
out = {{}}

class Sink(io.RawIOBase):
    def writable(self):
        return True

    def write(self, b):
        events.append("write")
        return len(b)

def importing(infile, outfile):
    import fresh_a  # noqa: F401
    outfile.write(b"task output")

class Node:
    pass

fired = []

def cyclic(infile, outfile):
    node = Node()
    node.self = node
    weakref.finalize(node, fired.append, True)

reused = _freeze_after_imports(importing, True)
reused(io.BytesIO(), io.BufferedWriter(Sink()))
out["frozen_after_import"] = gc.get_freeze_count()
out["events_after_import"] = events[:]

_freeze_after_imports(cyclic, True)(io.BytesIO(), io.BytesIO())
out["frozen_after_plain"] = gc.get_freeze_count()
out["fired_before_collect"] = bool(fired)
gc.collect()
out["fired_after_collect"] = bool(fired)

gc.unfreeze()
del events[:]
def importing_b(infile, outfile):
    import fresh_b  # noqa: F401

_freeze_after_imports(importing_b, False)(io.BytesIO(), io.BytesIO())
out["fresh_b_imported"] = "fresh_b" in sys.modules
out["frozen_not_reused"] = gc.get_freeze_count()
out["events_not_reused"] = len(events)
print(json.dumps(out))
"""


def test_freeze_after_imports_wrapper(tmp_path):
    """Run in a subprocess, so this test process's heap is never frozen."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mods = tmp_path / "mods"
    mods.mkdir()
    (mods / "fresh_a.py").write_text("TABLE = [{'k': i} for i in range(9)]\n")
    (mods / "fresh_b.py").write_text("VALUE = 2\n")
    proc = subprocess.run(
        [sys.executable, "-c",
         _FREEZE_PROBE.format(repo=repo, mods=str(mods))],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    # a task that imported a module: its output is flushed, then one
    # collection runs, then the freeze
    assert out["frozen_after_import"] > 0
    assert out["events_after_import"] == ["write", "gc"]
    # a task that imported nothing: no new freeze, and the cycle it left
    # is still garbage that the next collection frees
    assert out["frozen_after_plain"] == out["frozen_after_import"]
    assert not out["fired_before_collect"]
    assert out["fired_after_collect"]
    # a worker that is not reused: nothing collected or frozen
    assert out["fresh_b_imported"]
    assert out["frozen_not_reused"] == 0
    assert out["events_not_reused"] == 0


def test_daemon_wraps_worker_main_or_warns(monkeypatch, caplog):
    from pyspark import daemon

    from tbl_spark import _daemon

    original = daemon.worker_main
    # recorded first, so the undo puts the unwrapped function back last
    monkeypatch.setattr(daemon, "worker_main", original)
    monkeypatch.setattr(daemon, "manager", lambda: None)
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    with caplog.at_level("WARNING", logger="tbl_spark"):
        _daemon.main()
        assert daemon.worker_main is not original
        assert not caplog.records
        monkeypatch.delattr(daemon, "worker_main")
        _daemon.main()
    assert not hasattr(daemon, "worker_main")
    assert [r.levelname for r in caplog.records] == ["WARNING"]
    assert "worker_main" in caplog.records[0].getMessage()
