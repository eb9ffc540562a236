"""The Python-worker daemon shim (``mapreduce__spark.worker_daemon``).

On Python < 3.13 it backports CPython 3.13's lazy ``zipimporter``
invalidation into every worker. The unit tests apply the patch to this
process against a zip under ``tmp_path`` and restore ``zipimporter``
afterwards; the worker tests run on the shared session. No assertion here
depends on timing.
"""

from __future__ import annotations

import importlib
import struct
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from mapreduce__spark import worker_daemon
from mapreduce__spark.session import WORKER_DAEMON

ROOT = Path(__file__).resolve().parents[1]
PATCHED = sys.version_info < (3, 13)
# the module that owns zipimporter.invalidate_caches once the patch is in
OWNER = WORKER_DAEMON if PATCHED else "zipimport"


@pytest.fixture
def lazy_zipimport():
    """Apply the backport for one test, then put ``zipimporter`` back."""
    cls = zipimport.zipimporter
    saved = cls.__dict__["invalidate_caches"]
    worker_daemon.install()
    yield
    if "_files" in cls.__dict__:
        del cls._files
    cls.invalidate_caches = saved


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding modules ``graft_probe_a``/``_b``;
    returns a writer that (re)writes it in place."""
    archive = tmp_path / "probe.zip"

    def write(value: int) -> Path:
        with zipfile.ZipFile(archive, "w") as zf:
            # a value-sized first entry moves the modules' offsets on a
            # rewrite, so a stale directory cannot read them
            zf.writestr("pad.txt", "#" * value)
            zf.writestr("graft_probe_a.py", f"VALUE = {value}\n")
            zf.writestr("graft_probe_b.py", "VALUE = 0\n")
        return archive

    write(1)
    monkeypatch.syspath_prepend(str(archive))
    yield write
    for name in ("graft_probe_a", "graft_probe_b"):
        sys.modules.pop(name, None)
    # importers made under the patch keep no _files of their own
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def _count_directory_reads(monkeypatch) -> list[str]:
    calls: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


@pytest.mark.skipif(not PATCHED, reason="Python 3.13+ invalidates lazily")
def test_stock_invalidate_rereads_the_directory(probe_zip, monkeypatch):
    archive = str(probe_zip(1))
    importlib.import_module("graft_probe_a")
    calls = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    assert archive in calls


def test_invalidate_caches_reads_no_directory(lazy_zipimport, probe_zip, monkeypatch):
    archive = str(probe_zip(1))
    assert importlib.import_module("graft_probe_a").VALUE == 1
    calls = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []
    # the next lookup reads the directory once, lazily
    assert importlib.import_module("graft_probe_b").VALUE == 0
    assert calls == [archive]


def test_rewritten_archive_serves_new_content(lazy_zipimport, probe_zip):
    assert importlib.import_module("graft_probe_a").VALUE == 1
    probe_zip(7)
    sys.modules.pop("graft_probe_a")
    importlib.invalidate_caches()
    assert importlib.import_module("graft_probe_a").VALUE == 7


def test_deleted_archive_raises_import_error(lazy_zipimport, probe_zip):
    assert importlib.import_module("graft_probe_a").VALUE == 1
    probe_zip(1).unlink()
    sys.modules.pop("graft_probe_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("graft_probe_a")


def test_import_writes_nothing_to_stdout():
    res = subprocess.run(
        [sys.executable, "-c", f"import {WORKER_DAEMON}"],
        capture_output=True, cwd=ROOT, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-800:]
    assert res.stdout == b""


def test_daemon_stdout_is_its_port_and_closing_stdin_stops_it():
    """What the JVM relies on: ``python -m <daemon> <worker module>``
    writes exactly one 4-byte port and exits when stdin closes (with
    ``pyspark.daemon``'s own status, 1, from its ``finally``)."""
    proc = subprocess.Popen(
        [sys.executable, "-m", WORKER_DAEMON, "pyspark.worker"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        cwd=ROOT,
    )
    try:
        (port,) = struct.unpack("!i", proc.stdout.read(4))
        assert 0 < port < 65536
        proc.stdin.close()
        proc.wait(timeout=60)
        assert proc.stdout.read() == b""
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def _in_worker(spark, fn, schema: str) -> list:
    """Run ``fn()`` in one Python worker; returns its row."""

    def run(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame([fn()])

    return list(spark.range(1, numPartitions=1).mapInPandas(run, schema).first())


def test_workers_run_the_patched_zipimporter(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON

    def owner():
        import zipimport

        return {"owner": zipimport.zipimporter.invalidate_caches.__module__}

    assert _in_worker(spark, owner, "owner string") == [OWNER]


def test_pyfile_added_after_workers_start_is_importable(spark, tmp_path):
    """PySpark invalidates the import caches per task so that a zip shipped
    with ``addPyFile`` mid-session is found; the lazy form must keep that."""
    _in_worker(spark, lambda: {"v": 0}, "v long")  # workers are up
    archive = tmp_path / "graft_late_dep.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("graft_late_dep.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(archive))

    def late():
        import graft_late_dep

        return {"v": graft_late_dep.VALUE + 1}

    assert _in_worker(spark, late, "v long") == [42]
