"""workerboot: a worker-path zip is re-read only when it changed.

The unit tests run without Spark; each one puts its own temp zip on
``sys.path`` and wraps ``zipimporter.invalidate_caches`` only for the
test's duration.  The last test runs a kernel in the tier-1 session and
checks the wrapper from inside every Python runner invocation."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pandas as pd
import pytest

from image_pdf_ocr_suite_spark import workerboot


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture()
def unwrap_after(monkeypatch):
    """Restore the original ``invalidate_caches`` at teardown."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A temp zip on ``sys.path`` (written by the test); its importer,
    cached directory and modules are dropped at teardown."""
    path = str(tmp_path / "lib.zip")
    monkeypatch.syspath_prepend(path)
    before = set(sys.modules)
    yield path
    for name in set(sys.modules) - before:
        if name.startswith("wb_"):
            del sys.modules[name]
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    calls: list[str] = []
    real = zipimport._read_directory

    def counted(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_rewritten_zip_is_reread(zip_on_path, unwrap_after, monkeypatch):
    path = zip_on_path
    _write_zip(path, {"wb_first": "X = 1"})
    importlib.invalidate_caches()
    assert importlib.import_module("wb_first").X == 1
    workerboot.install()
    size = os.stat(path).st_size
    _write_zip(path, {"wb_first": "X = 1", "wb_added": "Y = 2"})
    assert os.stat(path).st_size != size
    calls = _count_reads(monkeypatch, path)
    importlib.invalidate_caches()
    assert len(calls) == 1
    assert importlib.import_module("wb_added").Y == 2


def test_unchanged_zip_is_not_reread(zip_on_path, unwrap_after, monkeypatch):
    path = zip_on_path
    _write_zip(path, {"wb_a": "A = 1", "wb_b": "B = 2"})
    importlib.invalidate_caches()
    importlib.import_module("wb_a")
    workerboot.install()
    importlib.invalidate_caches()  # the one stamped read
    calls = _count_reads(monkeypatch, path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []
    # the importer still resolves the archive's other modules
    assert importlib.import_module("wb_b").B == 2
    assert sys.path_importer_cache[path]._files \
        is zipimport._zip_directory_cache[path]


def test_deleted_zip_empties_importer(zip_on_path, unwrap_after, monkeypatch):
    path = zip_on_path
    _write_zip(path, {"wb_gone": "G = 1"})
    importlib.invalidate_caches()
    importlib.import_module("wb_gone")
    workerboot.install()
    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


def test_install_twice_wraps_once(unwrap_after):
    original = zipimport.zipimporter.invalidate_caches
    assert not workerboot.installed()
    workerboot.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    workerboot.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is original


def _boot_probe():
    """Kernel reporting, per runner invocation, its pid, whether the
    wrapper is installed, and how many archive directories an in-kernel
    ``importlib.invalidate_caches()`` re-reads.  It references a package
    module, so unpickling it imports the package on the worker the way
    every engine kernel does."""
    def probe(batches):
        t0 = time.monotonic_ns()
        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"pid": [os.getpid()], "t": [t0],
                            "installed": [workerboot.installed()],
                            "reads": [len(reads)]})
    return probe


def test_workers_skip_unchanged_archives(spark):
    rows = (spark.range(16, numPartitions=16)
            .mapInPandas(_boot_probe(),
                         schema="pid long, t long, installed boolean, "
                                "reads long")
            .collect())
    assert len(rows) == 16
    assert all(r["installed"] for r in rows), rows
    # a process's first invocation may do the one stamped read per
    # archive; every later one re-reads nothing
    rows.sort(key=lambda r: (r["pid"], r["t"]))
    later = [r for prev, r in zip(rows, rows[1:]) if prev["pid"] == r["pid"]]
    # worker reuse: some process served more than one invocation
    assert later
    assert all(r["reads"] == 0 for r in later), rows
