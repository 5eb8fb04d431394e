"""Session factory and its Python worker daemon (docling_core_spark/pydaemon.py).

The guard unit tests drive a real ``zipimporter`` over a temp archive; the
Spark test pins that the session's workers are forked by the package daemon,
so a refactor of ``get_spark`` cannot drop it silently."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from docling_core_spark import pydaemon

guard_only = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the daemon installs the guard only on Python < 3.13"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def read_calls(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    calls: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@guard_only
def test_unchanged_archive_is_not_reread(tmp_path, read_calls):
    path = tmp_path / "pkg.zip"
    _write_zip(path, {"dcs_guard_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(path))
    invalidate = pydaemon.stat_guarded(zipimport.zipimporter.invalidate_caches)
    invalidate(importer)  # no stat recorded yet: reads once
    n = len(read_calls)
    invalidate(importer)
    invalidate(importer)
    assert len(read_calls) == n


@guard_only
def test_rewritten_archive_is_reread_and_imports(tmp_path, monkeypatch, read_calls):
    path = tmp_path / "pkg.zip"
    _write_zip(path, {"dcs_guard_b": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pydaemon.stat_guarded(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.syspath_prepend(str(path))
    try:
        assert importlib.import_module("dcs_guard_b").X == 1
        importlib.invalidate_caches()
        n = len(read_calls)
        importlib.invalidate_caches()
        assert len(read_calls) == n
        _write_zip(path, {"dcs_guard_b": "X = 1\n", "dcs_guard_c": "Y = 2\n"})
        importlib.invalidate_caches()
        assert str(path) in read_calls[n:]
        assert importlib.import_module("dcs_guard_c").Y == 2
    finally:
        for name in ("dcs_guard_b", "dcs_guard_c"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(path), None)


@guard_only
def test_missing_archive_does_not_raise(tmp_path, read_calls):
    path = tmp_path / "pkg.zip"
    _write_zip(path, {"dcs_guard_d": "X = 1\n"})
    importer = zipimport.zipimporter(str(path))
    invalidate = pydaemon.stat_guarded(zipimport.zipimporter.invalidate_caches)
    invalidate(importer)
    os.rename(path, tmp_path / "away.zip")
    invalidate(importer)
    assert importer.find_spec("dcs_guard_d") is None
    # back with the very same (mtime, size, inode): still read again
    os.rename(tmp_path / "away.zip", path)
    n = len(read_calls)
    invalidate(importer)
    assert len(read_calls) == n + 1
    assert importer.find_spec("dcs_guard_d") is not None


def _worker_probe(batches):
    import pyarrow as pa

    for _ in batches:
        pass
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
        parent = fh.read().replace(b"\0", b" ").decode()
    code = zipimport.zipimporter.invalidate_caches.__code__
    yield pa.RecordBatch.from_pydict(
        {"parent": [parent], "guard": [os.path.basename(code.co_filename)]}
    )


def test_workers_run_under_package_daemon(spark):
    rows = (
        spark.range(0, 4, 1, 4)
        .mapInArrow(_worker_probe, "parent string, guard string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert "-m docling_core_spark.pydaemon" in r.parent
        if sys.version_info < (3, 13):
            assert r.guard == "pydaemon.py"
