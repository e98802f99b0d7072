"""The package makes ``zipimporter.invalidate_caches`` skip archives whose
(mtime_ns, size) stamp is unchanged (CPython < 3.13), so a Python worker
no longer re-reads Spark's zip archives for every task. A changed archive
must still be re-read, and the replacement must be live inside the worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import hri_flink_validation_passthrough_spark as pkg

PATCHED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with a package (so two importers share the archive) put at the
    front of sys.path; every import-system trace of it is dropped after."""
    archive = str(tmp_path / "zcache_probe.zip")
    _write_zip(
        archive,
        {
            "zcache_pkg/__init__.py": "",
            "zcache_pkg/a.py": "VALUE = 'a'\n",
        },
    )
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    yield archive
    for name in [m for m in sys.modules if m.startswith("zcache_pkg")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch, archive):
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.13 never re-reads here")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    importlib.import_module("zcache_pkg.a")
    calls = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()  # first pass: no stamp yet, one read
    assert len(calls) == 1  # shared by the root and package importers
    calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    assert importlib.import_module("zcache_pkg.a").VALUE == "a"


def test_changed_archive_is_reread(zip_on_path, monkeypatch):
    importlib.import_module("zcache_pkg.a")
    importlib.invalidate_caches()
    _write_zip(
        zip_on_path,
        {
            "zcache_pkg/__init__.py": "",
            "zcache_pkg/a.py": "VALUE = 'a'\n",
            "zcache_pkg/b.py": "VALUE = 'b'\n",
        },
    )
    st = os.stat(zip_on_path)
    # the size grew; also move mtime so the stamp differs on every field
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    calls = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    if PATCHED:
        assert len(calls) == 1
    assert importlib.import_module("zcache_pkg.b").VALUE == "b"


def test_python_worker_runs_the_replacement(spark):
    def probe(batches):
        import os
        import zipimport

        import pandas as pd

        import hri_flink_validation_passthrough_spark  # noqa: F401

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"module": [fn.__module__], "pid": [os.getpid()]})

    rows = (
        spark.range(1)
        .mapInPandas(probe, "module string, pid long")
        .collect()
    )
    assert rows[0]["pid"] != os.getpid()
    assert rows[0]["module"] == (pkg.__name__ if PATCHED else "zipimport")
