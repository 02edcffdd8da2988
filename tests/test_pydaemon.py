"""The package's Python worker daemon (``cid_etl_spark.pydaemon``): the
zip re-read guard on its own, then the daemon as a ``get_spark`` session
runs it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cid_etl_spark import pydaemon
from cid_etl_spark.session import DEFAULT_CONF

_MODULE = "pydaemon_probe_mod"


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{_MODULE}.py", source)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the daemon installs the guard up to Python 3.12"
)
def test_guard_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, _MODULE, raising=False)
    assert importlib.import_module(_MODULE).VALUE == 1

    reads: list[str] = []
    stdlib_reread = pydaemon._reread

    def counting_reread(self):
        if self.archive == str(archive):
            reads.append(self.archive)
        stdlib_reread(self)

    monkeypatch.setattr(pydaemon, "_reread", counting_reread)
    monkeypatch.setattr(pydaemon, "_directories", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_if_changed
    )

    importlib.invalidate_caches()  # never read through the guard: read once
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged archive: directory kept

    _write_zip(archive, "VALUE = 22  # rewritten\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert len(reads) == 2  # new size and mtime: re-read

    del sys.modules[_MODULE]
    assert importlib.import_module(_MODULE).VALUE == 22

    archive.unlink()
    importlib.invalidate_caches()  # a vanished archive: the stdlib's handling, no error
    assert len(reads) == 3


def test_workers_run_under_the_package_daemon(spark):
    assert DEFAULT_CONF["spark.python.daemon.module"] == "cid_etl_spark.pydaemon"

    # a closure, so it travels by value and imports nothing in the worker
    def _worker_report(_):
        import gc
        import sys
        import zipimport

        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        guard = getattr(main, "_invalidate_if_changed", None)
        return (
            spec.name if spec else None,
            zipimport.zipimporter.invalidate_caches is guard,
            "pandas" in sys.modules,
            gc.get_freeze_count() > 0,
        )

    reports = set(
        spark.sparkContext.parallelize(range(4), 4).map(_worker_report).collect()
    )
    assert reports == {("cid_etl_spark.pydaemon", sys.version_info < (3, 13), True, True)}
