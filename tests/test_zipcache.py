"""The stat-keyed zipimport invalidation (polars_fastx_spark/_zipcache.py):
unit cases without Spark, then where it is and is not installed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from tests.conftest import REPO

from polars_fastx_spark import _zipcache

MODULES = ("zc_mod_a", "zc_mod_b")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``zc_mod_a`` on ``sys.path``, imported once, with the
    wrapper installed; yields (path, list of archives read)."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, MODULES[:1])
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zc_mod_a")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._invalidate_caches
    )
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first wrapped call reads and records
    reads.clear()
    try:
        yield path, reads
    finally:
        for name in MODULES:
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def _importer(path):
    return sys.path_importer_cache[path]


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    files = _importer(path)._files
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0
    assert _importer(path)._files is files
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    _write_zip(path, MODULES)  # one more module: new size and mtime
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")  # not yet invalidated
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"
    importlib.invalidate_caches()
    assert reads.count(path) == 1  # recorded at the new signature


def test_touched_archive_is_reread(archive):
    path, reads = archive
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_deleted_archive_behaves_as_unwrapped(archive):
    path, reads = archive
    os.remove(path)
    importlib.invalidate_caches()
    assert reads.count(path) == 1  # fell through to the original read
    assert _importer(path)._files == {}
    assert path not in zipimport._zip_directory_cache
    # the unwrapped method leaves the same state
    _zipcache._original(_importer(path))
    assert _importer(path)._files == {}
    assert path not in zipimport._zip_directory_cache


def _wrapped_probe():
    """A ``mapInPandas`` function (nested, so it is pickled by value)
    reporting whether the wrapper is installed, and whether it handled
    the invalidation that ran before this call: every zip archive an
    importer on the path reads is recorded at the directory zipimport
    holds."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        import polars_fastx_spark._zipcache as zc

        for _ in batches:
            pass
        archives = {imp.archive for imp in sys.path_importer_cache.values()
                    if isinstance(imp, zipimport.zipimporter)}
        recorded = all(
            a in zc._read_at
            and zc._read_at[a][1] is zipimport._zip_directory_cache.get(a)
            for a in archives
        )
        yield pd.DataFrame({
            "installed": [zipimport.zipimporter.invalidate_caches
                          is zc._invalidate_caches],
            "recorded": [recorded or sys.version_info >= (3, 13)],
        })

    return probe


def test_installed_inside_spark_worker(spark):
    """Forked from the package daemon, a worker has the wrapper before
    its first call, so no call of it, first or later, re-reads an archive."""
    rows = (
        spark.range(8, numPartitions=8)
        .mapInPandas(_wrapped_probe(), "installed boolean, recorded boolean")
        .collect()
    )
    assert [(r.installed, r.recorded) for r in rows] == [(True, True)] * 8


_FIRST_CALL = """
import sys
sys.path.insert(0, sys.argv[1])
from polars_fastx_spark.session import builder
from tests.test_zipcache import _wrapped_probe

spark = builder("first-call", master="local[1]",
                extra_conf={"spark.ui.enabled": "false"}).getOrCreate()
rows = spark.range(1).mapInPandas(
    _wrapped_probe(), "installed boolean, recorded boolean").collect()
print("ROWS", [(r.installed, r.recorded) for r in rows])
spark.stop()
"""


def test_installed_before_a_workers_first_call():
    """The first Python task of a fresh session runs in a fresh worker."""
    proc = subprocess.run(
        [sys.executable, "-c", _FIRST_CALL, str(REPO)], cwd=REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS [(True, True)]" in proc.stdout.splitlines()


_CHECK = (
    "import zipimport; before = zipimport.zipimporter.invalidate_caches; "
    "import polars_fastx_spark; "
    "print(zipimport.zipimporter.invalidate_caches is before)"
)


@pytest.mark.parametrize(
    "secret, untouched", [(None, "True"), ("x", "False")],
    ids=["driver", "worker-env"],
)
def test_driver_keeps_original_method(secret, untouched):
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if secret is not None:
        env["PYTHON_WORKER_FACTORY_SECRET"] = secret
    out = subprocess.run(
        [sys.executable, "-c", _CHECK], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == untouched
