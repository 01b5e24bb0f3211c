"""The package's worker daemon (polars_fastx_spark/_daemon.py) and the
swap of Spark's pyspark/py4j zips for their installed twins
(polars_fastx_spark/_zipcache.py): unit cases without Spark, then the
daemon under the shared session and in fresh sessions."""

from __future__ import annotations

import csv
import glob
import json
import os
import socket
import subprocess
import sys
import zipfile

import pytest

from tests.conftest import FIXTURES, REPO

from polars_fastx_spark import _daemon, _zipcache

needs_quickack = pytest.mark.skipif(
    not hasattr(socket, "TCP_QUICKACK"), reason="no TCP_QUICKACK here"
)


class _Recording(socket.socket):
    """A socket that records the options set on it."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.options: list[tuple[int, int]] = []

    def setsockopt(self, level, option, value):
        self.options.append((level, option))
        super().setsockopt(level, option, value)


def _task(calls):
    def task(sock, authenticated):
        calls.append((sock, authenticated))
        return 7

    return task


@needs_quickack
def test_quickack_is_armed_before_every_task_on_tcp():
    with socket.create_server(("127.0.0.1", 0)) as server:
        with _Recording(socket.AF_INET, socket.SOCK_STREAM) as sock:
            sock.connect(server.getsockname())
            peer, _ = server.accept()
            calls: list = []
            worker = _daemon.quickack_before(_task(calls))
            assert worker(sock, False) == 7
            assert sock.options == [(socket.IPPROTO_TCP, socket.TCP_QUICKACK)]
            assert worker(sock, True) == 7
            assert sock.options == [(socket.IPPROTO_TCP, socket.TCP_QUICKACK)] * 2
            assert calls == [(sock, False), (sock, True)]
            peer.close()


@needs_quickack
def test_quickack_leaves_a_unix_socket_alone():
    a, b = socket.socketpair(socket.AF_UNIX)
    with a, b:
        with pytest.raises(OSError):  # what the wrapper has to absorb
            a.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
        calls: list = []
        assert _daemon.quickack_before(_task(calls))(a, True) == 7
        assert calls == [(a, True)]


def test_no_quickack_platform_keeps_the_worker(monkeypatch):
    monkeypatch.delattr(socket, "TCP_QUICKACK", raising=False)
    task = _task([])
    assert _daemon.quickack_before(task) is task


# ------------------------------------------------------- zip-for-twin swap

_PYSPARK = {
    "pyspark/__init__.py": b"",
    "pyspark/version.py": b"__version__: str = '9.9.9'\n",
    "pyspark/worker.py": b"X = 1\n",
}


def _install(root, files):
    for name, data in files.items():
        path = root / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(data)
    return str(root)


def _zip(path, files):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


@pytest.fixture
def worker_path(monkeypatch):
    """Run ``use_installed_twins`` over a given path; returns what is left."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))

    def run(entries):
        monkeypatch.setattr(sys, "path", list(entries))
        _zipcache.use_installed_twins()
        return sys.path

    return run


def test_zip_is_dropped_for_its_installed_twin(tmp_path, worker_path):
    zipped = {**_PYSPARK, "pyspark/tests/test_only_zipped.py": b"pass\n"}
    archive = _zip(tmp_path / "lib" / "pyspark.zip", zipped)
    site = _install(tmp_path / "site", _PYSPARK)
    assert worker_path([archive, site]) == [site]
    assert archive not in sys.path_importer_cache


def test_py4j_zip_is_dropped_for_its_installed_twin(tmp_path, worker_path):
    files = {"py4j/__init__.py": b"", "py4j/version.py": b"__version__ = '0.1'\n"}
    archive = _zip(tmp_path / "lib" / "py4j-0.1-src.zip", files)
    site = _install(tmp_path / "site", files)
    assert worker_path([archive, site]) == [site]


@pytest.mark.parametrize(
    "installed",
    [
        # another release of the same size: only the bytes tell them apart
        {**_PYSPARK, "pyspark/version.py": b"__version__: str = '9.9.8'\n"},
        {**_PYSPARK, "pyspark/worker.py": b"X = 10\n"},
        {"pyspark/__init__.py": b""},  # no version.py
        {},  # not installed at all
    ],
    ids=["version", "module-size", "no-version", "absent"],
)
def test_zip_stays_unless_the_install_is_its_twin(tmp_path, worker_path, installed):
    archive = _zip(tmp_path / "lib" / "pyspark.zip", _PYSPARK)
    site = _install(tmp_path / "site", installed)
    assert worker_path([archive, site]) == [archive, site]


def test_other_zips_are_never_dropped(tmp_path, worker_path):
    archive = _zip(tmp_path / "lib" / "other.zip", _PYSPARK)
    site = _install(tmp_path / "site", _PYSPARK)
    assert worker_path([archive, site]) == [archive, site]


# ------------------------------------------------------- builder defaults

_DAEMON = "spark.python.daemon.module"
_PATH = "spark.executorEnv.PYTHONPATH"


def _worker_conf(master, extra_conf=None):
    from polars_fastx_spark.session import builder

    options = builder("conf", master=master, extra_conf=extra_conf)._options
    return {k: options[k] for k in (_DAEMON, _PATH) if k in options}


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_sessions_default_to_the_package_daemon(master):
    assert _worker_conf(master) == {
        _DAEMON: "polars_fastx_spark._daemon", _PATH: str(REPO)
    }


def test_caller_worker_settings_win_and_merge():
    conf = _worker_conf(
        "local[2]", {_DAEMON: "pyspark.daemon", _PATH: f"/a{os.pathsep}/b"}
    )
    assert conf == {
        _DAEMON: "pyspark.daemon", _PATH: os.pathsep.join([str(REPO), "/a", "/b"])
    }
    assert _worker_conf("local[2]", {_PATH: str(REPO)})[_PATH] == str(REPO)


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]", None]
)
def test_other_masters_keep_spark_worker_settings(master, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")  # spark-submit: no master
    assert _worker_conf(master) == {}
    assert _worker_conf(master, {_PATH: "/a"}) == {_PATH: "/a"}


# ------------------------------------------------------------- in Spark


def test_workers_fork_from_the_package_daemon(spark):
    """A task's worker was forked from the package daemon: the package is
    loaded although the task's own code imports nothing from it, and
    pyspark comes from its installed copy, not pyspark.zip."""

    def probe(batches):
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        main = sys.modules["__main__"].__spec__
        yield pa.RecordBatch.from_pydict({
            "daemon": [main.name if main else None],
            "loaded": ["polars_fastx_spark" in sys.modules],
            "pyspark": [pyspark.__file__],
        })

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "daemon string, loaded boolean, pyspark string")
        .collect()
    )
    assert [(r.daemon, r.loaded) for r in rows] == [
        ("polars_fastx_spark._daemon", True)
    ]
    assert "pyspark.zip" not in rows[0].pyspark


_FASTA_STATS = """
import json, sys
sys.path.insert(0, sys.argv[1])
from polars_fastx_spark.pipeline import fasta_stats
from polars_fastx_spark.session import builder

conf = {"spark.ui.enabled": "false", **json.loads(sys.argv[4])}
spark = builder("daemon-test", master="local[2]", extra_conf=conf).getOrCreate()
fasta_stats(spark, sys.argv[2], sys.argv[3], fields="header,length,hash")
spark.stop()
"""


def _fresh_fasta_stats(tmp_path, conf, cwd, env=None):
    """``fasta_stats`` over basic.fasta in a fresh session; returns the
    rows it wrote."""
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, "-c", _FASTA_STATS, str(REPO),
         str(FIXTURES / "basic.fasta"), str(out), json.dumps(conf)],
        capture_output=True, text=True, timeout=600, cwd=cwd, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = []
    for fp in glob.glob(str(out / "*.csv")):
        with open(fp) as f:
            rows.extend(csv.DictReader(f, delimiter="\t"))
    return sorted((r["header"], int(r["length"]), r["hash"]) for r in rows)


@pytest.fixture(scope="module")
def golden_rows():
    rows = json.loads((FIXTURES / "golden_stats.json").read_text())
    return sorted((g["header"], g["length"], g["hash"]) for g in rows)


def test_fasta_stats_over_unix_domain_sockets(tmp_path, golden_rows):
    """The QUICKACK wrapper leaves the Unix-socket transport working."""
    conf = {"spark.python.unix.domain.socket.enabled": "true"}
    assert _fresh_fasta_stats(tmp_path, conf, cwd=REPO) == golden_rows


def test_local_workers_import_the_package_from_any_cwd(tmp_path, golden_rows):
    """With the package on the driver's ``sys.path`` only, and a working
    directory that does not hold it, local workers still import it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    assert _fresh_fasta_stats(tmp_path, {}, cwd=tmp_path, env=env) == golden_rows
