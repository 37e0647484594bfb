"""Session defaults come from the host, never above it; the package zip
is written once per package content and added to a session once; every
PySpark socket is a Unix domain socket whose path fits AF_UNIX."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import zipfile
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from kdtree_spark import session
from kdtree_spark.index import map_arrow
from kdtree_spark.session import _package_zip, host_defaults

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOCK_NAME = len("/.00000000-0000-0000-0000-000000000000.sock")  # 43


def _gib(mem: str) -> int:
    assert mem.endswith("g"), mem
    return int(mem[:-1])


def test_host_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = host_defaults()
    assert 1 <= cpus <= (os.cpu_count() or 1)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= _gib(mem) and _gib(mem) * 2 ** 30 <= max(phys, 2 ** 30)


def test_host_defaults_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert host_defaults() == (3, "2g")


def test_package_zip_reused_not_rewritten(monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = _package_zip()
    st = os.stat(first)
    assert _package_zip() == first
    again = os.stat(first)
    assert (again.st_ino, again.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
    assert os.listdir(tmp_path) == [os.path.basename(first)]  # no .part
    with zipfile.ZipFile(first) as z:
        assert "kdtree_spark/session.py" in z.namelist()


def test_package_zip_concurrent_writers(monkeypatch, tmp_path):
    """Callers racing on an absent zip each read back a complete file
    while the others write, and no temporary file is left behind."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def zip_and_read():
        path = _package_zip()
        with zipfile.ZipFile(path) as z:
            assert z.testzip() is None
        return path

    with ThreadPoolExecutor(8) as ex:
        paths = [f.result(timeout=60)
                 for f in [ex.submit(zip_and_read) for _ in range(32)]]
    assert len(set(paths)) == 1
    assert os.listdir(tmp_path) == [os.path.basename(paths[0])]


def test_package_zip_name_follows_content(monkeypatch, tmp_path):
    """A copy of the package zips under the same name; once a source
    file changes, under a new one, and the old zip stays as it was."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg = os.path.dirname(os.path.abspath(session.__file__))
    copy = tmp_path / "src" / "kdtree_spark"
    shutil.copytree(pkg, copy, ignore=shutil.ignore_patterns("__pycache__"))
    spec = importlib.util.spec_from_file_location(
        "kds_session_copy", copy / "session.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    old = mod._package_zip()
    assert old == _package_zip()
    old_bytes = open(old, "rb").read()
    with open(copy / "grid.py", "a") as f:
        f.write("# changed\n")
    new = mod._package_zip()
    assert new != old and os.path.exists(new)
    assert open(old, "rb").read() == old_bytes


def test_ship_package_adds_once(spark, monkeypatch):
    """get_spark added the zip; shipping it again adds nothing."""
    sc = spark.sparkContext
    name = os.path.basename(_package_zip())
    assert any(f.endswith("/" + name) for f in sc.listFiles)
    added = []
    monkeypatch.setattr(sc, "addPyFile", added.append)
    session.ship_package(spark)
    session.ship_package(spark)
    assert added == []


def _plus_one(spark):
    """A map_arrow kernel over 64 rows in 2 partitions: x + 1."""
    df = spark.range(64).selectExpr("id AS x").repartition(2)
    got = map_arrow(df, lambda c: {"x": c["x"] + 1}, "x long").toPandas()
    assert sorted(got["x"]) == list(range(1, 65))


def _long_dir(root, nbytes: int) -> str:
    d = os.path.join(str(root), "d" * (nbytes - len(str(root)) - 1))
    os.makedirs(d)
    assert len(os.fsencode(d)) == nbytes
    return d


def test_session_uses_unix_sockets(spark):
    """Unix sockets on, in a private directory whose socket paths fit
    in 107 bytes and hold the live session's sockets; a kernel runs."""
    conf = spark.sparkContext.getConf()
    assert conf.get(session.UDS_CONF) == "true"
    d = conf.get("spark.python.unix.domain.socket.dir")
    assert d == session._socket_dir() and os.path.isdir(d)
    assert len(os.fsencode(d)) + SOCK_NAME <= 107
    _plus_one(spark)
    assert glob.glob(os.path.join(d, ".*.sock"))


def test_socket_dir_falls_back_under_tmp(monkeypatch, tmp_path):
    """Under a temp dir too long for a socket path, the directory is
    made under /tmp instead, and its socket paths fit."""
    monkeypatch.setattr(tempfile, "tempdir", _long_dir(tmp_path, 90))
    d = session._socket_dir.__wrapped__()
    try:
        assert os.path.dirname(d) == "/tmp" and os.path.isdir(d)
        assert len(os.fsencode(d)) + SOCK_NAME <= 107
    finally:
        shutil.rmtree(d)


_SOCKET_SCRIPT = textwrap.dedent("""
    import glob, json, os, sys
    sys.path.insert(0, sys.argv[1])
    from kdtree_spark.session import get_spark
    from tests.test_session import _plus_one

    spark = get_spark("socket-dir", cpus=2)
    _plus_one(spark)
    d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    live = glob.glob(os.path.join(d, ".*.sock"))
    spark.stop()
    print(json.dumps({"dir": d, "live": live}))
""")


def test_socket_dir_left_clean(tmp_path):
    """A session started with a 90-byte TMPDIR runs a kernel over Unix
    sockets; after spark.stop() and interpreter exit neither a socket
    file nor the socket directory is left behind."""
    tmp = _long_dir(tmp_path, 90)
    out = subprocess.run(
        [sys.executable, "-c", _SOCKET_SCRIPT, ROOT], cwd=ROOT,
        env=dict(os.environ, TMPDIR=tmp), capture_output=True, text=True,
        timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert os.path.dirname(got["dir"]) == "/tmp" and got["live"]
    assert not os.path.exists(got["dir"])
    assert not glob.glob(os.path.join(tmp, "**", ".*.sock"), recursive=True)
