"""Session defaults come from the host, never above it; the package zip
is written once per package content and added to a session once."""

from __future__ import annotations

import importlib.util
import os
import shutil
import tempfile
import zipfile
from concurrent.futures import ThreadPoolExecutor

from kdtree_spark import session
from kdtree_spark.session import _package_zip, host_defaults


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
