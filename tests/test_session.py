"""Session defaults come from the host, never above it."""

from __future__ import annotations

import os

from kdtree_spark.session import host_defaults


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
