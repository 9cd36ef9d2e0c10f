"""Session defaults that must fit the host they run on."""

from __future__ import annotations

import os

from dataingestiontohana_spark.session import driver_memory


def test_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m")
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    assert 0 < int(mem[:-1]) <= min(half_mb, 24 * 1024)


def test_driver_memory_honours_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"
