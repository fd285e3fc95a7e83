"""Session factory defaults (no Spark session started)."""

from __future__ import annotations

import os


def test_driver_memory_env_wins(monkeypatch):
    from openie_spark.session import driver_memory

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_driver_memory_default_is_a_quarter_of_ram_at_most_8g(monkeypatch):
    from openie_spark.session import driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = driver_memory()
    assert got.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
    assert 0 < int(got[:-1]) <= min(8192, ram_mb / 4)
