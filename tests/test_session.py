import os

import pytest

from composable_logs_spark import session


def _box(monkeypatch, ram_gb: int) -> None:
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gb * 1024**3 // 4096}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)


@pytest.mark.parametrize(
    "ram_gb,expected",
    [(15, "7680m"), (16, "8192m"), (96, "49152m"), (256, "49152m")],
)
def test_driver_memory_is_half_of_ram_capped_at_48g(monkeypatch, ram_gb, expected):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    _box(monkeypatch, ram_gb)
    assert session.driver_memory() == expected


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    _box(monkeypatch, 15)
    assert session.driver_memory() == "6g"
