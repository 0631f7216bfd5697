"""Session defaults must fit the host they run on."""

from __future__ import annotations

from umi_collapse_rs_spark.session import default_driver_memory

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _jvm_bytes(size: str) -> int:
    size = size.strip().lower()
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def _physical_ram() -> int:
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return kib * 1024


def test_driver_heap_is_less_than_physical_ram(spark):
    ram = _physical_ram()
    assert _jvm_bytes(default_driver_memory()) < ram
    assert _jvm_bytes(default_driver_memory()) <= 24 << 30
    live = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _jvm_bytes(live) < ram
