"""Default driver heap sizing (session.default_driver_memory): derived
from physical RAM so the JVM is never sized past what the host has."""

import os

import pytest

from pink_spider_spark.session import default_driver_memory


def _mb(setting: str) -> int:
    assert setting.endswith("m")
    return int(setting[:-1])


@pytest.mark.parametrize("total_kb", [
    512 * 1024,             # 512 MB box
    4 * 1024 * 1024,        # 4 GB
    16479424,               # a 15 GB host
    512 * 1024 * 1024,      # 512 GB: hits the cap
])
def test_default_never_exceeds_physical_ram(tmp_path, total_kb):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {total_kb} kB\n"
                       "MemFree:        1024 kB\n")
    mb = _mb(default_driver_memory(str(meminfo)))
    assert mb < total_kb / 1024
    # ~40% of RAM up to the 24g cap: not starved either
    assert min(0.39 * total_kb / 1024, 24 * 1024) <= mb <= 24 * 1024


def test_this_host_default_fits(tmp_path):
    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo")
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f
                        if l.startswith("MemTotal:"))
    assert _mb(default_driver_memory()) < total_kb / 1024


def test_missing_meminfo_falls_back(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "2048m"
