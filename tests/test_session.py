"""Session sizing: the default driver heap follows the host's memory
(no Spark needed)."""

from __future__ import annotations

from sortify_spark.session import DRIVER_MEM_CAP_GB, default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_is_half_the_host_capped():
    # half of physical memory, rounded down to whole GiB
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(int(15.7 * GIB)) == "7g"
    assert default_driver_memory(64 * GIB) == "32g"
    # never below 1g, never above the cap
    assert default_driver_memory(GIB) == "1g"
    assert default_driver_memory(256 << 20) == "1g"
    assert default_driver_memory(1024 * GIB) == f"{DRIVER_MEM_CAP_GB}g"
    assert default_driver_memory(2 * DRIVER_MEM_CAP_GB * GIB) == "48g"


def test_default_driver_memory_reads_this_host():
    got = default_driver_memory()
    assert got.endswith("g")
    assert 1 <= int(got[:-1]) <= DRIVER_MEM_CAP_GB
