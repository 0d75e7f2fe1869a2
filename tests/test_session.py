"""Session defaults that depend on the machine."""

import pytest

from g4s_spark.session import default_driver_mem


def test_default_driver_heap_fits_physical_ram():
    try:
        with open("/proc/meminfo") as f:
            total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except OSError:
        pytest.skip("no /proc/meminfo")
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) * 1024 <= total_kib
