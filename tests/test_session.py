"""Session defaults that depend on the machine."""

from __future__ import annotations

import os

from brontes_spark.session import MAX_DRIVER_MEMORY_GB, default_driver_memory


def test_default_driver_memory_fits_the_machine():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("g")
    gb = int(mem[:-1])
    assert 1 <= gb <= MAX_DRIVER_MEMORY_GB
    assert gb * 2**30 < phys
