"""Session defaults sized to the host they run on."""

from __future__ import annotations

import os

from sneller_spark.session import default_driver_memory


def test_default_driver_memory_fits_physical_memory():
    mib = default_driver_memory()
    assert mib.endswith("m")
    physical_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mib[:-1]) <= physical_mib
