"""Session defaults sized to the host they run on."""

from __future__ import annotations

import os
import subprocess
import sys

from sneller_spark.session import default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_fits_physical_memory():
    mib = default_driver_memory()
    assert mib.endswith("m")
    physical_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mib[:-1]) <= physical_mib


def test_shipped_zip_removed_at_exit(tmp_path):
    """ship_package's zip lives while its process does, then goes."""
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from sneller_spark.session import ship_package\n"
        "class Context:\n"
        "    def addPyFile(self, path):\n"
        "        self.path = path\n"
        "class Spark:\n"
        "    sparkContext = Context()\n"
        "ship_package(Spark)\n"
        "assert os.path.getsize(Spark.sparkContext.path) > 0\n"
        "print(Spark.sparkContext.path)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    done = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True,
                          text=True, check=True, timeout=120)
    zpath = done.stdout.strip().splitlines()[-1]
    assert os.path.dirname(zpath) == str(tmp_path)
    assert not os.path.exists(zpath)
