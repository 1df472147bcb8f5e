"""Build dist/sneller_spark.zip for spark-submit --py-files."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sneller_spark.session import write_package_zip  # noqa: E402


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = write_package_zip(os.path.join(dist, "sneller_spark.zip"))
    print(zpath)
    return zpath


if __name__ == "__main__":
    main()
