"""Run the reference-corpus replay over all 408 cases and report.

Usage: python tools/replay_report.py [--out REPLAY.json] [--manifest tests/replay_manifest.txt]

Writes a JSON summary (per-case status) and, with --manifest, the list
of passing cases that tests/test_reference_replay.py ratchets on.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sneller_spark.session import get_spark
from sneller_spark.sql_registry import register_sql_functions
from tools.replay import replay


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/replay_results.json")
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--only", default=None, help="substring filter on case path")
    args = ap.parse_args()

    spark = get_spark(
        app_name="replay_report",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    register_sql_functions(spark)

    results = []
    for path in replay.list_cases():
        if args.only and args.only not in path:
            continue
        rec = replay.run_case(spark, path)
        results.append(rec)
        if rec["status"] != "pass":
            print(f"{rec['status']:12s} {rec['case']}  {rec.get('detail','')[:140]}")

    counts = collections.Counter(r["status"] for r in results)
    print(json.dumps(dict(counts), indent=0))
    with open(args.out, "w") as f:
        json.dump({"counts": dict(counts), "results": results}, f, indent=1)
    if args.manifest:
        passing = sorted(r["case"] for r in results if r["status"] == "pass")
        with open(args.manifest, "w") as f:
            f.write("\n".join(passing) + "\n")
        print(f"manifest: {len(passing)} passing cases -> {args.manifest}")


if __name__ == "__main__":
    main()
