"""Debug one replay case: show translated SQL and got-vs-expected rows.

Usage: python tools/replay_debug.py <case-substring> [n_rows]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sneller_spark.partiql import translate  # noqa: E402
from sneller_spark.session import get_spark  # noqa: E402
from sneller_spark.sql_registry import register_sql_functions  # noqa: E402
from tools.replay import replay  # noqa: E402


def main():
    frag = sys.argv[1]
    nshow = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    spark = get_spark(app_name="replay_debug", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "6g"})
    register_sql_functions(spark)
    for path in replay.list_cases():
        if frag not in path:
            continue
        print("=" * 70)
        print(path)
        query, inputs, expected = replay.parse_case(path)
        print("--- original SQL ---")
        print(query)
        print("--- translated ---")
        print(translate(query))
        rec = replay.run_case(spark, path, keep_rows=True)
        print("status:", rec["status"], rec.get("detail", "")[:200])
        got = rec.get("got_rows") or []
        exp = rec.get("exp_rows") or []
        print(f"got {len(got)} rows, expected {len(exp)} rows")
        shown = 0
        for i in range(max(len(got), len(exp))):
            g = got[i] if i < len(got) else None
            e = exp[i] if i < len(exp) else None
            if g != e:
                print(f"[{i}] got {g}\n    exp {e}")
                shown += 1
                if shown >= nshow:
                    break


if __name__ == "__main__":
    main()
