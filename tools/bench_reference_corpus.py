"""Throughput report over the reference's own micro-benchmark corpus.

Runs every /root/reference/vm/testdata/benchmarks/**/*.bench through
the dialect translator at ~TARGET_ROWS replication (input materialized
to parquet first, mirroring the reference's pre-packed-ion timing in
vm/bench_test.go) and writes BENCH/REFERENCE_CORPUS.md with per-case
Mrows/s + logical MB/s, best-of-3.

Usage:  python tools/bench_reference_corpus.py [--rows N] [--cpus N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sneller_spark.session import get_spark  # noqa: E402
from sneller_spark.sql_registry import register_sql_functions  # noqa: E402
from tools.replay import replay_bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "REFERENCE_CORPUS.md"))
    args = ap.parse_args()

    scratch = "/tmp/ref_bench_data"
    shutil.rmtree(scratch, ignore_errors=True)
    spark = get_spark(master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    register_sql_functions(spark)

    rows = []
    for rel in replay_bench.list_cases():
        try:
            rec = replay_bench.time_bench_case(
                spark, os.path.join(replay_bench.BENCHMARKS, rel),
                target_rows=args.rows, scratch=scratch,
            )
            rows.append(rec)
            print(f"{rel}: {rec['mrows_per_sec']} Mrows/s "
                  f"({rec['sec_best']}s, {rec['rows']} rows)", flush=True)
        except Exception as exc:  # noqa: BLE001
            rows.append({"case": rel, "error": str(exc)[:200]})
            print(f"{rel}: ERROR {exc}", flush=True)

    ok = [r for r in rows if "error" not in r]
    lines = [
        "# Reference micro-benchmark corpus on Spark",
        "",
        f"All {len(replay_bench.list_cases())} `.bench` cases of",
        "`/root/reference/vm/testdata/benchmarks` (the reference's own",
        "throughput suite, vm/bench_test.go) replayed through the dialect",
        f"translator at ~{args.rows:,} rows each (input replicated and",
        "materialized to parquet before timing — the analog of the",
        "reference timing over pre-packed ion), best-of-3, "
        f"local[{args.cpus}].",
        "",
        "| case | rows | sec (best) | Mrows/s | logical MB/s |",
        "|---|---|---|---|---|",
    ]
    for r in sorted(ok, key=lambda r: -r["mrows_per_sec"]):
        lines.append(
            f"| {r['case']} | {r['rows']} | {r['sec_best']} "
            f"| {r['mrows_per_sec']} | {r['logical_mb_per_sec']} |"
        )
    for r in rows:
        if "error" in r:
            lines.append(f"| {r['case']} | ERROR: {r['error']} | | | |")
    if ok:
        med = sorted(x["mrows_per_sec"] for x in ok)[len(ok) // 2]
        lines += [
            "",
            f"Median throughput: **{med} Mrows/s**; "
            f"{len(ok)}/{len(rows)} cases timed.",
            "",
            "Cases at 1/10 the row target are the ones whose translation",
            "pins a reference-exact python kernel (`sn_*`: the",
            "3-char-lookahead fuzzy matcher and simple-case-mapped",
            "CI LIKE) — bit-faithful by design on the replay surface and",
            "per-row by nature.  The engine's own fuzzy/CI operators",
            "(`functions/scalar.py`, used by the catalog and the golden",
            "corpus) stay JVM-side and run at the fast-path rates above.",
        ]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote", args.out)


if __name__ == "__main__":
    main()
