"""Replay of the reference's micro-benchmark corpus on Spark.

The reference ships 53 throughput benchmarks
(/root/reference/vm/testdata/benchmarks/**/*.bench, run by
vm/bench_test.go): SQL, then either an inline ``---``-separated input
NDJSON section or a ``FROM 'relative/path.jsonrl'`` dataset reference;
the harness replicates the small input to size and measures rows/s.
This module runs the same queries through the dialect translator
(``sneller_spark.partiql.translate``) over the same inputs replicated
the same way:

- :func:`run_bench_case` — execute once at small replication; the
  pytest suite asserts all 53 translate and execute (the correctness
  claim: the reference's OWN benchmark queries are all runnable).
- :func:`time_bench_case` — replicate to a row target, materialize to
  parquet (the analog of the reference pre-packing ion before timing),
  and time the query alone; ``tools/bench_reference_corpus.py`` turns
  this into a throughput report.

The reference checkout is read-only input; nothing is copied.
"""

from __future__ import annotations

import os
import re
import time

from sneller_spark.partiql import _ensure_sn_udfs, translate

from . import replay

BENCHMARKS = "/root/reference/vm/testdata/benchmarks"

_FROM_FILE = re.compile(r"\bFROM\s+'([^']+)'", re.IGNORECASE)


def list_cases(root: str = BENCHMARKS) -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if d != "_generate"]
        for f in files:
            if f.endswith(".bench"):
                out.append(os.path.relpath(os.path.join(dirpath, f), root))
    return sorted(out)


def parse_bench_case(path: str) -> tuple[str, list[str]]:
    """Return (query referencing table ``input``, input NDJSON lines)."""
    text = open(path, errors="replace").read()
    parts = text.split("\n---\n")
    qlines = [
        replay._strip_line_comment(l)
        for l in parts[0].splitlines()
        if not l.strip().startswith("#")
    ]
    query = "\n".join(qlines).strip()
    m = _FROM_FILE.search(query)
    if m:
        data = os.path.normpath(
            os.path.join(os.path.dirname(path), m.group(1))
        )
        lines = [
            l for l in open(data, errors="replace").read().splitlines()
            if l.strip()
        ]
        query = query[: m.start()] + "FROM input" + query[m.end():]
    elif len(parts) > 1:
        lines = [l for l in parts[1].splitlines() if l.strip()]
    else:
        raise ValueError(f"{path}: no input section or dataset reference")
    return query, lines


def _prepare(spark, query: str, lines: list[str], repl: int):
    _ensure_sn_udfs(spark)
    df, _ = replay.load_input(spark, lines * repl)
    df.createOrReplaceTempView("input")
    return translate(query)


def run_bench_case(spark, path: str, repl: int = 8) -> dict:
    """Execute one benchmark case; returns status + row counts."""
    rel = os.path.relpath(path, BENCHMARKS)
    try:
        query, lines = parse_bench_case(path)
    except Exception as exc:  # noqa: BLE001
        return {"case": rel, "status": "parse-error", "detail": str(exc)[:300]}
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        sql = _prepare(spark, query, lines, repl)
        n = spark.sql(sql).count()
        return {"case": rel, "status": "pass", "rows_in": len(lines) * repl,
                "rows_out": n, "sql": sql}
    except Exception as exc:  # noqa: BLE001
        return {"case": rel, "status": "error", "detail": str(exc)[:300],
                "sql": locals().get("sql", "")}
    finally:
        replay.restore_ansi(spark, prev_ansi)


def time_bench_case(
    spark, path: str, target_rows: int = 1_000_000,
    scratch: str = "/tmp/ref_bench_data", rounds: int = 3,
) -> dict:
    """Replicate the input to ~target_rows (Spark-side cross join, not
    a driver-built list), materialize parquet once (the reference times
    queries over pre-packed ion, vm/bench_test.go), then time the
    translated query best-of-``rounds``.  Cases whose translation pins
    a reference-exact python kernel (``sn_*``) run at a tenth of the
    target — they are per-row by design and would dominate wall clock."""
    rel = os.path.relpath(path, BENCHMARKS)
    query, lines = parse_bench_case(path)
    sql = _prepare(spark, query, lines, 1)
    if "sn_" in sql:
        target_rows = max(target_rows // 10, len(lines))
    repl = max(1, target_rows // max(len(lines), 1))
    # cache keyed by case AND replication — a stale smaller dataset
    # must not be timed while reporting the new row count
    pq = os.path.join(
        scratch, f"{rel.replace('/', '__')}.x{repl}.parquet"
    )
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        if not os.path.exists(pq):
            small = spark.table("input")
            # name the replication column uniquely: .drop("id") would
            # also drop an input column called id
            big = (
                spark.range(repl).toDF("__repl")
                .crossJoin(small).drop("__repl")
            )
            big.write.mode("overwrite").parquet(pq)
        spark.read.parquet(pq).createOrReplaceTempView("input")
        best = None
        n = 0
        for _ in range(rounds):
            t0 = time.perf_counter()
            n = spark.sql(sql).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        rows = len(lines) * repl
        in_bytes = sum(len(l) + 1 for l in lines) * repl
        return {
            "case": rel, "rows": rows, "rows_out": n,
            "sec_best": round(best, 4),
            "mrows_per_sec": round(rows / best / 1e6, 3),
            "logical_mb_per_sec": round(in_bytes / best / 1e6, 1),
        }
    finally:
        replay.restore_ansi(spark, prev_ansi)
