"""Physical-plan introspection — the Spark analog of the reference's
plan-shape assertions (`matchPlan` regexes and `expectBytes` pruning
checks in /root/reference/plan/exec_test.go:287-2040).

The reference proves its optimizer worked by matching the rendered
plan; we do the same against `df.explain("formatted")`: filters reached
the parquet scan (PushedFilters), the scan reads only needed columns
(ReadSchema), small joins went broadcast, and the Arrow kernel appears
exactly once (no accidental UDF duplication through projection
collapse).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        out += [f.strip() for f in m.group(1).split(",") if f.strip()]
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the scan's ReadSchema (column pruning proof)."""
    text = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols += [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
    return cols


def assert_pushed_filters(df: DataFrame, *needles: str) -> None:
    got = pushed_filters(df)
    for needle in needles:
        assert any(needle in f for f in got), f"filter {needle!r} not pushed; got {got}"


def assert_broadcast_join(df: DataFrame, count: int = 1) -> None:
    text = explain_str(df)
    n = text.count("BroadcastHashJoin")
    assert n >= count, f"expected >={count} BroadcastHashJoin, found {n}"
    assert "SortMergeJoin" not in text, "unexpected shuffle (sort-merge) join in plan"


def assert_single_arrow_eval(df: DataFrame) -> None:
    """The parse kernel must appear exactly once — projection collapse
    must not duplicate the Python UDF per extracted field."""
    text = explain_str(df)
    n = len(re.findall(r"\(\d+\) ArrowEvalPython", text))
    assert n == 1, f"expected exactly 1 ArrowEvalPython, found {n}"


def assert_single_python_boundary(df: DataFrame) -> None:
    """Exactly one Python crossing in the whole plan (ArrowEvalPython
    for scalar UDFs, PythonMapInArrow for the mapInArrow kernel or
    FlatMapGroupsInArrow for a grouped applyInArrow kernel)."""
    text = explain_str(df)
    n = len(re.findall(
        r"\(\d+\) (ArrowEvalPython|PythonMapInArrow|MapInArrow|FlatMapGroupsInArrow)", text
    ))
    assert n == 1, f"expected exactly 1 python boundary, found {n}:\n{text[:2000]}"


def assert_no_exchange(df: DataFrame) -> None:
    """No shuffle anywhere in the plan — the proof that bucketed /
    pre-partitioned layouts actually co-locate the work."""
    text = explain_str(df)
    assert "Exchange" not in text.replace("BroadcastExchange", ""), (
        f"unexpected shuffle Exchange in plan:\n{text[:2000]}"
    )


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters that reached the scan's file index — the proof
    that a filter on a partition column prunes DIRECTORIES (reads only
    matching partitions), not rows.  The analog of the reference's
    expectBytes pruning checks (/root/reference/plan/exec_test.go:287)."""
    text = explain_str(df)
    return [m.group(1) for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", text)]


def assert_partition_pruned(df: DataFrame, col: str, n_values: int | None = None) -> None:
    """Assert the scan carries a partition filter on `col`; with
    n_values, assert it is an IN-list of exactly that many values (the
    n_probe buckets)."""
    filters = partition_filters(df)
    hits = [f for f in filters if col in f and ("IN" in f or "=" in f)]
    assert hits, f"no partition filter on {col}; got {filters}"
    if n_values is not None:
        in_lists = re.findall(rf"{col}\S* IN \(([^)]*)\)", " ; ".join(hits))
        assert in_lists, f"no IN-list partition filter on {col}; got {hits}"
        n = len([v for v in in_lists[0].split(",") if v.strip()])
        assert n == n_values, f"expected {n_values} probed partitions, got {n}: {hits}"


def assert_no_python_in_plan(df: DataFrame) -> None:
    text = explain_str(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonMapInArrow"):
        assert marker not in text, f"unexpected python boundary: {marker}"


def executed_final_plan(df: DataFrame) -> str:
    """Execute THIS DataFrame's own QueryExecution and return its final
    adaptive plan string.  Any derived action (df.count(),
    df.write...) builds a NEW QueryExecution, so the AQE re-plan —
    skew-join splits, coalesced partitions, runtime join demotion —
    is invisible on the original; driving the physical plan's RDD
    directly finalizes the plan you actually asked about."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    return qe.executedPlan().toString()


def assert_aqe_skew_join(df: DataFrame) -> None:
    """Assert AQE's skew mitigation actually engaged: the executed
    final plan carries a skew=true join."""
    plan = executed_final_plan(df)
    assert "isFinalPlan=true" in plan, "plan did not finalize under AQE"
    assert "skew=true" in plan, f"no skew-join split in final plan:\n{plan}"
