"""Enrich stage — broadcast-join small lookup tables onto the stream.

Spark analog of Sneller's equi-join elimination: the reference rewrites
every INNER equi-join into a broadcast hash lookup and *refuses* plans
whose RHS exceeds 10,000 rows post-filter
(/root/reference/plan/pir/joinelim.go:23-120,
/root/reference/doc/sneller-SQL.md:245-254).  We keep the same explicit
guard (BroadcastGuardError) rather than letting a silently-huge lookup
degrade into a shuffle join at 100 TB scale, then hand Catalyst an
explicit ``F.broadcast`` hint so the big side never shuffles.

Unmatched keys get default values — Lookup.Else semantics
(/root/reference/expr/node.go:1656-1660).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lookups import UNKNOWN_CATEGORY, UNKNOWN_TENANT

MAX_BROADCAST_ROWS = 10_000


class BroadcastGuardError(ValueError):
    """Lookup table exceeds the broadcast cardinality guard."""


def _refuse_over(n: int, max_rows: int) -> None:
    if n > max_rows:
        raise BroadcastGuardError(
            f"lookup table has >{max_rows} rows; refusing to broadcast "
            "(mirrors /root/reference/doc/sneller-SQL.md:249-250)"
        )


def assert_broadcastable(lookup: DataFrame, max_rows: int = MAX_BROADCAST_ROWS) -> int:
    n = lookup.limit(max_rows + 1).count()
    _refuse_over(n, max_rows)
    return n


def collect_broadcastable(lookup: DataFrame, max_rows: int = MAX_BROADCAST_ROWS) -> list:
    """``assert_broadcastable`` and the fetch in one job: the rows of a
    table the caller needs on the driver, refused the same way past
    ``max_rows``."""
    rows = lookup.limit(max_rows + 1).collect()
    _refuse_over(len(rows), max_rows)
    return rows


def enrich_stage(
    df: DataFrame,
    lookup: DataFrame,
    key: str = "source",
    defaults: dict[str, str] | None = None,
    max_rows: int = MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Left broadcast-join ``lookup`` onto ``df`` on ``key``; fill
    non-key lookup columns with defaults for unmatched rows."""
    assert_broadcastable(lookup, max_rows)
    return enrich_join(df, lookup, key, defaults)


def enrich_join(
    df: DataFrame,
    lookup: DataFrame,
    key: str = "source",
    defaults: dict[str, str] | None = None,
) -> DataFrame:
    """``enrich_stage`` without its guard, for a caller that has already
    run ``assert_broadcastable`` on this exact ``lookup`` (the pipeline
    runner guards once per run, not once per unit)."""
    if defaults is None:
        defaults = {"tenant": UNKNOWN_TENANT, "category": UNKNOWN_CATEGORY}
    out = df.join(F.broadcast(lookup), on=key, how="left")
    for col, default in defaults.items():
        if col in out.columns:
            out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out
