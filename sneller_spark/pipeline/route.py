"""Route stage — assign each row a sink and fan out to per-sink tables.

Spark analog of Sneller's TeeWriter + OutputPart partitioned writes
(/root/reference/vm/tee.go:27-80, /root/reference/plan/output.go:142-182).
Instead of N separate writers re-reading the stream N times, routing is
a single broadcast rule join that tags every row with ``sink_id``, and
fan-out is ONE partitioned write (``partitionBy("sink_id")``) — each
sink becomes a directory/partition of the output table, written in a
single pass over the data.  At 100 TB that one-pass property is the
difference between reading the input once and reading it eight times.

Rows whose (category, level) has no routing rule — including rows the
parse stage left with level = null — fall through to the catch-all sink
(a LEFT join + coalesce; null join keys never match, which is exactly
the fall-through we want).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lookups import CATCH_ALL_SINK
from .enrich import assert_broadcastable


def route_stage(
    df: DataFrame,
    rules: DataFrame,
    on: tuple[str, str] = ("category", "level"),
    catch_all: str = CATCH_ALL_SINK,
) -> DataFrame:
    """Tag each row with sink_id from the routing-rule table."""
    assert_broadcastable(rules)
    return route_join(df, rules, on, catch_all)


def route_join(
    df: DataFrame,
    rules: DataFrame,
    on: tuple[str, str] = ("category", "level"),
    catch_all: str = CATCH_ALL_SINK,
) -> DataFrame:
    """``route_stage`` without its guard, for a caller that has already
    run ``assert_broadcastable`` on this exact ``rules`` table."""
    out = df.join(F.broadcast(rules), on=list(on), how="left")
    return out.withColumn("sink_id", F.coalesce(F.col("sink_id"), F.lit(catch_all)))


def write_routed(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single-pass fan-out: one partitioned write, one directory per
    sink.  Iceberg's ``writeTo(...).append()`` is the cluster target;
    parquet ``partitionBy`` is the sandbox stand-in (same layout).

    Deliberately a DIRECT write (round-7 measurement): clustering by
    (sink_id, salt) before the write cuts the file count ~5x (224 ->
    48 at 500k bench rows) but the full-payload shuffle it needs —
    the tokens column dominates the row — costs more than the file
    savings at this scale (alternating best-of-4: direct 1.7s vs
    clustered 2.7s).  At cluster scale, file sizing belongs to the
    table format (Iceberg write.distribution-mode=hash +
    rewrite_data_files compaction — see pipeline/compact.py), not to
    an unconditional shuffle here."""
    df.write.mode(mode).partitionBy("sink_id").parquet(path)
