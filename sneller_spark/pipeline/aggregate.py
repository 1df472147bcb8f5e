"""Aggregate stage — per-sink hash aggregates with an explicit salted
two-phase variant for skewed keys.

Spark analog of Sneller's HashAggregate + map/reduce Split: the
reference rewrites every aggregate into map-side partial + reduce-side
merge (/root/reference/plan/pir/mapreduce.go:46-400,
/root/reference/vm/hash_aggregate.go:33-584).  Spark does the
partial/final split automatically for ``groupBy().agg()``; the salted
variant makes the split *explicit* so a hot key (syslog-a carries ~35%
of all rows) is spread over ``salt_buckets`` reducers in phase one and
only the tiny partial results collide on the hot key in phase two.
Counts and sums are reassociated exactly (sum of partial counts/sums),
so salting never changes results — mirroring reduceAggregate
(/root/reference/plan/pir/mapreduce.go:252-300).  ``merge_partials``
is the same reduce step on the driver, over the per-unit partials the
ingest kernel returns (pipeline/route.py ``write_unit_file``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AGG_KEYS = ["sink_id", "source", "level"]
# one row per AGG_KEYS group: the ingest kernel's partials, the
# manifests' partials and the final aggregates table all have it
PARTIALS_SCHEMA = pa.schema([
    ("sink_id", pa.string()), ("source", pa.string()), ("level", pa.string()),
    ("n_rows", pa.int64()), ("sum_n_tok", pa.int64()),
])


def aggregate_per_sink(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """groupBy(sink_id, source, level).agg(count(*), sum(n_tok)).

    Spark's HashAggregateExec already does map-side partial aggregation,
    so the shuffle carries one row per (partition x group), not per
    input row."""
    keys = keys or AGG_KEYS
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_tok").alias("sum_n_tok"),
    )


def aggregate_per_sink_salted(
    df: DataFrame, keys: list[str] | None = None, salt_buckets: int = 16
) -> DataFrame:
    """Explicit two-phase (salted) aggregation for skewed group keys.

    Phase 1 groups on (keys + salt) — the hot key's rows spread over
    ``salt_buckets`` tasks; phase 2 merges the partials on the true
    keys.  Exact by reassociativity of count/sum."""
    keys = keys or AGG_KEYS
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_pn"),
        F.sum("n_tok").alias("_ps"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("_pn").alias("n_rows"),
        F.sum("_ps").alias("sum_n_tok"),
    )


def merge_partials(partials) -> list[list]:
    """Sum (sink_id, source, level, n_rows, sum_n_tok) partial rows into
    one row per key, sorted.  Exact integer sums; a key's sum_n_tok is
    null only when every partial's is, as Spark's ``sum`` over nulls."""
    acc: dict[tuple, list] = {}
    for sink, source, level, n, s in partials:
        cur = acc.setdefault((sink, source, level), [0, None])
        cur[0] += n
        if s is not None:
            cur[1] = s if cur[1] is None else cur[1] + s
    return sorted(([*k, *v] for k, v in acc.items()), key=repr)
