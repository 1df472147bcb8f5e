"""Count-min sketch over DataFrames: fixed-memory frequency summaries
and exactly-correct heavy hitters.

The reference ships approximate aggregates as sketches (HLL for
APPROX_COUNT_DISTINCT, a t-digest-style structure for
APPROX_PERCENTILE — expr/blob.go + vm aggregation kernels); this
module adds the frequency-sketch family member on the same posture:
the sketch is an ordinary (depth x width) DataFrame of bucket counts,
built in ONE scan with a map-side-combined aggregation, so it
distributes, persists, and merges like any other table — no opaque
binary blobs, no driver-side state.

Guarantees (standard CM): estimates never UNDER-count, and
P[estimate - true > eps * N] < delta with width = ceil(e / eps),
depth = ceil(ln(1 / delta)).  The one-sided error is what makes
`heavy_hitters_exact` exact: filtering candidates at `threshold` by
sketch estimate keeps every true heavy hitter (no false negatives),
and the exact recount of the surviving candidates removes the false
positives — sketch for pruning, recount for truth.

NULL items are excluded everywhere (COUNT(col) semantics): they are
not inserted, not estimable, and not heavy-hitter candidates.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CMSketch(NamedTuple):
    """A built sketch: the (d, bucket, cnt) table plus the hash
    parameters it was built with — estimates MUST probe with the same
    depth/width/seed, so they travel with the data instead of being
    re-supplied (a silent mismatch would probe wrong buckets and
    break the never-undercount guarantee)."""

    df: DataFrame
    depth: int
    width: int
    seed: int


def cm_cells(item_col: str, depth: int, width: int, seed: int):
    """The ``depth`` (d, bucket) cells an item of ``item_col`` counts in."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(F.xxhash64(F.col(item_col), F.lit(seed + d)), F.lit(width))
                .alias("bucket"),
            )
            for d in range(depth)
        ]
    )


def cm_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
) -> CMSketch:
    """Build the sketch: at most depth*width bucket-count rows —
    memory independent of item cardinality.  One scan: each row
    explodes to its `depth` (row, bucket) cells via a JVM array
    expression, then one hash aggregation."""
    assert depth >= 1 and width >= 1
    table = (
        df.filter(F.col(item_col).isNotNull())
        .select(F.explode(cm_cells(item_col, depth, width, seed)).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return CMSketch(table, depth, width, seed)


def cm_merge(a: CMSketch, b: CMSketch) -> CMSketch:
    """Merge two sketches built with IDENTICAL parameters: bucket
    counts add cell-wise, so the merged sketch is exactly the sketch
    of the concatenated data — the property that lets each shard ship
    a fixed-size summary instead of its keys."""
    if (a.depth, a.width, a.seed) != (b.depth, b.width, b.seed):
        raise ValueError(
            f"sketch parameter mismatch: {(a.depth, a.width, a.seed)} "
            f"vs {(b.depth, b.width, b.seed)}"
        )
    merged = (
        a.df.unionByName(b.df)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return CMSketch(merged, a.depth, a.width, a.seed)


def cm_estimate(sketch: CMSketch, items: DataFrame, item_col: str) -> DataFrame:
    """Estimated count per (non-null) item in `items`: min over the
    sketch rows of the item's bucket counts, probed with the SAME
    parameters the sketch was built with.  The sketch side is
    depth*width rows — broadcast-sized by construction — so each
    estimate is a broadcast join, never a scan of the original data.
    Items hashing to untouched buckets keep cnt 0 via the coalesce."""
    probes = (
        items.filter(F.col(item_col).isNotNull())
        .select(
            F.col(item_col),
            F.explode(cm_cells(item_col, sketch.depth, sketch.width, sketch.seed))
            .alias("c"),
        )
        .select(item_col, F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
    )
    return (
        probes.join(F.broadcast(sketch.df), ["d", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def heavy_hitters_exact(
    df: DataFrame,
    item_col: str,
    threshold: int,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """EXACT (non-null) items with count >= threshold, sketch-pruned:
    (1) build the CM sketch (one scan, fixed memory); (2) estimate
    each candidate and keep those with estimate >= threshold — CM
    never under-counts, so every true heavy hitter among the
    candidates survives; (3) exact recount of only the survivors
    (semi-join) and a final exact filter drops the false positives.

    Honest cost note: with the default candidates (the corpus's own
    distinct items) the candidate enumeration is itself a full
    distinct aggregation, comparable to an exact count — the sketch
    then saves only the wide recount.  The construction pays off when
    `candidates` comes from elsewhere (a sample, a prior epoch's
    hitters, a stream's new keys) or when the fixed-size sketch is the
    artifact being shipped/merged across shards; pass that candidate
    set explicitly in those settings."""
    sketch = cm_sketch(df, item_col, depth, width, seed)
    if candidates is None:
        candidates = df.select(item_col).distinct()
    cand = cm_estimate(sketch, candidates, item_col).filter(
        F.col("est") >= threshold
    )
    exact = (
        df.join(cand.select(item_col), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold)
    )
    return exact
