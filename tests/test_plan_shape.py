"""Plan-shape assertions — the analog of the reference's matchPlan /
expectBytes optimizer tests (/root/reference/plan/exec_test.go).
Correct results with a wrong plan shape would not survive 100 TB."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sneller_spark.datagen import TOKENS_SCHEMA, generate_chunk
from sneller_spark.lookups import lookup_source_df, route_rules_df
from sneller_spark.pipeline.enrich import enrich_stage
from sneller_spark.pipeline.parse import parse_stage_dict, parse_stage_jvm
from sneller_spark.pipeline.route import route_stage
from sneller_spark.plans import (
    assert_broadcast_join,
    assert_no_python_in_plan,
    assert_pushed_filters,
    assert_single_arrow_eval,
    assert_single_python_boundary,
    explain_str,
    scan_read_schema,
)


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "tokens")
    spark.createDataFrame(generate_chunk(0, 2000), schema=TOKENS_SCHEMA).write.parquet(p)
    return p


def test_filter_and_projection_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    assert_pushed_filters(q, "l_quantity")
    cols = scan_read_schema(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols  # column pruning


def test_pipeline_joins_are_broadcast(spark, tokens_path):
    df = spark.read.parquet(tokens_path)
    routed = route_stage(
        enrich_stage(parse_stage_dict(df), lookup_source_df(spark)), route_rules_df(spark)
    )
    assert_broadcast_join(routed, count=2)  # enrich + route, never shuffle joins


def test_transform_is_one_kernel_without_join(spark, tokens_path):
    """transform enriches, parses and routes inside its one Python node:
    the plan has no join at all (so enrichment can never shuffle the
    big side), no Exchange and no Sort."""
    from sneller_spark.pipeline.runner import transform

    routed = transform(spark, spark.read.parquet(tokens_path))
    assert_single_python_boundary(routed)
    text = explain_str(routed)
    assert not re.search(r"\(\d+\) \w*Join", text), text
    assert "Exchange" not in text, text
    assert not re.search(r"\(\d+\) Sort", text), text


def test_parse_kernel_appears_once(spark, tokens_path):
    """The parse kernel must cross into Python exactly once."""
    df = spark.read.parquet(tokens_path)
    parsed = parse_stage_dict(df).select("doc_id", "level", "code", "ip", "lat_ms")
    assert_single_python_boundary(parsed)


def test_parse_passthrough_prunes_tokens(spark, tokens_path):
    """With a narrow passthrough, the kernel's output schema omits the
    heavy tokens column entirely."""
    df = spark.read.parquet(tokens_path)
    out = parse_stage_dict(df, passthrough=["doc_id", "source", "n_tok"])
    assert "tokens" not in out.columns
    assert set(out.columns) == {"doc_id", "source", "n_tok", "level", "code", "ip", "lat_ms"}


def test_jvm_parse_has_no_python(spark, tokens_path):
    df = spark.read.parquet(tokens_path)
    assert_no_python_in_plan(parse_stage_jvm(df))


def test_scan_prunes_tokens_when_unused(spark, tokens_path):
    """A query that never touches `tokens` must not read the heavy
    column — Parquet column pruning is our zion selective decompression
    (/root/reference/ion/zion/doc.go:15-29)."""
    df = spark.read.parquet(tokens_path)
    q = df.groupBy("source").agg(F.sum("n_tok").alias("s"))
    cols = scan_read_schema(q)
    assert "tokens" not in cols, cols


def test_salted_repartition_spreads_hot_key(spark, tokens_path):
    """syslog-a holds ~35% of rows; a plain repartition on source puts
    them all in ONE partition, the salted form spreads them."""
    from sneller_spark.plans.skew import partition_histogram, repartition_salted

    df = spark.read.parquet(tokens_path)
    n = df.count()

    plain = df.repartition(16, "source")
    h_plain = partition_histogram(plain)
    salted = repartition_salted(df, ["source"], unique_col="doc_id",
                                buckets=16, num_partitions=16)
    h_salted = partition_histogram(salted)

    assert max(h_plain) > 0.30 * n          # hot key concentrates
    assert max(h_salted) < 0.15 * n, h_salted  # salt spreads it
    assert sum(h_salted) == n               # nothing lost

    # exactness: two-phase agg over the salted frame == direct agg
    from pyspark.sql import functions as F

    a = (
        salted.groupBy("source", "_salt").agg(F.sum("n_tok").alias("s"))
        .groupBy("source").agg(F.sum("s").alias("total"))
        .orderBy("source").collect()
    )
    b = df.groupBy("source").agg(F.sum("n_tok").alias("total")).orderBy("source").collect()
    assert a == b


def test_ivf_pruned_index_scans_only_probed_partitions(spark, sf_dir, tmp_path):
    """The persisted-IVF probe must be a partition-pruned scan (the
    expectBytes analog): an IN-list PartitionFilter on ivf_bucket with
    exactly n_probe values, and results identical to the
    query-time-bucketing path with the same centroids.  The only Python
    crossing is the cosine kernel: the bucket comes from the partition
    directory, not from a kernel call."""
    import numpy as np

    from sneller_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_pruned,
        train_ivf_centroids,
        write_ivf_index,
    )
    from sneller_spark.plans import assert_partition_pruned

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(v) for v in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cent = train_ivf_centroids(e, k=4)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(e, cent, path)

    pruned = ivf_topk_pruned(spark, path, q, cent, k=10, n_probe=2)
    assert_partition_pruned(pruned, "ivf_bucket", n_values=2)
    assert_single_arrow_eval(pruned)  # the cosine kernel, nothing else

    unpruned = ivf_topk(e, q, cent, k=10, n_probe=2)
    assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in unpruned.collect()]


def test_srp_pruned_index_scans_only_probed_partitions(spark, sf_dir, tmp_path):
    import numpy as np

    from sneller_spark.operators.similarity import (
        lsh_bucketed_topk,
        srp_topk_pruned,
        write_srp_index,
    )
    from sneller_spark.plans import assert_partition_pruned

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(v) for v in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "srp_index")
    write_srp_index(e, dim=len(q), path=path, n_planes=6)

    pruned = srp_topk_pruned(spark, path, q, k=10, n_planes=6, probe_hamming=1)
    # query bucket + 6 hamming-1 neighbors = 7 probed partitions
    assert_partition_pruned(pruned, "srp_bucket", n_values=7)
    assert_single_arrow_eval(pruned)  # the cosine kernel, nothing else

    unpruned = lsh_bucketed_topk(e, q, k=10, n_planes=6, probe_hamming=1)
    assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in unpruned.collect()]


def test_blocked_near_dup_has_no_cross_join(spark, sf_dir):
    """The blocked near-dup enumerates pairs inside each SRP bucket
    (one shuffle on the bucket id): no nested-loop or cartesian join,
    with one band or several."""
    from sneller_spark.operators.similarity import cosine_near_dup_pairs_blocked

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for bands in (1, 4):
        text = explain_str(
            cosine_near_dup_pairs_blocked(e, 0.99, bands=bands, max_bucket_size=256)
        )
        assert "BroadcastNestedLoopJoin" not in text, text
        assert "CartesianProduct" not in text, text


def test_exact_near_dup_scores_each_pair_once(spark, sf_dir):
    """The exact all-pairs form runs its pair kernel in one Python node:
    no join whose condition and projection both evaluate the cosine."""
    from sneller_spark.operators.similarity import cosine_near_dup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 80)
    pairs = cosine_near_dup_pairs(e, threshold=0.2)
    assert_single_python_boundary(pairs)
    assert "Join" not in explain_str(pairs)


def test_aqe_skew_join_mitigation_engages(spark):
    """Skew story beyond explicit salting: with AQE's skew-join
    enabled, a join whose shuffle has one dominant key is re-planned
    at runtime — the final adaptive plan carries SortMergeJoin
    (skew=true), i.e. the hot partition was split without any code
    change.  Thresholds are lowered so local-mode volumes qualify; on
    a real cluster the defaults (factor 5 / 256MB) do this at 100 TB
    scale.  Conf is restored so later tests keep the session
    defaults."""
    from pyspark.sql import functions as F

    from sneller_spark.plans import assert_aqe_skew_join

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 3 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("w")
        )
        assert_aqe_skew_join(left.join(right, "k"))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
