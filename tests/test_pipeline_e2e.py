"""End-to-end pipeline correctness vs the pure-pandas oracle:
per-sink aggregate counts exactly equal, routed-row token-array
equality, and invariance across partitioning / salting — the Spark
analog of the reference's parallel/shuffle/split test matrix
(/root/reference/testquery/testquery.go:620-627)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sneller_spark.datagen import TOKENS_SCHEMA, generate_chunk, generate_tokens_df
from sneller_spark.lookups import lookup_source_df, route_rules_df
from sneller_spark.oracle import aggregate_pdf, run_oracle
from sneller_spark.pipeline import (
    aggregate_per_sink,
    aggregate_per_sink_salted,
    enrich_stage,
    route_stage,
)
from sneller_spark.pipeline.runner import transform

N = 10_000


@pytest.fixture(scope="module")
def input_pdf():
    return generate_chunk(0, N)


@pytest.fixture(scope="module")
def oracle_out(input_pdf):
    return run_oracle(input_pdf)


def _spark_input(spark, input_pdf, partitions):
    df = spark.createDataFrame(input_pdf, schema=TOKENS_SCHEMA)
    return df.repartition(partitions) if partitions > 1 else df.coalesce(1)


def _norm_agg(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["level"] = out["level"].where(pd.notna(out["level"]), None)
    out = out.sort_values(
        ["sink_id", "source", "level"], na_position="first"
    ).reset_index(drop=True)
    out["n_rows"] = out["n_rows"].astype("int64")
    out["sum_n_tok"] = out["sum_n_tok"].astype("int64")
    return out[["sink_id", "source", "level", "n_rows", "sum_n_tok"]]


@pytest.mark.parametrize("partitions", [1, 8])
@pytest.mark.parametrize("salted", [False, True])
def test_aggregates_match_oracle(spark, input_pdf, oracle_out, partitions, salted):
    _, exp_agg = oracle_out
    df = _spark_input(spark, input_pdf, partitions)
    routed = transform(spark, df)
    agg = aggregate_per_sink_salted(routed) if salted else aggregate_per_sink(routed)
    got = _norm_agg(agg.toPandas())
    exp = _norm_agg(exp_agg)
    pd.testing.assert_frame_equal(got, exp)


def test_routed_rows_token_equality(spark, input_pdf, oracle_out):
    """Per-row invariant vs the oracle: token-array equality on every
    routed row, plus all extracted/enriched/routing columns."""
    exp_routed, _ = oracle_out
    df = _spark_input(spark, input_pdf, 8)
    got = (
        transform(spark, df)
        .select(
            "doc_id", "tokens", "n_tok", "source", "level", "code",
            "ip", "lat_ms", "tenant", "category", "sink_id",
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = exp_routed.sort_values("doc_id").reset_index(drop=True)
    assert len(got) == len(exp) == N

    for i in range(N):
        assert np.array_equal(
            np.asarray(got["tokens"].iloc[i], dtype=np.int64),
            np.asarray(exp["tokens"].iloc[i], dtype=np.int64),
        ), f"token mismatch at row {i}"

    for col in ("doc_id", "n_tok", "source", "tenant", "category", "sink_id"):
        assert list(got[col]) == list(exp[col]), col
    for col in ("level", "code", "ip", "lat_ms"):
        g = [None if pd.isna(v) else v for v in got[col]]
        e = [None if pd.isna(v) else v for v in exp[col]]
        assert g == e, col


def test_distributed_generation_matches_local(spark):
    """generate_tokens_df (mapInPandas over spark.range) must produce
    exactly the rows of generate_chunk, independent of partitioning."""
    n = 2_000
    got = (
        generate_tokens_df(spark, n, partitions=7)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = generate_chunk(0, n)
    assert list(got["doc_id"]) == list(exp["doc_id"])
    assert list(got["source"]) == list(exp["source"])
    assert list(got["n_tok"]) == list(exp["n_tok"])
    for i in range(0, n, 97):
        assert np.array_equal(
            np.asarray(got["tokens"].iloc[i]), np.asarray(exp["tokens"].iloc[i])
        )


def test_salted_equals_unsalted(spark, input_pdf):
    df = _spark_input(spark, input_pdf, 8)
    routed = transform(spark, df)
    a = _norm_agg(aggregate_per_sink(routed).toPandas())
    b = _norm_agg(aggregate_per_sink_salted(routed, salt_buckets=32).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_oracle_aggregate_consistency(oracle_out):
    routed, agg = oracle_out
    assert agg["n_rows"].sum() == len(routed) == N
    assert agg["sum_n_tok"].sum() == routed["n_tok"].sum()
    recomputed = aggregate_pdf(routed)
    pd.testing.assert_frame_equal(agg, recomputed)


def test_jvm_kernel_transform_matches_oracle(spark, input_pdf, oracle_out):
    """parse_stage_jvm — the zero-Python whole-stage-codegen path —
    composed with enrich, route and the salted aggregate as the
    ``tokens_pipeline_jvm_kernel`` catalog entry does, must aggregate
    identically to the oracle (and therefore to the dict kernel)."""
    from sneller_spark.pipeline.parse import PARSED_FIELDS, parse_stage_jvm

    _, exp_agg = oracle_out
    df = _spark_input(spark, input_pdf, 8)
    parsed = parse_stage_jvm(df).select("doc_id", "source", "n_tok", *PARSED_FIELDS)
    enriched = enrich_stage(parsed, lookup_source_df(spark))
    agg = aggregate_per_sink_salted(route_stage(enriched, route_rules_df(spark)))
    got = _norm_agg(agg.toPandas())
    pd.testing.assert_frame_equal(got, _norm_agg(exp_agg))
