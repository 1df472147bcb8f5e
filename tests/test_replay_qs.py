"""query_string corpus cross-validation (tools.replay.replay_qs).

Every case from the reference's qs_parser_test.go (24 full query
strings) and qs_test.go (9 typed field expressions) runs both through
our native Lucene parser (adapters.qs -> Column) and through the
reference's own recorded expected-SQL translation (partiql.sql) on one
synthesized table; the matched row-id sets must agree, and every case
must be non-vacuous (>=1 row).
"""

from __future__ import annotations

import pytest

from tools.replay import replay_qs


@pytest.mark.parametrize("idx", range(len(replay_qs.PARSER_CASES)))
def test_qs_parser_case(spark, idx):
    rec = replay_qs.run_parser_case(spark, idx)
    assert rec["status"] == "pass", rec


@pytest.mark.parametrize("idx", range(len(replay_qs.FIELD_CASES)))
def test_qs_field_case(spark, idx):
    rec = replay_qs.run_field_case(spark, idx)
    assert rec["status"] == "pass", rec


def test_query_string_inside_bool_and_search(spark):
    """query_string composes with the rest of the search body."""
    from sneller_spark.adapters.elastic import elastic_search

    t = replay_qs.build_table(spark)
    body = {
        "query": {"bool": {"filter": [
            {"query_string": {
                "query": "foo", "default_field": "default"}},
            {"term": {"u_boolean_allowed": True}},
        ]}},
        "_source": ["id"],
    }
    got = sorted(r["id"] for r in elastic_search(t, body).collect())
    # word 'foo' (case-insensitive) in `default` AND allowed
    assert got == [1, 3, 11]


def test_query_string_fields_are_anded(spark):
    """query.go:488-507 — multi-field `fields` fan-out combines with
    AND (the proxy's andExpressions), not OR."""
    from sneller_spark.adapters.qs import qs_to_column

    t = replay_qs.build_table(spark)
    col = qs_to_column(
        {"query": "foo", "fields": ["default", "u_string_reason"]})
    got = sorted(r["id"] for r in t.filter(col).select("id").collect())
    # rows where BOTH default and u_string_reason word-match 'foo'
    assert got == [1, 2]


def test_numeric_range_is_schema_aware_and_pushable(spark):
    """With a schema, numeric-column comparisons lower natively (no
    try_cast wrapper) so they stay parquet-pushable; without one, the
    try_cast(double) path preserves the reference's MISSING-on-bad-cast
    semantics for string columns under ANSI mode."""
    from sneller_spark.adapters.qs import qs_to_column
    from sneller_spark.plans import explain_str

    t = replay_qs.build_table(spark)
    typed = qs_to_column(
        {"query": "u_integer_count:[2 TO 5}", "default_field": "default"},
        schema=t.schema)
    untyped = qs_to_column(
        {"query": "u_integer_count:[2 TO 5}", "default_field": "default"})
    assert "TRY_CAST" not in repr(typed).upper()
    assert "TRY_CAST" in repr(untyped).upper()
    # same rows either way (the ints all parse)
    a = sorted(r["id"] for r in t.filter(typed).select("id").collect())
    b = sorted(r["id"] for r in t.filter(untyped).select("id").collect())
    assert a == b and a

    # and on a parquet scan the typed predicate reaches PushedFilters
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        t.write.mode("overwrite").parquet(f"{d}/t")
        scan = spark.read.parquet(f"{d}/t")
        plan = explain_str(scan.filter(qs_to_column(
            {"query": "u_integer_count:[2 TO 5}"}, schema=scan.schema)))
        assert "GreaterThanOrEqual(u_integer_count,2)" in plan
        assert "LessThan(u_integer_count,5)" in plan


def test_query_string_default_operator_and(spark):
    from sneller_spark.adapters.qs import qs_to_column

    t = replay_qs.build_table(spark)
    col = qs_to_column({"query": "test foo", "default_operator": "AND",
                        "default_field": "default"})
    got = sorted(r["id"] for r in t.filter(col).select("id").collect())
    assert got == [2]  # only 'test foo' has both words
