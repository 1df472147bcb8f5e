"""Replay of the reference's query_string (Lucene syntax) test corpus.

The reference pins its qs surface with two Go test tables:

- elasticproxy/elastic-proxy/qs_parser_test.go:24-50 — 24 end-to-end
  query strings with the exact SQL each must translate to, under a
  TypeMapping of ``timestamp: datetime`` and ``u_*: text`` (with
  keyword / raw subfields) and default field ``default``
- elasticproxy/elastic-proxy/qs_test.go — qsFieldExpression semantics
  per (field type × value type × wildcard), under ``field.*: text``

This module cross-validates both surfaces on one synthesized table:
each case runs (a) through ``adapters.qs`` (our native lexer → parser →
Column pipeline) and (b) the reference's own *recorded expected SQL*
through ``partiql.sql`` (the same translator that replays the proxy's
Kibana dashboards), and the matched row-id sets must agree.  The
expected strings are copied verbatim from the reference tests — they
are the contract being replayed, not generated by this repo.

The rows are engineered so every case matches at least one row — a
case that selects nothing on both surfaces would be a vacuous pass.
"""

from __future__ import annotations

import json

# (query string, expected SQL) — verbatim from qs_parser_test.go:24-50.
PARSER_CASES: list[tuple[str, str]] = [
    (r"foo",
     r"""("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)')"""),
    (r"test +foo -abc",
     r"""(("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)') AND (NOT ("$source"."default" ~ '(^|[ \t])(?i)abc([ \t]|$)')))"""),
    (r"foo~",
     r"""("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)')"""),
    (r"foo~12",
     r"""("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)')"""),
    (r"foo^32",
     r"""("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)')"""),
    (r"test AND foo",
     r"""(("$source"."default" ~ '(^|[ \t])(?i)test([ \t]|$)') AND ("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)'))"""),
    (r"test OR foo",
     r"""(("$source"."default" ~ '(^|[ \t])(?i)test([ \t]|$)') OR ("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)'))"""),
    (r"test AND (foo OR bar)",
     r"""(("$source"."default" ~ '(^|[ \t])(?i)test([ \t]|$)') AND (("$source"."default" ~ '(^|[ \t])(?i)foo([ \t]|$)') OR ("$source"."default" ~ '(^|[ \t])(?i)bar([ \t]|$)')))"""),
    (r"_exists_:foo",
     r"""("$source"."foo" IS NOT MISSING)"""),
    (r"u_boolean_allowed:true",
     r"""("$source"."u_boolean_allowed" = TRUE)"""),
    (r"u_boolean_allowed:false",
     r"""("$source"."u_boolean_allowed" = FALSE)"""),
    (r"u_string_path.raw:/search/ path",
     r"""(("$source"."u_string_path" ~ '^(?i)search$') OR ("$source"."default" ~ '(^|[ \t])(?i)path([ \t]|$)'))"""),
    (r"u_string_path:/search/ path",
     r"""((LOWER("$source"."u_string_path") ~ '(^|[ \t])search([ \t]|$)') OR ("$source"."default" ~ '(^|[ \t])(?i)path([ \t]|$)'))"""),
    (r"f*o",
     r"""("$source"."default" ~ '(^|[ \t])(?i)f.*o([ \t]|$)')"""),
    (r"f?o",
     r"""("$source"."default" ~ '(^|[ \t])(?i)f.o([ \t]|$)')"""),
    (r"u_integer_count:[1 TO 5}",
     r"""(("$source"."u_integer_count" >= 1) AND ("$source"."u_integer_count" < 5))"""),
    (r"test:>=10",
     r"""("$source"."test" >= 10)"""),
    (r"<10",
     r"""("$source"."default" < 10)"""),
    (r"age:(+>=10 +<20)",
     r"""(("$source"."age" >= 10) AND ("$source"."age" < 20))"""),
    (r"age:(abc def)^3",
     r"""(("$source"."age" ~ '(^|[ \t])(?i)abc([ \t]|$)') OR ("$source"."age" ~ '(^|[ \t])(?i)def([ \t]|$)'))"""),
    ('timestamp:["2019-07-24T01:02:03-07:00" TO "2019-07-25T04:05:06-07:00"}',
     '(("$source"."timestamp" >= `2019-07-24T08:02:03Z`) AND '
     '("$source"."timestamp" < `2019-07-25T11:05:06Z`))'),
    (r"test AND u_boolean_allow:true AND u_string_reason:foo",
     r"""((("$source"."default" ~ '(^|[ \t])(?i)test([ \t]|$)') AND ("$source"."u_boolean_allow" = TRUE)) AND ("$source"."u_string_reason" ~ '(^|[ \t])(?i)foo([ \t]|$)'))"""),
    (r"u_string_name:/joh?n(ath[oa]n)/",
     r"""(LOWER("$source"."u_string_name") ~ '(^|[ \t])joh?n(ath[oa]n)([ \t]|$)')"""),
    (r"9166ddf7-10b5-42fb-91cf-198eb4d62a3f",
     r"""("$source"."default" ~ '(^|[ \t])(?i)9166ddf7-10b5-42fb-91cf-198eb4d62a3f([ \t]|$)')"""),
]

# qs_parser_test.go:63-76 TypeMapping, in adapters.qs mapping form.
PARSER_MAPPING = {
    "timestamp": {"type": "datetime"},
    "u_*": {
        "type": "text",
        "fields": {"keyword": "keyword", "raw": "keyword-ignore-case"},
    },
}

# (field, value, value-type, expected SQL) — verbatim from qs_test.go
# (TestQSFieldExpression, operator always "="), under the
# expr_test.go:22-32 defaultQueryContext mapping ``field.*``.
FIELD_CASES: list[tuple[str, str, str, str]] = [
    ("field.test", "Value", "text",
     r"""("$source"."field"."test" ~ '(^|[ \t])(?i)Value([ \t]|$)')"""),
    ("field.test.keyword", "Value", "text",
     r"""("$source"."field"."test" = 'Value')"""),
    ("field.test.raw", "Value", "text",
     r"""(LOWER("$source"."field"."test") = 'value')"""),
    ("field.test", "Val?e", "text",
     r"""("$source"."field"."test" ~ '(^|[ \t])(?i)Val.e([ \t]|$)')"""),
    ("field.test.keyword", "Val?e", "text",
     r"""("$source"."field"."test" SIMILAR TO 'Val_e')"""),
    ("field.test.raw", "Val?e", "text",
     r"""(LOWER("$source"."field"."test") SIMILAR TO 'val_e')"""),
    ("field.test", "value", "regex",
     r"""(LOWER("$source"."field"."test") ~ '(^|[ \t])value([ \t]|$)')"""),
    ("field.test.keyword", "Value", "regex",
     r"""("$source"."field"."test" ~ '^Value$')"""),
    ("field.test.raw", "Value", "regex",
     r"""("$source"."field"."test" ~ '^(?i)Value$')"""),
]

FIELD_MAPPING = {
    "field.*": {
        "type": "text",
        "fields": {"keyword": "keyword", "raw": "keyword-ignore-case"},
    },
}

_SCHEMA = (
    "id int, `default` string, foo string, u_boolean_allowed boolean, "
    "u_boolean_allow boolean, u_string_path string, "
    "u_string_reason string, u_string_name string, test string, "
    "u_integer_count int, age string, `timestamp` timestamp, "
    "field struct<test:string>"
)

# One row per tuple; engineered so every case above selects >=1 row.
_ROWS = [
    # id default              foo   allowed allow path          reason name         test count age        ts                      field.test
    (1, "foo", "x", True, False, "Search", "foo", "john", "12", 1, "12", "2019-07-24T10:00:00Z", "Value"),
    (2, "test foo", None, False, True, "search", "foo", "johnathon", "5", 4, "15", "2019-07-23T00:00:00Z", "value"),
    (3, "some foo here", "y", True, True, "SEARCH zone", "bar", "jonathan", "abc", 5, "25", "2019-07-25T11:05:06Z", "ValueX"),
    (4, "abc", None, False, False, "research", None, "mary", None, 0, "abc def", "2019-07-24T08:02:03Z", "VALUE tag"),
    (5, "path", "z", True, False, None, "x", "nathon", "10", 2, "5", None, "Val_e"),
    (6, "f o", None, True, True, "Search it", "foo", "Johnathan", "3", 3, "abc", "2019-07-26T00:00:00Z", "ValXe"),
    (7, "fto", "w", False, False, "no", None, "jon", "9", 7, "19", "2019-07-25T00:00:00Z", "Valee"),
    (8, "5", None, False, True, "searcher", "foo", None, "11", 6, "7", "2019-07-24T08:02:02Z", None),
    (9, "15", "v", True, False, "search", None, "johnathan", "2", 1, "30", "2019-07-25T11:05:07Z", "other"),
    (10, "9166ddf7-10b5-42fb-91cf-198eb4d62a3f", None, False, False, None, "foo", "JOHNATHON x", "10", 4, "10", "2019-07-24T20:00:00Z", "value tag"),
    (11, "Foo", "u", True, True, "Search", "bar", "ann", "15", 2, "20", None, "Value"),
    (12, "TEST ing", None, False, True, "path search", "foo", "johnathon", "1", 5, "12", "2019-07-25T04:00:00Z", "VALUE"),
]

_VIEW = "qs_replay"


def build_table(spark):
    """Create (once per session) and return the shared test view."""
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(_VIEW):
        df = spark.createDataFrame(
            [
                (i, d, f, ba, bb, p, r, n, t, c, a,
                 ts, {"test": ft} if ft is not None else None)
                for (i, d, f, ba, bb, p, r, n, t, c, a, ts, ft) in _ROWS
            ],
            schema=_SCHEMA.replace("`timestamp` timestamp",
                                   "`timestamp` string"),
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        df.createOrReplaceTempView(_VIEW)
    return spark.table(_VIEW)


def _expected_ids(spark, expected_sql: str) -> list[int]:
    """Run the reference's recorded SQL predicate through the PartiQL
    translator (the proxy emits `"$source"` as the row alias; on a
    flat FROM it is the row itself, so the prefix erases)."""
    from sneller_spark import partiql

    pred = expected_sql.replace('"$source".', "")
    # ansi=false: the reference never aborts a query — failed casts
    # are MISSING — and non-ANSI NULL-on-error is the Spark analog
    rows = partiql.sql(
        spark, f"SELECT id FROM {_VIEW} WHERE {pred}", ansi="false"
    ).collect()
    return sorted(r["id"] for r in rows)


def run_parser_case(spark, idx: int) -> dict:
    """qs_parser_test.go case `idx`: full query string both ways."""
    from sneller_spark.adapters.qs import qs_to_column

    query, expected = PARSER_CASES[idx]
    t = build_table(spark)
    col = qs_to_column(
        {"query": query, "default_field": "default"},
        mapping=PARSER_MAPPING,
    )
    a = sorted(r["id"] for r in t.filter(col).select("id").collect())
    b = _expected_ids(spark, expected)
    status = "pass" if a == b and a else (
        "vacuous" if a == b else "mismatch")
    return {"query": query, "status": status, "adapter_ids": a,
            "sql_ids": b}


def run_field_case(spark, idx: int) -> dict:
    """qs_test.go case `idx`: one qsFieldExpression both ways."""
    from sneller_spark.adapters import qs

    field, value, vtype, expected = FIELD_CASES[idx]
    t = build_table(spark)
    node = qs.QSField(
        value, qs.REGEXV if vtype == "regex" else qs.TEXT, "=",
        fields=field.split("."),
    )
    col = qs.to_column(node, None, FIELD_MAPPING)
    a = sorted(r["id"] for r in t.filter(col).select("id").collect())
    b = _expected_ids(spark, expected)
    status = "pass" if a == b and a else (
        "vacuous" if a == b else "mismatch")
    return {"field": field, "value": value, "status": status,
            "adapter_ids": a, "sql_ids": b}


def run_all(spark) -> str:
    """Replay the whole corpus; returns a JSON summary line."""
    out = {"parser": [], "field": []}
    for i in range(len(PARSER_CASES)):
        out["parser"].append(run_parser_case(spark, i))
    for i in range(len(FIELD_CASES)):
        out["field"].append(run_field_case(spark, i))
    n_pass = sum(
        1 for k in out for c in out[k] if c["status"] == "pass")
    return json.dumps(
        {"cases": len(out["parser"]) + len(out["field"]),
         "pass": n_pass,
         "fail": [c for k in out for c in out[k]
                  if c["status"] != "pass"]})
