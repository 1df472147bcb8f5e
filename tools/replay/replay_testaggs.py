"""Replay of the reference proxy's `testaggs` corpus (9 cases).

`elasticproxy/elastic-proxy/testaggs/` holds aggregation request
bodies with the proxy's exact recorded SQL (elastic_json_test.go
TestAggregations / TestTransformToSQL, TypeMapping
``timestamp: datetime``).  The recorded SQL is the proxy's full
response-assembly form — a WITH chain: a filtered ``"$source"`` CTE
plus one ``"$bucket:..."`` CTE per aggregation, wrapped in a final
SELECT of relation-valued subqueries (``$total_count``/``$hits``/one
column per bucket) that packages the Elastic JSON response.

The replay compares the SEMANTIC core: every bucket CTE executes
verbatim through the PartiQL surface (with the table name pointed at
one synthesized view), and the matching slice of the aggs request
runs through `adapters.elastic`; the value sets must agree per
bucket.  The outer response-assembly SELECT is Sneller-specific
packaging (relation-valued subqueries standard SQL cannot express)
and is not replayed — the driver-facing equivalent is the flattened
DataFrame convention documented in adapters/elastic.py.

A "slice" is the sub-dict of `aggs` that produces one bucket CTE;
`nestedagg` (three sibling bucket CTEs from one request —
sneller-core issue 2480) maps to three adapter invocations, since the
flattened-DataFrame convention returns one relation per call.  Rows
are engineered so every per-region/per-key cardinality stays under
the proxy's HAVING/LIMIT caps (its ROW_NUMBER tie-break at a cap
boundary is arbitrary) and every bucket is non-empty.
"""

from __future__ import annotations

import decimal
import json
import os
import re

REF_DIR = "/root/reference/elasticproxy/elastic-proxy/testaggs"

_VIEW = "ta_replay"

MAPPING = {"timestamp": {"type": "datetime"}}

_SCHEMA = (
    "id int, price double, type string, body string, region string, "
    "source_ip string, dest_ip string, host string, duration double, "
    "`timestamp` timestamp, `count` int, ip string, "
    "sessionSummaryInfo struct<threatInfo:struct<"
    "ipsThreatCount:int,wafThreatCount:int,l7DOSThreatCount:int,"
    "urlFilteringDenyCount:int,tlsHandshakeFailureCount:int>>"
)

_ROWS = [
    # id price  type      body       region  src_ip     dst_ip     host  dur   ts                     count ip       threat (ips,waf,l7,url,tls)
    (1, 10.0, "t-shirt", "error", "emea", "10.0.0.1", "10.1.0.1", "h1", 1.5, "2022-06-05T01:00:00Z", 3, "1.2.3.4", (1, None, 2, None, 1)),
    (2, 20.0, "t-shirt", "warning", "emea", "10.0.0.1", "10.1.0.2", "h2", 2.5, "2022-06-05T13:00:00Z", 5, None, (None, 4, None, 1, None)),
    (3, 30.0, "mug", "error", "emea", "10.0.0.2", "10.1.0.1", "h1", 3.5, "2022-06-06T01:00:00Z", 7, "1.2.3.5", (2, 1, None, None, None)),
    (4, 40.0, "mug", "info", "apac", "10.0.0.3", "10.1.0.3", "h3", 4.5, "2022-06-05T23:59:59Z", 9, None, (None, None, None, None, None)),
    (5, 50.0, "t-shirt", "warning", "apac", "10.0.0.3", "10.1.0.1", "h1", 5.5, "2022-06-06T12:00:00Z", 11, "1.2.3.6", (3, None, 4, 2, None)),
    (6, 60.0, "poster", "error", "apac", "10.0.0.4", "10.1.0.2", "h2", 6.5, "2022-06-04T23:59:59Z", 13, None, (None, 5, None, None, 2)),
    (7, 70.0, "poster", "warning", "amer", "10.0.0.5", "10.1.0.3", "h3", 7.5, "2022-06-05T00:00:00Z", 15, "1.2.3.7", (4, None, None, 3, None)),
    (8, 80.0, "t-shirt", "error", "amer", "10.0.0.5", "10.1.0.1", "h4", 8.5, "2022-06-07T00:00:00Z", 17, None, (None, None, 5, None, 3)),
    (9, 90.0, "mug", "info", "amer", "10.0.0.6", "10.1.0.2", "h1", 9.5, "2022-06-05T18:00:00Z", 19, "1.2.3.8", (5, 6, None, None, None)),
]

# case -> list of (bucket CTE name, aggs slice, query override or
# "file" to use the file's own query, [(cte_col, adapter_col), ...])
_AVG_PRICE = {"avg_price": {"avg": {"field": "price"}}}

CASES: dict[str, list] = {
    "avg1": [
        ("$bucket:%0", {"avg_price": {"avg": {"field": "price"}}},
         [("avg_price", "avg_price")]),
    ],
    "avg-filter1": [
        ("$bucket:t_shirts%0",
         {"t_shirts": {"filter": {"term": {"type": "t-shirt"}},
                       "aggs": _AVG_PRICE}},
         [("$doc_count", "doc_count"), ("avg_price", "avg_price")]),
    ],
    "avg-filters1": [
        ("$bucket:t_shirts:errors%0",
         {"t_shirts": {"filters": {"filters": {
             "errors": {"term": {"body": "error"}},
             "warnings": {"term": {"body": "warning"}}}},
             "aggs": _AVG_PRICE}},
         [("$doc_count", "errors_doc_count"),
          ("avg_price", "errors_avg_price")]),
        ("$bucket:t_shirts:warnings%0",
         {"t_shirts": {"filters": {"filters": {
             "errors": {"term": {"body": "error"}},
             "warnings": {"term": {"body": "warning"}}}},
             "aggs": _AVG_PRICE}},
         [("$doc_count", "warnings_doc_count"),
          ("avg_price", "warnings_avg_price")]),
    ],
    "avg-filter-combined1": [
        ("$bucket:%0",
         {"avg_overall_price": {"avg": {"field": "price"}},
          "total_types": {"cardinality": {"field": "type"}},
          "t_shirts": {"filter": {"term": {"type": "t-shirt"}},
                       "aggs": _AVG_PRICE}},
         [("avg_overall_price", "avg_overall_price"),
          ("total_types", "total_types")]),
        ("$bucket:t_shirts%0",
         {"avg_overall_price": {"avg": {"field": "price"}},
          "total_types": {"cardinality": {"field": "type"}},
          "t_shirts": {"filter": {"term": {"type": "t-shirt"}},
                       "aggs": _AVG_PRICE}},
         [("$doc_count", "doc_count"), ("avg_price", "avg_price")]),
    ],
    "terms": [
        ("$bucket:region%0",
         {"region": {"terms": {"field": "region"},
                     "aggs": {"unique_ips": {
                         "cardinality": {"field": "source_ip"}}}}},
         [("$key:region%0", "key"), ("$doc_count", "doc_count"),
          ("unique_ips", "unique_ips")]),
    ],
    "issue-54": [
        ("$bucket:name%0",
         {"name": {"terms": {"field": "timestamp",
                             "order": {"_key": "asc"}, "size": 1}}},
         [("$key:name%0", "key"), ("$doc_count", "doc_count")]),
    ],
    "issue-67-case1": [
        ("$bucket:events_over_time%0", "file",
         [("$key:events_over_time%0", "key"),
          ("$doc_count", "doc_count")] + [
             (f"aggs{i}:$doc_count", f"aggs{i}_doc_count")
             for i in range(5)]),
    ],
    "issue-67-case2": [
        ("$bucket:events_over_time%0", "file",
         [("$key:events_over_time%0", "key"),
          ("$doc_count", "doc_count"),
          ("ips:$doc_count", "ips_doc_count"),
          ("avg_count", "avg_count")]),
    ],
    "nestedagg": [
        ("$bucket:regional%0",
         {"regional": {"terms": {"field": "region"},
                       "aggs": {"avg_duration": {
                           "avg": {"field": "duration"}}}}},
         [("$key:regional%0", "key"), ("$doc_count", "doc_count"),
          ("avg_duration", "avg_duration")]),
        ("$bucket:regional:src%0",
         {"regional": {"terms": {"field": "region"}, "aggs": {
             "src": {"terms": {"field": "source_ip"}, "aggs": {
                 "hosts": {"cardinality": {"field": "host"}}}}}}},
         [("$key:regional%0", "key"),
          ("$key:regional:src%0", "src_key"),
          ("$doc_count", "src_doc_count"), ("hosts", "hosts")]),
        ("$bucket:regional:dest%0",
         {"regional": {"terms": {"field": "region"}, "aggs": {
             "dest": {"terms": {"field": "dest_ip"}}}}},
         [("$key:regional%0", "key"),
          ("$key:regional:dest%0", "dest_key"),
          ("$doc_count", "dest_doc_count")]),
    ],
}


def build_table(spark):
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(_VIEW):
        df = spark.createDataFrame(
            [
                (i, p, ty, bo, rg, si, di, ho, du, ts, ct, ip,
                 {"threatInfo": {
                     "ipsThreatCount": t[0], "wafThreatCount": t[1],
                     "l7DOSThreatCount": t[2],
                     "urlFilteringDenyCount": t[3],
                     "tlsHandshakeFailureCount": t[4]}})
                for (i, p, ty, bo, rg, si, di, ho, du, ts, ct, ip, t)
                in _ROWS
            ],
            schema=_SCHEMA.replace("`timestamp` timestamp",
                                   "`timestamp` string"),
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        df.createOrReplaceTempView(_VIEW)
    return spark.table(_VIEW)


# -- recorded-SQL surgery ---------------------------------------------

def split_with(sql: str) -> list[tuple[str, str]]:
    """Split the proxy's ``WITH "name" AS ( body ), ...`` chain into
    (name, body) pairs; the trailing response-assembly SELECT is
    dropped.  Comment lines (--) are stripped first."""
    sql = "\n".join(
        ln for ln in sql.splitlines() if not ln.lstrip().startswith("--")
    )
    pos = sql.index("WITH") + 4
    out = []
    while True:
        m = re.compile(r'\s*"((?:[^"]|"")+)"\s+AS\s*\(').match(sql, pos)
        if not m:
            break
        name = m.group(1)
        depth, i = 1, m.end()
        while depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        out.append((name, sql[m.end(): i - 1].strip()))
        pos = i
        m2 = re.compile(r"\s*,").match(sql, pos)
        if not m2:
            break
        pos = m2.end()
    return out


def _bucket_sql(ctes: list[tuple[str, str]], target: str,
                cols: list[str], view: str = _VIEW) -> str:
    """Rebuild a runnable query: the full CTE chain (with the source
    table pointed at `view`) + an explicit projection of `cols`
    from the target bucket CTE."""
    parts = []
    for name, body in ctes:
        body = body.replace('"test"."sample_flights"', view)
        body = body.replace('"test"."news"', view)
        body = body.replace('"table"', view)
        # issue-54 wraps the bucket in a Sneller relation->array
        # constructor `SELECT [( ... )]`; the array packaging is
        # response assembly — run the inner relation
        m = re.match(r"SELECT\s*\[\(\s*(.*)\s*\)\]\s*$", body, re.DOTALL)
        if m:
            body = m.group(1)
        parts.append(f'"{name}" AS ({body})')
    sel = ", ".join(f'"{c}"' for c in cols)
    return f'WITH {", ".join(parts)} SELECT {sel} FROM "{target}"'


def _canon(v):
    import datetime as _dt

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 7)  # elastic_json_test.go comparePrecision
    if isinstance(v, _dt.datetime):
        # epoch seconds: the recorded SQL's TIME_BUCKET keys are epoch
        # ints while the adapter's are timestamps — same instant
        return v.replace(tzinfo=_dt.timezone.utc).timestamp()
    return v


def run_case(spark, name: str) -> dict:
    from sneller_spark import partiql
    from sneller_spark.adapters.elastic import elastic_search

    raw = json.load(open(os.path.join(REF_DIR, f"{name}.json")))
    recorded = open(os.path.join(REF_DIR, f"{name}.json.sql")).read()
    ctes = split_with(recorded)
    t = build_table(spark)

    results = []
    for target, slice_aggs, colmap in CASES[name]:
        if slice_aggs == "file":
            slice_aggs = raw["aggs"]
        body = {"aggs": slice_aggs}
        if raw.get("query") is not None:
            body["query"] = raw["query"]
        a_df = elastic_search(t, body, qs_mapping=MAPPING)
        a = sorted(
            tuple(_canon(r[ac]) for _, ac in colmap)
            for r in a_df.collect()
        )
        b_sql = _bucket_sql(ctes, target, [cc for cc, _ in colmap])
        b = sorted(
            tuple(_canon(v) for v in r)
            for r in partiql.sql(spark, b_sql, ansi="false").collect()
        )
        if a != b:
            return {"case": name, "bucket": target, "status": "mismatch",
                    "adapter": a[:4], "sql": b[:4]}
        if not a:
            return {"case": name, "bucket": target, "status": "vacuous"}
        results.append(len(a))
    return {"case": name, "status": "pass", "bucket_rows": results}


def list_cases() -> list[str]:
    return sorted(CASES)
