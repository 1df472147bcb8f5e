"""Replay of the reference proxy's standalone recorded-request corpus.

`elasticproxy/elastic-proxy/testdata/` ships 12 raw Elastic request
bodies recorded from real clients (Kibana / security dashboards)
outside the flights-dashboard suite: 9 `query-*.json` filter bodies
and 3 `ramon-test*-step1-query.json` terms-aggregation requests.  They
pin awkward real-world shapes the tidy DSL docs don't:

- ``"must_not": null`` (a JSON null clause list, not ``[]``)
- bare epoch-millisecond numbers in a `range` over a date field
  (Elastic's default ``strict_date_optional_time||epoch_millis``)
- `match_phrase` against boolean / numeric values
- `.keyword` subfield names on an unmapped index (exact match on the
  base field — the proxy's default-keyword rule, expr.go:650-655)
- `exists` on a nested path, a `bool` nested inside `must`, and a
  fully-empty `bool`

Each body executes through `adapters.elastic` on one synthesized
table, and the result must equal a hand-written Spark SQL oracle
(independent spelling of the same request, kept next to each file
name below).  Like the dashboard replay this cross-validates two
surfaces; unlike it, the reference recorded no SQL for these bodies,
so the oracle is this repo's reading of Elastic's documented
semantics.
"""

from __future__ import annotations

import json
import os

REF_DIR = "/root/reference/elasticproxy/elastic-proxy/testdata"

_VIEW = "eq_replay"

_SCHEMA = (
    "id int, type string, has struct<to:struct<exist:string>>, "
    "Cancelled boolean, FlightDelayMin int, `timestamp` timestamp, "
    "eventTime timestamp, awsRegion string, malicious string, "
    "accountName string, connection struct<srcPort:int,dstPort:int>"
)

# Engineered so every corpus file matches >=1 and <all rows.
_ROWS = [
    # id type     has.to.exist Cancel delay ts                        eventTime                 region        malicious account  src   dst
    (1, "event", "yes", True, 0, "2021-08-05T01:00:00Z", "2021-10-28T12:00:00Z", "me-south-1", "true", "acct-a", 1000, 443),
    (2, "LOG", None, False, 15, "2021-12-09T17:55:30Z", "2021-10-30T00:00:00Z", "us-east-1", "false", "acct-a", 1001, 80),
    (3, "event", "ok", False, 0, "2021-09-14T21:30:00Z", "2021-11-02T00:00:00Z", "me-south-1", "true", "acct-b", 2000, 443),
    (4, "other", None, True, 30, "2021-09-15T10:00:00Z", "2021-10-27T23:59:59Z", "eu-west-1", "false", "acct-b", 2001, 8080),
    (5, "LOG", "x", False, 0, "2021-12-09T17:57:00Z", "2021-10-31T06:00:00Z", "us-east-1", "true", "acct-c", 3000, 443),
    (6, "event", None, False, 5, "2022-06-15T00:00:00Z", "2021-10-29T09:30:00Z", "me-south-1", "false", "acct-a", 1000, 22),
    (7, "LOG", "y", True, 0, "2022-06-20T12:00:00Z", "2021-11-01T00:16:12Z", "ap-south-1", "true", "acct-c", 3001, 443),
    (8, "other", None, False, 60, "2022-07-02T00:00:00Z", "2021-12-01T00:00:00Z", "me-south-1", "false", "acct-a", 1002, 80),
    (9, "event", "z", False, 0, "2021-08-05T07:57:24Z", "2021-10-28T00:16:12Z", "us-west-2", "true", "acct-b", 2000, 22),
    (10, "LOG", None, True, 120, "2021-08-04T23:00:00Z", "2021-10-28T00:16:13Z", "eu-west-1", "false", "acct-c", 3002, 8080),
]

# file -> (projection columns, hand-written Spark SQL oracle)
CASES: dict[str, str] = {
    "query-bool-should.json":
        "SELECT id FROM eq_replay WHERE type = 'event'",
    "query-empty.json":
        "SELECT id FROM eq_replay",
    "query-exists.json":
        "SELECT id FROM eq_replay WHERE has.to.exist IS NOT NULL",
    "query-match-phrase-cancelled-true.json":
        "SELECT id FROM eq_replay WHERE Cancelled = true AND "
        "`timestamp` >= timestamp'2021-09-14 20:56:30.9' AND "
        "`timestamp` <= timestamp'2021-09-15 20:56:30.9'",
    "query-match-phrase-flight-delay-min.json":
        "SELECT id FROM eq_replay WHERE "
        "`timestamp` >= timestamp'2021-09-14 21:11:30.946' AND "
        "`timestamp` <= timestamp'2021-09-15 21:11:30.946' AND "
        "NOT coalesce(FlightDelayMin = 0, false)",
    "query-must-term.json":
        "SELECT id FROM eq_replay WHERE malicious = 'true'",
    "query-timestamp-range-and-must-not-match-phrase.json":
        "SELECT id FROM eq_replay WHERE "
        "eventTime >= timestamp'2021-10-28 00:16:12.313' AND "
        "eventTime <= timestamp'2021-11-01 00:16:12.313' AND "
        "NOT coalesce(awsRegion = 'me-south-1', false)",
    "query-timestamp-range-unixtime.json":
        "SELECT id FROM eq_replay WHERE "
        "`timestamp` >= timestamp_millis(1639072511001) AND "
        "`timestamp` <= timestamp_millis(1639072697708) AND "
        "type = 'LOG'",
    "query-timestamp-range.json":
        "SELECT id FROM eq_replay WHERE "
        "`timestamp` >= timestamp'2021-08-05 00:23:52.267' AND "
        "`timestamp` <= timestamp'2021-08-05 07:57:24.961'",
}

# the three terms-aggregation requests: oracle produces the same
# (key, doc_count, metrics...) bucket rows in Elastic bucket order
AGG_CASES: dict[str, str] = {
    "ramon-test1-step1-query.json":
        "SELECT accountName AS key, COUNT(*) AS doc_count, "
        "MIN(connection.srcPort) AS min_port, "
        "MAX(connection.srcPort) AS max_port "
        "FROM eq_replay WHERE "
        "`timestamp` >= timestamp'2022-06-01 00:00:00' AND "
        "`timestamp` <= timestamp'2022-07-01 00:00:00' "
        "GROUP BY 1 ORDER BY doc_count DESC, key ASC",
    "ramon-test2-step1-query.json":
        "SELECT accountName AS key, COUNT(*) AS doc_count, "
        "COUNT(DISTINCT connection.srcPort) AS distinct_ports "
        "FROM eq_replay WHERE "
        "`timestamp` >= timestamp'2022-06-01 00:00:00' AND "
        "`timestamp` <= timestamp'2022-07-01 00:00:00' "
        "GROUP BY 1 ORDER BY doc_count DESC, key ASC",
    "ramon-test3-step1-query.json":
        "SELECT accountName AS key, COUNT(*) AS doc_count, "
        "COUNT(DISTINCT connection.srcPort) AS distinct_regions, "
        "COUNT(DISTINCT connection.dstPort) AS distinct_ports "
        "FROM eq_replay WHERE "
        "`timestamp` >= timestamp'2022-06-01 00:00:00' AND "
        "`timestamp` <= timestamp'2022-07-01 00:00:00' "
        "GROUP BY 1 ORDER BY doc_count DESC, key ASC",
}


def build_table(spark):
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(_VIEW):
        df = spark.createDataFrame(
            [
                (i, t, {"to": {"exist": h}}, c, d, ts, et, r, m, a,
                 {"srcPort": sp, "dstPort": dp})
                for (i, t, h, c, d, ts, et, r, m, a, sp, dp) in _ROWS
            ],
            schema=_SCHEMA.replace("`timestamp` timestamp",
                                   "`timestamp` string")
                          .replace("eventTime timestamp",
                                   "eventTime string"),
        ).withColumn("timestamp", F.to_timestamp("timestamp")) \
         .withColumn("eventTime", F.to_timestamp("eventTime"))
        df.createOrReplaceTempView(_VIEW)
    return spark.table(_VIEW)


def run_case(spark, fname: str) -> dict:
    """Execute one recorded request body and its oracle; compare."""
    from sneller_spark.adapters.elastic import elastic_search

    body = json.load(open(os.path.join(REF_DIR, fname)))
    t = build_table(spark)
    if fname in CASES:
        body = dict(body)
        body["_source"] = ["id"]
        a = sorted(r["id"] for r in elastic_search(t, body).collect())
        b = sorted(r["id"] for r in spark.sql(CASES[fname]).collect())
        rows = len(a)
    else:
        out = elastic_search(t, body)
        a = [tuple(r) for r in out.collect()]
        b = [tuple(r) for r in spark.sql(AGG_CASES[fname]).collect()]
        rows = len(a)
    if a != b:
        return {"file": fname, "status": "mismatch",
                "adapter": a[:5], "oracle": b[:5]}
    if not a:
        return {"file": fname, "status": "vacuous"}
    # non-match coverage: a filter case that keeps every row proves
    # nothing (except query-empty, which MUST keep every row)
    if fname in CASES and fname != "query-empty.json" and rows == len(_ROWS):
        return {"file": fname, "status": "unselective"}
    return {"file": fname, "status": "pass", "rows": rows}


def list_cases() -> list[str]:
    return sorted(CASES) + sorted(AGG_CASES)
