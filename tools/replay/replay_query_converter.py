"""Replay of the reference proxy's `testqueries` corpus (24 cases).

`elasticproxy/elastic-proxy/testqueries/` holds raw Elastic `query`
objects (14 of them carrying `query_string`) with the proxy's exact
recorded SQL translation next to each (`*.json.sql`), checked by
query_converter_test.go:45-110 under the TypeMapping
``u_*: text (keyword/raw subfields), timestamp: datetime,
server_timestamp: unix_nano_seconds``.

Each case runs twice on one engineered table: the raw query object
through `adapters.elastic` (with the same mapping) and the recorded
SQL through the PartiQL surface; the matched row-id sets must agree.
Both run with ANSI mode off — the reference never aborts on a
mismatched-type comparison (MISSING instead), and non-ANSI Spark is
the exact analog (`large-float.json` compares a string column against
an int literal).

Corpus-pinned quirks:

- `server_timestamp` range bounds are epoch NANOseconds
  (`unix_nano_seconds` mapping; 1650924880212508000 →
  ``2022-04-25T22:14:40.212508Z`` — adapters.elastic converts via
  timestamp_micros(ns // 1000))
- the legacy range spelling `from/to/include_lower/include_upper`
  with JSON-null unbounded ends
- `bool` clauses given as single objects, not lists
- `bool1`/`bool2` are UNSATISFIABLE on scalar data (filter
  `tags = 'production'` AND a required should of `tags = 'env1' OR
  'deployed'`): the proxy's recorded SQL returns no rows on any flat
  table, so both surfaces agreeing on EMPTY is the correct replay —
  they are the only allowed-empty cases.
- rows keep `age` non-null: our `must_not` is null-safe (real
  Elastic keeps docs missing the field) while the proxy's recorded
  SQL uses a bare NOT that drops them — the one documented divergence
  this corpus would otherwise surface.
"""

from __future__ import annotations

import json
import os

REF_DIR = "/root/reference/elasticproxy/elastic-proxy/testqueries"

_VIEW = "qc_replay"

# query_converter_test.go:73-90 TypeMapping, in adapters form.
MAPPING = {
    "u_*": {
        "type": "text",
        "fields": {"keyword": "keyword", "raw": "keyword-ignore-case"},
    },
    "timestamp": {"type": "datetime"},
    "server_timestamp": {"type": "unix_nano_seconds"},
}

ALLOWED_EMPTY = {"bool1", "bool2"}
ALLOWED_FULL = {"range-star3"}  # recorded SQL is literally TRUE

_SCHEMA = (
    "id int, tenant string, server_timestamp timestamp, "
    "decision string, u_boolean_allowed boolean, "
    "u_boolean_allow boolean, u_string_path string, "
    "u_string_reason string, u_string_name string, "
    "u_integer_count int, `u_date_*` string, `timestamp` timestamp, "
    "user struct<id:string>, tags string, age int, test string, "
    "input struct<request:struct<namespace:string>>, "
    "field1 string, field2 string"
)

_ROWS = [
    # id tenant sts(UTC)               decision        allowed allow path       reason name        cnt u_date_*                    ts                    user.id  tags        age test                   input.ns
    (1, "test", "2022-04-25T22:20:00Z", "test foo", True, True, "Search", "foo", "johnathon", 3, "2019-07-24T05:00:00-07:00", "2022-03-20T00:00:00Z", "kimchy", "production", 15, "Lease note", "kube-node-lease", "def xyz", "abc"),
    (2, "test", "2022-04-25T22:20:30Z", "foo", False, True, "search", "bar", "mary", 1, "2019-07-23T00:00:00-07:00", "2022-03-21T00:00:00Z", "elkbee", "env1", 25, "1650924880212508000", "default", "none", "zz"),
    (3, "test", "2022-04-25T22:16:00Z", "test bar foo", True, False, "research", "foo", "jonathan", 5, "2019-07-24T23:00:00-07:00", "2022-03-22T00:00:00Z", "kimchy", "deployed", 10, "foo", "kube-system", "def", "no"),
    (4, "other", "2022-04-25T22:20:00Z", "test foo", True, True, "Search", "foo", "johnathon", 3, "2019-07-24T05:00:00-07:00", "2022-03-21T06:00:00Z", "kimchy", "production", 15, "Lease", "kube-node-lease", "x", "abc here"),
    (5, "test", "2022-04-25T22:10:00Z", "test foo", True, True, "search", "foo", "johnathan", 2, "2019-07-24T12:00:00-07:00", "2022-03-19T00:00:00Z", "x", "production", 20, "Lease", "kube-node-lease", "y", "x"),
    (6, "test", "2022-04-25T22:20:00Z", "fto", False, False, "no", None, "nathan", 0, "2019-07-26T00:00:00-07:00", "2022-03-21T12:00:00Z", "y", "production", 30, "Lease", "kube-node-leaseX", "z", "x"),
    (7, "test", "2022-04-25T22:20:00Z", "path", False, True, "Search", "x", "jon", 7, "2019-07-22T00:00:00-07:00", "2022-03-25T00:00:00Z", "elkbee", "deployed", 40, "zzz", "other", "def", "abc"),
]


def build_table(spark):
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(_VIEW):
        df = spark.createDataFrame(
            [
                (i, tn, sts, de, ba, bb, pa, rs, nm, ct, ud, ts,
                 {"id": ui}, tg, ag, te, {"request": {"namespace": ns}},
                 f1, f2)
                for (i, tn, sts, de, ba, bb, pa, rs, nm, ct, ud, ts,
                     ui, tg, ag, te, ns, f1, f2) in _ROWS
            ],
            schema=_SCHEMA
            .replace("server_timestamp timestamp", "server_timestamp string")
            .replace("`timestamp` timestamp", "`timestamp` string"),
        ).withColumn("server_timestamp", F.to_timestamp("server_timestamp")) \
         .withColumn("timestamp", F.to_timestamp("timestamp"))
        df.createOrReplaceTempView(_VIEW)
    return spark.table(_VIEW)


def list_cases() -> list[str]:
    """Recorded case names; empty when the corpus is absent, so the
    tests' own skipif applies instead of a collection error."""
    if not os.path.isdir(REF_DIR):
        return []
    return sorted(
        f[: -len(".json")]
        for f in os.listdir(REF_DIR)
        if f.endswith(".json")
    )


def run_case(spark, name: str) -> dict:
    from sneller_spark import partiql
    from sneller_spark.adapters.elastic import elastic_search

    q = json.load(open(os.path.join(REF_DIR, f"{name}.json")))
    expected = open(os.path.join(REF_DIR, f"{name}.json.sql")).read()
    t = build_table(spark)

    # adapter surface — non-ANSI like the reference (never aborts;
    # bad casts are MISSING); restore the session conf afterwards
    old = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        body = {"query": q, "_source": ["id"]}
        a = sorted(
            r["id"]
            for r in elastic_search(t, body, qs_mapping=MAPPING).collect()
        )
    finally:
        if old is not None:
            spark.conf.set("spark.sql.ansi.enabled", old)

    # recorded-SQL surface
    pred = expected.replace('"$source".', "")
    b = sorted(
        r["id"]
        for r in partiql.sql(
            spark, f"SELECT id FROM {_VIEW} WHERE {pred}", ansi="false"
        ).collect()
    )

    if a != b:
        return {"case": name, "status": "mismatch",
                "adapter_ids": a, "sql_ids": b}
    if not a and name not in ALLOWED_EMPTY:
        return {"case": name, "status": "vacuous"}
    if (len(a) == len(_ROWS) and name not in ALLOWED_FULL):
        return {"case": name, "status": "unselective"}
    return {"case": name, "status": "pass", "rows": len(a)}
