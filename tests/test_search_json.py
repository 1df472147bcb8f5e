"""End-to-end `search_json`: native raw ≡ recorded-SQL raw, per scenario.

For every recorded dashboard/search the reference ships
(`testdata-new` 26 + `testdata-news` 8), two independent executions
over the SAME synthesized tables must produce the same flat raw
result (the proxy's step-3 shape):

  raw_a — `adapters.search.execute_raw`: the request compiled natively
          (adapters/elastic.py) and run as DataFrame plans;
  raw_b — the proxy's *recorded* WITH-form SQL (`*-1-query.sql`),
          executed CTE-by-CTE through the PartiQL surface.

Equality here, chained with `tests/test_replay_elastic_response.py`
(recorded raw → recorded step-4/step-5 responses, byte-for-byte),
proves the full native pipeline request → Spark → Elastic envelope
end-to-end.  A final smoke test assembles the whole response from the
native raw and checks the envelope against the raw's own numbers.
"""
from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

from tools.replay.replay_scenarios import (
    ALLOWED_EMPTY,
    FLIGHTS_MAPPING,
    NEWS_MAPPING,
    REF_NEW,
    REF_NEWS,
    build_flights,
    build_news,
    list_scenarios,
)
from tools.replay.replay_testaggs import _bucket_sql, _canon, split_with

pytestmark = pytest.mark.skipif(
    not Path(REF_NEW).is_dir(), reason="reference artifacts not present")


def _canon_rows(rows, drop_source_aliases=False):
    """Order-free canonical form of one bucket/hits row set."""
    if isinstance(rows, dict):  # metrics-only bucket: single struct
        rows = [rows]
    out = []
    for r in rows:
        if drop_source_aliases:
            r = {k: v for k, v in r.items() if not k.startswith("$source:")}
        # $dummy$ is the generator's constant grouping key; the recorded
        # SQL emits it only when the ORDER BY needs it, so it is not
        # part of the value contract
        r = {k: v for k, v in r.items() if k != "$dummy$"}
        out.append(tuple(sorted((k, _canon(v)) for k, v in r.items())))
    return sorted(out)


def _raw_from_recorded_sql(spark, directory, name, view):
    """Execute the recorded WITH-form SQL through the PartiQL surface,
    reassembling the step-3 raw dict from its CTEs."""
    from sneller_spark import partiql

    recorded = open(os.path.join(directory, f"{name}-1-query.sql")).read()
    ctes = split_with(recorded)
    raw = {}

    n_sql = _bucket_sql(ctes, "$source", ["*"], view=view).replace(
        'SELECT "*" FROM "$source"',
        'SELECT COUNT(*) AS n FROM "$source"')
    raw["$total_count"] = partiql.sql(spark, n_sql,
                                      ansi="false").collect()[0]["n"]

    for cte_name, _ in ctes:
        if not re.fullmatch(r"\$bucket:.*%\d+", cte_name):
            continue
        sql = _bucket_sql(ctes, cte_name, ["*"], view=view).replace(
            'SELECT "*"', "SELECT *")
        rows = [r.asDict(recursive=True)
                for r in partiql.sql(spark, sql, ansi="false").collect()]
        raw[cte_name] = rows

    hm = re.search(
        r'\(SELECT \*\s+FROM "\$source"\s*(.*?)\s*\) AS "\$hits"',
        recorded, flags=re.DOTALL)
    if hm:
        src = dict(ctes)["$source"]
        src = (src.replace('"test"."sample_flights"', view)
                  .replace('"test"."news"', view))
        sql = (f'WITH "$source" AS ({src}) '
               f'SELECT * FROM "$source" {hm.group(1)}')
        raw["$hits"] = [r.asDict(recursive=True)
                        for r in partiql.sql(spark, sql,
                                             ansi="false").collect()]
    return raw


@pytest.mark.parametrize("directory,name", list_scenarios())
def test_native_raw_matches_recorded_sql(spark, directory, name):
    from sneller_spark.adapters.search import execute_raw

    is_news = directory == REF_NEWS
    t = build_news(spark) if is_news else build_flights(spark)
    view = "scen_news" if is_news else "scen_flights"
    mapping = NEWS_MAPPING if is_news else FLIGHTS_MAPPING
    body = json.load(open(os.path.join(directory, f"{name}-0-input.json")))

    old = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        raw_a = execute_raw(t, body, qs_mapping=mapping)
        raw_b = _raw_from_recorded_sql(spark, directory, name, view)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.ansi.enabled", old)

    assert set(raw_a) == set(raw_b), (sorted(raw_a), sorted(raw_b))
    assert raw_a["$total_count"] == raw_b["$total_count"]
    nonempty = raw_a["$total_count"] > 0
    for k in raw_b:
        if k == "$total_count":
            continue
        a = _canon_rows(raw_a[k], drop_source_aliases=(k == "$hits"))
        b = _canon_rows(raw_b[k], drop_source_aliases=(k == "$hits"))
        assert a == b, f"{name} {k}: native {a[:3]} != recorded-SQL {b[:3]}"
        if name not in ALLOWED_EMPTY:
            assert a, f"{name} {k}: vacuous (no rows on synthesized data)"
        nonempty = nonempty or bool(a)
    if name not in ALLOWED_EMPTY:
        assert nonempty, f"{name}: scenario selected nothing anywhere"


@pytest.mark.parametrize("directory,name", list_scenarios())
def test_search_json_envelope(spark, directory, name):
    """Assemble the full response from the native raw; check the
    envelope against the raw's own numbers (the raw→response step is
    separately byte-proven by test_replay_elastic_response)."""
    from sneller_spark.adapters.search import execute_raw, search_json

    is_news = directory == REF_NEWS
    t = build_news(spark) if is_news else build_flights(spark)
    mapping = NEWS_MAPPING if is_news else FLIGHTS_MAPPING
    tm = ({"title": {"type": "text",
                     "fields": {"keyword": "keyword",
                                "raw": "keyword-ignore-case"}}}
          if is_news else {"timestamp": {"type": "datetime"}})
    body = json.load(open(os.path.join(directory, f"{name}-0-input.json")))

    old = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        raw = execute_raw(t, body, qs_mapping=mapping)
        resp = search_json(t, body, type_mapping=tm,
                           index="it", qs_mapping=mapping)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.ansi.enabled", old)

    json.dumps(resp)  # a response must be pure JSON
    assert resp["hits"]["total"]["value"] == raw["$total_count"]
    assert resp["_shards"] == {"successful": 1, "failed": 0,
                               "skipped": 0, "total": 1}
    n_hits = len(raw.get("$hits") or [])
    assert len(resp["hits"]["hits"]) == n_hits
    for h in resp["hits"]["hits"]:
        assert h["_index"] == "it" and h["_id"]
    if body.get("aggs"):
        assert set(resp["aggregations"]) >= set(body["aggs"]) - {
            n for n, s in body["aggs"].items()
            if set(s) & {"bucket_sort"}}
