"""Replay of the proxy's full recorded scenarios: `testdata-new`
(26 sample_flights dashboards) and `testdata-news` (8 news-table
query_string searches).

Each scenario ships the raw request (`*-0-input.json`) and the
proxy's recorded WITH-form SQL (`*-1-query.sql`) — the same
translation generation as `testaggs`, against real dashboard
requests.  The replay derives the checks FROM the recorded SQL
itself (no hand-written slice maps):

- for every ``"$bucket:..."`` CTE, a matching aggs slice is cut out
  of the request (nested levels isolated, pipeline aggs stripped —
  the proxy computes bucket_script/bucket_sort in response
  postprocessing, not SQL) and run through `adapters.elastic`; the
  CTE executes verbatim through the PartiQL surface, and the value
  sets must agree column-for-column (``$key:...`` ↔ ``key`` /
  ``<inner>_key``, ``$doc_count`` ↔ the level's doc_count,
  ``name:$doc_count`` ↔ ``name_doc_count``)
- the ``$total_count`` subquery cross-checks `elastic_search(query
  only).count()` against ``SELECT COUNT(*)`` over the ``$source``
  CTE
- scenarios with a ``$hits`` subquery (flight-log, the news
  searches) compare the hit multiset on stable columns, including
  `from`-offset pagination

Corpus-pinned quirks: the proxy's `histogram` rounds to the NEAREST
interval (``interval * WIDTH_BUCKET(x + interval/2, ...)``,
aggs_histogram.go:57-80 — Elastic floors; our adapter floors too, so
the flights data keeps every value's remainder under interval/2 where
both agree); `issue-55` and `regex-title-text1` pin the lowercased-
column-vs-capitalized-regex quirk (``LOWER(col) ~ 'Kibana.*'`` can
never match) so both surfaces agreeing on EMPTY is the correct
replay; `empty-data` filters a year with no rows by design.
"""

from __future__ import annotations

import json
import os
import re

from .replay_testaggs import _bucket_sql, _canon, split_with

REF_NEW = "/root/reference/elasticproxy/elastic-proxy/testdata-new"
REF_NEWS = "/root/reference/elasticproxy/elastic-proxy/testdata-news"

FLIGHTS_VIEW = "scen_flights"
NEWS_VIEW = "scen_news"

FLIGHTS_MAPPING = {"timestamp": {"type": "datetime"}}
NEWS_MAPPING = {
    "title": {"type": "text",
              "fields": {"keyword": "keyword",
                         "raw": "keyword-ignore-case"}},
}

# scenarios where BOTH surfaces legitimately select nothing
ALLOWED_EMPTY = {"empty-data", "issue-55", "regex-title-text1"}

_PIPELINE = {"bucket_script", "bucket_sort"}


def build_flights(spark):
    """replay_elastic's deterministic flights rows + the extra fields
    this corpus touches (weather, airport ids, a geo struct whose
    points straddle the geotile-grid bounds filter)."""
    from pyspark.sql import functions as F

    from .replay_elastic import _WEATHER, flights_rows

    if not spark.catalog.tableExists(FLIGHTS_VIEW):
        rows = flights_rows()
        for k, r in enumerate(rows):
            r["OriginWeather"] = _WEATHER[(k // 11) % 4]
            r["OriginAirportID"] = f"O{k % 13}"
            r["DestAirportID"] = f"D{k % 17}"
            # +0.26 keeps every point off exact tile edges, where the
            # reference's FMA geo-tile chain and a plain floor can
            # round to adjacent tiles
            r["OriginLocation"] = {
                "lat": 35.26 + (k % 30), "lon": -149.74 + (k * 7) % 90}
        df = spark.read.json(
            spark.sparkContext.parallelize(
                [json.dumps(r) for r in rows], 4)
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        df.createOrReplaceTempView(FLIGHTS_VIEW)
    return spark.table(FLIGHTS_VIEW)


_NEWS_ROWS = [
    (1, "Biden", "2023-01-01T00:00:00Z"),
    (2, "biden", "2023-01-02T00:00:00Z"),
    (3, "BIDEN", "2023-01-03T00:00:00Z"),
    (4, "Biden wins vote", "2023-01-04T00:00:00Z"),
    (5, "president biden speech", "2023-01-05T00:00:00Z"),
    (6, "Bidenomics explained", "2023-01-06T00:00:00Z"),
    (7, "xBiden", "2023-01-07T00:00:00Z"),
    (8, "other news", "2023-01-08T00:00:00Z"),
    (9, "the bide. case", "2023-01-09T00:00:00Z"),
    (10, "vote for Biden today", "2023-01-10T00:00:00Z"),
]


def build_news(spark):
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(NEWS_VIEW):
        df = spark.createDataFrame(
            _NEWS_ROWS, "id int, title string, published_at string"
        ).withColumn("published_at", F.to_timestamp("published_at"))
        df.createOrReplaceTempView(NEWS_VIEW)
    return spark.table(NEWS_VIEW)


def list_scenarios() -> list[tuple[str, str]]:
    """(directory, scenario) pairs; a missing corpus directory yields
    none, so the tests' own skipif applies instead of a collection
    error."""
    out = []
    for d in (REF_NEW, REF_NEWS):
        if not os.path.isdir(d):
            continue
        for f in sorted(os.listdir(d)):
            if f.endswith("-0-input.json"):
                out.append((d, f[: -len("-0-input.json")]))
    return out


def _strip_pipeline(aggs: dict) -> dict:
    out = {}
    for n, s in aggs.items():
        if set(s) & _PIPELINE:
            continue
        s = dict(s)
        if s.get("aggs"):
            s["aggs"] = _strip_pipeline(s["aggs"]) or None
            if not s["aggs"]:
                del s["aggs"]
        out[n] = s
    return out


def _slice_for(aggs: dict, outer: str, inner: str | None) -> dict:
    """Cut the aggs slice that produces one bucket CTE."""
    from sneller_spark.adapters.elastic import _BUCKET_KINDS

    if outer == "":  # "$bucket:%0" — the metrics-only bucket
        return {n: s for n, s in aggs.items()
                if not set(s) & (_BUCKET_KINDS | _PIPELINE)}
    spec = dict(aggs[outer])
    sub = _strip_pipeline(spec.get("aggs") or {})
    if inner is None:
        # outer level alone: drop nested bucket sub-aggs
        from sneller_spark.adapters.elastic import _BUCKET_KINDS, _filter_metric_like

        sub = {n: s for n, s in sub.items()
               if not set(s) & _BUCKET_KINDS or _filter_metric_like(s)}
    else:
        sub = {inner: sub[inner]}
    if sub:
        spec["aggs"] = sub
    else:
        spec.pop("aggs", None)
    # side metrics at the same level ride along (the proxy puts them
    # in the metrics-only "$bucket:%0" CTE, checked separately)
    return {outer: spec}


def _colmap(cte_cols: list[str], inner: str | None) -> list[tuple[str, str]]:
    """Map recorded CTE column names to adapter output names."""
    out = []
    for c in cte_cols:
        m = re.fullmatch(r"\$key:[^:%]*%0", c)
        if m:
            out.append((c, "key"))
            continue
        m = re.fullmatch(r"\$key:[^:%]*:([^:%]+)%0", c)
        if m:
            out.append((c, f"{m.group(1)}_key"))
            continue
        if c == "$doc_count":
            out.append((c, f"{inner}_doc_count" if inner else "doc_count"))
            continue
        m = re.fullmatch(r"(.+):\$doc_count", c)
        if m:
            out.append((c, f"{m.group(1)}_doc_count"))
            continue
        if c == "$dummy$":
            continue
        out.append((c, c))
    return out


def _cte_cols(spark, ctes, target, view) -> list[str]:
    from sneller_spark import partiql

    sql = _bucket_sql(ctes, target, ["*"], view=view).replace(
        'SELECT "*"', "SELECT *")
    return partiql.sql(spark, sql, ansi="false").columns


def run_scenario(spark, directory: str, name: str) -> dict:
    from sneller_spark import partiql
    from sneller_spark.adapters.elastic import elastic_search

    is_news = directory == REF_NEWS
    t = build_news(spark) if is_news else build_flights(spark)
    view = NEWS_VIEW if is_news else FLIGHTS_VIEW
    mapping = NEWS_MAPPING if is_news else FLIGHTS_MAPPING

    body = json.load(open(os.path.join(directory, f"{name}-0-input.json")))
    recorded = open(os.path.join(directory, f"{name}-1-query.sql")).read()
    ctes = split_with(recorded)
    src_body = dict(ctes)["$source"]
    aggs = body.get("aggs") or {}
    checks = []

    old = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        # --- $total_count ---------------------------------------------
        a_n = elastic_search(
            t, {"query": body.get("query")}, qs_mapping=mapping).count()
        b_n = partiql.sql(
            spark,
            _bucket_sql([("$source", src_body)], "$source",
                        ["*"], view=view).replace(
                'SELECT "*" FROM "$source"',
                'SELECT COUNT(*) AS n FROM "$source"'),
            ansi="false").collect()[0]["n"]
        if a_n != b_n:
            return {"scenario": name, "status": "mismatch",
                    "where": "$total_count", "adapter": a_n, "sql": b_n}
        checks.append(("$total_count", 1))

        # --- bucket CTEs ----------------------------------------------
        for cte_name, _ in ctes:
            m = re.fullmatch(r"\$bucket:([^:%]*)(?::([^:%]+))?%0", cte_name)
            if not m:
                continue
            outer, inner = m.group(1), m.group(2)
            slice_aggs = _slice_for(aggs, outer, inner)
            a_df = elastic_search(
                t, {"query": body.get("query"), "aggs": slice_aggs},
                qs_mapping=mapping)
            cols = _colmap(_cte_cols(spark, ctes, cte_name, view), inner)
            a = sorted(tuple(_canon(r[ac]) for _, ac in cols)
                       for r in a_df.collect())
            b_sql = _bucket_sql(ctes, cte_name, [cc for cc, _ in cols],
                                view=view)
            b = sorted(tuple(_canon(v) for v in r)
                       for r in partiql.sql(spark, b_sql,
                                            ansi="false").collect())
            if a != b:
                return {"scenario": name, "status": "mismatch",
                        "where": cte_name, "adapter": a[:4], "sql": b[:4]}
            if not a and name not in ALLOWED_EMPTY:
                return {"scenario": name, "status": "vacuous",
                        "where": cte_name}
            checks.append((cte_name, len(a)))

        # --- $hits ----------------------------------------------------
        hm = re.search(
            r'\(SELECT \*\s+FROM "\$source"\s*(.*?)\s*\) AS "\$hits"',
            recorded, flags=re.DOTALL)
        if hm and int(body.get("size", 0)) > 0:
            stable = (["title", "published_at"] if is_news
                      else ["timestamp"])
            a_df = elastic_search(t, {
                k: v for k, v in body.items()
                if k in ("query", "sort", "size", "from")
            }, qs_mapping=mapping)
            a = sorted(tuple(_canon(r[c]) for c in stable)
                       for r in a_df.select(*stable).collect())
            sel = ", ".join(f'"{c}"' for c in stable)
            src = (src_body
                   .replace('"test"."sample_flights"', view)
                   .replace('"test"."news"', view))
            b_sql = (f'WITH "$source" AS ({src}) '
                     f'SELECT {sel} FROM "$source" {hm.group(1)}')
            b = sorted(tuple(_canon(v) for v in r)
                       for r in partiql.sql(spark, b_sql,
                                            ansi="false").collect())
            if a != b:
                return {"scenario": name, "status": "mismatch",
                        "where": "$hits", "adapter": a[:4], "sql": b[:4]}
            if not a and name not in ALLOWED_EMPTY:
                return {"scenario": name, "status": "vacuous",
                        "where": "$hits"}
            checks.append(("$hits", len(a)))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.ansi.enabled", old)

    if a_n == 0 and name not in ALLOWED_EMPTY:
        return {"scenario": name, "status": "vacuous",
                "where": "$total_count"}
    return {"scenario": name, "status": "pass", "checks": checks}
