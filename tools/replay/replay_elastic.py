"""Replay of the reference's Kibana-dashboard proxy corpus.

The reference's elasticproxy ships end-to-end dashboard tests
(/root/reference/elasticproxy/elastic-proxy/testdata/
kibana_sample_data_flights/: 12 scenarios, each with the raw Kibana
request ``*-step1-query.json`` and the proxy's SQL translation
``*-step2-query.sql``).  The recorded engine responses were computed
over Elastic's sample flights dataset, which is not shipped — so the
value check here is a CROSS-VALIDATION of two independent surfaces of
this repo on the same synthesized flights table:

  adapter path:   elastic_search(flights, step1 request)
  dialect path:   partiql.sql(spark, step2 reference SQL)

Both must produce identical values (per-scenario column mapping below;
names differ by construction — the proxy emits ``_terms1``/``_avg1``,
the adapter Elastic-style ``key``/``doc_count``).  A disagreement
means one of the two translations is wrong.

Synthesis notes: cardinalities stay at or below every ``size`` cap so
bucket truncation can't diverge, and FlightDelayMin keeps ``x % 30 <
15`` because the proxy translates the histogram through WIDTH_BUCKET
rounding (x+15)/30 while Elastic's own histogram floors x/30 — the
two agree exactly on that residue range (divergence inherited from
the reference, regress/1379.test).
"""

from __future__ import annotations

import datetime
import json
import os

KIBANA = (
    "/root/reference/elasticproxy/elastic-proxy/testdata/"
    "kibana_sample_data_flights"
)

_CARRIERS = ["ES-Air", "JetBeats", "Kibana Airlines", "Logstash Airways"]
_DELAY_TYPES = ["Carrier Delay", "Late Aircraft Delay", "NAS Delay",
                "No Delay"]
_WEATHER = ["Clear", "Rain", "Sunny", "Thunder & Lightning"]
_COUNTRIES = ["AU", "DE", "US"]


def flights_rows(n: int = 600) -> list[dict]:
    """Deterministic sample-flights table covering every field the 12
    scenarios touch; timestamps span the dashboards' March-July 2022
    window plus an out-of-range tail that every filter must drop."""
    base = datetime.datetime(2022, 3, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for k in range(n):
        ts = base + datetime.timedelta(hours=int(k * 5.37) % (125 * 24))
        if k % 29 == 0:  # outside the dashboards' range filter
            ts = base - datetime.timedelta(days=1 + k % 30)
        rows.append({
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "Carrier": _CARRIERS[k % 4],
            "AvgTicketPrice": round(100.0 + (k * 37.31) % 900, 2),
            "FlightDelayMin": 30 * (k % 7) + (k % 13),
            "FlightDelayType": _DELAY_TYPES[(k // 3) % 4],
            "FlightDelay": (k // 3) % 4 != 3,
            "DestWeather": _WEATHER[(k // 5) % 4],
            "OriginCountry": _COUNTRIES[k % 3],
            "DestCountry": _COUNTRIES[(k // 7) % 3],
            "Cancelled": k % 5 == 0,
        })
    return rows


# scenario -> (adapter result columns, reference-SQL result columns),
# positionally aligned for the value compare.  Outer doc_count of a
# nested bucket result has no SQL counterpart (the proxy recomputes it
# in postprocessing), so nested mappings skip it.
SCENARIOS: dict[str, tuple[list[str], list[str]]] = {
    "airline-carrier": (["key", "doc_count"], ["_terms1", "count"]),
    "average-ticket-price": (["1"], ["_avg1"]),
    "delay-buckets": (["key", "doc_count"], ["_wdbucket1", "count"]),
    "delay-type": (["key", "3_key", "3_doc_count"],
                   ["_tmbucket1", "_terms1", "count"]),
    "destination-weather": (["key", "doc_count"], ["_terms1", "count"]),
    "flight-cancellations": (["key", "doc_count"], ["_terms1", "count"]),
    "flight-delay-min-max": (["maxAgg", "minAgg"], ["_max1", "_min1"]),
    "flight-delays": (["key", "3_key", "3_doc_count"],
                      ["_tmbucket1", "_terms1", "count"]),
    "origin-country-versus-destination-country": (
        ["key", "3_key", "3_doc_count"], ["_terms1", "_terms2", "count"]),
    "total-flights": ([], ["count"]),
    "total-flight-cancellations": ([], ["count"]),
    "total-flight-delays": ([], ["count"]),
}


def list_scenarios() -> list[str]:
    return sorted(SCENARIOS)


def _canon(v):
    if isinstance(v, float):
        return int(v) if v.is_integer() else round(v, 6)
    return v


def _epoch_cols(df, cols):
    """Select ``cols``, converting timestamp columns to epoch seconds
    SPARK-SIDE (the reference's TIME_BUCKET yields epoch seconds and
    the adapter yields timestamps; collect()'d naive datetimes would
    carry the driver's local timezone, so the conversion must not
    happen in Python)."""
    from pyspark.sql import functions as F

    types = dict(df.dtypes)
    out = []
    for c in cols:
        if types.get(c, "").startswith("timestamp"):
            out.append(F.unix_seconds(F.col(f"`{c}`")).alias(c))
        else:
            out.append(F.col(f"`{c}`").alias(c))
    return df.select(*out)


def run_scenario(spark, name: str) -> dict:
    """Execute one dashboard scenario on both surfaces and compare."""
    from pyspark.sql import functions as F

    from sneller_spark import partiql
    from sneller_spark.adapters.elastic import elastic_search

    body = json.load(open(os.path.join(KIBANA, f"{name}-step1-query.json")))
    ref_sql = open(os.path.join(KIBANA, f"{name}-step2-query.sql")).read()
    a_cols, b_cols = SCENARIOS[name]

    # the table is identical for all 12 scenarios — build it once per
    # session (parallelize + JSON schema inference is an extra job)
    if not spark.catalog.tableExists("kibana_sample_data_flights"):
        flights = spark.read.json(
            spark.sparkContext.parallelize(
                [json.dumps(r) for r in flights_rows()], 4
            )
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        flights.createOrReplaceTempView("kibana_sample_data_flights")
    flights = spark.table("kibana_sample_data_flights")

    try:
        if a_cols:
            a_df = _epoch_cols(elastic_search(flights, body), a_cols)
            a = [tuple(_canon(r[c]) for c in a_cols)
                 for r in a_df.collect()]
        else:
            # aggs {} + size 0: the dashboard reads hits.total — the
            # filtered row count
            a = [(elastic_search(
                flights, {"query": body.get("query")}).count(),)]
        b_df = _epoch_cols(partiql.sql(spark, ref_sql, ansi="keep"), b_cols)
        b = [tuple(_canon(r[c]) for c in b_cols) for r in b_df.collect()]
    except Exception as exc:  # noqa: BLE001
        return {"scenario": name, "status": "error",
                "detail": str(exc)[:300]}
    if sorted(map(repr, a)) != sorted(map(repr, b)):
        only_a = [r for r in a if r not in b][:3]
        only_b = [r for r in b if r not in a][:3]
        return {"scenario": name, "status": "mismatch",
                "detail": f"adapter-only={only_a} sql-only={only_b} "
                          f"(|a|={len(a)}, |b|={len(b)})"}
    if not a:
        return {"scenario": name, "status": "error", "detail": "empty result"}
    return {"scenario": name, "status": "pass", "rows": len(a)}
