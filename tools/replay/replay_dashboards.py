"""Replay of the proxy's two request-only dashboard captures:
`testdata/dashboard-cloud-trail` (9 Kibana tiles over a CloudTrail
index) and `testdata/dashboard-global-flight` (15 tiles over the
flights index).

Unlike `kibana_sample_data_flights` (full step1-8 recordings, replayed
in `replay_elastic.py`) and `testdata-new`/`testdata-news` (recorded
WITH-form SQL, replayed in `replay_scenarios.py`), these two
directories ship ONLY the raw Elastic request bodies — the reference
keeps them as captured real-dashboard inputs with no recorded
translation or response, and no Go test consumes them.  So, like
`replay_elastic_queries.py`, each body executes through
`adapters.elastic` on a deterministic synthesized table and must equal
a hand-written Spark SQL oracle (an independent spelling of the same
request next to each file name below).

Corpus-pinned reference behaviors this exercises:

- ``"aggs": null`` in a hits request (flight-log) and ``"aggs": {}``
  in the total-count tiles — no aggregations, not an empty bucket set
- terms ``order`` keys that are sub-agg metric paths (``{"2.50":
  "desc"}`` = sub-agg 2's 50th percentile): the reference's switch
  matches only ``_count``/``_key`` and silently DROPS anything else
  (aggs_terms.go:38-52), leaving LIMIT with no ORDER BY — every such
  case here keeps its bucket cardinality under the size cap so the
  bucket SET is deterministic and the dropped ordering is harmless
- `time_zone` on date_histogram is a reference TODO
  (aggs_date_histogram.go:39) — fixed intervals bucket in plain UTC
  epoch (TIME_BUCKET), which is what the 3h/30m oracles spell out
- multi-path aggs (a terms bucket holding BOTH a nested bucket and a
  side percentile metric, top-values-of-current-state): the proxy
  compiles each bucket path to its own CTE, so the replay checks each
  path as its own adapter call (same decomposition as
  `replay_scenarios._slice_for`)
- `top_hits` with no sort beside a second bucket sub-agg
  (airline-connections): the reference can GENERATE SQL for it but its
  response processor hard-errors ("'top_hits' not supported",
  aggs_top_hits.go:97), so the proxy cannot serve this tile at all —
  the replay pins negative parity (our adapter raises a clear
  ElasticDslError)
- geo corners in [lon, lat] array form for both geo_bounding_box and
  geotile_grid bounds (geo_helpers.go:30-71)
"""

from __future__ import annotations

import datetime
import json
import os

REF_ROOT = "/root/reference/elasticproxy/elastic-proxy/testdata"

CT_VIEW = "dash_cloudtrail"
GF_VIEW = "dash_flights"

_UTC = datetime.timezone.utc


# ---------------------------------------------------------------------
# deterministic tables
# ---------------------------------------------------------------------

_CT_SCHEMA = (
    "id int, eventTime string, awsRegion string, eventSource string, "
    "eventName string, eventType string, userAgent string, "
    "sourceIPAddress struct<asn:struct<organization_name:string>, "
    "geoip:struct<country:string,country_code:string>>, "
    "responseElements struct<instancesSet:struct<items:struct<"
    "currentState:struct<name:string>, "
    "previousState:struct<name:string,code:int>>>>"
)

_REGIONS = ["me-south-1", "us-east-1", "eu-west-1", "ap-south-1"]
_SOURCES = ["ec2.amazonaws.com", "s3.amazonaws.com", "iam.amazonaws.com",
            "sts.amazonaws.com", "lambda.amazonaws.com",
            "logs.amazonaws.com"]
_EVENTS = ["RunInstances", "StopInstances", "GetObject", "AssumeRole"]
_ETYPES = ["AwsApiCall", "AwsServiceEvent", "AwsConsoleSignIn",
           "AwsCloudTrailInsight"]
_AGENTS = ["aws-cli/2.4", "console.amazonaws.com", "Boto3/1.20",
           "terraform/1.1", "aws-sdk-go/1.42", "kubectl/1.23"]
_ORGS = ["Acme ISP", "CloudNet", "TransitCo", "EduNet", "GovLink"]
_GEO = [("United States", "US"), ("Germany", "DE"), ("Japan", "JP")]
_CUR = ["running", "stopped", "pending", "terminated"]
_PREV = ["pending", "running", "stopping"]


def build_cloudtrail(spark):
    """60 rows at 2.5 h steps spanning 2021-10-27T00:00Z →
    2021-11-02T03:30Z, so every recorded eventTime range filter keeps
    a strict subset.  Every terms cardinality stays at or under its
    request's size cap (the metric-path order keys the reference drops
    make capped buckets non-deterministic otherwise)."""
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(CT_VIEW):
        base = datetime.datetime(2021, 10, 27, tzinfo=_UTC)
        rows = []
        for k in range(60):
            ts = base + datetime.timedelta(minutes=150 * k)
            rows.append((
                k, ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                _REGIONS[k % 4], _SOURCES[k % 6], _EVENTS[(k // 2) % 4],
                _ETYPES[(k // 3) % 4], _AGENTS[(k // 5) % 6],
                {"asn": {"organization_name": _ORGS[(k // 4) % 5]},
                 "geoip": {"country": _GEO[k % 3][0],
                           "country_code": _GEO[k % 3][1]}},
                {"instancesSet": {"items": {
                    "currentState": {"name": _CUR[(k // 7) % 4]},
                    "previousState": {"name": _PREV[k % 3],
                                      "code": (k * k) % 97}}}},
            ))
        df = spark.createDataFrame(rows, schema=_CT_SCHEMA).withColumn(
            "eventTime", F.to_timestamp("eventTime"))
        df.createOrReplaceTempView(CT_VIEW)
    return spark.table(CT_VIEW)


_GF_SCHEMA = (
    "`timestamp` string, Carrier string, AvgTicketPrice double, "
    "FlightDelayMin int, FlightDelayType string, FlightDelay boolean, "
    "DestWeather string, OriginCountry string, DestCountry string, "
    "Cancelled boolean, FlightTimeMin double, Origin string, "
    "OriginAirportID string, DestAirportID string, "
    "OriginLocation struct<lat:double,lon:double>, "
    "DestLocation struct<lat:double,lon:double>"
)

_CARRIERS = ["ES-Air", "JetBeats", "Kibana Airlines", "Logstash Airways"]
_DTYPES = ["Carrier Delay", "Late Aircraft Delay", "NAS Delay", "No Delay"]
_WEATHER = ["Clear", "Rain", "Sunny", "Thunder & Lightning"]
_CTRY = ["US", "DE", "JP"]


def build_flights(spark):
    """400 rows at 13 min steps spanning 2021-09-13T00:00Z →
    2021-09-16T14:27Z (the recorded filters' ~24 h windows keep ~110).
    Geo points sit off exact web-mercator tile edges (the .26/.74
    offsets) so the FMA tile chain and a plain floor agree; some
    in-window rows carry FlightDelayMin = 0 so delay-buckets'
    must_not is selective."""
    from pyspark.sql import functions as F

    if not spark.catalog.tableExists(GF_VIEW):
        base = datetime.datetime(2021, 9, 13, tzinfo=_UTC)
        rows = []
        for k in range(400):
            ts = base + datetime.timedelta(minutes=13 * k)
            rows.append((
                ts.strftime("%Y-%m-%dT%H:%M:%SZ"), _CARRIERS[k % 4],
                round(100.0 + (k * 37.31) % 900, 2),
                30 * (k % 7) + (k % 13), _DTYPES[(k // 3) % 4],
                (k // 3) % 4 != 3, _WEATHER[(k // 5) % 4],
                _CTRY[k % 3], _CTRY[(k // 7) % 3], k % 5 == 0,
                60.0 + (k * 11) % 600, f"Airport {k % 13}",
                f"O{k % 13}", f"D{k % 17}",
                {"lat": 35.26 + (k % 30), "lon": -149.74 + (k * 7) % 90},
                {"lat": -20.74 + (k % 40), "lon": 10.26 + (k * 11) % 120},
            ))
        df = spark.createDataFrame(rows, schema=_GF_SCHEMA).withColumn(
            "timestamp", F.to_timestamp("timestamp"))
        df.createOrReplaceTempView(GF_VIEW)
    return spark.table(GF_VIEW)


# ---------------------------------------------------------------------
# per-file checks
# ---------------------------------------------------------------------

def _only(sub: str):
    """Slice an aggs tree to ONE sub-agg path of bucket "0" — the
    proxy's per-bucket-CTE decomposition for multi-path aggs."""
    def f(aggs):
        spec = {k: v for k, v in aggs["0"].items() if k != "aggs"}
        spec["aggs"] = {sub: aggs["0"]["aggs"][sub]}
        return {"0": spec}
    return f


# recorded eventTime / timestamp WHERE fragments (ISO Z → session-UTC
# timestamp literals)
_R1 = ("eventTime >= timestamp'2021-10-28 01:11:19.266' AND "
       "eventTime <= timestamp'2021-11-02 01:11:19.266'")
_R2 = ("eventTime >= timestamp'2021-10-28 00:16:12.313' AND "
       "eventTime <= timestamp'2021-11-01 00:16:12.313' AND "
       "NOT coalesce(awsRegion = 'me-south-1', false)")
_R3 = ("eventTime >= timestamp'2021-10-28 01:47:51.461' AND "
       "eventTime <= timestamp'2021-11-02 01:47:51.461'")
_G1 = ("`timestamp` >= timestamp'2021-09-14 20:56:30.9' AND "
       "`timestamp` <= timestamp'2021-09-15 20:56:30.9'")
_G2 = ("`timestamp` >= timestamp'2021-09-14 21:11:30.946' AND "
       "`timestamp` <= timestamp'2021-09-15 21:11:30.946'")
_G3 = ("`timestamp` >= timestamp'2021-09-14 21:41:41.689' AND "
       "`timestamp` <= timestamp'2021-09-15 21:41:41.689'")
_G4 = ("`timestamp` >= timestamp'2021-09-14 21:26:36.084' AND "
       "`timestamp` <= timestamp'2021-09-15 21:26:36.084'")

# 3 h / 30 min UTC epoch buckets — independent spelling of the
# adapter's TIME_BUCKET (unix_millis floor vs its unix_micros pmod)
_B3H = ("timestamp_millis(CAST(floor(unix_millis(eventTime) / 10800000)"
        " AS BIGINT) * 10800000)")
_B30M = ("timestamp_millis(CAST(floor(unix_millis(`timestamp`) / 1800000)"
         " AS BIGINT) * 1800000)")

_STATE = "responseElements.instancesSet.items"

# file -> list of checks; "mode": count | aggs | hits | raises.
# "slice" (aggs mode) cuts one bucket path out of the recorded aggs.
CHECKS: dict[str, list[dict]] = {
    # --- dashboard-cloud-trail ---------------------------------------
    "dashboard-cloud-trail/count-dial-request.json": [
        {"mode": "count",
         "oracle": f"SELECT COUNT(*) AS n FROM {CT_VIEW} WHERE {_R1}"}],
    "dashboard-cloud-trail/event-time-per-hour-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT key, SUM(cnt) OVER (PARTITION BY key) AS doc_count,
                   `1_key`, cnt AS `1_doc_count`
            FROM (SELECT awsRegion AS key, {_B3H} AS `1_key`,
                         COUNT(*) AS cnt
                  FROM {CT_VIEW} WHERE {_R1} GROUP BY 1, 2)"""}],
    "dashboard-cloud-trail/events-by-aws-service-type-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT eventSource AS key, COUNT(*) AS doc_count
            FROM {CT_VIEW} WHERE {_R2} GROUP BY 1"""}],
    "dashboard-cloud-trail/map-country-code-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT sourceIPAddress.geoip.country_code AS key,
                   COUNT(*) AS doc_count
            FROM {CT_VIEW} WHERE {_R1} GROUP BY 1"""}],
    "dashboard-cloud-trail/top-values-of-current-state-request.json": [
        # bucket path 0 -> 1 -> percentile 2 (nested terms x terms)
        {"mode": "aggs", "slice": _only("1"), "oracle": f"""
            SELECT key, SUM(cnt) OVER (PARTITION BY key) AS doc_count,
                   `1_key`, cnt AS `1_doc_count`, p AS `2_p50`
            FROM (SELECT {_STATE}.currentState.name AS key,
                         {_STATE}.previousState.name AS `1_key`,
                         COUNT(*) AS cnt,
                         median({_STATE}.previousState.code) AS p
                  FROM {CT_VIEW} WHERE {_R1} GROUP BY 1, 2)"""},
        # bucket path 0 -> side percentile 2
        {"mode": "aggs", "slice": _only("2"), "oracle": f"""
            SELECT {_STATE}.currentState.name AS key,
                   COUNT(*) AS doc_count,
                   median({_STATE}.previousState.code) AS `2_p50`
            FROM {CT_VIEW} WHERE {_R1} GROUP BY 1"""}],
    "dashboard-cloud-trail/top-values-of-event-source-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT key, SUM(cnt) OVER (PARTITION BY key) AS doc_count,
                   `1_key`, cnt AS `1_doc_count`
            FROM (SELECT eventSource AS key, eventName AS `1_key`,
                         COUNT(*) AS cnt
                  FROM {CT_VIEW} WHERE {_R1} GROUP BY 1, 2)"""}],
    "dashboard-cloud-trail/top-values-of-event-type-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT eventType AS key, COUNT(*) AS doc_count
            FROM {CT_VIEW} WHERE {_R1} GROUP BY 1"""}],
    "dashboard-cloud-trail/top-values-of-source-ip-addresses-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT key, SUM(cnt) OVER (PARTITION BY key) AS doc_count,
                   `1_key`, cnt AS `1_doc_count`
            FROM (SELECT sourceIPAddress.asn.organization_name AS key,
                         sourceIPAddress.geoip.country AS `1_key`,
                         COUNT(*) AS cnt
                  FROM {CT_VIEW} WHERE {_R1} GROUP BY 1, 2)"""}],
    "dashboard-cloud-trail/top-values-of-user-agent-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT userAgent AS key, COUNT(*) AS doc_count
            FROM {CT_VIEW} WHERE {_R3} GROUP BY 1"""}],
    # --- dashboard-global-flight -------------------------------------
    "dashboard-global-flight/airline-carrier-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT Carrier AS key, COUNT(*) AS doc_count
            FROM {GF_VIEW} WHERE {_G1} GROUP BY 1"""}],
    "dashboard-global-flight/airline-connections-hover-over-airport-request.json": [
        # the reference's own response processor hard-errors on
        # top_hits (aggs_top_hits.go:97) — negative parity
        {"mode": "raises"}],
    "dashboard-global-flight/average-ticket-price-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT AVG(AvgTicketPrice) AS `1` FROM {GF_VIEW} WHERE {_G1}"""}],
    "dashboard-global-flight/delay-buckets-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT FLOOR(FlightDelayMin / 30.0) * 30.0 AS key,
                   COUNT(*) AS doc_count
            FROM {GF_VIEW} WHERE {_G2}
              AND NOT coalesce(FlightDelayMin = 0, false)
            GROUP BY 1"""}],
    "dashboard-global-flight/delay-type-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT key, SUM(cnt) OVER (PARTITION BY key) AS doc_count,
                   `3_key`, cnt AS `3_doc_count`
            FROM (SELECT {_B30M} AS key, FlightDelayType AS `3_key`,
                         COUNT(*) AS cnt
                  FROM {GF_VIEW} WHERE {_G2} GROUP BY 1, 2)"""}],
    "dashboard-global-flight/destination-weather-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT DestWeather AS key, COUNT(*) AS doc_count
            FROM {GF_VIEW} WHERE {_G3} GROUP BY 1"""}],
    "dashboard-global-flight/flight-cancellations-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT Cancelled AS key, COUNT(*) AS doc_count
            FROM {GF_VIEW} WHERE {_G1} GROUP BY 1"""}],
    "dashboard-global-flight/flight-count-and-average-ticket-price-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT {_B30M} AS key, COUNT(*) AS doc_count,
                   AVG(AvgTicketPrice) AS `2`, AVG(AvgTicketPrice) AS `4`
            FROM {GF_VIEW} WHERE {_G1} GROUP BY 1"""}],
    "dashboard-global-flight/flight-delays-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT FlightDelay AS key, COUNT(*) AS doc_count
            FROM {GF_VIEW} WHERE {_G1} GROUP BY 1"""}],
    "dashboard-global-flight/flight-log-request.json": [
        {"mode": "hits", "stable": ["timestamp", "Carrier",
                                    "FlightDelayMin"],
         "oracle": f"""
            SELECT `timestamp`, Carrier, FlightDelayMin
            FROM {GF_VIEW} WHERE {_G3}"""}],
    "dashboard-global-flight/origin-and-destination-flight-time-request.json": [
        # geo_bounding_box + exists + geotile_grid(bounds)/geo_centroid
        # /avg; tile key spelled with the plain web-mercator formula
        {"mode": "aggs", "oracle": f"""
            SELECT CONCAT('3/',
                     CAST(FLOOR((OriginLocation.lon + 180.0) / 360.0 * 8)
                          AS BIGINT), '/',
                     CAST(FLOOR((1.0 - LN(TAN(RADIANS(OriginLocation.lat))
                              + 1.0 / COS(RADIANS(OriginLocation.lat)))
                              / PI()) / 2.0 * 8) AS BIGINT)) AS key,
                   COUNT(*) AS doc_count,
                   AVG(OriginLocation.lat) AS gridCentroid_lat,
                   AVG(OriginLocation.lon) AS gridCentroid_lon,
                   AVG(FlightTimeMin) AS avg_of_FlightTimeMin
            FROM {GF_VIEW}
            WHERE OriginLocation IS NOT NULL
              AND OriginLocation.lat <= 87.74251
              AND OriginLocation.lat >= -87.74251
              AND OriginLocation.lon >= -180 AND OriginLocation.lon <= 180
              AND {_G3}
              AND OriginLocation.lat <= 85.05113
              AND OriginLocation.lat >= -85.05113
            GROUP BY 1"""}],
    "dashboard-global-flight/origin-country-versus-destination-country-request.json": [
        {"mode": "aggs", "oracle": f"""
            SELECT key, SUM(cnt) OVER (PARTITION BY key) AS doc_count,
                   `3_key`, cnt AS `3_doc_count`
            FROM (SELECT OriginCountry AS key, DestCountry AS `3_key`,
                         COUNT(*) AS cnt
                  FROM {GF_VIEW} WHERE {_G4} GROUP BY 1, 2)"""}],
    "dashboard-global-flight/total-flight-cancellations-request.json": [
        {"mode": "count",
         "oracle": f"SELECT COUNT(*) AS n FROM {GF_VIEW} "
                    f"WHERE Cancelled = true AND {_G1}"}],
    "dashboard-global-flight/total-flight-delays-request.json": [
        {"mode": "count",
         "oracle": f"SELECT COUNT(*) AS n FROM {GF_VIEW} "
                    f"WHERE FlightDelay = true AND {_G1}"}],
    "dashboard-global-flight/total-flights-request.json": [
        {"mode": "count",
         "oracle": f"SELECT COUNT(*) AS n FROM {GF_VIEW} WHERE {_G1}"}],
}


def list_cases() -> list[str]:
    return sorted(CHECKS)


def run_case(spark, rel: str) -> dict:
    """Execute every check for one recorded request; first failure
    wins.  Adapter results compare to the oracle as sorted value
    multisets over the (asserted-equal) column-name sets."""
    from .replay_testaggs import _canon
    from sneller_spark.adapters.elastic import ElasticDslError, elastic_search

    body = json.load(open(os.path.join(REF_ROOT, rel)))
    is_ct = rel.startswith("dashboard-cloud-trail/")
    t = build_cloudtrail(spark) if is_ct else build_flights(spark)
    total = t.count()

    for chk in CHECKS[rel]:
        mode = chk["mode"]
        if mode == "raises":
            try:
                elastic_search(t, body).collect()
            except ElasticDslError:
                continue
            return {"file": rel, "status": "expected-raise-missing"}
        if mode == "count":
            n = elastic_search(t, {"query": body.get("query")}).count()
            m = spark.sql(chk["oracle"]).collect()[0]["n"]
            if n != m:
                return {"file": rel, "status": "mismatch",
                        "where": "count", "adapter": n, "oracle": m}
            if n == 0:
                return {"file": rel, "status": "vacuous"}
            if n == total:
                return {"file": rel, "status": "unselective"}
            continue
        if mode == "hits":
            a_df = elastic_search(t, body)
            stable = chk["stable"]
            if int(body.get("size", 0)) <= a_df.count():
                # the LIMIT would trim sort-tied rows arbitrarily and
                # the multiset compare would be meaningless
                return {"file": rel, "status": "size-cap-binding"}
            a = sorted(tuple(_canon(r[c]) for c in stable)
                       for r in a_df.select(*stable).collect())
            b = sorted(tuple(_canon(v) for v in r)
                       for r in spark.sql(chk["oracle"]).collect())
        else:
            aggs = body.get("aggs") or {}
            if "slice" in chk:
                aggs = chk["slice"](aggs)
            a_df = elastic_search(
                t, {"query": body.get("query"), "aggs": aggs})
            b_df = spark.sql(chk["oracle"])
            cols = sorted(a_df.columns)
            if sorted(b_df.columns) != cols:
                return {"file": rel, "status": "schema-mismatch",
                        "adapter": cols, "oracle": sorted(b_df.columns)}
            a = sorted(tuple(_canon(r[c]) for c in cols)
                       for r in a_df.collect())
            b = sorted(tuple(_canon(r[c]) for c in cols)
                       for r in b_df.collect())
        if a != b:
            return {"file": rel, "status": "mismatch",
                    "adapter": a[:4], "oracle": b[:4]}
        if not a:
            return {"file": rel, "status": "vacuous"}
    return {"file": rel, "status": "pass"}
