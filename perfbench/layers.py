"""Per-layer measurements for the traced run.

Pipeline self times are differences between prefix calls that end in a
``noop`` sink: scan, then +parse, +enrich, +route, then +aggregate (or,
with every column passed through, a partitioned write).  Each prefix
runs twice and keeps its faster run.  A layer much cheaper than
the run-to-run noise (enrich and route are broadcast joins of a few
rows) can still read slightly negative.  Row counts come from an
``Observation`` on each prefix's output, so they are exact and cost no
extra job.
"""

from __future__ import annotations

import os
import shutil

from .stats import CpuMeter, Tracer, median
from .workloads import AGG_PASSTHROUGH, OPERATOR_QUERIES

PREFIX_REPEATS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _max_stage_tasks(sc, group: str) -> int:
    tracker = sc.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else []:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks = max(tasks, st.numTasks)
    return tasks


def pipeline_prefixes(spark, files: list[str], write_dir: str, tracer: Tracer) -> dict:
    """Run the prefix chain over ``files``; return per-layer metrics."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sneller_spark.lookups import lookup_source_df, route_rules_df
    from sneller_spark.pipeline.aggregate import aggregate_per_sink_salted
    from sneller_spark.pipeline.enrich import enrich_stage
    from sneller_spark.pipeline.parse import parse_stage_dict
    from sneller_spark.pipeline.route import route_stage, write_routed

    sc = spark.sparkContext
    lookup, rules = lookup_source_df(spark), route_rules_df(spark)

    def chain(stage: str, passthrough):
        df = spark.read.parquet(*files)
        if stage == "scan":
            return df
        df = parse_stage_dict(df, passthrough=passthrough)
        if stage == "parse":
            return df
        df = enrich_stage(df, lookup)
        if stage == "enrich":
            return df
        df = route_stage(df, rules)
        if stage == "route":
            return df
        return aggregate_per_sink_salted(df)

    def write(df):
        shutil.rmtree(write_dir, ignore_errors=True)
        write_routed(df, write_dir)

    prefixes = [
        *((stage, lambda s=stage: chain(s, AGG_PASSTHROUGH), _noop)
          for stage in ("scan", "parse", "enrich", "route", "aggregate")),
        ("route_full", lambda: chain("route", None), _noop),
        ("write", lambda: chain("route", None), write),
    ]
    runs: dict[str, dict] = {}
    # Repeats are interleaved, so host drift during the sweep hits every
    # prefix alike; each prefix keeps its fastest run.
    for rep in range(PREFIX_REPEATS):
        for label, build, sink in prefixes:
            obs = Observation(f"{label}-{rep}")
            df = build().observe(obs, F.count(F.lit(1)).alias("rows"))
            group = f"perfbench-{label}-{rep}"
            sc.setJobGroup(group, label)
            with tracer.span(f"prefix.{label}", op=f"sweep-{rep}"), CpuMeter() as m:
                sink(df)
            sc.setJobGroup("perfbench", "")
            run = {"s": m.wall, "cpu": m.busy, "iowait": m.iowait,
                   "rows": int(obs.get["rows"]), "tasks": _max_stage_tasks(sc, group)}
            if label not in runs or run["s"] < runs[label]["s"]:
                runs[label] = run
    written = [
        os.path.getsize(os.path.join(d, f))
        for d, _s, fs in os.walk(write_dir) for f in fs if f.endswith(".parquet")
    ]
    shutil.rmtree(write_dir, ignore_errors=True)

    def diff(a: str, b: str, key: str = "s") -> float:
        return runs[a][key] - runs[b][key]

    parse_s = diff("parse", "scan")
    parse_cpu = diff("parse", "scan", "cpu")
    seqs = runs["scan"]["rows"]
    return {
        "scan.self_s": runs["scan"]["s"],
        "scan.rows": seqs,
        "parse.self_s": parse_s,
        "parse.cpu_s": parse_cpu,
        "parse.cores_busy": parse_cpu / parse_s if parse_s > 0 else 0.0,
        "parse.tasks": runs["parse"]["tasks"],
        "parse.rows": runs["parse"]["rows"],
        "enrich.self_s": diff("enrich", "parse"),
        "enrich.rows": runs["enrich"]["rows"],
        "route.join_self_s": diff("route", "enrich"),
        "route.rows": runs["route"]["rows"],
        "route.write_s": diff("write", "route_full"),
        "route.write_cpu_s": diff("write", "route_full", "cpu"),
        "route.write_iowait_s": diff("write", "route_full", "iowait"),
        "route.files_written": len(written),
        "route.bytes_per_seq": sum(written) / max(seqs, 1),
        "aggregate.self_s": diff("aggregate", "route"),
        "aggregate.cpu_s": diff("aggregate", "route", "cpu"),
        "aggregate.groups": runs["aggregate"]["rows"],
    }


def runner_metrics(op) -> dict:
    """Runner and lineage metrics from one ingest op's manifests."""
    walls = op.extra["unit_wall_ms"]
    return {
        "runner.units": op.extra["units"],
        "runner.unit_ms_p50": median(walls),
        "runner.unit_ms_max": max(walls),
        "runner.final_aggregate_s": op.seconds - sum(walls) / 1000.0,
        "runner.cores_busy": op.cpu / op.seconds,
    }


def catalog_metrics(ops: dict) -> dict:
    """Per-query construct/plan/execute seconds and operator sums from
    one split pass (``ops``: query name -> OpResult)."""
    out = {}
    for name, op in ops.items():
        for phase, s in op.extra.items():
            out[f"catalog.{name}.{phase}"] = s
    for metric, names in OPERATOR_QUERIES.items():
        out[metric] = sum(ops[n].seconds for n in names)
    return out


def overhead_pct(traced: list[float], untraced: list[float]) -> float:
    return (median(traced) / median(untraced) - 1.0) * 100.0


def host_metrics(calib_ms: list[float], load1: list[float]) -> dict:
    return {"host.calib_ms": median(calib_ms), "host.load1": median(load1)}

