"""The fused parse + route (+ write) kernel (pipeline/route.py):
routing equal to the Catalyst join it replaced, refused duplicate rule
keys, and final aggregates from per-unit partials equal to a rescan of
the routed table after every path that changes the output dir."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pytest

from sneller_spark.datagen import generate_chunk
from sneller_spark.lookups import CATEGORIES, UNKNOWN_CATEGORY, route_rules_df
from sneller_spark.pipeline.aggregate import aggregate_per_sink
from sneller_spark.pipeline.compact import compact_routed
from sneller_spark.pipeline.lineage import LineageLog
from sneller_spark.pipeline.route import collect_routes, route_stage, sink_ids
from sneller_spark.pipeline.runner import (
    read_aggregates,
    read_routed,
    run_pipeline,
    transform,
)
from sneller_spark.vocab import LEVELS


def test_kernel_sinks_equal_route_join(spark):
    """Every category plus the enrich default, every level plus null."""
    grid = [(c, lv) for c in [*CATEGORIES, UNKNOWN_CATEGORY] for lv in [*LEVELS, None]]
    rules = route_rules_df(spark)
    joined = route_stage(
        spark.createDataFrame(grid, "category string, level string"), rules)
    want = {(r["category"], r["level"]): r["sink_id"] for r in joined.collect()}
    got = sink_ids(collect_routes(rules),
                   pa.array([c for c, _ in grid]), pa.array([lv for _, lv in grid]))
    assert dict(zip(grid, got.to_pylist())) == want
    assert len(want) == len(grid)


def test_duplicate_rule_keys_refused(spark, tmp_path, monkeypatch):
    """A repeated (category, level) key is refused before any unit
    commits: the join fans such a row out, a lookup picks one."""
    from sneller_spark.pipeline import runner

    rules = route_rules_df(spark)
    dup = rules.union(rules.limit(1).selectExpr("category", "level", "'sink-5' AS sink_id"))
    with pytest.raises(ValueError, match="duplicate"):
        collect_routes(dup)

    inp = tmp_path / "in"
    inp.mkdir()
    generate_chunk(0, 300).to_parquet(inp / "part-0.parquet", index=False)
    monkeypatch.setattr(runner, "route_rules_df", lambda _spark: dup)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="duplicate"):
        run_pipeline(spark, str(inp), out)
    assert LineageLog(out).committed_units() == set()


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_partials_equal_rescan(spark, out: str) -> None:
    got = read_aggregates(spark, out).select(
        "sink_id", "source", "level", "n_rows", "sum_n_tok")
    want = aggregate_per_sink(read_routed(spark, out))
    assert got.schema.simpleString() == want.schema.simpleString()
    assert _rows(got) == _rows(want)


def test_partial_aggregates_equal_routed_rescan(spark, tmp_path):
    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    for k in range(3):
        generate_chunk(k * 700, (k + 1) * 700).to_parquet(
            inp / f"part-{k}.parquet", index=False)

    run_pipeline(spark, str(inp), out, max_units=1)  # killed after one unit
    _assert_partials_equal_rescan(spark, out)
    run_pipeline(spark, str(inp), out)  # resumed
    _assert_partials_equal_rescan(spark, out)
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, str(inp), fresh)
    _assert_partials_equal_rescan(spark, fresh)
    assert _rows(read_aggregates(spark, fresh)) == _rows(read_aggregates(spark, out))

    assert compact_routed(spark, out, target_bytes=1 << 30)["absorbed"] == 3
    _assert_partials_equal_rescan(spark, fresh)
    _assert_partials_equal_rescan(spark, out)

    # an input rewritten with new content is reprocessed; its old
    # partials must leave the sum along with its old rows
    changed = str(tmp_path / "changed")
    run_pipeline(spark, str(inp), changed)
    time.sleep(0.01)
    generate_chunk(5000, 5400).to_parquet(inp / "part-1.parquet", index=False)
    assert run_pipeline(spark, str(inp), changed)["units_processed_this_run"] == 1
    _assert_partials_equal_rescan(spark, changed)
    assert sum(r["n_rows"] for r in read_aggregates(spark, changed).collect()) == 1800


def test_final_aggregate_starts_no_job(spark, tmp_path):
    """The last step sums manifests: with nothing left to process and
    the aggregate missing, rebuilding it runs no Spark job."""
    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    generate_chunk(0, 400).to_parquet(inp / "part-0.parquet", index=False)
    run_pipeline(spark, str(inp), out)
    before = _rows(read_aggregates(spark, out))
    os.remove(os.path.join(out, "aggregates", "_SUCCESS"))

    sc = spark.sparkContext
    sc.setJobGroup("final-agg-only", "rebuild aggregates from manifests")
    try:
        assert run_pipeline(spark, str(inp), out)["units_processed_this_run"] == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("final-agg-only")) == []
    assert os.path.exists(os.path.join(out, "aggregates", "_SUCCESS"))
    assert _rows(read_aggregates(spark, out)) == before


def test_transform_and_route_stage_agree(spark):
    """transform's kernel and the Catalyst chain give the same rows."""
    from sneller_spark.lookups import lookup_source_df
    from sneller_spark.pipeline.enrich import enrich_join
    from sneller_spark.pipeline.parse import parse_stage_dict

    df = spark.createDataFrame(generate_chunk(0, 1500))
    got = transform(spark, df)
    want = route_stage(enrich_join(parse_stage_dict(df), lookup_source_df(spark)),
                       route_rules_df(spark))
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_write_routed_escapes_sink_dirs(spark, tmp_path):
    """Sink values that need escaping, or are null, read back as
    written: the writer names directories as Spark's partitionBy did."""
    from sneller_spark.pipeline.route import write_routed

    sinks = ["plain", "a/b", "x=y%", None]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(sinks * 3)],
                               "n long, sink_id string")
    path = str(tmp_path / "routed")
    write_routed(df, path)
    assert "sink_id=a%2Fb" in os.listdir(path)
    assert _rows(spark.read.parquet(path).select("n", "sink_id")) == _rows(df)


def test_empty_unit_commits_with_sketch(spark, tmp_path):
    """A unit that routes no rows writes no files, commits zero rows
    and still gets its (empty) sketch."""
    import pyarrow.parquet as pq

    from sneller_spark.pipeline.runner import read_merged_sketch

    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    generate_chunk(0, 300).to_parquet(inp / "part-0.parquet", index=False)
    pq.write_table(pa.Table.from_pandas(generate_chunk(0, 10), preserve_index=False)
                   .slice(0, 0), inp / "part-1.parquet")
    stats = run_pipeline(spark, str(inp), out, sketch_col="source")
    assert stats["units"] == 2 and stats["rows_routed"] == 300
    _assert_partials_equal_rescan(spark, out)
    assert read_merged_sketch(spark, out).df.count() > 0
