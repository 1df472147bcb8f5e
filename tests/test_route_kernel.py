"""The fused enrich + parse + route (+ write) kernel (pipeline/route.py):
enrichment and routing equal to the Catalyst joins they replaced,
refused duplicate lookup and rule keys, the unit input contract, one
task per row group, and final aggregates from per-unit partials equal
to a rescan of the routed table after every path that changes the
output dir."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
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
    from sneller_spark.pipeline.enrich import enrich_stage
    from sneller_spark.pipeline.parse import parse_stage_dict

    df = spark.createDataFrame(generate_chunk(0, 1500))
    got = transform(spark, df)
    want = route_stage(enrich_stage(parse_stage_dict(df), lookup_source_df(spark)),
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
    """A unit that routes no rows writes no files and commits zero rows
    and no partials; the merged sketch, summed from the manifests'
    partials, still equals the sketch of the routed table."""
    from sneller_spark.operators.sketch import cm_sketch
    from sneller_spark.pipeline.runner import read_merged_sketch, unit_id_for

    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    generate_chunk(0, 300).to_parquet(inp / "part-0.parquet", index=False)
    pq.write_table(pa.Table.from_pandas(generate_chunk(0, 10), preserve_index=False)
                   .slice(0, 0), inp / "part-1.parquet")
    stats = run_pipeline(spark, str(inp), out)
    assert stats["units"] == 2 and stats["rows_routed"] == 300
    assert LineageLog(out).read_manifest(unit_id_for(str(inp / "part-1.parquet"))).partials == []
    _assert_partials_equal_rescan(spark, out)
    merged = read_merged_sketch(spark, out)
    assert merged.df.count() > 0
    assert _rows(merged.df) == _rows(cm_sketch(read_routed(spark, out), "source").df)


def _routed_tables(unit_root: str) -> dict[str, pa.Table]:
    """sink dir -> that sink's rows under one unit dir, in file order."""
    out = {}
    for sink in sorted(os.listdir(unit_root)):
        files = sorted(os.listdir(os.path.join(unit_root, sink)))
        out[sink] = pa.concat_tables(
            pq.read_table(os.path.join(unit_root, sink, f)) for f in files)
    return out


def _only_unit_dir(out: str) -> str:
    (unit,) = os.listdir(os.path.join(out, "routed"))
    return os.path.join(out, "routed", unit)


@pytest.mark.parametrize("case", ["no_n_tok", "bigint_tokens", "not_parquet"])
def test_unit_input_contract_refused(spark, tmp_path, case):
    """A unit file whose footer breaks TOKENS_SCHEMA is refused with a
    ValueError naming it, before anything of the unit is written."""
    inp = tmp_path / "in"
    inp.mkdir()
    bad = inp / "part-0.parquet"
    table = pa.Table.from_pandas(generate_chunk(0, 200), preserve_index=False)
    if case == "no_n_tok":
        pq.write_table(table.drop_columns(["n_tok"]), bad)
    elif case == "bigint_tokens":
        i = table.schema.get_field_index("tokens")
        pq.write_table(
            table.set_column(i, "tokens", table["tokens"].cast(pa.list_(pa.int64()))), bad)
    else:
        bad.write_bytes(b"PAR1 but not really")
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match=str(bad)):
        run_pipeline(spark, str(inp), out)
    assert LineageLog(out).committed_units() == set()
    assert not os.path.exists(os.path.join(out, "routed"))


def test_extra_columns_keep_spark_reader_types(spark, tmp_path):
    """Columns beyond TOKENS_SCHEMA pass through typed as Spark's reader
    typed them: the unit's routed files equal, footer and rows, what
    the same kernel writes from ``spark.read.parquet`` of the file."""
    import datetime

    from sneller_spark.pipeline.route import write_unit
    from sneller_spark.pipeline.runner import broadcast_tables

    n = 400
    t = pa.Table.from_pandas(generate_chunk(0, n), preserve_index=False)
    t = t.append_column("x_long", pa.array(range(n), pa.int64()))
    t = t.append_column(pa.field("x_req", pa.large_string(), nullable=False),
                        pa.array([f"r{i}" for i in range(n)], pa.large_string()))
    t = t.append_column("x_ts", pa.array(
        [datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)] * n,
        pa.timestamp("us", tz="UTC")))
    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(t, inp / "part-0.parquet")
    out = str(tmp_path / "out")
    assert run_pipeline(spark, str(inp), out)["rows_in"] == n

    ref = str(tmp_path / "ref")
    write_unit(spark.read.parquet(str(inp)), *broadcast_tables(spark), ref)
    got, want = _routed_tables(_only_unit_dir(out)), _routed_tables(ref)
    assert list(got) == list(want)
    for sink, rows in got.items():
        assert rows.schema.equals(want[sink].schema), (sink, rows.schema, want[sink].schema)
        assert rows.equals(want[sink]), sink
    assert pa.types.is_string(got["sink_id=sink-7"].schema.field("x_req").type)


def test_row_groups_are_tasks_with_one_group_result(spark, tmp_path):
    """A unit file with several row groups runs one task per group, and
    its partials and routed rows equal those of the same rows written
    as one row group."""
    t = pa.Table.from_pandas(generate_chunk(0, 3000), preserve_index=False)
    outs = {}
    for label, group_rows in [("one", 3000), ("three", 1000)]:
        inp = tmp_path / f"in_{label}" / "data"
        inp.mkdir(parents=True)
        pq.write_table(t, inp / "part-0.parquet", row_group_size=group_rows)
        assert pq.ParquetFile(inp / "part-0.parquet").num_row_groups == 3000 // group_rows
        out = str(tmp_path / f"out_{label}")
        sc = spark.sparkContext
        sc.setJobGroup(f"row-groups-{label}", "row group tasks")
        try:
            run_pipeline(spark, str(inp), out)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        (job,) = tracker.getJobIdsForGroup(f"row-groups-{label}")
        (stage,) = tracker.getJobInfo(job).stageIds
        assert tracker.getStageInfo(stage).numTasks == 3000 // group_rows
        outs[label] = out

    log_one, log_three = LineageLog(outs["one"]), LineageLog(outs["three"])
    (uid,) = log_one.committed_units()
    m_one = log_one.read_manifest(uid)
    m_three = log_three.read_manifest(log_three.committed_units().pop())
    assert m_one.partials == m_three.partials
    assert m_one.rows_in == m_three.rows_in == 3000
    assert m_one.per_sink_rows == m_three.per_sink_rows
    one, three = _routed_tables(_only_unit_dir(outs["one"])), _routed_tables(_only_unit_dir(outs["three"]))
    assert list(one) == list(three)
    for sink in one:
        assert one[sink].schema.equals(three[sink].schema)
        assert one[sink].sort_by("doc_id").equals(three[sink].sort_by("doc_id")), sink


def test_arrow_enrich_equals_enrich_stage(spark):
    """The Arrow lookup gives the left join's columns, types and
    defaults: unknown and null sources, and a matched source whose
    looked-up value is null, all take the default."""
    from pyspark.sql.pandas.types import to_arrow_type

    from sneller_spark.lookups import lookup_source_df
    from sneller_spark.pipeline.enrich import collect_lookup, enrich_columns, enrich_stage

    lookup = lookup_source_df(spark).union(spark.createDataFrame(
        [("odd-source", None, "web")], "source string, tenant string, category string"))
    keys = ["syslog-a", "nginx", "nope", None, "odd-source", "telemetry-x"]
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i long, source string")
    want = enrich_stage(df, lookup)
    table = collect_lookup(lookup)
    got = enrich_columns(table, pa.array(keys))
    assert [f.name for f in table.fields] == ["tenant", "category"]
    assert [(f.name, f.dataType, f.nullable) for f in table.fields] == [
        (f.name, f.dataType, f.nullable) for f in want.schema.fields[-2:]]
    rows = {r["i"]: (r["tenant"], r["category"]) for r in want.collect()}
    assert list(zip(got["tenant"].to_pylist(), got["category"].to_pylist())) == [
        rows[i] for i in range(len(keys))]
    assert got["tenant"].type == to_arrow_type(want.schema["tenant"].dataType)


def test_duplicate_lookup_keys_refused(spark, tmp_path, monkeypatch):
    """A lookup table that repeats a source is refused before any unit
    commits: the left join fanned such rows out into duplicates."""
    from sneller_spark.lookups import lookup_source_df
    from sneller_spark.pipeline import runner
    from sneller_spark.pipeline.enrich import collect_lookup

    lookup = lookup_source_df(spark)
    dup = lookup.union(lookup.limit(1).selectExpr("source", "'t-x' AS tenant", "category"))
    with pytest.raises(ValueError, match="duplicate"):
        collect_lookup(dup)

    inp = tmp_path / "in"
    inp.mkdir()
    generate_chunk(0, 300).to_parquet(inp / "part-0.parquet", index=False)
    monkeypatch.setattr(runner, "lookup_source_df", lambda _spark: dup)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="duplicate"):
        run_pipeline(spark, str(inp), out)
    assert LineageLog(out).committed_units() == set()
