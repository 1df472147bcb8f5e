"""Checkpoint/resume: a killed job (simulated via max_units) restarts
without reprocessing committed units and converges to exactly the
one-shot result — the analog of blockfmt input dedup
(/root/reference/db/sync.go:366-430)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from sneller_spark.datagen import generate_chunk
from sneller_spark.oracle import run_oracle
from sneller_spark.pipeline.lineage import LineageLog, inputs_match
from sneller_spark.pipeline.runner import read_aggregates, run_pipeline, unit_id_for

N = 6_000
FILES = 4


def _paths(input_dir: str) -> list[str]:
    return [
        os.path.join(input_dir, f)
        for f in sorted(os.listdir(input_dir))
        if f.endswith(".parquet")
    ]


def _ids(input_dir: str) -> list[str]:
    return [unit_id_for(p) for p in _paths(input_dir)]


@pytest.fixture(scope="module")
def input_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tokens_input")
    per = N // FILES
    for k in range(FILES):
        pdf = generate_chunk(k * per, (k + 1) * per)
        pdf.to_parquet(d / f"part-{k:02d}.parquet", index=False)
    return str(d)


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["level"] = out["level"].where(pd.notna(out["level"]), None)
    out = out.sort_values(
        ["sink_id", "source", "level"], na_position="first"
    ).reset_index(drop=True)
    for c in ("n_rows", "sum_n_tok"):
        out[c] = out[c].astype("int64")
    return out[["sink_id", "source", "level", "n_rows", "sum_n_tok"]]


def test_resume_equals_oneshot(spark, input_dir, tmp_path):
    oneshot_dir = str(tmp_path / "oneshot")
    resumed_dir = str(tmp_path / "resumed")

    stats1 = run_pipeline(spark, input_dir, oneshot_dir)
    assert stats1["units"] == FILES and stats1["rows_in"] == N

    # simulate a kill after 2 units, then resume
    p1 = run_pipeline(spark, input_dir, resumed_dir, max_units=2)
    assert p1["units_processed_this_run"] == 2
    assert LineageLog(resumed_dir).committed_units() == set(_ids(input_dir)[:2])
    p2 = run_pipeline(spark, input_dir, resumed_dir)
    assert p2["units_processed_this_run"] == 2  # committed units skipped
    assert p2["units"] == FILES and p2["rows_in"] == N

    a = _norm(read_aggregates(spark, oneshot_dir).toPandas())
    b = _norm(read_aggregates(spark, resumed_dir).toPandas())
    pd.testing.assert_frame_equal(a, b)

    # and both equal the oracle
    _, exp = run_oracle(
        pd.concat([generate_chunk(0, N)], ignore_index=True)
    )
    pd.testing.assert_frame_equal(a, _norm(exp))


def test_rerun_is_idempotent(spark, input_dir, tmp_path):
    out = str(tmp_path / "idem")
    run_pipeline(spark, input_dir, out)
    before = _norm(read_aggregates(spark, out).toPandas())
    stats = run_pipeline(spark, input_dir, out)  # everything committed
    assert stats["units_processed_this_run"] == 0
    after = _norm(read_aggregates(spark, out).toPandas())
    pd.testing.assert_frame_equal(before, after)


def test_manifest_lineage_contents(spark, input_dir, tmp_path):
    out = str(tmp_path / "lineage")
    run_pipeline(spark, input_dir, out, max_units=1)
    log = LineageLog(out)
    m = log.read_manifest(_ids(input_dir)[0])
    assert m.rows_in == N // FILES
    assert m.rows_routed == m.rows_in  # routing never drops rows
    assert sum(m.per_sink_rows.values()) == m.rows_routed
    assert sum(m.per_partition_rows.values()) == m.rows_routed
    assert m.input_bytes > 0 and m.wall_ms > 0
    assert os.path.exists(os.path.join(out, "_commit.log"))


def test_resume_after_partial_uncommitted_write(spark, input_dir, tmp_path):
    """A job killed MID-unit leaves data files but no manifest; resume
    must reprocess that unit idempotently (overwrite, no double
    count)."""
    import os

    out = str(tmp_path / "partial")
    run_pipeline(spark, input_dir, out, max_units=1)

    # simulate a crash mid-way through unit-00001: partial garbage
    # parquet directory exists, manifest does NOT
    unit_dir = os.path.join(out, "routed", f"unit={_ids(input_dir)[1]}", "sink_id=sink-0")
    os.makedirs(unit_dir, exist_ok=True)
    pdf = generate_chunk(0, 10)
    pdf.to_parquet(os.path.join(unit_dir, "part-garbage.parquet"), index=False)
    uid, path = _ids(input_dir)[1], _paths(input_dir)[1]
    assert not inputs_match(LineageLog(out).read_manifests().get(uid), [path])

    stats = run_pipeline(spark, input_dir, out)  # resume
    assert stats["units"] == FILES and stats["rows_in"] == N

    got = _norm(read_aggregates(spark, out).toPandas())
    _, exp = run_oracle(generate_chunk(0, N))
    pd.testing.assert_frame_equal(got, _norm(exp))


def test_new_file_sorting_first_is_processed_not_skipped(spark, tmp_path):
    """Round-1 bug (ADVICE): positional unit ids shifted when a new
    input file sorted BEFORE existing ones, so resume skipped the new
    file and double-counted an old one.  Identity-keyed ids must
    process exactly the new file and keep totals exact."""
    d = tmp_path / "growing_input"
    d.mkdir()
    per = 1500
    # initial files deliberately named to sort LATE
    pdf_m = generate_chunk(0, per)
    pdf_z = generate_chunk(per, 2 * per)
    pdf_m.to_parquet(d / "m-data.parquet", index=False)
    pdf_z.to_parquet(d / "z-data.parquet", index=False)

    out = str(tmp_path / "grow_out")
    s1 = run_pipeline(spark, str(d), out)
    assert s1["units"] == 2 and s1["rows_in"] == 2 * per

    # a new file lands that sorts FIRST
    pdf_a = generate_chunk(2 * per, 3 * per)
    pdf_a.to_parquet(d / "a-data.parquet", index=False)

    s2 = run_pipeline(spark, str(d), out)
    assert s2["units_processed_this_run"] == 1  # only the new file
    assert s2["units"] == 3 and s2["rows_in"] == 3 * per

    got = _norm(read_aggregates(spark, out).toPandas())
    _, exp = run_oracle(generate_chunk(0, 3 * per))
    pd.testing.assert_frame_equal(got, _norm(exp))


def test_committed_id_with_changed_inputs_reprocessed(spark, tmp_path):
    """A committed id only counts for the inputs its manifest records."""
    d = tmp_path / "swap_input"
    d.mkdir()
    generate_chunk(0, 1000).to_parquet(d / "x.parquet", index=False)
    out = str(tmp_path / "swap_out")
    run_pipeline(spark, str(d), out)
    uid = _ids(str(d))[0]
    log = LineageLog(out)
    assert inputs_match(log.read_manifests().get(uid), [str(d / "x.parquet")])
    # same id queried with a different input list -> not committed
    assert not inputs_match(log.read_manifests().get(uid), [str(d / "y.parquet")])


def test_rewritten_input_not_treated_as_committed(spark, tmp_path):
    """An input rewritten IN PLACE (same name, new content) must be
    reprocessed: inputs_match checks (basename, size, mtime_ns)
    identity, not just the name (ADVICE r2; reference FileTree
    ETag/mtime check, db/sync.go:366-430)."""
    d = tmp_path / "rewrite_input"
    d.mkdir()
    generate_chunk(0, 1000).to_parquet(d / "x.parquet", index=False)
    out = str(tmp_path / "rewrite_out")
    s1 = run_pipeline(spark, str(d), out)
    assert s1["rows_in"] == 1000

    # rewrite in place with different content (and row count)
    generate_chunk(5000, 6500).to_parquet(d / "x.parquet", index=False)
    s2 = run_pipeline(spark, str(d), out)
    assert s2["units_processed_this_run"] == 1   # NOT silently skipped
    assert s2["rows_in"] == 1500                 # manifest reflects new content

    got = _norm(read_aggregates(spark, out).toPandas())
    _, exp = run_oracle(generate_chunk(5000, 6500))
    pd.testing.assert_frame_equal(got, _norm(exp))


def test_stale_layout_refused(spark, tmp_path):
    """An out_dir holding unit state written under an older unit-id
    scheme (no / mismatched _LAYOUT stamp) must be refused, not
    silently double-counted (ADVICE r2)."""
    d = tmp_path / "layout_input"
    d.mkdir()
    generate_chunk(0, 500).to_parquet(d / "x.parquet", index=False)
    out = tmp_path / "layout_out"
    run_pipeline(spark, str(d), str(out))

    os.remove(out / "_LAYOUT")  # simulate a pre-versioning output dir
    with pytest.raises(ValueError, match="layout"):
        run_pipeline(spark, str(d), str(out))

    (out / "_LAYOUT").write_text("unit-ids-v1-positional")
    with pytest.raises(ValueError, match="double-count"):
        run_pipeline(spark, str(d), str(out))


def test_symlinked_input_path_same_unit_id(spark, tmp_path):
    """The same physical input addressed via a symlink must not fork a
    second unit id (realpath normalization): resume skips it."""
    d = tmp_path / "real_input"
    d.mkdir()
    generate_chunk(0, 700).to_parquet(d / "x.parquet", index=False)
    link = tmp_path / "linked_input"
    os.symlink(d, link)
    assert unit_id_for(str(d / "x.parquet")) == unit_id_for(str(link / "x.parquet"))

    out = str(tmp_path / "link_out")
    run_pipeline(spark, str(d), out)
    s2 = run_pipeline(spark, str(link), out)
    assert s2["units_processed_this_run"] == 0
    assert s2["units"] == 1 and s2["rows_in"] == 700


def test_same_basename_different_dirs_not_confused(spark, tmp_path):
    """Two input dirs both containing x.parquet feeding ONE output:
    identity-keyed ids must differ (round-2 review: basename-only
    digest collided and silently skipped the second file)."""
    d1, d2 = tmp_path / "day1", tmp_path / "day2"
    d1.mkdir(), d2.mkdir()
    generate_chunk(0, 800).to_parquet(d1 / "x.parquet", index=False)
    generate_chunk(800, 2000).to_parquet(d2 / "x.parquet", index=False)
    assert unit_id_for(str(d1 / "x.parquet")) != unit_id_for(str(d2 / "x.parquet"))

    out = str(tmp_path / "multi_out")
    s1 = run_pipeline(spark, str(d1), out)
    s2 = run_pipeline(spark, str(d2), out)
    assert s1["rows_in"] == 800
    assert s2["units_processed_this_run"] == 1  # day2's x.parquet NOT skipped
    assert s2["units"] == 2 and s2["rows_in"] == 2000

    got = _norm(read_aggregates(spark, out).toPandas())
    _, exp = run_oracle(generate_chunk(0, 2000))
    pd.testing.assert_frame_equal(got, _norm(exp))


def _sketch_cells(sk) -> list[tuple]:
    return sorted(map(tuple, sk.df.select("d", "bucket", "cnt").toPandas().values.tolist()))


def _assert_merged_sketch_equals_rescan(spark, out: str):
    """read_merged_sketch, built from the manifests' partials, equals
    the sketch of a full scan of the routed table cell for cell."""
    from sneller_spark.operators.sketch import cm_sketch
    from sneller_spark.pipeline.runner import read_merged_sketch, read_routed

    merged = read_merged_sketch(spark, out)
    whole = cm_sketch(read_routed(spark, out), "source")
    assert (merged.depth, merged.width, merged.seed) == (whole.depth, whole.width, whole.seed)
    assert merged.df.schema.simpleString() == "struct<d:int,bucket:bigint,cnt:bigint>"
    assert _sketch_cells(merged) == _sketch_cells(whole)
    return merged


def test_unit_sketches_merge_to_whole_corpus(spark, input_dir, tmp_path):
    """The merged CM sketch of ``source`` comes from the committed
    manifests' partials and equals — cell for cell — the sketch of the
    whole routed corpus: after a killed and resumed ingest, after
    compaction, and with a null source (never counted).  Heavy hitters
    pruned by it equal the whole-corpus exact recount: corpus-wide
    pruning never re-reads the corpus."""
    from pyspark.sql import functions as F

    from sneller_spark.operators.sketch import cm_estimate
    from sneller_spark.pipeline.compact import compact_routed
    from sneller_spark.pipeline.runner import read_routed

    out = str(tmp_path / "sk")
    p1 = run_pipeline(spark, input_dir, out, max_units=2)
    assert p1["units_processed_this_run"] == 2
    _assert_merged_sketch_equals_rescan(spark, out)
    p2 = run_pipeline(spark, input_dir, out)
    assert p2["units"] == FILES
    merged = _assert_merged_sketch_equals_rescan(spark, out)
    # the sketch has no files of its own
    assert not os.path.exists(os.path.join(out, "sketches"))

    # heavy hitters from the merged summary == exact recount
    routed = read_routed(spark, out)
    threshold = 500
    cand = cm_estimate(
        merged, routed.select("source").distinct(), "source"
    ).filter(F.col("est") >= threshold)
    got = {
        (r["source"], r["n"])
        for r in routed.join(cand.select("source"), "source", "left_semi")
        .groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold).collect()
    }
    expect = {
        (r["source"], r["n"])
        for r in routed.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold).collect()
    }
    assert got == expect and got  # non-vacuous

    # compaction moves rows into a pack but leaves the manifests alone
    assert compact_routed(spark, out, target_bytes=1 << 30)["absorbed"] == FILES
    assert _sketch_cells(_assert_merged_sketch_equals_rescan(spark, out)) == _sketch_cells(merged)

    # one null-source row: routed, but in no cell
    d = tmp_path / "null_source_input"
    d.mkdir()
    pdf = generate_chunk(0, 700)
    pdf.loc[3, "source"] = None
    pdf.to_parquet(d / "part-0.parquet", index=False)
    generate_chunk(700, 1400).to_parquet(d / "part-1.parquet", index=False)
    null_out = str(tmp_path / "sk_null")
    assert run_pipeline(spark, str(d), null_out)["rows_routed"] == 1400
    assert read_routed(spark, null_out).filter(F.col("source").isNull()).count() == 1
    sk = _assert_merged_sketch_equals_rescan(spark, null_out)
    assert sk.df.filter(F.col("d") == 0).groupBy().sum("cnt").collect()[0][0] == 1399


def test_merged_sketch_refuses_unreadable_manifests(spark, input_dir, tmp_path):
    """read_merged_sketch raises instead of returning a sketch short of
    some rows: on a committed manifest that does not parse (naming its
    unit), on an out dir of another layout, whose manifests may lack
    partials, and on a dir no run wrote (creating nothing there)."""
    from sneller_spark.pipeline.runner import read_merged_sketch

    out = tmp_path / "corrupt"
    run_pipeline(spark, input_dir, str(out), max_units=2)
    victim = _ids(input_dir)[1]
    good = (out / "manifests" / f"{victim}.json").read_text()
    (out / "manifests" / f"{victim}.json").write_text('{"unit_id": ')
    with pytest.raises(ValueError, match=victim):
        read_merged_sketch(spark, str(out))

    (out / "manifests" / f"{victim}.json").write_text(good)
    (out / "_LAYOUT").write_text("unit-ids-v3")
    with pytest.raises(ValueError, match="unit-ids-v3"):
        read_merged_sketch(spark, str(out))

    with pytest.raises(ValueError, match="layout None"):
        read_merged_sketch(spark, str(tmp_path / "never_written"))
    assert not (tmp_path / "never_written").exists()


def test_failing_unit_under_concurrency(spark, input_dir, tmp_path):
    """One unparseable unit among more units than the pool is wide:
    the run raises the input-contract error naming the file (instead of
    waiting on the queued units it cancelled), every unit that
    committed is whole (manifest == footers), the commit log holds only
    whole lines, and a resume after the input is fixed converges to the
    one-shot result."""
    import shutil
    import threading

    from sneller_spark.pipeline.lineage import written_file_rows

    names = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))
    n_units = spark.sparkContext.defaultParallelism + 4
    d = tmp_path / "bad_input"
    d.mkdir()
    # the bad file sorts first, so it fails while later units are queued
    bad = d / "part-00-bad.parquet"
    bad.write_bytes(b"this is not parquet")
    for i in range(n_units - 1):
        shutil.copy(os.path.join(input_dir, names[i % FILES]), d / f"part-{i + 1:02d}.parquet")
    bad_id = unit_id_for(str(bad))

    out = str(tmp_path / "bad_out")
    raised: list[BaseException] = []

    def failing_run():
        try:
            run_pipeline(spark, str(d), out)
        except BaseException as e:
            raised.append(e)

    t = threading.Thread(target=failing_run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "run_pipeline hung after a unit failed"
    assert len(raised) == 1 and isinstance(raised[0], ValueError)
    assert str(bad) in str(raised[0])

    log = LineageLog(out)
    committed = log.committed_units()
    assert committed and bad_id not in committed
    for uid in committed:
        per_sink, _ = written_file_rows(os.path.join(out, "routed", f"unit={uid}"))
        assert log.read_manifest(uid).rows_routed == sum(per_sink.values())
    with open(os.path.join(out, "_commit.log")) as f:
        text = f.read()
    assert text.endswith("\n")
    lines = text.splitlines()
    assert len(lines) == len(committed)
    assert all(len(line.split("\t")) == 4 for line in lines)

    shutil.copy(os.path.join(input_dir, names[0]), bad)
    resumed = run_pipeline(spark, str(d), out)
    assert resumed["units_processed_this_run"] == n_units - len(committed)
    oneshot = str(tmp_path / "bad_oneshot")
    run_pipeline(spark, str(d), oneshot)
    pd.testing.assert_frame_equal(
        _norm(read_aggregates(spark, out).toPandas()),
        _norm(read_aggregates(spark, oneshot).toPandas()),
    )


def test_unit_jobs_inherit_caller_job_group(spark, input_dir, tmp_path):
    """Unit jobs run on pool threads but stay in the caller's job
    group, so cancelJobGroup still reaches them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groupless_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("runner-group", "run_pipeline job group propagation")
    try:
        stats = run_pipeline(spark, input_dir, str(tmp_path / "grp"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert stats["units_processed_this_run"] == FILES
    assert set(tracker.getJobIdsForGroup(None)) - groupless_before == set()
    # one job per unit: the guarded fetches of the built-in lookup and
    # rules tables read local relations, which starts no job
    assert len(tracker.getJobIdsForGroup("runner-group")) == FILES


def test_broadcast_guards_run_once_per_call(spark, input_dir, tmp_path, monkeypatch):
    """The lookup and rules tables are guarded once per run_pipeline
    call, not once per unit, and an oversized table is still refused
    before any unit commits.  The kernel needs both on the driver:
    the lookup is fetched by ``enrich.collect_lookup`` and the rules by
    ``route.collect_routes``, each through ``collect_broadcastable``,
    so the hook counts both."""
    from sneller_spark.pipeline import enrich, route, runner
    from sneller_spark.pipeline.enrich import (
        MAX_BROADCAST_ROWS, BroadcastGuardError, collect_broadcastable,
    )

    calls = []

    def counting(guard):
        def counted(df, *args, **kwargs):
            calls.append(df)
            return guard(df, *args, **kwargs)
        return counted

    monkeypatch.setattr(enrich, "collect_broadcastable", counting(collect_broadcastable))
    monkeypatch.setattr(route, "collect_broadcastable", counting(collect_broadcastable))
    run_pipeline(spark, input_dir, str(tmp_path / "once"))
    assert len(calls) == 2

    big = spark.range(MAX_BROADCAST_ROWS + 1).selectExpr(
        "'infra' AS category", "'INFO' AS level", "'sink-0' AS sink_id")
    monkeypatch.setattr(runner, "route_rules_df", lambda _spark: big)
    out = str(tmp_path / "refused")
    with pytest.raises(BroadcastGuardError):
        run_pipeline(spark, input_dir, out)
    assert LineageLog(out).committed_units() == set()


def test_run_starts_at_most_one_job_per_unit_plus_two(spark, input_dir, tmp_path):
    """Each unit is one Spark job; with the two guarded table fetches a
    run over N units starts at most N + 2 jobs, so a per-unit schema or
    broadcast job cannot come back unnoticed."""
    sc = spark.sparkContext
    sc.setJobGroup("runner-job-count", "count run_pipeline jobs")
    try:
        stats = run_pipeline(spark, input_dir, str(tmp_path / "jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats["units_processed_this_run"] == FILES
    assert FILES <= len(sc.statusTracker().getJobIdsForGroup("runner-job-count")) <= FILES + 2


def test_manifests_parsed_once_per_call(spark, input_dir, tmp_path, monkeypatch):
    """run_pipeline parses each manifest committed before the call once
    (for resume, stats and the final aggregate alike) and keeps the
    ones it commits itself, so a fresh run parses none."""
    read = []
    real = LineageLog.read_manifest

    def counted(self, unit_id):
        read.append(unit_id)
        return real(self, unit_id)

    monkeypatch.setattr(LineageLog, "read_manifest", counted)
    out = str(tmp_path / "reads")
    run_pipeline(spark, input_dir, out, max_units=2)
    assert read == []
    first = LineageLog(out).committed_units()
    assert len(first) == 2
    stats = run_pipeline(spark, input_dir, out)
    assert stats["units"] == FILES and stats["rows_in"] == N
    assert sorted(read) == sorted(first)
    read.clear()
    run_pipeline(spark, input_dir, out)  # nothing left to process
    assert sorted(read) == sorted(LineageLog(out).committed_units())
