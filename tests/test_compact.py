"""Compaction (pipeline/compact.py): row-set preservation, crash
consistency of the manifest protocol and resume interplay."""
from __future__ import annotations

import json
import os
import shutil

import pytest

from sneller_spark.datagen import generate_chunk
from sneller_spark.pipeline.compact import (
    compact_routed,
    compaction_view,
    routed_dirs,
)
from sneller_spark.pipeline.runner import (
    read_aggregates,
    read_routed,
    run_pipeline,
)


def _mk_input(path, units=3, rows=800):
    os.makedirs(path)
    for k in range(units):
        generate_chunk(k * rows, (k + 1) * rows).to_parquet(
            os.path.join(path, f"part-{k}.parquet"), index=False)


def _routed_files(out):
    routed = os.path.join(out, "routed")
    return [os.path.join(r, f)
            for r, _d, fs in os.walk(routed)
            for f in fs if f.endswith(".parquet")]


def _rows_sorted(df):
    rows = [tuple(str(v) for v in t) for t in df.drop("unit").collect()]
    return sorted(rows)


@pytest.fixture()
def piped(spark, tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _mk_input(inp)
    run_pipeline(spark, inp, out)
    return inp, out


def test_compact_preserves_rows_and_aggregates(spark, piped):
    inp, out = piped
    before_rows = _rows_sorted(read_routed(spark, out))
    before_agg = sorted(tuple(str(v) for v in t)
                        for t in read_aggregates(spark, out).collect())
    before_files = len(_routed_files(out))

    info = compact_routed(spark, out, target_bytes=1 << 30)
    assert info["gen"] == 1 and info["absorbed"] == 3

    after = read_routed(spark, out)
    assert set(after.columns) >= {"sink_id", "unit"}
    assert _rows_sorted(after) == before_rows
    assert len(_routed_files(out)) < before_files
    # every surviving row reads back under the pack unit
    assert set(r["unit"] for r in after.select("unit").distinct().collect()) \
        == {"pack-1"}

    # aggregates recomputed over the compacted view are identical
    run2 = run_pipeline(spark, inp, out)
    assert run2["units_processed_this_run"] == 0
    shutil.rmtree(os.path.join(out, "agg"), ignore_errors=True)
    run_pipeline(spark, inp, out)
    assert sorted(tuple(str(v) for v in t)
                  for t in read_aggregates(spark, out).collect()) \
        == before_agg


def test_resume_after_compaction_processes_only_new_units(spark, piped):
    inp, out = piped
    compact_routed(spark, out, target_bytes=1 << 30)
    generate_chunk(5000, 5600).to_parquet(
        os.path.join(inp, "part-9.parquet"), index=False)
    stats = run_pipeline(spark, inp, out)
    assert stats["units_processed_this_run"] == 1
    units = {r["unit"]
             for r in read_routed(spark, out).select("unit")
             .distinct().collect()}
    assert "pack-1" in units and len(units) == 2
    # second compaction absorbs the pack AND the new unit
    info = compact_routed(spark, out, target_bytes=1 << 30)
    assert info["gen"] == 2 and info["absorbed"] == 2
    assert read_routed(spark, out).count() == 3 * 800 + 600


def test_orphan_pack_is_invisible_until_manifest(spark, piped):
    _inp, out = piped
    before = _rows_sorted(read_routed(spark, out))
    n_before = len(before)
    # simulate a crash between pack rename and manifest write:
    # run a real compaction, then delete its manifest
    compact_routed(spark, out, target_bytes=1 << 30, cleanup=False)
    os.remove(os.path.join(out, "compaction", "gen-1.json"))
    absorbed, packs = compaction_view(out)
    assert not absorbed and not packs
    # orphan pack dir exists on disk but the consistent view skips it
    assert any("pack-1" in d for d in os.listdir(os.path.join(out, "routed")))
    assert all("pack-" not in d for d in routed_dirs(out))
    again = _rows_sorted(read_routed(spark, out))
    assert again == before and len(again) == n_before
    # the next compaction garbage-collects the orphan and succeeds
    info = compact_routed(spark, out, target_bytes=1 << 30)
    assert info["gen"] == 1
    assert _rows_sorted(read_routed(spark, out)) == before


def test_absorbed_dirs_left_on_disk_do_not_double_count(spark, piped):
    _inp, out = piped
    before = read_routed(spark, out).count()
    compact_routed(spark, out, target_bytes=1 << 30, cleanup=False)
    # absorbed unit dirs still on disk alongside the committed pack
    routed = os.path.join(out, "routed")
    assert sum(1 for d in os.listdir(routed) if d.startswith("unit=")) == 4
    assert read_routed(spark, out).count() == before


def test_reprocess_of_absorbed_unit_refused(spark, piped):
    """Mutating an input file whose unit was already absorbed must
    hard-error: its old rows live inside a pack, so reprocessing
    would double-count."""
    inp, out = piped
    compact_routed(spark, out, target_bytes=1 << 30)
    generate_chunk(0, 900).to_parquet(  # changed identity for unit 0
        os.path.join(inp, "part-0.parquet"), index=False)
    with pytest.raises(RuntimeError, match="identity changed"):
        run_pipeline(spark, inp, out)


def test_no_op_below_two_candidates(spark, tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _mk_input(inp, units=1)
    run_pipeline(spark, inp, out)
    info = compact_routed(spark, out)
    assert info["gen"] is None


def test_target_bytes_controls_file_count(spark, piped):
    _inp, out = piped
    # tiny target => several pack files; the manifest records them
    info = compact_routed(spark, out, target_bytes=64 << 10,
                          small_bytes=1 << 30)
    m = json.load(open(os.path.join(out, "compaction", "gen-1.json")))
    assert m["files"] == info["files"] >= 2
    assert sum(m["per_sink"].values()) == m["rows"] == 2400


def test_file_budget_is_per_sink(spark, piped):
    """A huge target must yield ~one file per sink, not one per
    (shuffle partition x sink): the salt is sized per sink."""
    _inp, out = piped
    info = compact_routed(spark, out, target_bytes=1 << 30)
    pack = os.path.join(out, "routed", "unit=pack-1")
    sinks = [d for d in os.listdir(pack) if d.startswith("sink_id=")]
    per_sink = {
        d: sum(1 for f in os.listdir(os.path.join(pack, d))
               if f.endswith(".parquet"))
        for d in sinks
    }
    assert all(n == 1 for n in per_sink.values()), per_sink
    assert info["files"] == len(sinks)


def test_gc_collects_absorbed_leftovers(spark, piped):
    """Absorbed dirs surviving a cleanup crash are collected by the
    next compaction run, not leaked forever."""
    _inp, out = piped
    compact_routed(spark, out, target_bytes=1 << 30, cleanup=False)
    routed = os.path.join(out, "routed")
    assert sum(1 for d in os.listdir(routed)
               if d.startswith("unit=") and "pack" not in d) == 3
    before = _rows_sorted(read_routed(spark, out))
    # next invocation GCs the leftovers even when there is nothing
    # new to compact
    compact_routed(spark, out, target_bytes=1 << 30)
    assert sum(1 for d in os.listdir(routed)
               if d.startswith("unit=") and "pack" not in d) == 0
    assert _rows_sorted(read_routed(spark, out)) == before


def test_partial_absorption_multigen(spark, tmp_path):
    """Mixed unit sizes with a small threshold: only the small units
    absorb, the big one stays live; later generations converge; the
    row multiset is stable throughout."""
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    sizes = [120, 150, 2500, 90, 60]  # one unit ~20x the others
    lo = 0
    for k, n in enumerate(sizes):
        generate_chunk(lo, lo + n).to_parquet(
            os.path.join(inp, f"part-{k}.parquet"), index=False)
        lo += n
    run_pipeline(spark, inp, out)
    total = sum(sizes)
    expect = _rows_sorted(read_routed(spark, out))
    assert len(expect) == total

    # threshold below the big unit's bytes: it must survive as-is
    routed = os.path.join(out, "routed")

    def dir_bytes(d):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _x, fs in os.walk(os.path.join(routed, d))
                   for f in fs if f.endswith(".parquet"))

    sizes_by_unit = {d[len("unit="):]: dir_bytes(d)
                     for d in os.listdir(routed) if d.startswith("unit=")}
    big_unit = max(sizes_by_unit, key=sizes_by_unit.get)
    info = compact_routed(spark, out, target_bytes=1 << 30,
                          small_bytes=max(1, sizes_by_unit[big_unit] - 1))
    assert info["absorbed"] == 4
    units = {r["unit"] for r in read_routed(spark, out)
             .select("unit").distinct().collect()}
    assert units == {big_unit, "pack-1"}
    assert _rows_sorted(read_routed(spark, out)) == expect

    # new increments + a high-threshold gen-2 folds everything
    generate_chunk(10_000, 10_080).to_parquet(
        os.path.join(inp, "part-9.parquet"), index=False)
    run_pipeline(spark, inp, out)
    info2 = compact_routed(spark, out, target_bytes=1 << 30)
    assert info2["gen"] == 2 and info2["absorbed"] == 3
    after = read_routed(spark, out)
    assert {r["unit"] for r in after.select("unit").distinct().collect()} \
        == {"pack-2"}
    assert after.count() == total + 80


def test_resume_false_on_compacted_dir_refused(spark, piped):
    inp, out = piped
    compact_routed(spark, out, target_bytes=1 << 30)
    with pytest.raises(RuntimeError, match="resume=False"):
        run_pipeline(spark, inp, out, resume=False)


def test_runner_entries_drop_stale_out_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """The runner catalog entries keep their out dirs in the flagship
    dir, which outlives the process; building removes the siblings keyed
    by another fixture or layout version and leaves the rest alone."""
    from sneller_spark import query_catalog_ml as ml
    from sneller_spark.pipeline.runner import LAYOUT_VERSION

    monkeypatch.setattr(ml, "_FLAGSHIP_DIR", str(tmp_path))
    stale = ["runner_out_sketch", "runner_out_sketch_unit-ids-v3",
             "runner_out_compact_0123456789abcdef_unit-partials-v4"]
    for name in stale:
        (tmp_path / name / "manifests").mkdir(parents=True)
    assert ml.runner_sketch_merged_hitters(spark, sf_dir).count() > 0
    assert ml.runner_compacted_per_sink(spark, sf_dir).count() > 0
    current = {f"runner_out_sketch_{LAYOUT_VERSION}",
               f"runner_out_compact_{ml._fixture_version()}_{LAYOUT_VERSION}"}
    outs = {d for d in os.listdir(tmp_path) if d.startswith("runner_out")}
    assert outs == current
    assert os.path.isdir(tmp_path / "runner_units")
