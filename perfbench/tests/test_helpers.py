"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402
from perfbench.workloads import OpResult, canon_rows, check_rows_only, groups_match  # noqa: E402


# ---- percentiles and the sample-count rule ----------------------------

def test_percentile_interpolates_between_order_statistics():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([5.0, 1.0], 0) == 1.0
    assert stats.percentile([5.0, 1.0], 100) == 5.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, q", [(100, 90), (20, 52), (21, 54), (40, 76), (1000, 99)])
def test_highest_percentile_keeps_ten_samples_beyond(n, q):
    assert stats.highest_supported_percentile(n) == q
    assert stats.samples_beyond(n, q) >= 10
    assert stats.samples_beyond(n, q + 1) < 10


def test_too_few_samples_support_no_percentile():
    assert stats.highest_supported_percentile(19) is None


# ---- span self time ---------------------------------------------------

def _span(sid, start, end, parent=None):
    return stats.Span("s", start, end, parent, "op", sid)


def test_self_time_subtracts_children_union():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 7.0, 8.0, 0)]
    # union of children = [1,5] + [7,8] = 5 s
    assert stats.self_time(parent, [parent, *kids]) == pytest.approx(5.0)


def test_self_time_ignores_grandchildren_and_clips_children():
    parent = _span(0, 0.0, 10.0)
    child = _span(1, 8.0, 12.0, 0)         # runs past the parent's end
    grandchild = _span(2, 1.0, 2.0, 1)     # not a direct child
    assert stats.self_time(parent, [parent, child, grandchild]) == pytest.approx(8.0)
    assert stats.self_time(child, [parent, child, grandchild]) == pytest.approx(4.0)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    tr = stats.Tracer(True)
    with tr.span("op", op="1"):
        with tr.span("a", op="1"):
            pass
        with tr.span("b", op="1"):
            pass
    by = {s.name: s for s in tr.spans}
    assert by["a"].parent == by["op"].sid and by["b"].parent == by["op"].sid
    assert by["op"].parent is None
    assert len({s.sid for s in tr.spans}) == 3
    assert stats.self_time(by["op"], tr.spans) <= by["op"].duration
    assert [d["self_s"] for d in tr.to_json()] == [stats.self_time(s, tr.spans) for s in tr.spans]

    off = stats.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


# ---- cache keys ---------------------------------------------------------

@pytest.fixture
def fake_repo(tmp_path, monkeypatch):
    """A copy of the key's source files, so edits stay in tmp_path."""
    pkg = tmp_path / "sneller_spark"
    pkg.mkdir()
    for f in ("datagen.py", "vocab.py", "oracle.py", "lookups.py"):
        shutil.copy(os.path.join(ROOT, "sneller_spark", f), pkg / f)
    monkeypatch.setattr(inputs, "_repo_file", lambda *p: str(tmp_path.joinpath(*p)))
    return pkg


def test_input_key_changes_with_datagen_and_parameters(fake_repo):
    base = inputs.tokens_key(1, 100, 4)
    assert inputs.tokens_key(1, 100, 4) == base
    assert inputs.tokens_key(2, 100, 4) != base
    assert inputs.tokens_key(1, 200, 4) != base
    with open(fake_repo / "datagen.py", "a") as f:
        f.write("\n# changed\n")
    assert inputs.tokens_key(1, 100, 4) != base


def test_oracle_key_changes_with_oracle_but_input_key_does_not(fake_repo):
    tok, orc = inputs.tokens_key(1, 100, 4), inputs.oracle_key(1, 100, 4)
    with open(fake_repo / "oracle.py", "a") as f:
        f.write("\n# changed\n")
    assert inputs.tokens_key(1, 100, 4) == tok
    assert inputs.oracle_key(1, 100, 4) != orc


def test_oracle_cache_path_follows_oracle_key(fake_repo, tmp_path):
    ti = inputs.TokensInput(str(tmp_path / "cache"), 1, 100, 2)
    before = ti.oracle_path(0)
    with open(fake_repo / "oracle.py", "a") as f:
        f.write("\n# changed\n")
    after = inputs.TokensInput(str(tmp_path / "cache"), 1, 100, 2)
    assert after.dir == ti.dir              # same input files
    assert after.oracle_path(0) != before   # oracle recomputed


def test_expected_sums_per_file_oracles(tmp_path):
    ti = inputs.TokensInput(str(tmp_path), 1, 10, 2)
    os.makedirs(ti.dir)
    parts = [
        {"rows_in": 10, "rows_routed": 10, "groups": [["s1", "a", "WARN", 4, 40], ["s2", "b", None, 6, 60]]},
        {"rows_in": 10, "rows_routed": 10, "groups": [["s1", "a", "WARN", 1, 5]]},
    ]
    for k, p in enumerate(parts):
        with open(ti.oracle_path(k), "w") as f:
            json.dump(p, f)
    exp = ti.expected()
    assert exp["rows_in"] == 20 and exp["rows_routed"] == 20
    assert exp["groups"] == {("s1", "a", "WARN"): (5, 45), ("s2", "b", None): (6, 60)}


# ---- failed-op counting ---------------------------------------------------

class _Row(dict):
    pass


def _rows(groups):
    return [_Row(sink_id=s, source=src, level=lv, n_rows=n, sum_n_tok=t)
            for (s, src, lv), (n, t) in groups.items()]


def test_groups_match_accepts_equal_and_reports_a_wrong_answer():
    exp = {("s1", "a", "WARN"): (5, 45), ("s2", "b", None): (6, 60)}
    assert groups_match(_rows(exp), exp) == ""
    wrong = dict(exp)
    wrong[("s2", "b", None)] = (6, 61)
    assert "s2" in groups_match(_rows(wrong), exp)
    assert groups_match(_rows({("s1", "a", "WARN"): (5, 45)}), exp) != ""


def test_injected_wrong_answer_counts_as_failed_op():
    """Bench.run_op records a mismatching op, and one that raises, as
    failed; the result line counts both against attempted."""
    from perfbench import run

    bench = run.Bench(run.parse_args(["--workload", "aggregate", "--seed", "1", "--seconds", "1"]))
    exp = {("s1", "a", "WARN"): (5, 45)}
    good = lambda tr: OpResult(0.1, 10, groups_match(_rows(exp), exp) == "")  # noqa: E731
    bad_rows = _rows({("s1", "a", "WARN"): (5, 46)})
    bad = lambda tr: OpResult(0.1, 10, groups_match(bad_rows, exp) == "")  # noqa: E731

    def boom(tr):
        raise RuntimeError("injected")

    for fn in (good, bad, boom, good):
        bench.run_op("timed", fn)
    res = bench.result({"setup_s": 1.5})
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 4, 2)
    assert res["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}
    assert len(bench.calib_ms) == 4 and len(bench.load1) == 4


def test_catalog_canonical_rows_ignore_order_and_float_noise():
    a = canon_rows(["b", "a"], [(1.0000000001, "x"), (2, "y")])
    b = canon_rows(["a", "b"], [("y", 2), ("x", 1.0)])
    assert a == b
    assert canon_rows(["a"], [(1.5,)]) != canon_rows(["a"], [(1.6,)])


def test_rows_only_checks_reject_wrong_answers():
    facts = {"cos": {i: 1.0 - i / 100 for i in range(20)}, "dup_docs": {3, 7}, "n_docs": 10}
    cols = ["vec_id", "cos_sim"]
    good = [(i, round(1.0 - i / 100, 4)) for i in range(10)]
    assert check_rows_only("ann_cosine_topk_ivf_pruned", cols, good, facts) == ""
    assert check_rows_only("ann_cosine_topk_ivf_pruned", cols, good[:9], facts) != ""
    off = good[:9] + [(9, 0.5)]
    assert check_rows_only("ann_cosine_topk_ivf_pruned", cols, off, facts) != ""
    pcols = ["id_a", "id_b", "n_bands_matched"]
    assert check_rows_only("minhash_lsh_candidates", pcols, [(3, 7, 4)], facts) == ""
    assert check_rows_only("minhash_lsh_candidates", pcols, [(1, 2, 1)], facts) != ""
    assert check_rows_only("minhash_lsh_candidates", pcols, [(7, 3, 4)], facts) != ""


# ---- no process outlives a run --------------------------------------------

def test_reap_children_stops_orphaned_grandchildren_and_resource_tracker():
    # In a child interpreter: the subreaper flag and the reaping act on
    # the calling process, which must not be the test runner.
    import subprocess
    import textwrap

    script = textwrap.dedent("""
        import multiprocessing, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        from perfbench.procs import become_subreaper, child_pids, reap_children
        become_subreaper()
        # A shell that leaves a sleeping orphan behind, as a JVM leaves
        # its Python worker daemons.
        subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
        with multiprocessing.get_context("spawn").Pool(1) as pool:
            pool.map(abs, [1])   # starts the resource tracker
        assert child_pids(), "the orphan should have been re-parented here"
        reap_children(grace_s=5)
        print(len(child_pids()))
    """)
    out = subprocess.run([sys.executable, "-c", script, ROOT],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "0"
