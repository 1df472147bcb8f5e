"""Planner-corpus replay (tools.replay.replay_pir).

Every build test of the reference's PIR planner
(/root/reference/plan/pir/testdata/build/**/*.test) must translate and
execute on Spark over tables synthesized from the expected plan's own
FIELDS schema lines, and — where the reference's split plan contains a
partial/merge aggregate — Spark's physical plan must show the same
two-phase split (Catalyst's partial_ HashAggregate is the analog of
the reference's ``UNION MAP`` + ``AGGREGATE .PARTIAL/.MERGE``
decomposition, plan/pir/build_test.go).
"""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_pir

pytestmark = pytest.mark.skipif(
    not os.path.isdir(replay_pir.PIR_BUILD),
    reason="reference planner corpus not available",
)


def test_pir_corpus_inventory():
    assert len(replay_pir.list_cases()) >= 46


@pytest.mark.parametrize("rel", replay_pir.list_cases())
def test_pir_case(spark, rel):
    rec = replay_pir.run_pir_case(
        spark, os.path.join(replay_pir.PIR_BUILD, rel)
    )
    assert rec["status"] == "pass", (
        f"{rel}: {rec['status']} {rec.get('detail', '')[:300]}\n"
        f"SQL: {rec.get('sql', '')[:300]}"
    )


def test_pir_split_coverage():
    """Six corpus cases ship an expected split (map/reduce) plan — the
    ones run_pir_case plan-checks against Catalyst's partial_/final
    HashAggregate decomposition (same static detection as the runner;
    the execution itself is covered by the parametrized test above)."""
    n_split = 0
    for rel in replay_pir.list_cases():
        sections = open(
            os.path.join(replay_pir.PIR_BUILD, rel), errors="replace"
        ).read().split("\n---\n")
        if (
            len(sections) >= 3
            and "UNION MAP" in sections[-1]
            and "AGGREGATE" in sections[-1]
        ):
            n_split += 1
    assert n_split >= 6
