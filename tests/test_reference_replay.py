"""Ratchet over the verbatim reference-corpus replay.

``tests/replay_manifest.txt`` lists every reference test case
(/root/reference/vm/testdata/queries/**/*.test) that
``tools.replay.replay`` currently passes verbatim — parsed, translated
to Spark SQL, executed, and value-compared against the reference's own
expected NDJSON.  This test re-runs all of them and fails if ANY
regresses; extend the manifest with ``python tools/replay_report.py
--manifest tests/replay_manifest.txt`` after improving the translator.

The reference checkout is read-only input; nothing is copied here.
"""

from __future__ import annotations

import os

import pytest

from tools.replay import replay

MANIFEST = os.path.join(os.path.dirname(__file__), "replay_manifest.txt")


def _manifest_cases() -> list[str]:
    with open(MANIFEST) as f:
        return [ln.strip() for ln in f if ln.strip()]


@pytest.mark.skipif(
    not os.path.isdir(replay.REFERENCE_QUERIES),
    reason="reference corpus not available",
)
def test_reference_replay_partition_invariance(spark):
    """Every 10th manifest case re-run with the typed loader fanned out
    to 8 input partitions: translated plans must not depend on
    single-partition evaluation (global aggregation, ordering,
    first-seen semantics, KBN float sums).  The full 408 were verified
    once at 8 partitions when this landed; the sample keeps CI time
    bounded."""
    cases = _manifest_cases()[::10]
    prev = replay.INPUT_PARTITIONS
    replay.INPUT_PARTITIONS = 8
    try:
        failures = []
        for rel in cases:
            path = os.path.join(replay.REFERENCE_QUERIES, rel)
            rec = replay.run_case(spark, path)
            if rec["status"] != "pass":
                failures.append(
                    f"{rel}: {rec['status']} {rec.get('detail', '')[:200]}"
                )
        assert not failures, (
            f"{len(failures)}/{len(cases)} cases broke at 8 partitions:\n"
            + "\n".join(failures[:25])
        )
    finally:
        replay.INPUT_PARTITIONS = prev


@pytest.mark.skipif(
    not os.path.isdir(replay.REFERENCE_QUERIES),
    reason="reference corpus not available",
)
def test_reference_replay_manifest(spark):
    cases = _manifest_cases()
    assert len(cases) >= 408, "manifest shrank — regenerate only to grow it"
    failures = []
    for rel in cases:
        path = os.path.join(replay.REFERENCE_QUERIES, rel)
        rec = replay.run_case(spark, path)
        if rec["status"] != "pass":
            failures.append(f"{rel}: {rec['status']} {rec.get('detail', '')[:200]}")
    assert not failures, (
        f"{len(failures)}/{len(cases)} manifest cases regressed:\n"
        + "\n".join(failures[:25])
    )
