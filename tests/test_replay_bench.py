"""Benchmark-corpus replay (tools.replay.replay_bench).

Every micro-benchmark the reference ships
(/root/reference/vm/testdata/benchmarks/**/*.bench, vm/bench_test.go)
must translate and execute on Spark over the same inputs (inline
sections or the referenced .jsonrl datasets) at small replication.
Throughput reporting lives in tools/bench_reference_corpus.py.
"""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_bench

pytestmark = pytest.mark.skipif(
    not os.path.isdir(replay_bench.BENCHMARKS),
    reason="reference benchmark corpus not available",
)


def test_bench_corpus_inventory():
    assert len(replay_bench.list_cases()) >= 53


@pytest.mark.parametrize("rel", replay_bench.list_cases())
def test_bench_case_executes(spark, rel):
    rec = replay_bench.run_bench_case(
        spark, os.path.join(replay_bench.BENCHMARKS, rel), repl=8
    )
    assert rec["status"] == "pass", (
        f"{rel}: {rec['status']} {rec.get('detail', '')[:300]}\n"
        f"SQL: {rec.get('sql', '')[:300]}"
    )
    assert rec["rows_in"] > 0
