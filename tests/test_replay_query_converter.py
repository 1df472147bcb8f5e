"""testqueries corpus replay (tools.replay.replay_query_converter):
all 24 recorded query→SQL pairs from query_converter_test.go run both
through the Elastic adapter and through the reference's recorded SQL
via the PartiQL surface; row-id sets must agree."""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_query_converter as rqc

pytestmark = pytest.mark.skipif(
    not os.path.isdir(rqc.REF_DIR),
    reason="reference testqueries corpus not available",
)


def test_corpus_inventory():
    assert len(rqc.list_cases()) == 24


@pytest.mark.parametrize("name", rqc.list_cases())
def test_query_converter_case(spark, name):
    rec = rqc.run_case(spark, name)
    assert rec["status"] == "pass", rec
