"""Standalone recorded-request corpus replay
(tools.replay.replay_elastic_queries): the proxy's 12 raw client
request bodies outside the dashboard suite, each executed through the
Elastic adapter and compared against a hand-written Spark SQL oracle
on one synthesized table."""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_elastic_queries as req

pytestmark = pytest.mark.skipif(
    not os.path.isdir(req.REF_DIR),
    reason="reference elasticproxy corpus not available",
)


def test_corpus_inventory():
    # every standalone recorded body in the reference dir is covered
    have = {
        f for f in os.listdir(req.REF_DIR)
        if f.startswith("query-") and f.endswith(".json")
    } | {
        f for f in os.listdir(req.REF_DIR)
        if f.startswith("ramon-") and f.endswith("-step1-query.json")
    }
    assert have == set(req.list_cases())


@pytest.mark.parametrize("fname", req.list_cases())
def test_recorded_request(spark, fname):
    rec = req.run_case(spark, fname)
    assert rec["status"] == "pass", rec
