"""Full recorded-scenario replay (tools.replay.replay_scenarios):
the proxy's 26 testdata-new flights dashboards + 8 testdata-news
query_string searches, every bucket CTE / total-count / hits
subquery of the recorded WITH-form SQL cross-validated against the
Elastic adapter."""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_scenarios as rs

pytestmark = pytest.mark.skipif(
    not os.path.isdir(rs.REF_NEW),
    reason="reference testdata-new corpus not available",
)

SCENARIOS = rs.list_scenarios()


def test_inventory():
    names = [n for _, n in SCENARIOS]
    assert len(names) == 34  # 26 flights + 8 news
    assert "venkat-keyorder" in names and "pagination-from" in names


@pytest.mark.parametrize(
    "directory,name", SCENARIOS, ids=[n for _, n in SCENARIOS])
def test_scenario(spark, directory, name):
    rec = rs.run_scenario(spark, directory, name)
    assert rec["status"] == "pass", rec
