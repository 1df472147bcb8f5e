"""Kibana-dashboard corpus cross-validation (tools.replay.replay_elastic).

Each of the reference proxy's 12 flights-dashboard scenarios runs both
the raw Kibana request (through adapters.elastic) and the reference's
own recorded SQL translation (through partiql) on one synthesized
flights table; the values must agree.
"""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_elastic

pytestmark = pytest.mark.skipif(
    not os.path.isdir(replay_elastic.KIBANA),
    reason="reference kibana corpus not available",
)


def test_scenario_inventory():
    # every step1 request in the corpus has a mapping here
    step1 = {
        f[: -len("-step1-query.json")]
        for f in os.listdir(replay_elastic.KIBANA)
        if f.endswith("-step1-query.json")
    }
    assert step1 == set(replay_elastic.SCENARIOS)


@pytest.mark.parametrize("name", replay_elastic.list_scenarios())
def test_kibana_scenario(spark, name):
    rec = replay_elastic.run_scenario(spark, name)
    assert rec["status"] == "pass", f"{name}: {rec}"
    assert rec["rows"] >= 1
