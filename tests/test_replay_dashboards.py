"""Request-only dashboard-capture replay
(tools.replay.replay_dashboards): the proxy's 9 dashboard-cloud-trail
+ 15 dashboard-global-flight recorded Kibana requests, each executed
through the Elastic adapter on a deterministic table and checked
against a hand-written Spark SQL oracle (no recorded SQL exists for
these — the reference keeps them as captured inputs only)."""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_dashboards as rd

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(rd.REF_ROOT, "dashboard-cloud-trail")),
    reason="reference dashboard corpora not available",
)

CASES = rd.list_cases()


def test_inventory():
    ct = [c for c in CASES if c.startswith("dashboard-cloud-trail/")]
    gf = [c for c in CASES if c.startswith("dashboard-global-flight/")]
    assert len(ct) == 9 and len(gf) == 15
    # every *-request.json in both reference dirs is covered
    for sub in ("dashboard-cloud-trail", "dashboard-global-flight"):
        on_disk = sorted(
            f"{sub}/{f}" for f in os.listdir(os.path.join(rd.REF_ROOT, sub)))
        assert on_disk == [c for c in CASES if c.startswith(sub + "/")]


@pytest.mark.parametrize("rel", CASES, ids=[c.split("/")[1] for c in CASES])
def test_dashboard_request(spark, rel):
    rec = rd.run_case(spark, rel)
    assert rec["status"] == "pass", rec
