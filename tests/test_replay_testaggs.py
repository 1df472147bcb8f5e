"""testaggs corpus replay (tools.replay.replay_testaggs): every
bucket CTE in the proxy's 9 recorded aggregation translations
executes verbatim through the PartiQL surface and must agree with
the matching aggs slice run through the Elastic adapter."""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_testaggs as rta

pytestmark = pytest.mark.skipif(
    not os.path.isdir(rta.REF_DIR),
    reason="reference testaggs corpus not available",
)


def test_corpus_inventory():
    have = {
        f[: -len(".json")]
        for f in os.listdir(rta.REF_DIR)
        if f.endswith(".json")
    }
    assert have == set(rta.list_cases())


def test_split_with_parses_every_recorded_file():
    for name in rta.list_cases():
        sql = open(os.path.join(rta.REF_DIR, f"{name}.json.sql")).read()
        ctes = rta.split_with(sql)
        names = [n for n, _ in ctes]
        assert names[0] == "$source", name
        assert len(names) >= 2, name
        # every bucket the case table targets is present
        for target, _, _ in rta.CASES[name]:
            assert target in names, (name, target)


@pytest.mark.parametrize("name", rta.list_cases())
def test_testaggs_case(spark, name):
    rec = rta.run_case(spark, name)
    assert rec["status"] == "pass", rec
