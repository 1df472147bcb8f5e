"""CSV/TSV converter test-vector replay (tools.replay.replay_xsv).

Every conversion vector the reference's xsv package ships (csv/tsv +
hints -> expected ion rows) must convert identically through the
Spark-side converter.
"""

from __future__ import annotations

import os

import pytest

from tools.replay import replay_xsv

pytestmark = pytest.mark.skipif(
    not os.path.isdir(replay_xsv.XSV),
    reason="reference xsv corpus not available",
)


def test_case_inventory():
    # every expected-output vector in the corpus is covered
    expected = {
        f for f in os.listdir(replay_xsv.XSV) if f.endswith(".ion.json")
    }
    assert expected == {c[2] for c in replay_xsv.CASES}


@pytest.mark.parametrize(
    "case", replay_xsv.CASES, ids=[c[0] + "->" + c[2] for c in replay_xsv.CASES]
)
def test_xsv_case(spark, case):
    rec = replay_xsv.run_case(spark, *case)
    assert rec["status"] == "pass", rec
    assert rec["rows"] >= 1
