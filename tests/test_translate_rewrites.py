"""Direct unit tests for the round-6 translator rewrite passes
(sneller_spark.partiql.translate) — pure text in/out, no SparkSession.

These pin the fixes from the round-6 review: item-scoped GROUP BY
alias binding, literal expression insertion, UNION-branch scoping,
null-safe ARRAY_SIZE, and the DISTINCT ON order materialization.
"""

from __future__ import annotations

import re

from sneller_spark.partiql import translate


def test_groupby_alias_binds_select_item():
    out = translate("SELECT time, SUM(v) AS s FROM t GROUP BY f(x) AS time")
    assert re.search(r"SELECT\s+f\(x\) AS time", out)
    assert "AS time" not in out.split("GROUP BY")[1]


def test_groupby_alias_ignores_nested_reference():
    # a bare `d` inside a call is NOT the select item `d`
    out = translate("SELECT f(d), d FROM t GROUP BY x AS d")
    assert "f(x AS d" not in out
    assert "x AS d" in out


def test_groupby_alias_union_branches_independent():
    out = translate(
        "SELECT d FROM a GROUP BY day AS d "
        "UNION ALL SELECT d FROM b GROUP BY dd AS d"
    )
    assert "day AS d" in out and "dd AS d" in out
    assert "day AS dd" not in out


def test_groupby_alias_backslash_literal():
    out = translate(
        "SELECT g, COUNT(*) FROM t GROUP BY regexp_replace(x, 'a', '\\\\1') AS g"
    )
    # the expression moves verbatim — backslashes must not be eaten by
    # regex template expansion
    assert out.count("'\\\\1'") == 2


def test_having_window_alias_inlines():
    out = translate(
        "SELECT g, COUNT(*) AS x, ROW_NUMBER() OVER (PARTITION BY g "
        "ORDER BY COUNT(*)) AS rn FROM t GROUP BY g HAVING rn <= 2"
    )
    # the alias is replaced by the window expr and lifted to a subquery
    # filter by the HAVING-window rewrite
    assert "HAVING rn" not in out


def test_orderby_agg_folds_to_alias_under_window():
    out = translate(
        "SELECT g, SUM(v) AS s, ROW_NUMBER() OVER (ORDER BY SUM(v)) AS rn "
        "FROM t GROUP BY g ORDER BY g, SUM(v)"
    )
    tail = out[out.rindex("ORDER BY"):]
    assert "SUM" not in tail and re.search(r"\bs\b", tail)


def test_array_size_null_safe_and_balanced():
    out = translate("SELECT ARRAY_SIZE(f(a, b)) FROM t WHERE ARRAY_SIZE(x) > 1")
    assert out.count("nullif(size(") == 2
    assert out.count("(") == out.count(")")


def test_distinct_on_order_by_becomes_pick_order():
    out = translate(
        "SELECT DISTINCT ON (k) v FROM t GROUP BY k, v ORDER BY COUNT(*) DESC"
    )
    # window ORDER BY carries the sort; hidden __ord column reproduces
    # output order outside the filter; drop list matches exactly
    assert re.search(r"PARTITION BY k\s+ORDER BY COUNT\(\*\) DESC", out)
    assert "__ord0_0" in out
    assert re.search(r"EXCEPT \(__rn0, __ord0_0\)", out)


def test_distinct_on_limit_moves_outside():
    out = translate(
        "SELECT DISTINCT ON (k) v FROM t ORDER BY v LIMIT 3"
    )
    # LIMIT applies after the per-key filter, not inside the subquery
    inner = out[out.index("(") : out.rindex(")")]
    assert "LIMIT" not in inner
    assert out.rstrip().endswith("LIMIT 3")
