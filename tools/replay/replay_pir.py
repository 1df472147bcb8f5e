"""Replay of the reference's planner-test corpus on Spark.

The reference's PIR planner ships 46 build tests
(/root/reference/plan/pir/testdata/build/**/*.test, format per
plan/pir/build_test.go: SQL, ``---``, expected single-node PIR plan,
``---``, expected split map/reduce plan).  Those expected sections
describe Sneller's physical strategy — ITERATE with FIELDS pruning,
partial/merge aggregate splits under ``UNION MAP``, HASH_REPLACEMENT
joins — which on this engine is Catalyst's job, so the plans are not
comparable line-by-line.  What IS checkable, and what this module
checks:

1. every corpus query translates (``sneller_spark.partiql.translate``)
   and **executes** on Spark over tables synthesized from the expected
   plan's own
   ``ITERATE <tbl> FIELDS [...]`` schema lines, and
2. where the reference's split plan contains a partial/merge aggregate
   (``.PARTIAL(`` / ``SUM_COUNT(`` / ``.MERGE(``), Spark's physical
   plan shows the same two-phase split (``partial_`` HashAggregate) —
   i.e. Catalyst reproduces the map/reduce decomposition the
   reference's planner hand-derives.

Input synthesis is heuristic: field types are inferred from how the
query uses them (ion-literal comparisons -> timestamps, string
equality/LIKE -> strings matching the literal, ARRAY_SIZE/vector
functions -> arrays, dotted paths -> nested objects, else numbers);
equality literals are satisfied so rows actually flow through the
plan.  A small OVERRIDES table pins the handful of deeply nested
fixtures (cloudtrail unnest, gha payload).  The reference checkout is
read-only input; nothing is copied.
"""

from __future__ import annotations

import json
import os
import re

from sneller_spark.partiql import _ensure_sn_udfs, translate

from . import replay

PIR_BUILD = "/root/reference/plan/pir/testdata/build"

_ITERATE_RE = re.compile(
    r"ITERATE\s+(?:PART\s+)?([A-Za-z_]\w*)(?:\s+AS\s+\w+)?\s+FIELDS\s+"
    r"(\*|\[([^\]]*)\])"
)

# hand-pinned fixtures for deeply nested / typed inputs the generic
# synthesizer can't infer (unnest aliases, arrays of structs, vectors)
OVERRIDES: dict[str, dict[str, list[str]]] = {
    "0006-join/cloudtrail-example.test": {
        "cloudtrail": [
            json.dumps({
                "eventName": "RunInstances",
                "eventTime": "2023-02-01T00:00:00Z",
                "responseElements": {"instancesSet": {"items": [
                    {"instanceId": f"i-{k}",
                     "networkInterfaceSet": {"items": [
                         {"networkInterfaceId": f"eni-{k}"}]}}
                ]}},
            }) for k in range(3)
        ],
        "vpcflowlogs": [
            json.dumps({"interface_id": f"eni-{k % 3}", "packets": 10 * k + 1,
                        "start": "2023-02-01T01:00:00Z"})
            for k in range(6)
        ],
    },
    "regress/3057.test": {
        "table": [
            json.dumps({"word": w, "embedding": [float(k), 1.0, 0.5]})
            for k, w in enumerate(["simd", "avx", "sse", "neon"])
        ],
    },
    "regress/3065.test": {
        "gha": [
            json.dumps({
                "created_at": f"2021-01-0{2 + k % 3}T12:00:00Z",
                "type": "PushEvent",
                "repo": {"name": "dotnet/core"},
                "payload": {"commits": [{"sha": "a"}, {"sha": "b"}]},
            }) for k in range(4)
        ],
    },
}


def list_cases(root: str = PIR_BUILD) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".test"):
                out.append(os.path.relpath(os.path.join(dirpath, f), root))
    return sorted(out)


def parse_pir_case(path: str) -> tuple[str, dict[str, set]]:
    """Return (query, {table: top-level fields}) from a build test."""
    text = open(path, errors="replace").read()
    parts = text.split("\n---\n")
    qlines = [
        l for l in parts[0].splitlines()
        if not l.strip().startswith("#")
    ]
    query = "\n".join(qlines).strip()
    tables: dict[str, set] = {}
    for section in parts[1:]:
        for m in _ITERATE_RE.finditer(section):
            tbl, star, fields = m.group(1), m.group(2), m.group(3)
            cols = tables.setdefault(tbl, set())
            if star != "*" and fields is not None:
                cols.update(
                    f.strip() for f in fields.split(",") if f.strip()
                )
    return query, tables


def _aliases(query: str) -> set:
    """Table aliases bound in FROM/JOIN clauses (``FROM a a JOIN b b``)."""
    out = set()
    for m in re.finditer(
        r"\b(?:FROM|JOIN)\s+[`\"]?\w+[`\"]?\s+(?:AS\s+)?([A-Za-z_]\w*)",
        query, flags=re.IGNORECASE,
    ):
        if m.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "JOIN", "ON", "CROSS", "LEFT",
            "RIGHT", "INNER", "LIMIT", "AS",
        ):
            out.add(m.group(1))
    return out


def _subpaths(query: str, field: str) -> list[str]:
    """Dotted continuations of ``field`` in the query text
    (``repo.name`` -> ['name'] for field 'repo').  A single
    table-alias prefix is allowed (``b.inner.val`` -> inner: ['val']);
    a field whose name collides with a table alias only counts when
    prefixed (``a.z`` with table alias ``a`` is table-a's column z,
    not a struct field of some column ``a``)."""
    aliases = _aliases(query)
    out = set()
    for m in re.finditer(
        rf"(?<![\w.`])(?:(\w+)\.)?{re.escape(field)}((?:\.\w+)+)", query
    ):
        prefix = m.group(1)
        if prefix is not None and prefix not in aliases:
            continue  # a struct path of some other column, not ours
        if prefix is None and field in aliases:
            continue  # bare name is the table alias, not a column
        out.add(m.group(2).lstrip("."))
    return sorted(out)


def _field_value(query: str, field: str, row: int):
    """Heuristic value for ``field`` in synthetic row ``row``.  A
    table-alias prefix is allowed on references (``b.foo = 3``)."""
    f = r"(?:\w+\.)?" + re.escape(field)
    # ion timestamp comparison -> a timestamp satisfying >= of the
    # first compared literal (strictly-greater cases just see 0 rows)
    m = re.search(rf"(?<![\w.`]){f}\s*(?:>=|<=|>|<|=)\s*`([^`]+)`", query)
    if m:
        return m.group(1)
    # string equality / LIKE -> satisfy the literal
    m = re.search(rf"(?<![\w.`]){f}\s*=\s*'([^']*)'", query)
    if m:
        return m.group(1)
    m = re.search(rf"(?<![\w.`]){f}\s+LIKE\s+'([^']*)'", query,
                  flags=re.IGNORECASE)
    if m:
        return m.group(1).replace("%", str(row)).replace("_", "x")
    # ARRAY_SIZE / vector distance -> array of numbers
    if re.search(
        rf"(?:ARRAY_SIZE|INNER_PRODUCT|COSINE_DISTANCE)\s*\(\s*[\w.]*{f}",
        query, flags=re.IGNORECASE,
    ):
        return [float(row), 1.0]
    # numeric equality -> satisfy it
    m = re.search(rf"(?<![\w.`]){f}\s*=\s*(-?\d+)\b", query)
    if m:
        return int(m.group(1))
    # nested paths -> object carrying every referenced subpath
    subs = _subpaths(query, field)
    if subs:
        obj: dict = {}
        for sp in subs:
            cur = obj
            parts = sp.split(".")
            for p in parts[:-1]:
                cur = cur.setdefault(p, {})
            cur[parts[-1]] = _field_value(query, sp.split(".")[-1], row)
        return obj
    # default: a small number varying per row (group keys repeat)
    return (row % 2) * 10 + (sum(field.encode()) % 7)


def synthesize_table(query: str, fields: set, n_rows: int = 4) -> list[str]:
    # heuristics scan the unquoted spelling ("v"."i" -> v.i)
    q = query.replace('"', "")
    rows = []
    for i in range(n_rows):
        rows.append(json.dumps(
            {f: _field_value(q, f, i) for f in sorted(fields)}
        ))
    return rows


def run_pir_case(spark, path: str) -> dict:
    rel = os.path.relpath(path, PIR_BUILD)
    try:
        query, tables = parse_pir_case(path)
    except Exception as exc:  # noqa: BLE001
        return {"case": rel, "status": "parse-error", "detail": str(exc)[:300]}
    _ensure_sn_udfs(spark)
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        override = OVERRIDES.get(rel, {})
        for tbl, fields in tables.items():
            lines = override.get(tbl) or synthesize_table(query, fields)
            df, _ = replay.load_input(spark, lines)
            df.createOrReplaceTempView(tbl)
        sql = translate(query)
        df = rows = None
        for attempt in range(4):
            try:
                df = spark.sql(sql)
                rows = df.collect()
                break
            except Exception as exc:  # noqa: BLE001
                # schemaless discipline: referenced-but-pruned fields
                # are MISSING in the reference; add as NULL columns
                um = re.search(
                    r"(?:UNRESOLVED_COLUMN|FIELD_NOT_FOUND)[^`]*`([\w.`]+)`",
                    str(exc),
                )
                if um and attempt < 3:
                    from pyspark.sql import functions as F

                    segs = re.findall(r"\w+", um.group(1))
                    if segs and segs[0] in tables:
                        segs = segs[1:] or segs
                    col, nested = segs[0], segs[1:]
                    # a dotted miss needs a struct column carrying the
                    # referenced path (MISSING discipline: all NULL)
                    typ = "string"
                    for p in reversed(nested):
                        typ = f"struct<{p}:{typ}>"
                    patched = False
                    for tbl in tables:
                        tdf = spark.table(tbl)
                        if col not in tdf.columns:
                            tdf = tdf.withColumn(col, F.lit(None).cast(typ))
                            tdf.createOrReplaceTempView(tbl)
                            patched = True
                    if patched:
                        continue
                return {"case": rel, "status": "error",
                        "detail": str(exc)[:300], "sql": sql}
        if df is None or rows is None:
            return {"case": rel, "status": "error",
                    "detail": "retries exhausted", "sql": sql}
        # a third section is the expected SPLIT plan: UNION MAP over the
        # table's parts with a partial/merge aggregate decomposition
        # (SUM.PARTIAL/.MERGE, SUM_COUNT, SUM_INT).  Catalyst's analog
        # is the partial_/final HashAggregate pair.
        sections = open(path, errors="replace").read().split("\n---\n")
        wants_split = (
            len(sections) >= 3
            and "UNION MAP" in sections[-1]
            and "AGGREGATE" in sections[-1]
        )
        has_split = None
        if wants_split:
            phys = df._jdf.queryExecution().executedPlan().toString()
            has_split = "partial_" in phys
            if not has_split:
                return {"case": rel, "status": "no-partial-split",
                        "detail": phys[:300], "sql": sql}
        return {"case": rel, "status": "pass", "rows": len(rows),
                "split_checked": wants_split, "sql": sql}
    finally:
        replay.restore_ansi(spark, prev_ansi)
