"""Verbatim replay of the reference's own query-test corpus on Spark.

The reference ships 408 end-to-end query tests
(the reference checkout's vm/testdata/queries/**/*.test, format
defined at tests/testcase.go:26-84 and
testquery/testquery.go:889-910: SQL, ``---``-separated
input NDJSON sections, final section expected NDJSON; with more than 3
sections the middle sections are tables ``input0``, ``input1``, ...).
The golden corpus under ``tests/golden`` re-spells those semantics in
Spark SQL with original data; this module goes further and replays the
reference's *own* files, read from the read-only reference checkout at
test time (nothing is copied into this repo).

Pipeline per case:

1. ``parse_case``   — split sections, strip full-line and trailing
   ``#`` comments (outside string literals).
2. ``translate``    — ``sneller_spark.partiql.translate``, the
   product's dialect translator: rewrite the Sneller/PartiQL deltas to
   Spark SQL *text* (Spark's parser does all real parsing; this is a
   token-level rewriter over the public PartiQL surface, not a grammar
   port).  Deltas handled:
   - ion timestamp literals ```2022-...Z``` → ``TIMESTAMP '...'``
   - ``MISSING`` / ``IS [NOT] MISSING`` → NULL discipline
   - ``"ident"`` double-quoted identifiers → backticks
   - ``[...]`` array / ``{'k': v}`` struct constructors →
     ``array(...)`` / ``named_struct(...)``
   - lateral unnest ``FROM t AS a, a.path AS x`` → ``LATERAL VIEW
     explode``
   - ``UNPIVOT rel AS v AT k`` → ``LATERAL variant_explode`` over
     ``parse_json(to_json(struct(rel.*)))`` (Spark 4 VARIANT is the
     idiomatic analog of ion's dynamic typing)
   - ``DISTINCT ON (keys)`` → ``ROW_NUMBER`` window + filter
   - ``SELECT DISTINCT ON`` / multi-column scalar subqueries →
     ``named_struct``
   - Sneller 64-bit ``INTEGER``/``FLOAT`` casts → BIGINT/DOUBLE
   - function-surface deltas (``DATE_TRUNC(UNIT, t)`` argument order,
     Go-style month-add normalisation, ``EXTRACT`` DOW/MICROSECOND
     conventions, ``TIME_BUCKET`` epoch seconds, ``TO_UNIX_*``,
     ``SIMILAR TO``/``~`` regex forms, 3-arg ``IS_SUBNET_OF`` range
     form → ``ip_in_range``, ...)
   - Sneller's implicit aliases for unaliased aggregates
     (``SELECT COUNT(*)`` yields column ``count``)
3. ``load_input``   — NDJSON → DataFrame with Sneller-style ingestion
   typing (RFC3339-looking strings become timestamps, as the
   reference's JSON→ion converter does at ingest).
4. execution runs with ``spark.sql.ansi.enabled=false``: Sneller never
   aborts a query — failed casts / division by zero produce MISSING —
   and Spark's non-ANSI NULL-on-error semantics are the exact analog
   (the conf is restored after each case).
5. ``compare``      — order-insensitive multiset (ordered when the top
   level has ORDER BY) under the MISSING-vs-NULL output discipline:
   Sneller omits MISSING fields from output rows, Spark emits NULL
   columns, so null-valued keys drop from both sides; timestamps
   normalise to RFC3339; VARIANT values unbox via ``toPython``.

Cases whose *input* is dynamically typed (one column holding both
numbers and strings) run on the VARIANT substrate instead
(``replay_variant.py``): Spark 4 VARIANT columns with ``v_*`` SQL UDFs
implementing the reference's cross-type comparison/arithmetic lattice.

Status: **all 408 reference cases pass verbatim**
(``tests/replay_manifest.txt``, ratchet-tested).
"""

from __future__ import annotations

import datetime
import decimal
import fnmatch
import glob
import json
import math
import os
import re

from sneller_spark.partiql import _ensure_sn_udfs, translate

REFERENCE_QUERIES = "/root/reference/vm/testdata/queries"

# Input-partition fan-out for the typed loader.  The partition-
# invariance matrix (tests/test_reference_replay.py) raises this to 8
# to prove the translated plans don't depend on single-partition
# evaluation (global aggregation, ordering, first-seen semantics).
INPUT_PARTITIONS = 2

_TS_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"
)


# ---------------------------------------------------------------------------
# case file parsing


def list_cases(root: str = REFERENCE_QUERIES) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", "*.test"), recursive=True))


def _strip_line_comment(line: str) -> str:
    in_str = False
    for i, c in enumerate(line):
        if c == "'":
            in_str = not in_str
        elif c == "#" and not in_str:
            return line[:i].rstrip()
    return line


def _section_lines(block: str, strip_trailing: bool) -> list[str]:
    out = []
    for line in block.strip().splitlines():
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        if strip_trailing:
            line = _strip_line_comment(line)
        else:
            # NDJSON: comment starts after the closing brace
            # (testquery.go stripInlineComment)
            pos = line.rfind("}")
            if pos != -1 and (not line[pos + 1 :].strip() or
                              line[pos + 1 :].strip().startswith("#")):
                line = line[: pos + 1]
        if line.strip():
            out.append(line)
    return out


_FP_TOKENS = {
    "float64:+inf": math.inf,
    "float64:-inf": -math.inf,
    "float64:NaN": math.nan,
    "float64:-0": -0.0,
}


def _decode_fp_tokens(line: str) -> str:
    """Input NDJSON spells non-finite doubles as ``"float64:+inf"``
    tokens (testquery.go); decode to real doubles so the computation
    sees IEEE values.  json.dumps emits the bare Infinity/NaN tokens
    Spark's JSON reader accepts (allowNonNumericNumbers)."""
    if "float64:" not in line:
        return line
    try:
        row = json.loads(line)
    except ValueError:
        return line

    def dec(v):
        if isinstance(v, str):
            return _FP_TOKENS.get(v, v)
        if isinstance(v, list):
            return [dec(x) for x in v]
        if isinstance(v, dict):
            return {k: dec(x) for k, x in v.items()}
        return v

    return json.dumps(dec(row))


def parse_case(path: str) -> tuple[str, list[list[str]], list[dict]]:
    """Return (query, input sections, expected rows)."""
    text = open(path, errors="replace").read()
    parts = re.split(r"^-{3,}\s*$", text, flags=re.MULTILINE)
    if len(parts) < 3:
        raise ValueError(f"{path}: expected >=3 sections, got {len(parts)}")
    query = "\n".join(_section_lines(parts[0], strip_trailing=True))
    inputs = [
        [_decode_fp_tokens(l) for l in _section_lines(p, strip_trailing=False)]
        for p in parts[1:-1]
    ]
    exp_lines = _section_lines(parts[-1], strip_trailing=False)
    try:
        expected = [json.loads(l) for l in exp_lines]
    except ValueError:
        # some regression cases pretty-print ONE expected document
        # across many lines (9999-regressions/regress-2410.test)
        doc = json.loads("\n".join(exp_lines))
        expected = doc if isinstance(doc, list) else [doc]
    return query, inputs, expected


# ---------------------------------------------------------------------------
# input loading with Sneller-style ingestion typing


def classify_columns(input_lines: list[str]) -> tuple[dict[str, set], list[str]]:
    seen: dict[str, set] = {}
    for line in input_lines:
        try:
            row = json.loads(line)
        except Exception:  # noqa: BLE001
            continue
        if not isinstance(row, dict):
            continue
        for k, v in row.items():
            if v is None:
                continue
            seen.setdefault(k, set()).add(type(v).__name__)
            if isinstance(v, list):
                # heterogeneous ELEMENT types also need the variant
                # substrate (0015-unnest: MAX over a lateral alias must
                # see dynamic types, and spark.read.json would coerce
                # mixed elements to strings)
                for e in v:
                    if e is not None:
                        seen.setdefault(k, set()).add(
                            "elem:" + type(e).__name__
                        )
    def _is_mixed(t: set) -> bool:
        top = {n for n in t if not n.startswith("elem:")}
        elem = {n for n in t if n.startswith("elem:")}
        if len(top) > 1 and not top <= {"int", "float"}:
            return True
        return len(elem) > 1 and not elem <= {"elem:int", "elem:float"}

    mixed = [k for k, t in seen.items() if _is_mixed(t)]
    return seen, sorted(mixed)


def _all_timestamps(input_lines: list[str], col: str) -> bool:
    saw = False
    for line in input_lines:
        row = json.loads(line)
        v = row.get(col) if isinstance(row, dict) else None
        if v is None:
            continue
        if not isinstance(v, str) or not _TS_RE.match(v):
            return False
        saw = True
    return saw


def load_input(spark, input_lines: list[str], presence_for: set | None = None):
    """presence_for: column names whose present-vs-absent distinction the
    query observes (COUNT(col)); for those that carry explicit nulls a
    ``__present_<col>`` shadow (TRUE when the key exists) is added,
    because spark.read.json collapses ``{"x": null}`` and ``{}``."""
    from pyspark.sql import functions as F

    shadows = set()
    if presence_for:
        nullable = set()
        for line in input_lines:
            try:
                row = json.loads(line)
            except Exception:  # noqa: BLE001
                continue
            if isinstance(row, dict):
                for c in presence_for:
                    if c in row and row[c] is None:
                        nullable.add(c)
        if nullable:
            out_lines = []
            for line in input_lines:
                try:
                    row = json.loads(line)
                except Exception:  # noqa: BLE001
                    out_lines.append(line)
                    continue
                if isinstance(row, dict):
                    for c in nullable:
                        if c in row:
                            row[f"__present_{c}"] = True
                    out_lines.append(json.dumps(row))
                else:
                    out_lines.append(line)
            input_lines = out_lines
            shadows = nullable
    rdd = spark.sparkContext.parallelize(
        input_lines or ["{}"], INPUT_PARTITIONS
    )
    df = spark.read.json(rdd)
    types, _ = classify_columns(input_lines)
    for col, tnames in types.items():
        if tnames == {"str"} and col in df.columns and _all_timestamps(input_lines, col):
            df = df.withColumn(col, F.to_timestamp(F.col(col)))
    return df, shadows


def _register_inputs(
    spark, inputs: list[list[str]], presence_for: set | None = None
) -> tuple[dict[str, "object"], set]:
    views: dict[str, object] = {}
    shadows: set = set()

    def reg(name: str, lines: list[str]) -> None:
        nonlocal shadows
        df, sh = load_input(spark, lines, presence_for)
        shadows |= sh
        df.createOrReplaceTempView(name)
        views[name] = df
        # raw-document twin for UNPIVOT (keeps present-but-null fields)
        spark.createDataFrame(
            [(l,) for l in (lines or ["{}"])], "__js string"
        ).createOrReplaceTempView(f"{name}__rawjson")

    if len(inputs) == 1:
        reg("input", inputs[0])
    else:
        for i, lines in enumerate(inputs):
            reg(f"input{i}", lines)
    return views, shadows


def _union_by_name(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


_GLOB_COUNT = [0]


def _table_refs(spark, sql: str, views: dict) -> str:
    """Resolve ``++`` concatenation and TABLE_GLOB/TABLE_PATTERN against
    the registered input views (the reference resolves them against its
    table namespace, testquery.go:453)."""
    plus = re.compile(r"([A-Za-z_]\w*)(\s*\+\+\s*[A-Za-z_]\w*)+")
    m = plus.search(sql)
    while m:
        names = re.findall(r"[A-Za-z_]\w*", m.group(0))
        dfs = [views[n] for n in names if n in views]
        _GLOB_COUNT[0] += 1
        vname = f"__concat{_GLOB_COUNT[0]}"
        _union_by_name(dfs).createOrReplaceTempView(vname)
        sql = sql[: m.start()] + vname + sql[m.end() :]
        m = plus.search(sql)

    def table_fn(m2):
        kind = m2.group(1).upper()
        pat = m2.group(2)
        if kind == "TABLE_GLOB":
            names = [n for n in views if fnmatch.fnmatchcase(n, pat)]
        else:
            rx = re.compile(pat)
            names = [n for n in views if rx.fullmatch(n)]
        if not names:
            return m2.group(0)
        _GLOB_COUNT[0] += 1
        vname = f"__glob{_GLOB_COUNT[0]}"
        _union_by_name([views[n] for n in sorted(names)]).createOrReplaceTempView(vname)
        return vname

    sql = re.sub(
        r"\b(TABLE_GLOB|TABLE_PATTERN)\s*\(\s*[\"']([^\"']+)[\"']\s*\)",
        table_fn,
        sql,
    )
    return sql


# ---------------------------------------------------------------------------
# comparison under the MISSING-vs-NULL output discipline


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if hasattr(v, "toPython"):  # VariantVal
        return _canon_value(v.toPython())
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, (int, float)):
        # every number — ion int or Spark double — canonicalises to 12
        # significant digits (beyond that is libm last-ulp noise or
        # double round-off on values ion kept as exact ints), then
        # whole values under 2^53 normalise to int
        if isinstance(v, float):
            # non-finite doubles canonicalise to the reference's
            # expected-NDJSON spelling (testquery.go fp tokens)
            if math.isnan(v):
                return "float64:NaN"
            if math.isinf(v):
                return "float64:+inf" if v > 0 else "float64:-inf"
        f = float(f"{float(v):.12g}")
        if f == int(f) and abs(f) < 2**53:
            return int(f)
        return f
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.microsecond:
            return v.strftime("%Y-%m-%dT%H:%M:%S.%f").rstrip("0") + "Z"
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%dT00:00:00Z")
    if isinstance(v, str) and _TS_RE.match(v):
        s = v.replace("+00:00", "Z")
        if not s.endswith("Z"):
            s += "Z"
        if "." in s:
            head, tail = s.split(".", 1)
            frac = tail[:-1].rstrip("0")
            return head + ("." + frac if frac else "") + "Z"
        return s
    if isinstance(v, list):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        # an ion-null struct member and an absent member are both
        # invisible under the MISSING≡NULL output discipline (variant
        # nulls arrive as VariantVal, so test the canonical value)
        return tuple(
            sorted(
                (k, cx)
                for k, cx in ((k, _canon_value(x)) for k, x in v.items())
                if cx is not None
            )
        )
    if hasattr(v, "asDict"):
        return _canon_value(v.asDict(recursive=True))
    return v


def canon_row(d: dict) -> tuple:
    # Sneller omits MISSING fields from output; Spark emits NULL
    # columns — under MISSING≡NULL both drop
    return tuple(
        sorted(
            (k, _canon_value(v))
            for k, v in d.items()
            if v is not None and _canon_value(v) is not None
        )
    )


def is_ordered(query: str) -> bool:
    depth = 0
    for m in re.finditer(r"[()]|ORDER\s+BY", query, flags=re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False


def compare(got: list[dict], expected: list[dict], ordered: bool) -> str | None:
    # a global aggregate over no rows yields an all-MISSING record that
    # the reference does not emit; under MISSING≡NULL an all-null row
    # and an absent row are the same
    got_c = [c for c in (canon_row(r) for r in got) if c != ()]
    exp_c = [c for c in (canon_row(r) for r in expected) if c != ()]
    if not ordered:
        got_c, exp_c = sorted(got_c, key=repr), sorted(exp_c, key=repr)
    if got_c == exp_c:
        return None
    for i, (g, e) in enumerate(zip(got_c, exp_c)):
        if g != e:
            return f"row {i}: got {g} expected {e}"
    return f"row count {len(got_c)} vs {len(exp_c)}: got {got_c[:3]} expected {exp_c[:3]}"


# ---------------------------------------------------------------------------
# runner

def restore_ansi(spark, prev) -> None:
    """Undo a per-case ``spark.sql.ansi.enabled`` pin: restore the
    previous value, or UNSET when the key was never set (merely
    skipping restoration would leave the session pinned non-ANSI)."""
    if prev is None:
        try:
            spark.conf.unset("spark.sql.ansi.enabled")
        except Exception:  # noqa: BLE001 — conf already unset
            pass
    else:
        spark.conf.set("spark.sql.ansi.enabled", prev)


_DATASHAPE_DEPTH = 5


def _datashape_sql(spark, lines: list[str]) -> str:
    """``SELECT SNELLER_DATASHAPE(*) FROM t`` replayed through Spark 4
    VARIANT: recursive variant_explode to dotted paths (arrays add
    ``$items``), per-VALUE ion typing (whole doubles are ints, as the
    reference's JSON→ion ingestion normalises), per-path stat maps
    (vm/sysdatashape.go:45-70 field vocabulary)."""
    spark.createDataFrame(
        [(l,) for l in (lines or ["{}"])], "line string"
    ).createOrReplaceTempView("__ds_lines")
    lvls = [
        """SELECT CASE WHEN t.key IS NULL THEN '$items' ELSE t.key END AS path,
                  t.value AS v
           FROM __ds_raw, LATERAL variant_explode(__ds_raw.v) AS t"""
    ]
    for k in range(2, _DATASHAPE_DEPTH + 1):
        lvls.append(
            f"""SELECT p.path || CASE WHEN t.key IS NULL THEN '.$items'
                                      ELSE '.' || t.key END AS path,
                       t.value AS v
                FROM __lvl{k - 1} p, LATERAL variant_explode(p.v) AS t"""
        )
    lvl_ctes = ",\n".join(
        f"__lvl{i + 1} AS ({q})" for i, q in enumerate(lvls)
    )
    union = " UNION ALL ".join(
        f"SELECT * FROM __lvl{i + 1}" for i in range(len(lvls))
    )
    return f"""
    WITH __ds_raw AS (SELECT parse_json(line) AS v FROM __ds_lines),
    {lvl_ctes},
    __allv AS ({union}),
    __typed AS (
      SELECT path,
        CASE WHEN sv LIKE 'OBJECT%' OR sv LIKE 'STRUCT%' THEN 'struct'
             WHEN sv LIKE 'ARRAY%' THEN 'list'
             WHEN sv = 'STRING' THEN 'string'
             WHEN sv = 'BOOLEAN' THEN 'bool'
             WHEN sv = 'VOID' THEN 'null'
             WHEN try_variant_get(v, '$', 'double') IS NULL THEN 'other'
             WHEN try_variant_get(v, '$', 'double') = floor(try_variant_get(v, '$', 'double')) THEN 'int'
             ELSE 'float' END AS t,
        try_variant_get(v, '$', 'double') AS num,
        length(try_variant_get(v, '$', 'string')) AS slen
      FROM (SELECT path, v, schema_of_variant(v) AS sv FROM __allv)
    ),
    __agg AS (
      SELECT path,
        sum(CASE WHEN t = 'null' THEN 1 END) AS n_null,
        sum(CASE WHEN t = 'bool' THEN 1 END) AS n_bool,
        sum(CASE WHEN t = 'int' THEN 1 END) AS n_int,
        min(CASE WHEN t = 'int' THEN num END) AS int_min,
        max(CASE WHEN t = 'int' THEN num END) AS int_max,
        sum(CASE WHEN t = 'float' THEN 1 END) AS n_float,
        min(CASE WHEN t = 'float' THEN num END) AS f_min,
        max(CASE WHEN t = 'float' THEN num END) AS f_max,
        sum(CASE WHEN t = 'string' THEN 1 END) AS n_str,
        min(CASE WHEN t = 'string' THEN slen END) AS s_min,
        max(CASE WHEN t = 'string' THEN slen END) AS s_max,
        sum(CASE WHEN t = 'list' THEN 1 END) AS n_list,
        sum(CASE WHEN t = 'struct' THEN 1 END) AS n_struct
      FROM __typed GROUP BY path
    ),
    __maps AS (
      SELECT path, map_from_entries(filter(array(
        named_struct('k', 'null', 'v', cast(n_null as double)),
        named_struct('k', 'bool', 'v', cast(n_bool as double)),
        named_struct('k', 'int', 'v', cast(n_int as double)),
        named_struct('k', 'int-min-value', 'v', int_min),
        named_struct('k', 'int-max-value', 'v', int_max),
        named_struct('k', 'float', 'v', cast(n_float as double)),
        named_struct('k', 'float-min-value', 'v', f_min),
        named_struct('k', 'float-max-value', 'v', f_max),
        named_struct('k', 'string', 'v', cast(n_str as double)),
        named_struct('k', 'string-min-length', 'v', cast(s_min as double)),
        named_struct('k', 'string-max-length', 'v', cast(s_max as double)),
        named_struct('k', 'list', 'v', cast(n_list as double)),
        named_struct('k', 'struct', 'v', cast(n_struct as double))
      ), e -> e.v IS NOT NULL)) AS m FROM __agg
    )
    SELECT (SELECT COUNT(*) FROM __ds_raw) AS total,
           map_from_entries(collect_list(struct(path, m))) AS fields
    FROM __maps
    """


def _run_variant_case(
    spark, rel: str, query: str, inputs, expected, keep_rows: bool
) -> dict:
    """Replay a mixed-type case on VARIANT columns (see replay_variant)."""
    from . import replay_variant as rv

    rv.ensure_variant_udfs(spark)
    _ensure_sn_udfs(spark)
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    extra: set = set()
    sql = query
    try:
        with_seq = bool(
            re.search(r"\bDISTINCT\b[\s\S]*\bLIMIT\b", query, re.IGNORECASE)
        )
        for attempt in range(4):
            views = rv.register_variant_inputs(
                spark, inputs, sorted(extra), with_seq
            )
            cols: set = set()
            for df in views.values():
                cols.update(df.columns)
            sql = _table_refs(spark, query, views)
            # EXISTS(SELECT * ...) must not be structified into a
            # collect_list scalar wrapper (it is a predicate, and the
            # wrapper deepens correlation past what Catalyst supports)
            sql = re.sub(
                r"(\bEXISTS\s*\(\s*SELECT\s+)\*",
                r"\g<1>1",
                sql,
                flags=re.IGNORECASE,
            )
            sql = translate(sql, ieee_division=False)
            # "SELECT *" where an unnest alias clobbers a base column
            # (0015-unnest/unnest-star): the reference's * exposes the
            # BINDING, not the shadowed column — expand explicitly
            lvm = re.search(
                r"LATERAL\s+VIEW\s+\w+\s*\((?:[^()]|\([^()]*\))*\)\s*"
                r"(\w+)\s+AS\s+`?(\w+)`?",
                sql, re.IGNORECASE,
            )
            if lvm and lvm.group(2) in cols:
                sm = re.search(r"\bSELECT\s+\*(?!\w)", sql, re.IGNORECASE)
                if sm:
                    fm = re.search(
                        r"\bFROM\s+`?\w+`?\s+AS\s+(`?\w+`?)",
                        sql, re.IGNORECASE,
                    )
                    qual = fm.group(1) + "." if fm else ""
                    items = [
                        f"{qual}`{c}`"
                        for c in sorted(cols)
                        if c != lvm.group(2)
                    ]
                    items.append(
                        f"{lvm.group(1)}.`{lvm.group(2)}` AS `{lvm.group(2)}`"
                    )
                    sql = (
                        sql[: sm.start()]
                        + "SELECT "
                        + ", ".join(items)
                        + sql[sm.end():]
                    )
            sql = rv.variantize(sql, cols)
            try:
                got = [
                    r.asDict(recursive=True) for r in spark.sql(sql).collect()
                ]
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                # referenced-but-absent field: add it as an all-NULL
                # variant column (schemaless MISSING discipline)
                um = re.search(
                    r"(?:UNRESOLVED_COLUMN|FIELD_NOT_FOUND)[^`]*`([\w.`]+)`",
                    msg,
                )
                if um and attempt < 3:
                    c = um.group(1).split("`")[-1].split(".")[-1]
                    if c not in extra and all(
                        c not in d.columns for d in views.values()
                    ):
                        extra.add(c)
                        continue
                # Spark refuses SQL UDF calls in some contexts
                # (correlated subqueries, Sort): retry with the v_*
                # bodies expanded textually
                if "v_" in sql and (
                    "UNSUPPORTED_SQL_UDF_USAGE" in msg
                    or "UNSUPPORTED_SUBQUERY_EXPRESSION" in msg
                    or "Correlated" in msg
                ):
                    try:
                        sql2 = rv.inline_all(sql)
                        got = [
                            r.asDict(recursive=True)
                            for r in spark.sql(sql2).collect()
                        ]
                        sql = sql2
                        break
                    except Exception as exc2:  # noqa: BLE001
                        exc = exc2
                return {
                    "case": rel,
                    "status": "error",
                    "detail": _err_text(exc),
                    "sql": sql,
                }
            break
        diff = compare(got, expected, is_ordered(sql))
    finally:
        restore_ansi(spark, prev_ansi)
    if diff is None:
        return {"case": rel, "status": "pass", "sql": sql}
    rec = {"case": rel, "status": "mismatch", "detail": diff[:400], "sql": sql}
    if keep_rows:
        ordered = is_ordered(sql)
        got_c = [c for c in (canon_row(r) for r in got) if c != ()]
        exp_c = [c for c in (canon_row(r) for r in expected) if c != ()]
        if not ordered:
            got_c, exp_c = sorted(got_c, key=repr), sorted(exp_c, key=repr)
        rec["got_rows"], rec["exp_rows"] = got_c, exp_c
    return rec


def _err_text(exc) -> str:
    s = str(exc) or repr(exc)
    for line in s.strip().splitlines():
        if line.strip():
            return line.strip()[:300]
    return repr(exc)[:300]


def run_case(spark, path: str, keep_rows: bool = False) -> dict:
    rel = os.path.relpath(path, REFERENCE_QUERIES)
    try:
        query, inputs, expected = parse_case(path)
    except Exception as exc:  # noqa: BLE001
        return {"case": rel, "status": "parse-error", "detail": _err_text(exc)}
    if re.search(r"\+\+|TABLE_GLOB|TABLE_PATTERN", query):
        # concatenated tables share one schema: classify the union
        mixed_all = classify_columns([l for lines in inputs for l in lines])[1]
    else:
        mixed_all = sorted(
            {c for lines in inputs for c in classify_columns(lines)[1]}
        )
    if mixed_all and not re.search(
        r"\bSNELLER_DATASHAPE\b", query, flags=re.IGNORECASE
    ):
        # heterogeneously-typed columns: run on the VARIANT substrate
        # (replay_variant.py) instead of typed spark.read.json columns
        # (SNELLER_DATASHAPE has its own raw-document path below)
        return _run_variant_case(spark, rel, query, inputs, expected, keep_rows)

    _ensure_sn_udfs(spark)
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    dm = re.match(
        r"\s*SELECT\s+SNELLER_DATASHAPE\s*\(\s*\*\s*\)\s+FROM\s+(\w+)\s*$",
        query,
        flags=re.IGNORECASE,
    )
    if dm:
        tbl = dm.group(1).lower()
        idx = 0 if tbl == "input" else int(tbl.removeprefix("input") or 0)
        try:
            sql = _datashape_sql(spark, inputs[idx])
            got = [r.asDict(recursive=True) for r in spark.sql(sql).collect()]
            diff = compare(got, expected, ordered=False)
        except Exception as exc:  # noqa: BLE001
            return {"case": rel, "status": "error", "detail": _err_text(exc)}
        finally:
            restore_ansi(spark, prev_ansi)
        if diff is None:
            return {"case": rel, "status": "pass", "sql": sql}
        return {"case": rel, "status": "mismatch", "detail": diff[:400],
                "sql": sql}
    try:
        # presence shadows only when the query COUNTs a plain column and
        # has no star projection the shadow column could leak into
        counted = set(
            re.findall(r"\bCOUNT\s*\(\s*([A-Za-z_]\w*)\s*\)", query,
                       flags=re.IGNORECASE)
        )
        # a star *projection* (SELECT * / t.* / , *) could leak the
        # shadow column; multiplication and COUNT(*) are fine
        if re.search(r"(?:\bSELECT|,)\s*(?:[A-Za-z_]\w*\s*\.\s*)?\*",
                     query, flags=re.IGNORECASE):
            counted = set()
        views, shadows = _register_inputs(spark, inputs, counted)
        sql = _table_refs(spark, query, views)
        double_cols = set()
        non_double = set()
        for df in views.values():
            for c, t in df.dtypes:
                (double_cols if t == "double" else non_double).add(c)
        sql = translate(sql, double_cols - non_double, shadows)
        got = None
        for attempt in range(4):
            try:
                got = [
                    r.asDict(recursive=True) for r in spark.sql(sql).collect()
                ]
                break
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                # schemaless discipline: a referenced-but-absent field is
                # MISSING in the reference; add it as a NULL column
                um = re.search(
                    r"(?:UNRESOLVED_COLUMN|FIELD_NOT_FOUND)[^`]*`([\w.`]+)`",
                    msg,
                )
                if um and attempt < 3:
                    from pyspark.sql import functions as F

                    col = um.group(1).split("`")[-1].split(".")[-1]
                    patched = False
                    for name, df in list(views.items()):
                        if col not in df.columns:
                            df = df.withColumn(col, F.lit(None).cast("string"))
                            df.createOrReplaceTempView(name)
                            views[name] = df
                            patched = True
                    if patched:
                        continue
                # an all-null JSON column infers as STRING; when an
                # integral/numeric op rejects it the reference would
                # have treated it as typeless MISSING — recast
                tm = re.search(
                    r'requires the "(INTEGRAL|NUMERIC|INTEGER)"[\s\S]*?'
                    r'"([\w.]+)" has the type "STRING"',
                    msg,
                )
                if tm and attempt < 3:
                    from pyspark.sql import functions as F

                    col = tm.group(2).split(".")[-1]
                    patched = False
                    for name, df in list(views.items()):
                        if col in df.columns and dict(df.dtypes).get(col) == "string" \
                                and df.where(F.col(col).isNotNull()).head(1) == []:
                            df = df.withColumn(col, F.col(col).cast("bigint"))
                            df.createOrReplaceTempView(name)
                            views[name] = df
                            patched = True
                    if patched:
                        continue
                if "VARIANT" in msg and "__ve.value" in sql and attempt < 3:
                    sql = sql.replace(
                        "__ve.value AS", "cast(__ve.value as string) AS"
                    )
                    continue
                return {
                    "case": rel,
                    "status": "error",
                    "detail": _err_text(exc),
                    "sql": sql,
                }
        diff = compare(got, expected, is_ordered(sql))
    finally:
        restore_ansi(spark, prev_ansi)
    if diff is None:
        return {"case": rel, "status": "pass", "sql": sql}
    rec = {"case": rel, "status": "mismatch", "detail": diff[:400], "sql": sql}
    if keep_rows:
        ordered = is_ordered(sql)
        got_c = [c for c in (canon_row(r) for r in got) if c != ()]
        exp_c = [c for c in (canon_row(r) for r in expected) if c != ()]
        if not ordered:
            got_c, exp_c = sorted(got_c, key=repr), sorted(exp_c, key=repr)
        rec["got_rows"], rec["exp_rows"] = got_c, exp_c
    return rec
