"""Public Sneller-dialect (PartiQL) query surface.

The reference accepts a PartiQL-flavoured SQL dialect
(/root/reference/expr/partiql/partiql.y): double-quoted identifiers,
``[...]`` / ``{'k': v}`` constructors, lateral unnest via ``FROM t,
t.path AS x``, ``DISTINCT ON``, ``UNPIVOT .. AS v AT k``, ``MISSING``,
ion timestamp literals, and a reference-named builtin surface
(TIME_BUCKET, GEO_DISTANCE, EQUALS_FUZZY, ...).  ``sneller_spark``
executes that dialect directly: :func:`translate` rewrites the dialect
deltas to Spark SQL *text* (Spark's parser does the real parsing; this
is a token-level rewriter over the public PartiQL surface, not a
grammar port) and :func:`sql` runs the result on a SparkSession.  The
same translator replays the reference's own 408-case query corpus
verbatim; that harness lives outside the package, in ``tools/replay``
(ratchet: ``tests/replay_manifest.txt``).

Semantics note: the reference never aborts a query — failed casts and
division by zero yield MISSING.  Spark's non-ANSI NULL-on-error mode is
the exact analog, so :func:`sql` pins ``spark.sql.ansi.enabled=false``
for the returned plan's lifetime unless ``ansi="keep"`` is passed (the
conf is session-wide; pass ``ansi="keep"`` to leave it untouched).
"""

from __future__ import annotations

import re

from .sql_registry import register_sql_functions

__all__ = ["translate", "sql"]

_CLAUSE_KW = (
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "INTERSECT",
    "EXCEPT", "WINDOW", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS",
    "ON",
)


# ---------------------------------------------------------------------------
# string-aware scanning helpers


def _split_strings(sql: str) -> list[tuple[bool, str]]:
    """(is_string_literal, text) segments; '' escapes respected."""
    segs: list[tuple[bool, str]] = []
    i, start = 0, 0
    while i < len(sql):
        if sql[i] == "'":
            j = i + 1
            while j < len(sql):
                if sql[j] == "'":
                    if j + 1 < len(sql) and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if i > start:
                segs.append((False, sql[start:i]))
            segs.append((True, sql[i : j + 1]))
            i = j + 1
            start = i
        else:
            i += 1
    if start < len(sql):
        segs.append((False, sql[start:]))
    return segs


def _rewrite_outside_strings(sql: str, fn) -> str:
    return "".join(t if s else fn(t) for s, t in _split_strings(sql))


def _skip_string(sql: str, i: int) -> int:
    """i points at an opening quote; return index after the literal."""
    j = i + 1
    while j < len(sql):
        if sql[j] == "'":
            if j + 1 < len(sql) and sql[j + 1] == "'":
                j += 2
                continue
            return j + 1
        j += 1
    return j


def _matching(sql: str, i: int, open_c: str, close_c: str) -> int:
    """i points at open_c; return index of its matching close_c."""
    depth = 0
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i = _skip_string(sql, i)
            continue
        if c == open_c:
            depth += 1
        elif c == close_c:
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def _top_level_split(text: str, sep: str = ",") -> list[str]:
    """Split on top-level sep (outside parens/brackets/strings)."""
    parts, depth, start, i = [], 0, 0, 0
    while i < len(text):
        c = text[i]
        if c == "'":
            i = _skip_string(text, i)
            continue
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
        i += 1
    parts.append(text[start:])
    return parts


# ---------------------------------------------------------------------------
# dialect translation


def _fold_int_products(seg: str) -> str:
    # Sneller const-folds before GROUP BY matching (TIME_BUCKET(t,60*60)
    # grouped by TIME_BUCKET(t,3600)); fold integer products textually
    def fold(m):
        return str(int(m.group(1)) * int(m.group(2)))

    prev = None
    while prev != seg:
        prev = seg
        seg = re.sub(r"(?<![\w.])(\d+)\s*\*\s*(\d+)(?![\w.*])", fold, seg)
    return seg


def _constructors(sql: str) -> str:
    """PartiQL ``[...]`` / ``{'k': v}`` constructors → array()/named_struct().

    A ``[`` is a subscript iff the previous non-space char ends an
    expression (identifier, ``)``, ``]`` or backtick); otherwise it
    opens an array literal.
    """
    out: list[str] = []
    stack: list[str] = []  # 'struct' | 'array' | 'paren' | 'sub'
    i = 0
    while i < len(sql):
        c = sql[i]
        if c == "'":
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        if c == "[":
            done = "".join(out).rstrip()
            prev = done[-1:]
            wm = re.search(r"(\w+)$", done)
            prev_kw = bool(wm) and wm.group(1).upper() in (
                "SELECT", "DISTINCT", "WHERE", "AND", "OR", "NOT", "THEN",
                "ELSE", "WHEN", "IN", "ON", "BY", "AS", "RETURN", "CASE",
                "END", "FROM", "HAVING", "ALL", "UNION", "EXCEPT",
                "INTERSECT", "VALUES", "LIMIT", "OFFSET",
            )
            if prev and not prev_kw and (prev.isalnum() or prev in ")]`_"):
                stack.append("sub")
                out.append("[")
            else:
                stack.append("array")
                out.append("array(")
        elif c == "]":
            kind = stack.pop() if stack else "sub"
            out.append("]" if kind == "sub" else ")")
        elif c == "{":
            stack.append("struct")
            out.append("named_struct(")
        elif c == "}":
            if stack:
                stack.pop()
            out.append(")")
        elif c == ":" and stack and stack[-1] == "struct":
            out.append(",")
        elif c == "(":
            stack.append("paren")
            out.append("(")
        elif c == ")":
            if stack:
                stack.pop()
            out.append(")")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _find_kw(sql: str, kw: str, start: int = 0) -> int:
    pat = re.compile(r"\b" + kw + r"\b", re.IGNORECASE)
    i = start
    depth = 0
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i = _skip_string(sql, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        else:
            m = pat.match(sql, i)
            if m and depth == 0:
                return i
        i += 1
    return -1


def _rewrite_unpivot(sql: str) -> str:
    """``UNPIVOT rel [AS v] [AT k]`` → variant_explode subquery.

    Applied innermost-first so nested UNPIVOTs resolve.
    """
    for _ in range(8):
        m = None
        for cand in re.finditer(r"\bUNPIVOT\b", sql, flags=re.IGNORECASE):
            rest = sql[cand.end() :].lstrip()
            if rest.startswith("("):
                # only rewrite once the subquery has no inner UNPIVOT
                close = _matching(sql, sql.index("(", cand.end()), "(", ")")
                inner = sql[cand.end() : close]
                if re.search(r"\bUNPIVOT\b", inner, flags=re.IGNORECASE):
                    continue
            m = cand
            break
        if m is None:
            return sql
        i = m.end()
        while i < len(sql) and sql[i].isspace():
            i += 1
        if i < len(sql) and sql[i] == "(":
            close = _matching(sql, i, "(", ")")
            rel = sql[i : close + 1]
            i = close + 1
        else:
            m2 = re.match(r"[A-Za-z_][\w.]*", sql[i:])
            rel = m2.group(0)
            i += m2.end()
        # AS and AT may appear in either order (0016-unpivot
        # unpivot-nested-auxbindings: "UNPIVOT (...) AT cols AS vals")
        val = key = None
        while True:
            as_m = re.match(r"\s+AS\s+(\w+)", sql[i:], flags=re.IGNORECASE)
            if as_m and val is None:
                val = as_m.group(1)
                i += as_m.end()
                continue
            at_m = re.match(r"\s+AT\s+(\w+)", sql[i:], flags=re.IGNORECASE)
            if at_m and key is None:
                key = at_m.group(1)
                i += at_m.end()
                continue
            break
        proj = []
        if key:
            proj.append(f"__ve.key AS {key}")
        if val:
            proj.append(f"__ve.value AS {val}")
        if not proj:
            proj = ["__ve.key AS key", "__ve.value AS value"]
        # star is not allowed inside TVF arguments, so the row JSON is
        # computed one subquery down.  A plain table unpivots the RAW
        # ingested document (the __rawjson view): to_json(struct(*))
        # would drop present-but-null fields, which UNPIVOT emits
        # (0016-unpivot/unpivot-count-keys counts "another": null)
        if re.fullmatch(r"input\d*", rel, flags=re.IGNORECASE):
            src = f"(SELECT __js FROM {rel}__rawjson)"
        else:
            # CTE / subquery target: no raw twin exists
            src = f"(SELECT to_json(struct(*)) AS __js FROM {rel})"
        repl = (
            f"(SELECT {', '.join(proj)} FROM "
            f"{src} AS __upv, "
            f"LATERAL variant_explode(parse_json(__upv.__js)) AS __ve)"
        )
        sql = sql[: m.start()] + repl + sql[i:]
    return sql


def _rewrite_lateral_unnest(sql: str) -> str:
    """``FROM t [AS] a, a.path [AS] x, x [AS] y`` → LATERAL VIEW explode.

    Recurses into parenthesised subqueries first.
    """

    def recurse(s: str) -> str:
        out, i = [], 0
        while i < len(s):
            c = s[i]
            if c == "'":
                j = _skip_string(s, i)
                out.append(s[i:j])
                i = j
            elif c == "(":
                j = _matching(s, i, "(", ")")
                if j == -1:
                    out.append(s[i:])
                    break
                out.append("(" + recurse(s[i + 1 : j]) + ")")
                i = j + 1
            else:
                out.append(c)
                i += 1
        return one_level("".join(out))

    def one_level(s: str) -> str:
        m = _find_from(s)
        if m is None:
            return s
        start, end = m
        clause = s[start:end]
        items = _top_level_split(clause)
        if len(items) < 2:
            return s
        first = items[0].strip()
        fm = re.match(
            r"^(`[\w.]+`|[A-Za-z_][\w.]*|\((?s:.*)\))\s*(?:AS\s+)?"
            r"[`\"]?([\w$]+)?[`\"]?\s*$",
            first,
            flags=re.IGNORECASE,
        )
        if not fm:
            return s
        base, alias = fm.group(1), fm.group(2)
        aliases = {alias or base}
        parts = [f"{base} AS `{alias}`" if alias else base]
        ok = True
        for it in items[1:]:
            im = re.match(
                r"^[`\"]?([\w$]+)[`\"]?((?:\.[`\"]?[\w$]+[`\"]?)*)\s*"
                r"(?:AS\s+)?[`\"]?([\w$]+)[`\"]?\s*$",
                it.strip(),
                flags=re.IGNORECASE,
            )
            if not im or im.group(1) not in aliases:
                ok = False
                break
            root, path, a = im.groups()
            path = re.sub(r'[`"]', "", path)
            path = "".join(f".`{p}`" for p in path.split(".") if p)
            expr = f"`{root}`{path}"
            parts.append(f"LATERAL VIEW explode({expr}) __lv{len(parts)} AS `{a}`")
            aliases.add(a)
        if not ok:
            return s
        return s[:start] + " " + " ".join(parts) + " " + s[end:]

    def _find_from(s: str):
        m = re.search(r"\bFROM\b", s, flags=re.IGNORECASE)
        if not m:
            return None
        start = m.end()
        i, depth = start, 0
        while i < len(s):
            c = s[i]
            if c == "'":
                i = _skip_string(s, i)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0:
                w = re.match(r"[A-Za-z_]+", s[i:])
                if w and w.group(0).upper() in _CLAUSE_KW:
                    return start, i
            i += 1
        return start, len(s)

    return recurse(sql)


def _rewrite_distinct_on(sql: str, _n: int = 0) -> str:
    """``SELECT DISTINCT ON (keys) items ...`` → ROW_NUMBER + filter."""
    m = re.search(r"\bSELECT\s+DISTINCT\s+ON\s*\(", sql, flags=re.IGNORECASE)
    if not m:
        return sql
    rn = f"__rn{_n}"
    open_p = sql.index("(", m.start())
    close_p = _matching(sql, open_p, "(", ")")
    keys = sql[open_p + 1 : close_p].strip()
    first_key = _top_level_split(keys)[0].strip()
    rest = sql[close_p + 1 :]
    # this SELECT's scope ends at the first unbalanced ')' (it may be a
    # subquery inside a larger statement)
    depth = 0
    scope_end = len(rest)
    for i, ch in enumerate(rest):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                scope_end = i
                break
    scope, suffix = rest[:scope_end], rest[scope_end:]
    # inject the window column right after the select list
    body = scope.strip()
    fpos = _find_kw(body, "FROM")
    if fpos == -1:
        return sql
    items = body[:fpos].rstrip()
    tail = body[fpos:]
    # a top-level ORDER BY names the pick order: the reference sorts,
    # then DISTINCT ON keeps the first row per key group — so the sort
    # list becomes the window's ORDER BY, materialized as __ord columns
    # so the outer query can reproduce the output order after the
    # window filter (ORDER BY aggregates can't cross the projection).
    obpos = _find_kw(tail, "ORDER")
    win_order, extra_items, outer_order, post = first_key, "", "", ""
    n_ord = 0
    if obpos != -1 and re.match(
        r"ORDER\s+BY\b", tail[obpos:], flags=re.IGNORECASE
    ):
        after = tail[obpos:]
        bypos = after.upper().index("BY") + 2
        lim = _find_kw(after, "LIMIT")
        off = _find_kw(after, "OFFSET")
        cut = min(x for x in (lim, off, len(after)) if x != -1)
        ord_items = [
            o.strip() for o in _top_level_split(after[bypos:cut]) if o.strip()
        ]
        post = " " + after[cut:] if cut < len(after) else ""
        tail = tail[:obpos].rstrip()
        win_order = ", ".join(ord_items)
        exprs_dirs = []
        for k, o in enumerate(ord_items):
            dm = re.search(
                r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$",
                o, flags=re.IGNORECASE,
            )
            expr = o[: dm.start()] if dm else o
            exprs_dirs.append((expr, o[dm.start():] if dm else ""))
        extra_items = "".join(
            f", {e} AS __ord{_n}_{k}" for k, (e, _d) in enumerate(exprs_dirs)
        )
        n_ord = len(exprs_dirs)
        outer_order = " ORDER BY " + ", ".join(
            f"__ord{_n}_{k}{d}" for k, (_e, d) in enumerate(exprs_dirs)
        )
    inner = (
        f"SELECT {items}{extra_items}, ROW_NUMBER() OVER (PARTITION BY {keys} "
        f"ORDER BY {win_order}) AS {rn} {tail}"
    )
    drop = rn + "".join(f", __ord{_n}_{k}" for k in range(n_ord))
    out = sql[: m.start()] + (
        f"SELECT * EXCEPT ({drop}) FROM ({inner}) WHERE {rn} = 1"
        f"{outer_order}{post}"
    ) + suffix
    return _rewrite_distinct_on(out, _n + 1)


def _chain_scalar_subqueries(sql: str) -> str:
    """A scalar subquery in the SELECT list may correlate on the ALIAS
    of an EARLIER select item (0012-correlated/0050: the reference
    binds projections left-to-right).  Spark resolves lateral column
    aliases in plain expressions but not inside correlated subqueries,
    so split the list: earlier items become an inner SELECT, the
    alias-referencing subquery moves to an outer SELECT over it."""
    m = None
    for cand in re.finditer(r"\bSELECT\b", sql, flags=re.IGNORECASE):
        head = sql[: cand.start()]
        if head.count("(") == head.count(")"):
            m = cand
            break
    if not m:
        return sql
    start = m.end()
    fpos = _find_kw(sql, "FROM", start)
    if fpos == -1:
        return sql
    items = [it.strip() for it in _top_level_split(sql[start:fpos])]
    aliases: list[str | None] = []
    for it in items:
        am = re.search(r"\bAS\s+[`\"]?(\w+)[`\"]?\s*$", it, flags=re.IGNORECASE)
        aliases.append(am.group(1) if am else None)
    for k in range(1, len(items)):
        if "(" not in items[k] or not re.search(
            r"\(\s*SELECT\b", items[k], flags=re.IGNORECASE
        ):
            continue
        prior = [a for a in aliases[:k] if a]
        if not any(
            re.search(rf"(?<![\w.`]){re.escape(a)}(?![\w`])", items[k])
            for a in prior
        ):
            continue
        inner = "SELECT " + ", ".join(items[:k]) + " " + sql[fpos:]
        outer = (
            "SELECT *, "
            + ", ".join(items[k:])
            + " FROM ("
            + inner
            + ") AS __lca"
        )
        return _chain_scalar_subqueries(outer)
    return sql


def _groupby_alias(sql: str) -> str:
    """``GROUP BY <expr> AS <name>`` (the reference binds the name for
    the projection, plan/pir rownumber/3065 shape): drop the binding
    from the GROUP BY list and materialize it in the select list by
    replacing the select item that IS the bare ``name`` with
    ``expr AS name``.  Only whole select-list items are replaced (a
    ``name`` nested inside a call must not grow an AS clause), and the
    select list is the nearest depth-0 SELECT before this GROUP BY
    (UNION branches rewrite independently)."""
    gpos = 0
    while True:
        gpos = _find_kw(sql, "GROUP", gpos)
        if gpos == -1:
            return sql
        gm = re.match(r"GROUP\s+BY\b", sql[gpos:], flags=re.IGNORECASE)
        if not gm:
            gpos += 5
            continue
        start = gpos + gm.end()
        end = len(sql)
        for kw in ("HAVING", "ORDER", "LIMIT", "WINDOW", "UNION"):
            p = _find_kw(sql, kw, start)
            if p != -1:
                end = min(end, p)
        # nearest depth-0 SELECT before this GROUP BY owns the list
        sel_m = None
        for cand in re.finditer(r"\bSELECT\b", sql[:gpos], flags=re.IGNORECASE):
            head = sql[: cand.start()]
            if head.count("(") == head.count(")"):
                sel_m = cand
        fpos = _find_kw(sql, "FROM", sel_m.end()) if sel_m else -1
        items = _top_level_split(sql[start:end])
        changed = False
        new_items = []
        for it in items:
            am = re.search(
                r"\s+AS\s+[`\"]?(\w+)[`\"]?\s*$", it, flags=re.IGNORECASE
            )
            if not am or fpos == -1 or fpos >= gpos:
                new_items.append(it)
                continue
            name, expr = am.group(1), it[: am.start()].strip()
            sel_items = _top_level_split(sql[sel_m.end():fpos])
            hit = None
            for j, si in enumerate(sel_items):
                if si.strip().strip('`"') == name:
                    hit = j
                    break
            if hit is None:
                new_items.append(it)
                continue
            sel_items[hit] = f"{expr} AS {name}"
            new_sel = " " + ", ".join(s.strip() for s in sel_items) + " "
            old_len = fpos - sel_m.end()
            sql = sql[: sel_m.end()] + new_sel + sql[fpos:]
            shift = len(new_sel) - old_len
            start += shift
            end += shift
            fpos += shift
            gpos += shift
            new_items.append(expr)
            changed = True
        if changed:
            sql = sql[:start] + " " + ", ".join(
                i.strip() for i in new_items
            ) + " " + sql[end:]
        gpos = start


def _having_window_alias(sql: str) -> str:
    """``HAVING <alias> <cmp> ...`` where the alias names a WINDOW
    select item (pir rownumber4/6): inline the window expression so the
    HAVING-window rewrite below can lift it into a subquery filter."""
    hpos = _find_kw(sql, "HAVING")
    if hpos == -1:
        return sql
    sel_m = re.search(r"\bSELECT\b", sql, flags=re.IGNORECASE)
    fpos = _find_kw(sql, "FROM", sel_m.end()) if sel_m else -1
    if fpos == -1:
        return sql
    for it in _top_level_split(sql[sel_m.end():fpos]):
        am = re.search(r"\s+AS\s+[`\"]?(\w+)[`\"]?\s*$", it,
                       flags=re.IGNORECASE)
        if not am or not re.search(r"\bOVER\b", it, flags=re.IGNORECASE):
            continue
        name, expr = am.group(1), it[: am.start()].strip()
        hend = len(sql)
        for kw in ("ORDER", "LIMIT", "WINDOW", "UNION"):
            p = _find_kw(sql, kw, hpos)
            if p != -1:
                hend = min(hend, p)
        clause = sql[hpos:hend]
        new_clause = re.sub(
            rf"(?<![\w.`]){re.escape(name)}(?![\w`(])",
            lambda _m: expr,  # literal insert: expr may contain \ or \g
            clause,
        )
        if new_clause != clause:
            sql = sql[:hpos] + new_clause + sql[hend:]
    return sql


_AGG_FN_RE = re.compile(
    r"\b(SUM|COUNT|MIN|MAX|AVG|STDDEV(?:_POP|_SAMP)?|VAR(?:IANCE|_POP|_SAMP)?)"
    r"\s*\(",
    re.IGNORECASE,
)


def _orderby_agg_alias_fold(sql: str) -> str:
    """``ORDER BY SUM(x)`` where the select list carries ``SUM(x) AS a``
    AND a window function is present (pir rownumber3): Spark can't add
    a hidden aggregate projection under a window, but sorting by the
    existing alias is the identical plan — fold the expression to it."""
    if not re.search(r"\bOVER\b", sql, flags=re.IGNORECASE):
        return sql
    opos = _find_kw(sql, "ORDER")
    if opos == -1 or not re.match(
        r"ORDER\s+BY\b", sql[opos:], flags=re.IGNORECASE
    ):
        return sql
    sel_m = re.search(r"\bSELECT\b", sql, flags=re.IGNORECASE)
    fpos = _find_kw(sql, "FROM", sel_m.end()) if sel_m else -1
    if fpos == -1:
        return sql
    aliased = {}
    for it in _top_level_split(sql[sel_m.end():fpos]):
        am = re.search(r"\s+AS\s+[`\"]?(\w+)[`\"]?\s*$", it,
                       flags=re.IGNORECASE)
        if am:
            aliased[re.sub(r"\s+", "", it[: am.start()]).upper()] = am.group(1)
    start = opos + re.match(
        r"ORDER\s+BY\b", sql[opos:], flags=re.IGNORECASE
    ).end()
    end = len(sql)
    for kw in ("LIMIT", "OFFSET"):
        p = _find_kw(sql, kw, start)
        if p != -1:
            end = min(end, p)
    out_items = []
    changed = False
    for o in _top_level_split(sql[start:end]):
        dm = re.search(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$", o,
                       flags=re.IGNORECASE)
        expr = (o[: dm.start()] if dm else o).strip()
        key = re.sub(r"\s+", "", expr).upper()
        if _AGG_FN_RE.search(expr) and key in aliased:
            out_items.append(aliased[key] + (o[dm.start():] if dm else ""))
            changed = True
        else:
            out_items.append(o.strip())
    if not changed:
        return sql
    return sql[:start] + " " + ", ".join(out_items) + " " + sql[end:]


def _rewrite_having_window(sql: str) -> str:
    """``... GROUP BY g HAVING ROW_NUMBER() OVER (w) <= k [ORDER BY o]``
    (the reference's elastic-proxy top-N-per-group shape,
    9999-regressions/regress-2493.test) → window column + outer filter;
    Spark forbids window functions inside HAVING."""
    m = re.search(
        r"\bHAVING\s+(\(\s*)?ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(", sql,
        flags=re.IGNORECASE,
    )
    if not m:
        return sql
    wopen = m.end() - 1  # the paren after OVER
    wclose = _matching(sql, wopen, "(", ")")
    if wclose == -1:
        return sql
    win = sql[wopen : wclose + 1]
    # the comparison may be wrapped: HAVING (ROW_NUMBER() OVER (w) <= k)
    km = re.match(
        r"\s*<=\s*(\d+)" + (r"\s*\)" if m.group(1) else ""),
        sql[wclose + 1 :],
    )
    if not km:
        return sql
    k = km.group(1)
    after_having = wclose + 1 + km.end()
    # owning SELECT: nearest preceding SELECT at paren depth 0 relative
    # to the HAVING
    sel_start = None
    for sm in re.finditer(r"\bSELECT\b", sql[: m.start()], flags=re.IGNORECASE):
        seg = sql[sm.start() : m.start()]
        if seg.count("(") == seg.count(")"):
            sel_start = sm.start()
    if sel_start is None:
        return sql
    fpos = _find_kw(sql, "FROM", sel_start)
    if fpos == -1 or fpos > m.start():
        return sql
    items_txt = sql[sel_start + len("SELECT") : fpos].strip()
    mid = sql[fpos : m.start()].rstrip()  # FROM ... GROUP BY ...
    # scope of this SELECT ends at the first unbalanced ')'
    depth = 0
    scope_end = len(sql)
    for i in range(after_having, len(sql)):
        ch = sql[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                scope_end = i
                break
    tail = sql[after_having:scope_end].strip()  # e.g. ORDER BY ...
    # outer ORDER BY can't see aggregates: substitute aliased exprs
    for it in _top_level_split(items_txt):
        am = re.search(r"\sAS\s+(`[^`]+`|\w+)\s*$", it.strip(),
                       flags=re.IGNORECASE)
        if am:
            expr = it.strip()[: am.start()].strip()
            tail = tail.replace(expr, am.group(1))
    inner = (
        f"SELECT {items_txt}, ROW_NUMBER() OVER {win} AS __hv {mid}"
    )
    repl = (
        f"SELECT * EXCEPT (__hv) FROM ({inner}) __hw WHERE __hv <= {k}"
        + (f" {tail}" if tail else "")
    )
    out = sql[:sel_start] + repl + sql[scope_end:]
    return _rewrite_having_window(out)


def _structify_scalar_subqueries(sql: str) -> str:
    """Multi-column scalar subquery ``(SELECT a, b FROM ...) AS y`` →
    single named_struct column (Sneller returns a struct)."""
    out = sql
    for m in list(re.finditer(r"\(\s*SELECT\b", out, flags=re.IGNORECASE))[::-1]:
        open_p = m.start()
        close_p = _matching(out, open_p, "(", ")")
        if close_p == -1:
            continue
        after = out[close_p + 1 :]
        if not re.match(r"\s*(AS\s+)?[`\"]?\w+[`\"]?", after, flags=re.IGNORECASE):
            continue
        # a FROM/JOIN subquery with an alias is not a scalar expression
        if re.search(r"\b(FROM|JOIN)\s*$", out[:open_p], flags=re.IGNORECASE):
            continue
        # only when used as an aliased scalar (not FROM-subquery):
        if re.match(r"\s*(AS\s+)?(WHERE|GROUP|ORDER|LIMIT|ON|JOIN|HAVING|UNION"
                    r"|SELECT|FROM|CROSS|INNER|LEFT|RIGHT|FULL|NATURAL|WITH"
                    r"|INTERSECT|EXCEPT)\b",
                    after, flags=re.IGNORECASE):
            continue
        body = out[open_p + 1 : close_p]
        sel = re.match(r"\s*SELECT\s+", body, flags=re.IGNORECASE)
        fpos = _find_kw(body, "FROM")
        if fpos == -1:
            continue
        items = _top_level_split(body[sel.end() : fpos])
        if len(items) == 1 and items[0].strip() == "*":
            # `(SELECT * FROM t ...) AS x` — Sneller yields the rows as
            # an array of structs (9999-regressions/regress-2410.test)
            new_body = (
                f"SELECT collect_list(__s) FROM (SELECT struct(*) AS __s "
                + body[fpos:] + ") __structrows"
            )
            out = out[:open_p] + "(" + new_body + ")" + out[close_p + 1 :]
            continue
        if len(items) < 2:
            continue
        fields = []
        for idx, it in enumerate(items):
            it = it.strip()
            am = re.search(r"\sAS\s+[`\"]?(\w+)[`\"]?\s*$", it, flags=re.IGNORECASE)
            if am:
                name, expr = am.group(1), it[: am.start()].strip()
            else:
                qm = re.search(r"[`\"](\w+)[`\"]\s*$", it)
                fm = re.match(r"^(\w+)\s*\(", it)
                cm = re.match(r"^[\w.]+$", it)
                if qm:
                    name, expr = qm.group(1), it[: qm.start()].strip()
                elif fm and _AGG_ALIAS.get(fm.group(1).upper()):
                    name, expr = _AGG_ALIAS[fm.group(1).upper()], it
                elif cm:
                    name, expr = it.split(".")[-1], it
                else:
                    name, expr = f"_{idx + 1}", it
            fields.append((name, expr, it))
        struct = "named_struct(" + ", ".join(
            f"'{n}', {e}" for n, e, _ in fields) + ")"
        if re.search(r"\bGROUP\s+BY\b", body, flags=re.IGNORECASE) and \
                not re.search(r"\bLIMIT\s+1\b", body, flags=re.IGNORECASE):
            # multi-row subquery: Sneller yields an ARRAY of structs
            # (9999-issues/issue-1250.test). Keep the original aliased
            # items alongside so ORDER BY can still resolve them.
            keep = ", ".join(
                it if re.search(r"\sAS\s", it, flags=re.IGNORECASE)
                else f"{e} AS {n}"
                for n, e, it in fields
            )
            new_body = (
                f"SELECT collect_list(__s) FROM (SELECT {struct} AS __s, "
                f"{keep} " + body[fpos:] + ") __structrows"
            )
        else:
            new_body = body[: sel.end()] + struct + " " + body[fpos:]
        out = out[:open_p] + "(" + new_body + ")" + out[close_p + 1 :]
    return out


_AGG_ALIAS = {
    "COUNT": "count",
    "SUM": "sum",
    "MIN": "min",
    "MAX": "max",
    "AVG": "avg",
    "EARLIEST": "earliest",
    "LATEST": "latest",
    "APPROX_COUNT_DISTINCT": "approx_count_distinct",
    "APPROX_PERCENTILE": "approx_percentile",
    "STDDEV": "stddev",
    "STDDEV_POP": "stddev_pop",
    "VARIANCE": "variance",
    "VARIANCE_POP": "variance_pop",
    "ROW_NUMBER": "row_number",
    "RANK": "rank",
    "DENSE_RANK": "dense_rank",
    "TIME_BUCKET": "time_bucket",
    "DATE_TRUNC": "date_trunc",
    "DATE_ADD": "date_add",
    "DATE_DIFF": "date_diff",
    "EXTRACT": "extract",
}

_DT_UNITS = (
    "YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND|MILLISECOND|MICROSECOND"
)

_INTERVAL_UNIT_US = {
    "microsecond": 1,
    "microseconds": 1,
    "millisecond": 1000,
    "milliseconds": 1000,
    "second": 10**6,
    "seconds": 10**6,
    "minute": 60 * 10**6,
    "minutes": 60 * 10**6,
    "hour": 3600 * 10**6,
    "hours": 3600 * 10**6,
    "day": 86400 * 10**6,
    "days": 86400 * 10**6,
}

_WEEKDAY_OFF = {  # days to subtract so the week starts on that day
    "SUNDAY": 0, "MONDAY": 1, "TUESDAY": 2, "WEDNESDAY": 3,
    "THURSDAY": 4, "FRIDAY": 5, "SATURDAY": 6,
}


def _interval_to_micros(text: str) -> int | None:
    total = 0
    for num, unit in re.findall(r"(\d+)\s*([a-z]+)", text.lower()):
        mult = _INTERVAL_UNIT_US.get(unit)
        if mult is None:
            return None
        total += int(num) * mult
    return total or None


def _rewrite_array_size(sql: str) -> str:
    """ARRAY_SIZE(x) -> nullif(size(x), -1) with balanced parens (the
    -1 branch only fires for NULL input under legacy sizeOfNull, which
    is exactly the reference's MISSING result; real arrays are >= 0)."""
    while True:
        m = re.search(r"\bARRAY_SIZE\s*\(", sql, flags=re.IGNORECASE)
        if not m:
            return sql
        got = _call_args(sql, m.end() - 1)
        if not got:
            return sql
        close_p, args = got
        inner = ", ".join(a.strip() for a in args)
        sql = (
            sql[: m.start()]
            + f"nullif(size({inner}), -1)"
            + sql[close_p + 1:]
        )


def _call_args(sql: str, name_end: int) -> tuple[int, list[str]] | None:
    """name_end points just past the function name; returns
    (close paren index, top-level args)."""
    m = re.match(r"\s*\(", sql[name_end:])
    if not m:
        return None
    open_p = name_end + m.end() - 1
    close_p = _matching(sql, open_p, "(", ")")
    if close_p == -1:
        return None
    return close_p, _top_level_split(sql[open_p + 1 : close_p])


def _rewrite_calls(sql: str) -> str:
    """Argument-shape rewrites that need call-site parsing."""
    # DATE_TRUNC(UNIT, x) / DATE_TRUNC(WEEK(DAY), x) → date_trunc('UNIT', x)
    def date_trunc(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        unit = args[0].strip()
        rest = ", ".join(a.strip() for a in args[1:])
        wm = re.match(r"WEEK\s*\(\s*(\w+)\s*\)$", unit, flags=re.IGNORECASE)
        if wm:
            off = _WEEKDAY_OFF.get(wm.group(1).upper(), 1)
            # truncate to the most recent week start anchored on that day
            return (
                f"cast(date_sub(cast({rest} as date), "
                f"pmod(dayofweek(cast({rest} as date)) - 1 - {off}, 7)) as timestamp)",
                close_p,
            )
        if unit.upper() == "WEEK":
            # Sneller's WEEK with no day anchors on Sunday
            # (date-trunc-dow-no-day-specified)
            return (
                f"cast(date_sub(cast({rest} as date), "
                f"pmod(dayofweek(cast({rest} as date)) - 1, 7)) as timestamp)",
                close_p,
            )
        if re.match(r"^(" + _DT_UNITS + r")$", unit, flags=re.IGNORECASE):
            return f"date_trunc('{unit.upper()}', {rest})", close_p
        return None

    # DATE_ADD(UNIT, n, ts): calendar units get Go-style normalisation
    def date_add(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 3:
            return None
        unit = args[0].strip().upper()
        n, ts = args[1].strip(), args[2].strip()
        if unit in ("MONTH", "QUARTER", "YEAR"):
            months = {"MONTH": "1", "QUARTER": "3", "YEAR": "12"}[unit]
            # add months to the first-of-month (clamp-free), then re-add
            # the day offset so overflow days normalise forward
            # (Sneller follows Go time.AddDate: Jan 31 + 1mo = Mar 3)
            return (
                f"timestamp_micros(unix_micros(cast(date_add(add_months("
                f"trunc(cast({ts} as date), 'MM'), ({n}) * {months}), "
                f"day(cast({ts} as date)) - 1) as timestamp)) + "
                f"(unix_micros({ts}) - unix_micros(date_trunc('DAY', {ts}))))",
                close_p,
            )
        if re.match(r"^(" + _DT_UNITS + r")$", unit, flags=re.IGNORECASE):
            return f"timestampadd({unit}, {n}, {ts})", close_p
        return None

    def date_diff(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 3:
            return None
        unit = args[0].strip().upper()
        if re.match(r"^(" + _DT_UNITS + r")$", unit):
            return (
                f"timestampdiff({unit}, {args[1].strip()}, {args[2].strip()})",
                close_p,
            )
        return None

    # DATE_BIN('interval', ts, origin) → exact micros arithmetic
    def date_bin(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 3:
            return None
        iv = args[0].strip()
        if not (iv.startswith("'") and iv.endswith("'")):
            return None
        us = _interval_to_micros(iv[1:-1])
        if us is None:
            return None
        ts, origin = args[1].strip(), args[2].strip()
        return (
            f"timestamp_micros(unix_micros({ts}) - "
            f"pmod(unix_micros({ts}) - unix_micros({origin}), {us}))",
            close_p,
        )

    # TIME_BUCKET(ts, secs) → epoch-seconds bucket (reference returns
    # unix seconds, vm/testdata/queries/0070-date/time-bucket.test)
    def time_bucket(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 2:
            return None
        ts, secs = args[0].strip(), args[1].strip()
        # cast before multiplying: a plain INT literal would wrap at
        # 2^31 micros (35 min)
        return (
            f"cast((unix_micros({ts}) - pmod(unix_micros({ts}), "
            f"cast({secs} as bigint) * 1000000)) / 1000000 as bigint)",
            close_p,
        )

    def extract(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        em = re.match(r"^(\w+)\s+FROM\s+(.*)$", args[0].strip(),
                      flags=re.IGNORECASE | re.DOTALL)
        if not em:
            return None
        field, expr = em.group(1).upper(), em.group(2).strip()
        if field == "MICROSECOND":
            # micros within the minute (date-extract-boxed expectations)
            return f"pmod(unix_micros({expr}), 60000000)", close_p
        if field == "MILLISECOND":
            return f"cast(pmod(unix_micros({expr}), 60000000) / 1000 as bigint)", close_p
        if field == "DOW":
            return f"(dayofweek({expr}) - 1)", close_p
        if field == "SECOND":
            # Sneller yields the integer second; Spark a DECIMAL(8,6).
            # date_part, not extract: the emitted text must not
            # re-match this rule
            return f"cast(floor(date_part('SECOND', {expr})) as bigint)", close_p
        return None

    def approx_cd(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) == 2:
            # precision argument has no Spark analog; drop it
            return f"approx_count_distinct({args[0].strip()})", close_p
        return None

    def is_subnet_of(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) == 3:
            # reference range form → veneer ip_in_range
            return f"ip_in_range({', '.join(a.strip() for a in args)})", close_p
        return None

    def split_part(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 3:
            return None
        s, sep, idx = (a.strip() for a in args)
        if re.fullmatch(r"[1-9]\d*", idx):
            return None
        # Sneller yields MISSING for out-of-domain indices; Spark raises
        return (
            f"(CASE WHEN ({idx}) >= 1 THEN split_part({s}, {sep}, {idx}) END)",
            close_p,
        )

    def approx_pct(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 2:
            return None
        # the reference's t-digest keeps singleton centroids at test
        # scale; its quantile is float32 interpolation between sorted
        # values at centers (i+0.5)/n (sql_registry approx_percentile_td)
        return (
            f"approx_percentile_td(array_sort(collect_list("
            f"cast({args[0].strip()} as float))), "
            f"cast({args[1].strip()} as float))",
            close_p,
        )

    def avg_int(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 1:
            return None
        e = args[0].strip()
        # AVG over INTEGER is integer division in the reference
        # (0020-aggregate/aggregate-int-arith.test: exact int64 avg)
        if not re.fullmatch(r"CAST\s*\(.*AS\s+BIGINT\s*\)", e,
                            flags=re.IGNORECASE | re.DOTALL):
            return None
        return f"(SUM({e}) DIV COUNT({e}))", close_p

    def floor_ceil_nooverflow(name):
        # Spark's floor/ceil return BIGINT (clamping beyond ±2^63);
        # the reference keeps floats. Above 2^53 doubles are integral.
        def fn(m):
            got = _call_args(sql_holder[0], m.end())
            if not got:
                return None
            close_p, args = got
            if len(args) != 1:
                return None
            x = args[0].strip()
            return (
                f"(CASE WHEN abs({x}) >= 9007199254740992D THEN {x} "
                f"ELSE cast({name}({x}) as double) END)",
                close_p,
            )

        return fn

    def pmod_positive(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 2:
            return None
        # reference PMOD is the positive modulus even for negative
        # divisors (vm/testdata/queries/0041-number-int/int-pmod.test);
        # Spark's pmod keeps the divisor's sign
        return (
            f"pmod({args[0].strip()}, abs({args[1].strip()}))",
            close_p,
        )

    def array_position(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 2:
            return None
        # not-found is MISSING in the reference, 0 in Spark
        return (
            f"nullif(array_position({args[0].strip()}, {args[1].strip()}), 0)",
            close_p,
        )

    def substring_clamp(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) not in (2, 3):
            return None
        pos = args[1].strip()
        if re.fullmatch(r"[1-9]\d*", pos) or pos.startswith("greatest("):
            return None
        # SUBSTRING(s, <=0, n) means SUBSTRING(s, 1, n) in the
        # reference (string-substr-1.test header comment); Spark counts
        # negative positions from the end
        args[1] = f"greatest({pos}, 1)"
        return (
            f"substring({', '.join(a.strip() for a in args)})",
            close_p,
        )

    def trunc_num(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 1:
            return None
        x = args[0].strip()
        # numeric truncation toward zero (Spark's trunc is date-only)
        return f"({x} - ({x} % 1))", close_p

    def utcnow(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        return "current_timestamp()", close_p

    def contains_fuzzy(m):
        got = _call_args(sql_holder[0], m.end())
        if not got:
            return None
        close_p, args = got
        if len(args) != 3:
            return None
        fn = (
            "sn_contains_fuzzy_uni"
            if "UNICODE" in m.group(0).upper()
            else "sn_contains_fuzzy"
        )
        return f"{fn}({', '.join(a.strip() for a in args)})", close_p

    def trim2(which):
        # Sneller TRIM(s, cutset); Spark's 2-arg trim is (trimStr, str)
        def fn(m):
            got = _call_args(sql_holder[0], m.end())
            if not got:
                return None
            close_p, args = got
            if len(args) != 2:
                return None
            s, cut = (a.strip() for a in args)
            return f"trim({which} {cut} FROM {s})", close_p

        return fn

    # rules whose replacement re-contains the (lowercase) source name
    # are matched case-SENSITIVELY so the rewrite terminates
    rules = [
        (r"\bDATE_TRUNC\b", date_trunc, re.IGNORECASE),
        (r"\bDATE_ADD\b", date_add, re.IGNORECASE),
        (r"\bDATE_DIFF\b", date_diff, re.IGNORECASE),
        (r"\bDATE_BIN\b", date_bin, re.IGNORECASE),
        (r"\bTIME_BUCKET\b", time_bucket, re.IGNORECASE),
        (r"\bEXTRACT\b", extract, re.IGNORECASE),
        (r"\bAPPROX_COUNT_DISTINCT\b", approx_cd, 0),
        (r"\bAPPROX_PERCENTILE\b", approx_pct, 0),
        (r"\bPMOD\b", pmod_positive, 0),
        (r"\bAVG\b", avg_int, 0),
        (r"\bFLOOR\b", floor_ceil_nooverflow("floor"), 0),
        (r"\bCEILING\b", floor_ceil_nooverflow("ceiling"), 0),
        (r"\bCEIL\b", floor_ceil_nooverflow("ceil"), 0),
        (r"\bARRAY_POSITION\b", array_position, 0),
        (r"\bIS_SUBNET_OF\b", is_subnet_of, re.IGNORECASE),
        (r"\bSPLIT_PART\b", split_part, 0),
        (r"\bTRIM\b", trim2("BOTH"), 0),
        (r"\bLTRIM\b", trim2("LEADING"), 0),
        (r"\bRTRIM\b", trim2("TRAILING"), 0),
        (r"\bSUBSTRING\b", substring_clamp, 0),
        (r"\bTRUNC\b", trunc_num, 0),
        (r"\bUTCNOW\b", utcnow, re.IGNORECASE),
        (r"\bCONTAINS_FUZZY(?:_UNICODE)?\b", contains_fuzzy, 0),
    ]
    sql_holder = [sql]
    changed = True
    guard = 0
    while changed and guard < 200:
        changed = False
        guard += 1
        for pat, fn, flags in rules:
            for m in re.finditer(pat, sql_holder[0], flags=flags):
                res = fn(m)
                if res is None:
                    continue
                repl, close_p = res
                s = sql_holder[0]
                sql_holder[0] = s[: m.start()] + repl + s[close_p + 1 :]
                changed = True
                break
            if changed:
                break
    return sql_holder[0]


def _word_rewrites(seg: str) -> str:
    # ion timestamp literal → TIMESTAMP '...'
    seg = re.sub(
        r"`(\d{4}-\d{2}-\d{2}T[0-9:.]+(?:Z|[+-]\d{2}:?\d{2})?)`",
        r"TIMESTAMP '\1'",
        seg,
    )
    seg = re.sub(r"\bIS\s+NOT\s+MISSING\b", "IS NOT NULL", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bIS\s+MISSING\b", "IS NULL", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bMISSING\b", "NULL", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bEARLIEST\s*\(", "MIN(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bLATEST\s*\(", "MAX(", seg, flags=re.IGNORECASE)
    # Sneller INTEGER/FLOAT are 64-bit (ion); Spark INT/FLOAT are 32-bit
    seg = re.sub(r"\bAS\s+INTEGER\b", "AS BIGINT", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bAS\s+INT\b", "AS BIGINT", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bAS\s+FLOAT\b", "AS DOUBLE", seg, flags=re.IGNORECASE)
    # function-name deltas
    seg = re.sub(r"\bVARIANCE_POP\s*\(", "var_pop(", seg, flags=re.IGNORECASE)
    # plain STDDEV/VARIANCE are the population forms in the reference
    # (expr/node.go:177: OpStdDevPop covers STDDEV() and STDDEV_POP())
    seg = re.sub(r"\bSTDDEV\s*\(", "stddev_pop(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bVARIANCE\s*\(", "var_pop(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bEQUALS_FUZZY_UNICODE\s*\(", "sn_equals_fuzzy_uni(", seg,
                 flags=re.IGNORECASE)
    seg = re.sub(r"\bEQUALS_FUZZY\s*\(", "sn_equals_fuzzy(", seg,
                 flags=re.IGNORECASE)
    # Sneller gives & higher precedence than | (int-bitwise-const-prop);
    # Spark parses them left-associatively at one level
    seg = re.sub(
        r"(?<![\w(])([\w.]+\s*&\s*[\w.]+)(?=\s*\|)", r"(\1)", seg
    )
    seg = re.sub(
        r"(?<=\|)(\s*)([\w.]+\s*&\s*[\w.]+)(?![\w(]|\s*&)", r"\1(\2)", seg
    )
    # Sneller shifts are 64-bit (ion ints); Spark's <<//>>//>>> operate
    # at the literal's width (INT for small literals) — force BIGINT
    _shop = r"(-?\d+|[\w.`]+)"
    seg = re.sub(
        _shop + r"\s*>>>\s*" + _shop,
        r"shiftrightunsigned(CAST(\1 AS BIGINT), \2)",
        seg,
    )
    seg = re.sub(
        _shop + r"\s*>>\s*" + _shop,
        r"shiftright(CAST(\1 AS BIGINT), \2)",
        seg,
    )
    seg = re.sub(
        _shop + r"\s*<<\s*" + _shop,
        r"shiftleft(CAST(\1 AS BIGINT), \2)",
        seg,
    )
    seg = re.sub(r"\bTO_UNIX_EPOCH\s*\(", "unix_seconds(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bTO_UNIX_MICRO\s*\(", "unix_micros(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bEXP2\s*\(", "power(2.0, ", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bEXP10\s*\(", "power(10.0, ", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bLN1P\s*\(", "log1p(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bROUND_EVEN\s*\(", "rint(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bCHAR_LENGTH\s*\(", "length(", seg, flags=re.IGNORECASE)
    # reference LOWER/UPPER are per-rune SIMPLE case mappings (Go
    # unicode.ToLower/ToUpper); Spark's lower/upper apply full mappings
    seg = re.sub(r"\bLOWER\s*\(", "sn_lower(", seg, flags=re.IGNORECASE)
    seg = re.sub(r"\bUPPER\s*\(", "sn_upper(", seg, flags=re.IGNORECASE)
    # zoom-32 tiles need the reference's exact fp kernel (replay_geomath)
    seg = re.sub(r"\bGEO_TILE_ES\s*\(", "sn_geo_tile_es(", seg,
                 flags=re.IGNORECASE)
    seg = re.sub(r"\bCOSINE_DISTANCE\s*\(", "sn_cosine_distance(", seg,
                 flags=re.IGNORECASE)
    return seg


def _tilde_regex(sql: str) -> str:
    """``expr ~ 'pattern'`` → RLIKE (the pattern is a string literal,
    so the operator sits at a non-string/string segment boundary)."""
    segs = _split_strings(sql)
    out = []
    for idx, (is_str, text) in enumerate(segs):
        if (
            not is_str
            and idx + 1 < len(segs)
            and segs[idx + 1][0]
            and re.search(r"[\w)'`]\s*~\s*$", text)
        ):
            text = re.sub(r"~(\s*)$", r" RLIKE \1", text)
        out.append(text)
    return "".join(out)


_ILIKE_PAT = re.compile(
    r"([\w.`]+|\((?:[^()]|\([^()]*\))*\))\s+(NOT\s+)?ILIKE\s+"
    r"('(?:[^']|'')*'|[\w.`]+)",
    re.IGNORECASE,
)


def _ilike_fold(sql: str) -> str:
    """Spark's ILIKE lowercases both sides with the FULL case mapping;
    the reference matches case-insensitively under per-rune simple
    folding (ſ≡s, Ω(ohm)≡ω, K(kelvin)≡k — 0061 matchpat tests)."""
    return _ILIKE_PAT.sub(
        lambda m: (
            f"sn_fold({m.group(1)}) {m.group(2) or ''}LIKE "
            f"sn_fold({m.group(3)})"
        ),
        sql,
    )


def _similar_to_pattern(pat: str) -> str:
    """The reference's SIMILAR TO compiler (regexp2/Regexp2.go:58-97):
    ``.``/``^``/``$`` are NOT meta-characters (escaped unless already
    escaped), ``%`` -> ``.*``, ``_`` -> ``.`` — then the whole pattern
    is end-anchored ``(expr)$`` when it doesn't already end in ``$``."""
    out = []
    runes = list(pat)
    for i, r in enumerate(runes):
        escaped = i > 0 and runes[i - 1] == "\\"
        if r in ".^$":
            out.append(r if escaped else "\\" + r)
        elif r == "%":
            out.append(r if escaped else ".*")
        elif r == "_":
            out.append(r if escaped else ".")
        else:
            out.append(r)
    expr = "".join(out)
    if not pat.endswith("$"):
        expr = "(" + expr + ")$"
    return expr


_SIMILAR_LIT = re.compile(
    r"\bSIMILAR\s+TO\s+('(?:[^']|'')*')", re.IGNORECASE
)


def _similar_to(sql: str) -> str:
    def sub(m):
        lit = m.group(1)[1:-1].replace("''", "'")
        # Spark unescapes backslash sequences in the literal before the
        # pattern reaches rlike — mirror that, transform, re-escape
        raw = lit.encode().decode("unicode_escape")
        pat = _similar_to_pattern(raw)
        esc = pat.replace("\\", "\\\\").replace("'", "\\'")
        return f"RLIKE '{esc}'"

    sql = _SIMILAR_LIT.sub(sub, sql)
    # non-literal pattern operand: keep the old partial-match fallback
    return re.sub(r"\bSIMILAR\s+TO\b", "RLIKE", sql, flags=re.IGNORECASE)


def _like_escape(sql: str) -> str:
    """``x LIKE 'pat' ESCAPE 'c'`` → RLIKE: the reference allows the
    escape char before ordinary characters, Spark's LIKE validator
    rejects it."""

    def repl(m):
        pat, esc = m.group(1), m.group(2)
        out, i = [], 0
        while i < len(pat):
            c = pat[i]
            if c == esc and i + 1 < len(pat):
                out.append(re.escape(pat[i + 1]))
                i += 2
                continue
            if c == "%":
                out.append("(?s:.*)")
            elif c == "_":
                out.append("(?s:.)")
            else:
                out.append(re.escape(c))
            i += 1
        return f"RLIKE '^{''.join(out)}$'"

    return re.sub(
        r"\bLIKE\s+'((?:[^']|'')*)'\s+ESCAPE\s+'(.)'",
        repl,
        sql,
        flags=re.IGNORECASE,
    )


def _auto_alias(sql: str) -> str:
    """Sneller's implicit aliases for unaliased top-level call items,
    with matching ORDER BY / GROUP BY text substitution."""
    # the MAIN statement's SELECT: first match at paren depth 0 that is
    # not a CTE body (those sit inside parens)
    m = None
    for cand in re.finditer(r"\bSELECT\b(\s+DISTINCT\b)?", sql,
                            flags=re.IGNORECASE):
        head = sql[: cand.start()]
        if head.count("(") == head.count(")"):
            m = cand
            break
    if not m:
        return sql
    start = m.end()
    fpos = _find_kw(sql, "FROM", start)
    end = fpos if fpos != -1 else len(sql)
    items = _top_level_split(sql[start:end])
    inserts: list[tuple[int, str]] = []
    aliased: list[tuple[str, str]] = []
    offset = start
    for it in items:
        s = offset
        e = offset + len(it)
        offset = e + 1
        item = it.strip()
        if not item or re.search(r"\bAS\s+[`\"]?\w+[`\"]?\s*$", item,
                                 flags=re.IGNORECASE):
            continue
        fm = re.match(r"^(\w+)\s*\(", item)
        if not fm:
            continue
        alias = _AGG_ALIAS.get(fm.group(1).upper())
        if not alias:
            continue
        # whole item must be one call (+ optional FILTER / OVER clause)
        rest = item[len(fm.group(1)) :].lstrip()
        if not rest.startswith("("):
            continue
        close = _matching(rest, 0, "(", ")")
        tail = rest[close + 1 :].strip()
        if tail and not re.match(r"^(FILTER|OVER)\s*\(", tail, flags=re.IGNORECASE):
            continue
        if tail:
            tclose = _matching(tail, tail.index("("), "(", ")")
            if tail[tclose + 1 :].strip():
                continue
        inserts.append((e, f" AS {alias} "))
        aliased.append((item, alias))
    for pos, text in sorted(inserts, reverse=True):
        sql = sql[:pos] + text + sql[pos:]
    # ORDER BY SUM(x) → ORDER BY sum (Spark can't always re-resolve the
    # aggregate expression after windows are involved); only the final
    # top-level clause — never inside an OVER (...)
    for item, alias in aliased:
        for kw in ("ORDER", "GROUP"):
            pos = _find_kw(sql, kw + r"\s+BY")
            if pos == -1:
                continue
            sql = sql[:pos] + sql[pos:].replace(item, alias)
    return sql


_INT_OPERAND = r"(CAST\((?:[^()]|\([^()]*\))*AS BIGINT\)|-?\d+(?![\d.eE]))"


_VENEER_IN_SORT = re.compile(
    r"\b(inner_product|l1_distance|l2_distance|cosine_distance|ip_in_range|"
    r"is_subnet_of|contains_ci|equals_ci|equals_fuzzy|geo_distance|"
    r"geo_tile_\w+|array_sum)\b",
    re.IGNORECASE,
)


def _orderby_udf_wrap(sql: str) -> str:
    """SQL UDFs are not supported inside Sort; materialise such ORDER
    BY expressions one subquery down."""
    pos = _find_kw(sql, r"ORDER\s+BY")
    if pos == -1:
        return sql
    after = sql[pos:]
    lim = _find_kw(after, "LIMIT")
    clause = after[len("ORDER BY") :] if lim == -1 else after[: lim]
    clause = re.sub(r"^\s*ORDER\s+BY", "", clause, flags=re.IGNORECASE)
    if not _VENEER_IN_SORT.search(clause):
        return sql
    tail = "" if lim == -1 else after[lim:]
    exprs = []
    orders = []
    for i, item in enumerate(_top_level_split(clause)):
        item = item.strip()
        dm = re.search(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?$", item,
                       flags=re.IGNORECASE)
        direction = dm.group(0) if dm else ""
        expr = item[: dm.start()] if dm else item
        exprs.append(f"{expr} AS __ord{i}")
        orders.append(f"__ord{i}{direction}")
    m = re.search(r"\bSELECT\b(\s+DISTINCT\b)?", sql, flags=re.IGNORECASE)
    fpos = _find_kw(sql, "FROM", m.end())
    if fpos == -1 or fpos > pos:
        return sql
    items_txt = sql[m.end() : fpos].strip()
    middle = sql[fpos:pos]
    ords = ", ".join(f"__ord{i}" for i in range(len(exprs)))
    inner = f"SELECT {items_txt}, {', '.join(exprs)} {middle}"
    return (
        f"SELECT * EXCEPT ({ords}) FROM ({inner}) "
        f"ORDER BY {', '.join(orders)} {tail}"
    )


def _int_division(sql: str) -> str:
    """Sneller's ``/`` on two integers is integer division (truncating,
    int-arith expectations); rewrite syntactically-integer operand
    pairs to Spark's DIV."""
    pat = re.compile(_INT_OPERAND + r"\s*/\s*" + _INT_OPERAND)
    prev = None
    while prev != sql:
        prev = sql
        sql = pat.sub(r"(\1 DIV \2)", sql)
    return sql


_DIV_ATOM = (
    r"(?:-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    r"|[\w.`]+\((?:[^()]|\([^()]*\))*\)"
    r"|[\w.`]+"
    r"|\((?:[^()]|\([^()]*\)|\((?:[^()]|\([^()]*\))*\))*\))"
)
_DIV_PAT = re.compile(
    "(" + _DIV_ATOM + r"(?:\s*\*\s*" + _DIV_ATOM + r")*)\s*/\s*(" + _DIV_ATOM + ")"
)


def _ieee_div_expr(a: str, b: str) -> str:
    """IEEE-754 division: x/0 -> ±Inf, 0/0 and NaN/0 -> NaN (the
    reference evaluates unboxed doubles natively; Spark's ``/`` yields
    NULL on zero denominators).  Inlined as an expression, not a SQL
    UDF, so it survives Sort/correlated-subquery contexts."""
    return (
        f"(CASE WHEN ({b}) IS NULL OR ({a}) IS NULL THEN NULL "
        f"WHEN ({b}) = 0D THEN "
        f"CASE WHEN isnan(CAST(({a}) AS DOUBLE)) OR ({a}) = 0D "
        f"THEN CAST('NaN' AS DOUBLE) "
        f"WHEN (({a}) > 0D) != startswith(CAST(CAST(({b}) AS DOUBLE) "
        f"AS STRING), '-') THEN CAST('Infinity' AS DOUBLE) "
        f"ELSE CAST('-Infinity' AS DOUBLE) END "
        # \x01 placeholder keeps the fixpoint loop from re-rewriting
        # the division this expansion itself emits
        f"ELSE CAST(({a}) AS DOUBLE) \x01 ({b}) END)"
    )


def _ieee_division(sql: str) -> str:
    """Rewrite remaining (non-integer-pair) ``/`` to IEEE semantics."""

    def seg_fn(seg: str) -> str:
        prev = None
        while prev != seg:
            prev = seg
            seg = _DIV_PAT.sub(
                lambda m: _ieee_div_expr(m.group(1), m.group(2)), seg
            )
        return seg.replace("\x01", "/")

    return _rewrite_outside_strings(sql, seg_fn)


_RESERVED_ALIASES = ("outer",)


def _quote_reserved(seg: str) -> str:
    for w in _RESERVED_ALIASES:
        seg = re.sub(rf"(?<![\w`.]){w}(?![\w`])", f"`{w}`", seg, flags=re.IGNORECASE)
    return seg


def translate(
    query: str,
    double_cols: frozenset | set = frozenset(),
    presence_cols: frozenset | set = frozenset(),
    ieee_division: bool = True,
) -> str:
    """Sneller/PartiQL dialect text -> equivalent Spark SQL text.

    Pure string rewrite; no SparkSession needed.  The keyword passes
    are schema-aware and off by default: ``double_cols`` sums those
    float columns with Kahan-Babushka-Neumaier compensation,
    ``presence_cols`` counts present-but-NULL values through
    ``__present_<col>`` columns, and ``ieee_division=False`` leaves
    division and ``ARRAY_SIZE`` to a VARIANT rewriter.  Corpus replay
    sets them from the case's input schema.
    """
    sql = query
    sql = _rewrite_outside_strings(sql, lambda s: s.replace('"', "`"))
    sql = _rewrite_outside_strings(sql, _fold_int_products)
    sql = _constructors(sql)
    sql = _rewrite_unpivot(sql)
    sql = _rewrite_lateral_unnest(sql)
    sql = _rewrite_distinct_on(sql)
    sql = _groupby_alias(sql)
    sql = _having_window_alias(sql)
    sql = _rewrite_having_window(sql)
    sql = _orderby_agg_alias_fold(sql)
    sql = _chain_scalar_subqueries(sql)
    sql = _structify_scalar_subqueries(sql)
    sql = _similar_to(sql)
    sql = _ilike_fold(sql)
    sql = _like_escape(sql)
    sql = _tilde_regex(sql)
    sql = _rewrite_outside_strings(sql, _word_rewrites)
    if ieee_division:
        # typed-column path only (ieee_division=False marks the variant
        # route, whose rewriter dispatches ARRAY_SIZE itself — lists
        # only, v_asize — distinct from SIZE on lists+structs).
        # nullif(.., -1) keeps the MISSING discipline: under non-ANSI
        # legacy sizeOfNull, Spark's size(NULL) is -1, not NULL.
        sql = _rewrite_array_size(sql)
    sql = _rewrite_calls(sql)
    sql = _int_division(sql)
    if ieee_division:
        # skipped on the VARIANT path: variantize() would re-dispatch
        # the inlined CASE's comparisons through v_eq/v_cmpi and break
        # its syntax; variant operands go through v_num instead
        sql = _ieee_division(sql)
    sql = _orderby_udf_wrap(sql)
    sql = _auto_alias(sql)
    sql = _rewrite_outside_strings(sql, _quote_reserved)
    # schema-aware post-passes (applied after aliasing so the implicit
    # column names still derive from the reference spelling)
    if double_cols and "OVER" not in sql.upper():
        # the reference SUMs floats with Kahan-Babushka-Neumaier
        # compensation (0020-aggregate/sum-float-stress.test header);
        # collect_list keeps ingest order, matching its streaming pass
        for c in double_cols:
            sql = re.sub(
                rf"\bSUM\s*\(\s*{re.escape(c)}\s*\)(?!\s*FILTER)",
                f"kbn_sum(collect_list(cast({c} as double)))",
                sql,
                flags=re.IGNORECASE,
            )
    for c in presence_cols:
        # COUNT(x) counts present-but-NULL values (MISSING only is
        # skipped, 0020-aggregate/aggregate-float-null.test); the
        # loader materialises presence as __present_<x>
        sql = re.sub(
            rf"\bCOUNT\s*\(\s*{re.escape(c)}\s*\)",
            f"COUNT(__present_{c})",
            sql,
            flags=re.IGNORECASE,
        )
    return sql


def sql(spark, query: str, ansi: str = "false"):
    """Run a Sneller-dialect query on ``spark`` and return a DataFrame.

    Table names resolve against the session catalog (temp views,
    catalog tables) exactly as ``spark.sql`` would.  Registers the
    reference-named builtin surface (the Catalyst-inlined SQL veneer of
    ``sql_registry`` plus the reference-exact ``sn_*`` kernels) on first
    use per session.

    ansi: "false" (default) pins non-ANSI NULL-on-error evaluation —
    the reference's MISSING-on-error discipline; "keep" leaves the
    session conf untouched.
    """
    # catalog probe, not an id(spark)-keyed cache: ids recycle after a
    # stopped session is collected, which would skip registration
    if not spark.catalog.functionExists("time_bucket"):
        register_sql_functions(spark)  # ~20 DDLs; once per session
    _ensure_sn_udfs(spark)
    if ansi != "keep":
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    return spark.sql(translate(query))


def _ensure_sn_udfs(spark) -> None:
    """Register python-backed reference builtins the SQL veneer can't
    express (GEO_HASH base32 interleaving; numpy kernel shared with
    functions/scalar.py, batched per distinct precision).  Guarded by a
    catalog probe, not an id(spark) cache — ids recycle after a stopped
    session is collected.  The probe targets the LAST function this
    body registers so a mid-sequence failure retries the whole set."""
    if spark.catalog.functionExists("sn_contains_fuzzy_uni"):
        return
    import pandas as pd
    from pyspark.sql import functions as F

    from .functions.scalar import _geohash_kernel

    def _geo_hash(lat: pd.Series, lon: pd.Series, prec: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(lat), dtype="object")
        for p in prec.dropna().unique():
            mask = (prec == p).fillna(False)
            out[mask] = _geohash_kernel(
                lat[mask].to_numpy(), lon[mask].to_numpy(), int(p)
            ).to_numpy()
        return out

    _geo_hash.__annotations__ = {
        "lat": pd.Series, "lon": pd.Series, "prec": pd.Series,
        "return": pd.Series,
    }
    spark.udf.register("geo_hash", F.pandas_udf("string")(_geo_hash))

    from .replay_casemap import (
        simple_fold,
        simple_lower,
        simple_upper,
    )

    spark.udf.register("sn_lower", simple_lower, "string")
    spark.udf.register("sn_upper", simple_upper, "string")
    spark.udf.register("sn_fold", simple_fold, "string")

    from .replay_geomath import cosine_distance_ref
    from .replay_geomath import geo_tile_es as _gte

    spark.udf.register("sn_geo_tile_es", _gte, "string")
    spark.udf.register("sn_cosine_distance", cosine_distance_ref, "double")

    from .replay_fuzzy import contains_fuzzy_ref, equals_fuzzy_ref

    spark.udf.register(
        "sn_equals_fuzzy",
        lambda s, n, t: equals_fuzzy_ref(s, n, t, True), "boolean",
    )
    spark.udf.register(
        "sn_equals_fuzzy_uni",
        lambda s, n, t: equals_fuzzy_ref(s, n, t, False), "boolean",
    )
    spark.udf.register(
        "sn_contains_fuzzy",
        lambda s, n, t: contains_fuzzy_ref(s, n, t, True), "boolean",
    )
    spark.udf.register(
        "sn_contains_fuzzy_uni",
        lambda s, n, t: contains_fuzzy_ref(s, n, t, False), "boolean",
    )
