"""Parse stage — extract the pattern-bank fields (level, code, ip,
lat_ms) from token-id sequences, fully Arrow-vectorized.

``extract_fields_dict`` is the one production parse kernel.  Every
pattern in ``vocab.PATTERN_BANK`` matches inside a single token, so the
bank runs ONCE over the vocabulary (RE2 via ``pc.extract_regex``) and
the per-batch work is an integer gather over token ids — the Spark
analog of Sneller's SIMD string kernels, which compile LIKE/regex into
bytecode run over a whole batch (reference regexp2/Regexp2.go:14-60).
The pipeline runs it fused with enrichment, routing and the sink write
in one ``mapInArrow`` pass (pipeline/route.py); ``parse_stage_dict``
runs it as a stage of its own.

Boundary design (measured, see BENCH/BASELINE.md): the JVM<->Python
boundary dominates parse cost, and the expensive part is not the Arrow
IPC itself but the Arrow->pandas "objectification" of the list<int32>
column (one numpy object per row).  The kernel therefore runs as
``mapInArrow`` — RecordBatches in, RecordBatches out, zero pandas.
Because ``mapInArrow`` replaces the row set, column pruning must be
explicit: ``passthrough`` names the columns the downstream plan needs;
an aggregation-only consumer passes the narrow set so the heavy tokens
column is read once and never echoed back.

``parse_stage_jvm`` is the pure-Catalyst alternative (literal vocab
array + regexp_extract, whole-stage codegen, no Python at all).  It
gives identical results but measured 4-7x slower — Java regex plus a
per-extract re-decode.  It backs the ``tokens_pipeline_jvm_kernel``
catalog entry for deployments without Python workers.

The bit-identity reference both are tested against (RE2 over the
decoded text) lives with the tests, not in this package.

No-match rows carry null extracted fields (Sneller's MISSING -> our
null; /root/reference/doc/sneller-SQL.md:109-143, SURVEY.md §2.2).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..vocab import PATTERN_BANK, build_vocab

# extract_regex needs named groups; keep in sync with vocab.PATTERN_BANK
_ARROW_PATTERNS: dict[str, tuple[str, str]] = {
    "level": (r"\bLEVEL=(?P<level>DEBUG|INFO|WARN|ERROR)\b", "string"),
    "code": (r"\bcode=(?P<code>\d{3})\b", "int"),
    "ip": (r"\b(?P<ip>\d{1,3}(?:\.\d{1,3}){3})\b", "string"),
    "lat_ms": (r"\blat_ms=(?P<lat_ms>\d+)\b", "int"),
}
assert set(_ARROW_PATTERNS) == set(PATTERN_BANK)

# the extracted columns, in output order, as every parse kernel emits them
PARSED_SCHEMA = T.StructType([
    T.StructField("level", T.StringType()),
    T.StructField("code", T.IntegerType()),
    T.StructField("ip", T.StringType()),
    T.StructField("lat_ms", T.IntegerType()),
])
PARSED_FIELDS = PARSED_SCHEMA.names

_vocab_pa: pa.Array | None = None


def _vocab_arrow() -> pa.Array:
    global _vocab_pa
    if _vocab_pa is None:
        _vocab_pa = pa.array(build_vocab().tolist(), type=pa.string())
    return _vocab_pa


# ---------------------------------------------------------------------
# pure-Catalyst alternative (no Python boundary)
# ---------------------------------------------------------------------

_JVM_PATTERNS: dict[str, tuple[str, str | None]] = {
    "level": (r"\bLEVEL=(DEBUG|INFO|WARN|ERROR)\b", None),
    "code": (r"\bcode=(\d{3})\b", "int"),
    "ip": (r"\b(\d{1,3}(?:\.\d{1,3}){3})\b", None),
    "lat_ms": (r"\blat_ms=(\d+)\b", "int"),
}


def parse_stage_jvm(df: DataFrame) -> DataFrame:
    """Whole-stage-codegen parse: vocab as a literal array column,
    decode via transform+element_at+array_join, extract via
    regexp_extract.  Identical semantics to parse_stage_dict (tested);
    kept for environments where Python workers are unavailable."""
    vlit = F.lit(build_vocab().tolist())
    text = F.array_join(
        F.transform(F.col("tokens"), lambda t: F.element_at(vlit, t + F.lit(1))), " "
    )
    out = df.withColumn("_text", text)
    cols = []
    for name, (pattern, cast) in _JVM_PATTERNS.items():
        c = F.regexp_extract(F.col("_text"), pattern, 1)
        c = F.when(c == "", None).otherwise(c)
        if cast:
            c = c.cast(cast)
        cols.append(c.alias(name))
    return out.select("*", *cols).drop("_text")


# ---------------------------------------------------------------------
# dictionary-accelerated kernel: pattern bank evaluated on the vocab
# ---------------------------------------------------------------------
#
# Every pattern in the bank matches entirely inside one token (none of
# the regexes can cross a ' ' join boundary), so "first regex match in
# the decoded text" is equivalent to "value of the earliest token whose
# *vocab word* matches".  That turns the streaming work into a pure
# integer gather: the regex bank runs ONCE over the 32k-word vocabulary
# (the dictionary), producing per-field value tables; per batch we only
# look up token ids.  This is dictionary-encoded predicate pushdown —
# the same trick parquet readers use on dictionary pages, and the
# moral twin of zion's evaluate-on-the-compressed-form design
# (reference ion/zion/doc.go:15-29).  Regex over the decoded
# text remains the semantic source of truth; the tests enforce equality
# against that reference.

_dict_tables: dict[str, tuple[np.ndarray, np.ndarray]] | None = None


def _pattern_can_match_space(pattern: str) -> bool:
    """Statically decide whether a regex match (group 0) could ever
    consume the join separator ' ', by walking the sre parse tree.
    Sound for the constructs it knows; anything unknown (backrefs,
    future opcodes) conservatively counts as "can match", which makes
    the dict kernel refuse rather than silently diverge."""
    from re import _parser as sre

    SPACE = ord(" ")

    def atom(op, av) -> bool:
        if op is sre.LITERAL:
            return av == SPACE
        if op is sre.NOT_LITERAL:
            return av != SPACE
        if op is sre.RANGE:
            return av[0] <= SPACE <= av[1]
        if op is sre.CATEGORY:
            # space is: whitespace, a non-word char, a non-digit char
            return av in (
                sre.CATEGORY_SPACE,
                sre.CATEGORY_NOT_WORD,
                sre.CATEGORY_NOT_DIGIT,
            )
        if op is sre.ANY:
            return True  # '.' matches ' '
        return True  # unknown atom: conservative

    def walk(items) -> bool:
        for op, av in items:
            if op in (sre.LITERAL, sre.NOT_LITERAL, sre.RANGE, sre.CATEGORY, sre.ANY):
                if atom(op, av):
                    return True
            elif op is sre.IN:
                members = av
                if members and members[0][0] is sre.NEGATE:
                    if not any(atom(o, a) for o, a in members[1:]):
                        return True
                elif any(atom(o, a) for o, a in members):
                    return True
            elif op in (sre.MAX_REPEAT, sre.MIN_REPEAT):
                if walk(av[2]):
                    return True
            elif op is sre.SUBPATTERN:
                if walk(av[3]):
                    return True
            elif op is sre.BRANCH:
                if any(walk(b) for b in av[1]):
                    return True
            elif op is sre.AT:
                pass  # anchors (\b, ^, $) consume nothing
            elif op in (sre.ASSERT, sre.ASSERT_NOT):
                pass  # lookaround content is not part of group 0
            else:
                return True  # GROUPREF / unknown: conservative
        return False

    return walk(sre.parse(pattern))


def _token_boundary_safe(pattern: str) -> bool:
    """The equivalence only holds if the pattern cannot match a string
    containing the join separator (space) — proven statically, not by
    probing."""
    return not _pattern_can_match_space(pattern)


def _build_dict_tables() -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """field -> (matched_mask[VOCAB_SIZE], value[VOCAB_SIZE]) computed
    by running the SAME arrow regex bank over the vocabulary."""
    global _dict_tables
    if _dict_tables is not None:
        return _dict_tables
    vocab_arr = _vocab_arrow()
    tables: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for name, (pattern, dtype) in _ARROW_PATTERNS.items():
        assert _token_boundary_safe(PATTERN_BANK[name][0]), name
        struct = pc.extract_regex(vocab_arr, pattern)
        col = pc.struct_field(struct, name)
        mask = pc.is_valid(col).to_numpy(zero_copy_only=False)
        if dtype == "int":
            vals = pc.cast(col, pa.int32()).to_numpy(zero_copy_only=False)
            vals = np.where(mask, vals, 0).astype(np.int32)
        else:
            vals = np.asarray(col.to_pylist(), dtype=object)
        tables[name] = (mask, vals)
    _dict_tables = tables
    return tables


def extract_fields_dict(tokens: pa.ListArray) -> dict[str, pa.Array]:
    """Gather-based extraction: identical results to
    extract_fields_arrow(decode_tokens_arrow(tokens)) for the built-in
    pattern bank (tested), ~no string materialization at all.

    Empty and null token rows yield null fields (same as the regex
    kernel).  reduceat cannot take a start index == len(values), so
    the per-row min runs only over non-empty, non-null segments and the
    results are scattered back; ids are clipped defensively because the
    Arrow spec allows null slots to carry arbitrary offset ranges."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    tables = _build_dict_tables()
    offsets = tokens.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    starts, ends = offsets[:-1], offsets[1:]
    n = len(starts)
    # offsets are ABSOLUTE indexes into the (unsliced) child values
    # buffer; for a sliced ListArray the window [lo, hi) is a proper
    # sub-range of values — hits must be searched in that window only,
    # or pre-slice elements map to out-of-range rows (negative /
    # past-the-end indexes) and corrupt the scatter
    lo = int(offsets[0]) if len(offsets) else 0
    hi = int(offsets[-1]) if len(offsets) else 0
    total = hi - lo

    row_ok = ends > starts
    if tokens.null_count:
        row_ok &= ~tokens.is_null().to_numpy(zero_copy_only=False)

    def _all_null(dtype: str) -> pa.Array:
        t = pa.int32() if dtype == "int" else pa.string()
        return pa.nulls(n, type=t)

    if total == 0 or not row_ok.any():
        return {name: _all_null(dt) for name, (_, dt) in _ARROW_PATTERNS.items()}

    vocab_size = len(_vocab_arrow())
    ids = tokens.values.to_numpy(zero_copy_only=False)

    # sparse hit extraction: in log-like data almost no token matches
    # any pattern, so do ONE full-width pass (combined any-field mask,
    # take(mode='clip') doubles as the out-of-vocab guard) to find hit
    # positions; all per-field work then runs over the tiny hit set
    # instead of four full-width gather+reduceat passes (measured ~5.5x
    # on the generated corpus, identical results)
    any_mask = np.zeros(vocab_size, dtype=bool)
    for mask_tab, _ in tables.values():
        any_mask |= mask_tab
    window = ids[lo:hi]
    hit_pos = lo + np.flatnonzero(any_mask.take(window, mode="clip"))
    hit_ids = np.clip(ids[hit_pos], 0, vocab_size - 1)
    # row of each hit: offsets[i] <= pos < offsets[i+1]; 'right' lands
    # after any zero-width (empty) segments at the same offset
    hit_row = np.searchsorted(offsets, hit_pos, side="right") - 1

    out: dict[str, pa.Array] = {}
    for name, (mask_tab, val_tab) in tables.items():
        sel = mask_tab[hit_ids]
        row_f = hit_row[sel]
        # hits are in ascending position order, so the first occurrence
        # per row is the row's earliest match
        urow, first_idx = np.unique(row_f, return_index=True)
        first_ids = hit_ids[sel][first_idx]

        valid = np.zeros(n, dtype=bool)
        valid[urow] = True
        valid &= row_ok  # null rows stay null even if their slot range
        #                  carries garbage values (Arrow allows that)
        dtype = _ARROW_PATTERNS[name][1]
        if dtype == "int":
            vals = np.zeros(n, dtype=np.int32)
            vals[urow] = val_tab[first_ids]
            vals = np.where(valid, vals, 0).astype(np.int32)
            out[name] = pa.array(vals, mask=~valid, type=pa.int32())
        else:
            gathered = np.full(n, None, dtype=object)
            gathered[urow] = val_tab[first_ids]
            gathered = np.where(valid, gathered, None)
            out[name] = pa.array(gathered, type=pa.string())
    return out


def parse_stage_dict(
    df: DataFrame, passthrough: list[str] | None = None
) -> DataFrame:
    """mapInArrow parse using the dictionary-accelerated kernel."""
    in_cols = list(df.columns) if passthrough is None else list(passthrough)
    needed = list(dict.fromkeys(in_cols + ["tokens"]))
    projected = df.select(*needed)
    in_schema = {f.name: f for f in projected.schema.fields}
    fields = [in_schema[c] for c in in_cols] + PARSED_SCHEMA.fields
    out_schema = T.StructType(fields)
    out_names = [f.name for f in fields]

    def run(batches):
        pa.set_cpu_count(1)
        for b in batches:
            if b.num_rows == 0:
                continue
            extracted = extract_fields_dict(b.column("tokens"))
            cols = [b.column(c) for c in in_cols] + [extracted[n] for n in PARSED_FIELDS]
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return projected.mapInArrow(run, schema=out_schema)
