"""Parse-stage correctness: the production dict kernel and the JVM
kernel vs the regex reference (tests/parse_reference.py) and the
independent pandas oracle, plus motif ground-truth checks."""

from __future__ import annotations

import numpy as np
import pandas as pd

from parse_reference import (
    decode_texts_np,
    decode_tokens_arrow,
    extract_fields_arrow,
    parse_batch,
    tokens_series_to_arrow,
)

from sneller_spark.datagen import generate_chunk
from sneller_spark.oracle import parse_pdf
from sneller_spark.vocab import MOTIF_BASE, build_vocab, motif_ground_truth


def _norm(s: pd.Series) -> list:
    return [None if pd.isna(v) else v for v in s]


def test_decode_matches_vocab():
    vocab = build_vocab()
    toks = [np.array([0, 1, 2], dtype=np.int32), np.array([MOTIF_BASE], dtype=np.int32)]
    texts = decode_texts_np(toks)
    assert texts[0] == f"{vocab[0]} {vocab[1]} {vocab[2]}"
    assert texts[1] == "LEVEL=DEBUG"


def test_parse_batch_matches_oracle():
    pdf = generate_chunk(0, 4000)
    got = parse_batch(pdf)
    exp = parse_pdf(pdf)
    for col in ("level", "code", "ip", "lat_ms"):
        g, e = _norm(got[col]), _norm(exp[col])
        assert g == e, f"mismatch in {col}"


def test_parse_ground_truth_motifs():
    """Every embedded motif must be extracted with its known value."""
    pdf = generate_chunk(0, 4000)
    truth = motif_ground_truth()
    got = parse_batch(pdf)
    n_checked = 0
    for i in range(len(pdf)):
        toks = np.asarray(pdf["tokens"].iloc[i])
        motifs = toks[toks >= MOTIF_BASE]
        expected: dict[str, object] = {}
        for m in motifs:
            expected.update(truth[int(m)])
        for field in ("level", "code", "ip", "lat_ms"):
            v = got[field].iloc[i]
            v = None if pd.isna(v) else v
            if field in expected:
                assert v == expected[field], (i, field, v, expected)
                n_checked += 1
            else:
                assert v is None, (i, field, v)
    assert n_checked > 2000


def test_no_match_is_null():
    pdf = generate_chunk(0, 2000)
    clean = pdf[pdf["tokens"].map(lambda t: (np.asarray(t) < MOTIF_BASE).all())]
    assert len(clean) > 100
    got = parse_batch(clean.reset_index(drop=True))
    for col in ("level", "code", "ip", "lat_ms"):
        assert got[col].isna().all()


def test_jvm_parse_equals_arrow_parse(spark):
    """parse_stage (regex reference, Arrow UDF) and parse_stage_jvm
    (pure Catalyst) must agree on every extracted field."""
    from parse_reference import parse_stage

    from sneller_spark.datagen import TOKENS_SCHEMA, generate_chunk
    from sneller_spark.pipeline.parse import parse_stage_jvm

    pdf = generate_chunk(0, 3000)
    df = spark.createDataFrame(pdf, schema=TOKENS_SCHEMA).repartition(8)
    cols = ["doc_id", "level", "code", "ip", "lat_ms"]
    a = parse_stage(df).select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = parse_stage_jvm(df).select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    for c in cols:
        ga = [None if pd.isna(v) else v for v in a[c]]
        gb = [None if pd.isna(v) else v for v in b[c]]
        assert ga == gb, c


def test_dict_kernel_equals_regex_kernel():
    """Dictionary-accelerated extraction must be bit-identical to the
    regex-over-decoded-text kernel on a large generated batch."""
    from sneller_spark.pipeline.parse import extract_fields_dict

    pdf = generate_chunk(50_000, 80_000)
    arr = tokens_series_to_arrow(pdf["tokens"])
    a = extract_fields_arrow(decode_tokens_arrow(arr))
    b = extract_fields_dict(arr)
    for k in a:
        assert a[k].to_pylist() == b[k].to_pylist(), k


def test_dict_kernel_stage_matches_oracle(spark):
    from sneller_spark.datagen import TOKENS_SCHEMA
    from sneller_spark.oracle import parse_pdf
    from sneller_spark.pipeline.parse import parse_stage_dict

    pdf = generate_chunk(0, 3000)
    df = spark.createDataFrame(pdf, schema=TOKENS_SCHEMA).repartition(8)
    got = (
        parse_stage_dict(df)
        .select("doc_id", "level", "code", "ip", "lat_ms")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = parse_pdf(pdf)
    for c in ("level", "code", "ip", "lat_ms"):
        g = [None if pd.isna(v) else v for v in got[c]]
        e = [None if pd.isna(v) else v for v in exp[c]]
        assert g == e, c


def test_dict_kernel_empty_and_null_tokens():
    """Empty / null token rows must yield null fields, not crash —
    including an empty array in the LAST row (reduceat start == total,
    the round-1 IndexError)."""
    import pyarrow as pa

    from sneller_spark.pipeline.parse import extract_fields_dict
    from sneller_spark.vocab import MOTIF_BASE

    cases = [
        [MOTIF_BASE, 0, 1],  # normal row with a match
        [],                  # empty mid-batch
        [0, 1, 2],           # normal row, no match
        None,                # null row
        [],                  # empty LAST row (the crash case)
    ]
    arr = pa.array(cases, type=pa.list_(pa.int32()))
    got = extract_fields_dict(arr)
    exp = extract_fields_arrow(decode_tokens_arrow(arr))
    for name in got:
        assert got[name].to_pylist() == exp[name].to_pylist(), name
    # and an all-empty batch
    arr2 = pa.array([[], None, []], type=pa.list_(pa.int32()))
    got2 = extract_fields_dict(arr2)
    assert all(v.null_count == 3 for v in got2.values())


def test_pattern_space_static_check():
    from sneller_spark.pipeline.parse import _pattern_can_match_space
    from sneller_spark.vocab import PATTERN_BANK

    # every built-in bank pattern must be provably space-free
    for name, (pattern, _) in PATTERN_BANK.items():
        assert not _pattern_can_match_space(pattern), name
    # adversarial patterns that CAN consume the separator must be caught
    unsafe = [
        r"a.b",              # dot
        r"x\sy",             # \s
        r"k=(?P<v>[^,]+)",   # negated class containing space
        r"a b",              # literal space
        r"v=(?P<v>\D+)",     # \D matches space
        r"(?P<v>\W)",        # \W matches space
        r"a(?: |_)b",        # branch with a space arm
    ]
    for p in unsafe:
        assert _pattern_can_match_space(p), p
    safe = [
        r"\bLEVEL=(?P<level>DEBUG|INFO)\b",
        r"\bcode=(?P<code>\d{3})\b",
        r"(?P<ip>\d{1,3}(?:\.\d{1,3}){3})",
        r"(?=x )x",          # lookahead content is not part of group 0
    ]
    for p in safe:
        assert not _pattern_can_match_space(p), p


def test_dict_equals_regex_kernel_hypothesis():
    """Property: the sparse dict kernel equals the regex kernel on
    ARBITRARY batches — null rows, empty arrays, any in-vocab ids, any
    batch shape (hypothesis with shrinking; kernel-level, no Spark)."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sneller_spark.pipeline.parse import extract_fields_dict
    from sneller_spark.vocab import VOCAB_SIZE

    rows = st.lists(
        st.one_of(
            st.none(),
            st.lists(st.integers(0, VOCAB_SIZE - 1), max_size=40),
        ),
        max_size=25,
    )

    @given(rows)
    @settings(max_examples=250, deadline=None)
    def check(cases):
        arr = pa.array(cases, type=pa.list_(pa.int32()))
        got = extract_fields_dict(arr)
        exp = extract_fields_arrow(decode_tokens_arrow(arr))
        for name in got:
            assert got[name].to_pylist() == exp[name].to_pylist(), name

    check()


def test_dict_kernel_on_sliced_arrays():
    """A SLICED ListArray keeps absolute offsets into the full child
    buffer; the kernel must search hits only inside the slice window
    (round-2 review bug: pre-slice motifs leaked into row -1)."""
    import pyarrow as pa

    from sneller_spark.pipeline.parse import extract_fields_dict
    from sneller_spark.vocab import MOTIF_BASE

    base = pa.array(
        [[MOTIF_BASE, 0, 1], [0, 1], [2, 3], [MOTIF_BASE + 1, 5], [6]],
        type=pa.list_(pa.int32()),
    )
    for sl in (base.slice(1), base.slice(0, 3), base.slice(1, 3), base.slice(2)):
        got = extract_fields_dict(sl)
        exp = extract_fields_arrow(decode_tokens_arrow(sl))
        for name in got:
            assert got[name].to_pylist() == exp[name].to_pylist(), (name, sl.offset)
