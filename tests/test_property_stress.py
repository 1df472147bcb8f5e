"""Randomized shape/null stress — the analog of the reference's
versify fuzzer (/root/reference/ion/versify/generator.go:14-35), which
generates look-alike data to shake out scan edge cases the fixed corpus
can't reach.

Each seeded case builds an adversarial frame (empty token arrays,
length-1 rows, boundary token ids, motifs at first/last position,
adjacent motifs, duplicate doc_ids, the occasional null source) and runs
it through the FULL pipeline — the production dict kernel and the
regex reference (tests/parse_reference.py) — comparing routed
rows (token-array equality per BASELINE.json) and per-sink aggregates
against the independent pandas oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
import pytest
from parse_reference import parse_stage

from sneller_spark.datagen import SOURCES, TOKENS_SCHEMA
from sneller_spark.lookups import lookup_source_df, route_rules_df
from sneller_spark.oracle import run_oracle
from sneller_spark.pipeline.enrich import enrich_stage
from sneller_spark.pipeline.route import route_stage
from sneller_spark.pipeline.runner import transform
from sneller_spark.vocab import MOTIF_BASE, N_MOTIFS, VOCAB_SIZE

N_CASES = 12
ROWS_PER_CASE = 120


def _random_frame(seed: int, n: int = ROWS_PER_CASE) -> pd.DataFrame:
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = []
    for i in range(n):
        shape = rng.integers(0, 10)
        if shape == 0:
            toks = np.array([], dtype=np.int32)  # empty tokens
        elif shape == 1:
            toks = rng.integers(0, MOTIF_BASE + N_MOTIFS, size=1).astype(np.int32)
        elif shape == 2:  # all-motif row (adjacent motifs)
            toks = (MOTIF_BASE + rng.integers(0, N_MOTIFS, size=rng.integers(2, 6))).astype(np.int32)
        elif shape == 3:  # boundary ids
            toks = np.array(
                [0, MOTIF_BASE - 1, MOTIF_BASE, VOCAB_SIZE - 1], dtype=np.int32
            )
        else:
            ln = int(rng.integers(1, 40))
            toks = rng.integers(0, MOTIF_BASE, size=ln).astype(np.int32)
            if shape in (4, 5):  # motif at first / last position
                pos = 0 if shape == 4 else ln - 1
                toks[pos] = MOTIF_BASE + int(rng.integers(0, N_MOTIFS))
            elif shape == 6 and ln >= 2:  # two adjacent motifs mid-row
                p = int(rng.integers(0, ln - 1))
                toks[p] = MOTIF_BASE + int(rng.integers(0, N_MOTIFS))
                toks[p + 1] = MOTIF_BASE + int(rng.integers(0, N_MOTIFS))
        # duplicate doc ids on purpose (shape 7)
        doc_id = f"doc-{i:06d}" if shape != 7 else "doc-dup"
        source = SOURCES[int(rng.integers(0, len(SOURCES)))]
        rows.append((doc_id, toks, np.int32(len(toks)), source))
    return pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])


def _canon_routed(pdf: pd.DataFrame) -> list[tuple]:
    cols = ["doc_id", "n_tok", "source", "level", "code", "ip", "lat_ms",
            "tenant", "category", "sink_id"]
    out = []
    for _, r in pdf.iterrows():
        key = tuple(None if pd.isna(v) else v for v in (r[c] for c in cols))
        toks = tuple(int(t) for t in (r["tokens"] if r["tokens"] is not None else ()))
        out.append(key + (toks,))
    return sorted(out)


def _canon_agg(pdf: pd.DataFrame) -> list[tuple]:
    out = []
    for _, r in pdf.iterrows():
        out.append((
            r["sink_id"], r["source"],
            None if pd.isna(r["level"]) else r["level"],
            int(r["n_rows"]), int(r["sum_n_tok"]),
        ))
    return sorted(out, key=lambda t: tuple("" if v is None else str(v) for v in t))


def _transform(spark, df, kernel: str):
    """``transform`` with the production kernel, or the regex reference
    parse followed by the Catalyst enrich and route joins."""
    if kernel == "dict":
        return transform(spark, df)
    enriched = enrich_stage(parse_stage(df), lookup_source_df(spark))
    return route_stage(enriched, route_rules_df(spark))


@pytest.mark.parametrize("seed", range(N_CASES))
@pytest.mark.parametrize("kernel", ["dict", "regex"])
def test_random_shapes_match_oracle(spark, seed, kernel):
    pdf = _random_frame(seed)
    exp_routed, exp_agg = run_oracle(pdf)

    df = spark.createDataFrame(pdf, schema=TOKENS_SCHEMA)
    routed = _transform(spark, df, kernel).toPandas()
    assert _canon_routed(routed) == _canon_routed(exp_routed), f"seed={seed}"

    from sneller_spark.pipeline.aggregate import aggregate_per_sink_salted

    got_agg = aggregate_per_sink_salted(
        _transform(spark, df, kernel)
    ).toPandas()
    assert _canon_agg(got_agg) == _canon_agg(exp_agg), f"seed={seed}"


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_paragraph_dedup_invariants_random(spark, seed):
    """Random multi-paragraph corpora: (1) the multiset of surviving
    paragraphs equals the distinct paragraphs of the input; (2) each
    doc's survivors appear in their original relative order; (3) every
    paragraph survives in the doc where it FIRST appeared."""
    from sneller_spark.operators.curation import paragraph_dedup

    rng = np.random.Generator(np.random.PCG64(seed))
    pool = [f"para-{i}" for i in range(12)]
    rows = []
    for doc_id in range(20):
        k = int(rng.integers(1, 6))
        paras = [pool[int(i)] for i in rng.integers(0, len(pool), size=k)]
        rows.append((doc_id, "\n\n".join(paras)))
    got = (
        paragraph_dedup(spark.createDataFrame(rows, ["doc_id", "text"]))
        .toPandas()
        .set_index("doc_id")["text"]
        .to_dict()
    )

    # python reference: keep first (doc, pos) occurrence of each para
    first_doc: dict[str, tuple[int, int]] = {}
    for doc_id, text in rows:
        for pos, p in enumerate(text.split("\n\n")):
            if p and p not in first_doc:
                first_doc[p] = (doc_id, pos)
    expect: dict[int, str] = {d: "" for d, _ in rows}
    for doc_id, text in rows:
        kept = [
            p for pos, p in enumerate(text.split("\n\n"))
            if p and first_doc[p] == (doc_id, pos)
        ]
        expect[doc_id] = "\n\n".join(kept)
    assert got == expect


# =====================================================================
# SQL-veneer fuzz (VERDICT r5 item 6): for every registered veneer
# family, seeded-random adversarial inputs — nulls, empty strings,
# multi-script unicode (incl. astral-plane surrogates), malformed
# IPv4/CIDR text, mismatched/empty vectors, overflow-scale doubles,
# pre-epoch and bucket-boundary timestamps, pole/antimeridian
# coordinates — and the SQL-text result must equal the DataFrame
# implementation NULL-for-NULL and bit-for-bit (NaN-safe <=>).  The
# fixed-example equalities live in tests/test_sql_veneer.py; this is
# the randomized edge sweep.
# =====================================================================

_VENEER_SEEDS = [101, 202, 303]
_VCHARS = list("abcXYZ 09._-") + ["É", "ß", "Σ", "ς", "中", "🙂", "\t", "'", '"', "\\"]


def _vrand_str(rng, maxlen=12):
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.16:
        return ""
    return "".join(rng.choice(_VCHARS) for _ in range(rng.randint(1, maxlen)))


def _vrand_ip(rng):
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.5:  # well-formed (sometimes out-of-range octets)
        return ".".join(str(rng.randint(-1, 300)) for _ in range(4))
    if r < 0.6:
        return ".".join(f"{rng.randint(0, 255):03d}" for _ in range(4))  # leading zeros
    if r < 0.7:
        return ".".join(str(rng.randint(0, 255)) for _ in range(rng.randint(1, 6)))
    return _vrand_str(rng, 8)


def _vrand_vec(rng):
    if rng.random() < 0.06:
        return None
    n = rng.randint(0, 4)
    pool = [0.0, -0.0, 1.0, -2.5, 1e300, -1e300, 1e-12, 3.7]
    return [rng.choice(pool) for _ in range(n)]


def _veneer_fuzz_df(spark, seed: int, n: int = 250):
    import random as _random

    rng = _random.Random(seed)
    hour_us = 3_600_000_000
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.1:
            t_us = None
        elif r < 0.4:  # exact bucket boundaries +/- 1us
            t_us = rng.randint(-400, 400) * hour_us + rng.choice([-1, 0, 1])
        else:
            t_us = rng.randint(-3_000_000_000_000_000, 3_000_000_000_000_000)
        rows.append(
            (
                f"r{i:05d}",
                _vrand_str(rng),
                _vrand_str(rng, 4),
                _vrand_ip(rng),
                rng.choice(
                    [None, "10.0.0.0/8", "10.0.0.0/33", "10.0.0.0/-1", "junk",
                     "1.2.3.4", "0.0.0.0/0", "255.255.255.255/32", "300.1.2.3/8"]
                ),
                _vrand_vec(rng),
                _vrand_vec(rng),
                t_us,
                rng.choice([None, -90.0, 90.0, -85.05112878, 85.05112878, 0.0,
                            rng.uniform(-90, 90)]),
                rng.choice([None, -180.0, 180.0, 0.0, rng.uniform(-180, 180)]),
                _vrand_str(rng),
            )
        )
    df = spark.createDataFrame(
        rows,
        "id string, s string, needle string, ip string, cidr string, "
        "ax array<double>, bx array<double>, t_us long, lat double, "
        "lon double, key string",
    ).withColumn("ts", F.timestamp_micros(F.col("t_us")))
    df.createOrReplaceTempView("veneer_fuzz")
    return df


def _assert_veneer_eq(spark, df, pairs, rel_tol: float | None = None):
    """pairs: [(sql_expr, df_col)] — NaN-safe, null-safe equality on
    every fuzz row (Spark's <=> treats NaN equal to NaN).  rel_tol
    admits last-ulp drift from evaluation-order differences between
    the inlined SQL body and the DF expression tree (geo haversine);
    a null-vs-value mismatch still fails (coalesce false)."""
    for sql_expr, col in pairs:
        sql_res = spark.sql(f"SELECT id, {sql_expr} AS v_sql FROM veneer_fuzz")
        j = sql_res.join(df.select("id", col.alias("v_df")), "id")
        mism = j.filter(~F.expr("v_sql <=> v_df"))
        if rel_tol is not None:
            mism = mism.filter(
                "NOT coalesce(abs(v_sql - v_df) <= "
                f"{rel_tol} * greatest(abs(v_df), 1.0), false)"
            )
        bad = mism.limit(5).collect()
        assert not bad, (sql_expr, bad)


@pytest.fixture(scope="module")
def _veneer_registered(spark):
    from sneller_spark.sql_registry import register_sql_functions

    register_sql_functions(spark)


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_strings(spark, _veneer_registered, seed):
    from sneller_spark.functions import scalar as sc

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        ("contains_ci(s, needle)", F.instr(F.lower("s"), F.lower("needle")) > 0),
        ("contains_ci(s, 'É🙂')", sc.contains_ci(F.col("s"), "É🙂")),
        ("equals_ci(s, needle)", F.lower("s") == F.lower("needle")),
        ("equals_fuzzy(s, needle, 2)", sc.equals_fuzzy(F.col("s"), F.col("needle"), 2)),
        ("equals_fuzzy(s, needle, 0)", sc.equals_fuzzy(F.col("s"), F.col("needle"), 0)),
    ])


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_ipv4(spark, _veneer_registered, seed):
    from sneller_spark.functions import scalar as sc

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        ("ip_to_long(ip)", sc.ip_to_long(F.col("ip"))),
        ("is_subnet_of('10.0.0.0/8', ip)", sc.is_subnet_of("10.0.0.0/8", F.col("ip"))),
        ("is_subnet_of('0.0.0.0/0', ip)", sc.is_subnet_of("0.0.0.0/0", F.col("ip"))),
        ("is_subnet_of('255.255.255.255/32', ip)",
         sc.is_subnet_of("255.255.255.255/32", F.col("ip"))),
        ("ip_in_range('10.0.0.0', '172.16.255.255', ip)",
         sc.ip_in_range(F.lit("10.0.0.0"), F.lit("172.16.255.255"), F.col("ip"))),
    ])
    # malformed CIDR text in a COLUMN must degrade to NULL, never throw
    got = spark.sql(
        "SELECT is_subnet_of(cidr, ip) AS v FROM veneer_fuzz "
        "WHERE cidr IN ('junk', '1.2.3.4', '10.0.0.0/33', '10.0.0.0/-1')"
    ).collect()
    assert all(r["v"] is None for r in got)


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_vectors(spark, _veneer_registered, seed):
    from sneller_spark.functions import scalar as sc

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        ("inner_product(ax, bx)", sc.inner_product(F.col("ax"), F.col("bx"))),
        ("l1_distance(ax, bx)", sc.l1_distance(F.col("ax"), F.col("bx"))),
        ("l2_distance(ax, bx)", sc.l2_distance(F.col("ax"), F.col("bx"))),
        ("cosine_distance(ax, bx)", sc.cosine_distance(F.col("ax"), F.col("bx"))),
    ])


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_time(spark, _veneer_registered, seed):
    from sneller_spark.functions import scalar as sc

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        ("time_bucket(ts, 1)", sc.time_bucket(F.col("ts"), 1)),
        ("time_bucket(ts, 7)", sc.time_bucket(F.col("ts"), 7)),
        ("time_bucket(ts, 3600)", sc.time_bucket(F.col("ts"), 3600)),
        ("date_bin(900, ts, timestamp'2023-01-01 00:00:00')",
         sc.date_bin(F.col("ts"), 900, "2023-01-01 00:00:00")),
        ("date_bin(86400, ts, timestamp'1970-01-03 11:22:33')",
         sc.date_bin(F.col("ts"), 86400, "1970-01-03 11:22:33")),
    ])


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_geo(spark, _veneer_registered, seed):
    from sneller_spark.functions import scalar as sc

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        ("geo_distance(lat, lon, 48.8566d, 2.3522d)",
         sc.geo_distance_m(F.col("lat"), F.col("lon"), F.lit(48.8566), F.lit(2.3522))),
    ], rel_tol=1e-12)
    _assert_veneer_eq(spark, df, [
        ("geo_tile_x(lon, 0)", sc.geo_tile_x(F.col("lon"), 0)),
        ("geo_tile_x(lon, 20)", sc.geo_tile_x(F.col("lon"), 20)),
        ("geo_tile_y(lat, 8)", sc.geo_tile_y(F.col("lat"), 8)),
        ("geo_tile_es(lat, lon, 8)", sc.geo_tile_es(F.col("lat"), F.col("lon"), 8)),
    ])


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_curation(spark, _veneer_registered, seed):
    from sneller_spark.operators import curation

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        ("split_bucket(key, 'fz')", curation.split_bucket_col(F.col("key"), "fz")),
    ])
    # split_label vs the hash_split operator (NULL keys: the operator
    # documents dropping them; the scalar yields NULL -> compare on
    # non-null keys only) and sample_keep vs deterministic_sample
    non_null = df.filter(F.col("key").isNotNull())
    labeled = curation.hash_split(
        non_null, "key", {"train": 0.7, "val": 0.2, "test": 0.1}, salt="fz2"
    )
    got_df = {r["id"]: r["split"] for r in labeled.select("id", "split").collect()}
    got_sql = {
        r["id"]: r["v"]
        for r in spark.sql(
            "SELECT id, split_label(key, 'fz2', 0.7d, 0.2d) AS v "
            "FROM veneer_fuzz WHERE key IS NOT NULL"
        ).collect()
    }
    assert got_sql == got_df
    kept_df = {
        r["id"]
        for r in curation.deterministic_sample(df, "key", 0.4, salt="fz3")
        .select("id").collect()
    }
    kept_sql = {
        r["id"]
        for r in spark.sql(
            "SELECT id FROM veneer_fuzz WHERE sample_keep(key, 0.4d, 'fz3')"
        ).collect()
    }
    assert kept_sql == kept_df


@pytest.mark.parametrize("seed", _VENEER_SEEDS)
def test_veneer_fuzz_cm_bucket(spark, _veneer_registered, seed):
    from sneller_spark.operators.sketch import cm_cells

    df = _veneer_fuzz_df(spark, seed)
    _assert_veneer_eq(spark, df, [
        (
            f"cm_bucket(key, {d}, 64, 7)",
            F.element_at(cm_cells("key", 4, 64, 7), d + 1)["bucket"],
        )
        for d in range(4)
    ])
