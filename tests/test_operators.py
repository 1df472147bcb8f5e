"""Dedup / similarity / text operators vs naive python references."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sneller_spark.operators.dedup import (
    exact_dedup,
    jaccard_similarity_pairs,
    minhash_candidate_pairs,
    minhash_signatures,
    simhash_fingerprint,
)
from sneller_spark.operators.similarity import brute_force_cosine_topk, lsh_bucketed_topk
from sneller_spark.operators.text import (
    document_fingerprint,
    language_id,
    quality_features,
    token_count,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about spark query engines and joins"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "der schnelle braune fuchs springt ueber den faulen hund am fluss"),
    (5, "el rapido zorro marron salta sobre el perro perezoso junto al rio"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs_df):
    groups = exact_dedup(docs_df, "doc_id", "text").toPandas()
    assert len(groups) == 5  # 6 docs, one exact duplicate pair
    dup = groups[groups.n_copies > 1]
    assert len(dup) == 1 and dup.iloc[0]["keep_id"] == 0 and dup.iloc[0]["n_copies"] == 2


def test_minhash_near_dup_detection(spark, docs_df):
    sigs = minhash_signatures(docs_df, "doc_id", "text", n_hashes=16, shingle_k=3)
    pdf = sigs.toPandas().set_index("id").sort_index()
    # exact dups share the whole signature
    assert (pdf.loc[0] == pdf.loc[3]).all()
    # near-dups share most minhashes; unrelated docs share almost none
    near = (pdf.loc[0] == pdf.loc[1]).mean()
    far = (pdf.loc[0] == pdf.loc[2]).mean()
    assert near > 0.5 > far

    pairs = minhash_candidate_pairs(sigs, n_hashes=16, bands=8).toPandas()
    pairset = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 3) in pairset and (0, 1) in pairset
    assert (0, 2) not in pairset and (4, 5) not in pairset


def test_simhash(spark, docs_df):
    fp = simhash_fingerprint(docs_df, "doc_id", "text", bits=32).toPandas()
    fp = fp.set_index("id")["simhash"]
    assert fp.loc[0] == fp.loc[3]  # exact dup -> identical fingerprint

    def hamming(a, b):
        return bin(int(a) ^ int(b)).count("1")

    assert hamming(fp.loc[0], fp.loc[1]) < hamming(fp.loc[0], fp.loc[2])


def test_jaccard_pairs_exact_math(spark, docs_df):
    got = jaccard_similarity_pairs(docs_df, "doc_id", "text", shingle_k=3, min_sim=0.1)
    got = got.toPandas().set_index(["id_a", "id_b"])

    def shingles(t, k=3):
        w = t.split()
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    for (a, b), row in got.iterrows():
        sa, sb = shingles(DOCS[a][1]), shingles(DOCS[b][1])
        exp = len(sa & sb) / len(sa | sb)
        assert abs(row["jaccard"] - exp) < 1e-6, (a, b)
    assert (0, 3) in got.index and (0, 1) in got.index


def test_jaccard_hot_shingle_cap(spark):
    """One boilerplate shingle shared by 1,000 docs: uncapped, the
    inverted-index join is ~500k rows; with the DF cap the hot shingle
    is dropped before the join and only genuinely-similar pairs (via
    sub-threshold shingles) survive."""
    import time

    n = 1000
    rows = [
        (i, f"common boiler plate u{i}a u{i}b u{i}c u{i}d") for i in range(n)
    ]
    # plant one near-dup pair sharing plenty of sub-threshold shingles
    rows.append((5000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((5001, "alpha beta gamma delta epsilon zeta eta iota"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t0 = time.monotonic()
    got = jaccard_similarity_pairs(
        df, "doc_id", "text", shingle_k=3, min_sim=0.1, max_doc_freq=100
    ).toPandas()
    elapsed = time.monotonic() - t0
    pairset = set(map(tuple, got[["id_a", "id_b"]].values.tolist()))
    assert (5000, 5001) in pairset
    # no pair is discoverable through the dropped hot shingle alone
    assert all(a >= 5000 for a, _ in pairset)
    assert elapsed < 60
    # exact math preserved for sub-threshold shingles: 6 each, 5 shared
    row = got.set_index(["id_a", "id_b"]).loc[(5000, 5001)]
    assert abs(row["jaccard"] - 5 / 7) < 1e-6


def test_jaccard_cap_noop_below_threshold(spark, docs_df):
    """When no shingle reaches the cap, capped == exact uncapped."""
    capped = jaccard_similarity_pairs(
        docs_df, "doc_id", "text", shingle_k=3, min_sim=0.1, max_doc_freq=100
    )
    exact = jaccard_similarity_pairs(docs_df, "doc_id", "text", shingle_k=3, min_sim=0.1)
    a = sorted(map(tuple, capped.toPandas().values.tolist()))
    b = sorted(map(tuple, exact.toPandas().values.tolist()))
    assert a == b


def test_cosine_blocked_degenerate_bucket_cap(spark):
    """1,000 identical embeddings all land in one SRP bucket: without
    the cap the self-join is ~500k pairs; with it, exactly n-1 star
    pairs to the min-id representative, all passing the exact cosine
    re-check."""
    import time

    from sneller_spark.operators.similarity import cosine_near_dup_pairs_blocked

    n = 1000
    vec = [float(v) for v in np.arange(16) / 16.0 + 0.1]
    df = spark.createDataFrame([(i, vec) for i in range(n)], ["vec_id", "embedding"])
    t0 = time.monotonic()
    got = cosine_near_dup_pairs_blocked(
        df, threshold=0.999, n_planes=6, max_bucket_size=64
    ).toPandas()
    elapsed = time.monotonic() - t0
    assert len(got) == n - 1
    assert set(got["id_a"]) == {0}
    assert set(got["id_b"]) == set(range(1, n))
    assert (got["cos_sim"] >= 0.999).all()
    assert elapsed < 60


def test_cosine_blocked_cap_keeps_small_buckets_exact(spark):
    """Buckets under the cap: capped == uncapped, bit-identical."""
    from sneller_spark.operators.similarity import cosine_near_dup_pairs_blocked

    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((40, 16))
    rows = [(i, [float(v) for v in base[i]]) for i in range(40)]
    for i in range(5):
        rows.append((100 + i, [float(v) for v in base[i] + 1e-4 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = cosine_near_dup_pairs_blocked(
        df, threshold=0.999, n_planes=6, max_bucket_size=1000
    ).toPandas()
    uncapped = cosine_near_dup_pairs_blocked(df, threshold=0.999, n_planes=6).toPandas()
    assert sorted(map(tuple, capped.values.tolist())) == sorted(
        map(tuple, uncapped.values.tolist())
    )


def test_brute_force_cosine_matches_numpy(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    q = vecs[0].astype(np.float64)
    got = brute_force_cosine_topk(df, q.tolist(), k=5, round_digits=None).toPandas()
    sims = (vecs.astype(np.float64) @ q) / (
        np.linalg.norm(vecs.astype(np.float64), axis=1) * np.linalg.norm(q)
    )
    exp_ids = np.argsort(-sims, kind="stable")[:5]
    assert list(got["vec_id"]) == list(exp_ids)
    assert got.iloc[0]["vec_id"] == 0 and abs(got.iloc[0]["cos_sim"] - 1.0) < 1e-9
    np.testing.assert_allclose(got["cos_sim"].to_numpy(), sims[exp_ids], atol=1e-9)


def test_lsh_topk_contains_query_and_ranks(spark):
    rng = np.random.Generator(np.random.PCG64(11))
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    q = vecs[42].tolist()
    got = lsh_bucketed_topk(df, q, k=5, n_planes=6, probe_hamming=1).toPandas()
    assert got.iloc[0]["vec_id"] == 42  # the query's own vector survives pruning
    assert list(got["cos_sim"]) == sorted(got["cos_sim"], reverse=True)


def test_text_analysis(spark, docs_df):
    q = quality_features(docs_df).toPandas().set_index("doc_id")
    assert q.loc[0, "n_words"] == len(DOCS[0][1].split())
    assert q.loc[0, "stopword_ratio"] > q.loc[4, "stopword_ratio"]  # en vs de stopwords

    t = token_count(docs_df).toPandas().set_index("doc_id")
    assert (t["n_bpe_tokens"] >= t["n_ws_tokens"]).all()

    lid = language_id(docs_df).toPandas().set_index("doc_id")
    assert lid.loc[0, "lang_pred"] == "en"
    assert lid.loc[4, "lang_pred"] == "de"
    assert lid.loc[5, "lang_pred"] == "es"

    fp = document_fingerprint(docs_df).toPandas().set_index("doc_id")
    assert fp.loc[0, "fingerprint"] == fp.loc[3, "fingerprint"]
    assert fp.loc[0, "fingerprint"] != fp.loc[1, "fingerprint"]
    assert fp["shard"].between(0, 15).all()

    import hashlib

    assert fp.loc[0, "fingerprint"] == hashlib.md5(DOCS[0][1].encode()).hexdigest()


def test_ivf_topk_contains_query_and_ranks(spark):
    rng = np.random.Generator(np.random.PCG64(13))
    vecs = rng.standard_normal((400, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    from sneller_spark.operators.similarity import ivf_topk, train_ivf_centroids

    cents = train_ivf_centroids(df, k=6, sample_rows=400)
    got = ivf_topk(df, vecs[7].tolist(), cents, k=5, n_probe=2).toPandas()
    assert got.iloc[0]["vec_id"] == 7  # own bucket always probed first
    assert list(got["cos_sim"]) == sorted(got["cos_sim"], reverse=True)
    # determinism across partitionings
    got2 = ivf_topk(df.repartition(9), vecs[7].tolist(), cents, k=5, n_probe=2).toPandas()
    assert list(got["vec_id"]) == list(got2["vec_id"])


def test_approx_aggregates_accuracy(spark, sf_dir):
    """Approx sketches must land near exact values (the reference's
    HLL/t-digest accuracy posture, vm/aggcountdistinct.go,
    vm/aggtdigest.go)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        F.count_distinct("l_orderkey").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50_exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
    assert abs(row["p50_approx"] - row["p50_exact"]) / row["p50_exact"] < 0.02


def test_minhash_degenerate_bucket_cap(spark):
    """1,000 identical docs: without the bucket cap the banded
    self-join is ~500k pairs per band; with it, O(n) star pairs to the
    representative.  All docs must still connect (directly) to the
    representative, and the pair count must be exactly n-1."""
    import time

    n = 1000
    rows = [(i, "the same boilerplate text repeated verbatim for every doc") for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df, "doc_id", "text", n_hashes=16, shingle_k=3)
    t0 = time.monotonic()
    pairs = minhash_candidate_pairs(sigs, n_hashes=16, bands=4, max_bucket_size=64).toPandas()
    elapsed = time.monotonic() - t0
    assert len(pairs) == n - 1                      # star to min-id rep, not O(n^2)
    assert set(pairs["id_a"]) == {0}                # representative = min id
    assert set(pairs["id_b"]) == set(range(1, n))
    assert (pairs["n_bands_matched"] == 4).all()    # identical docs match every band
    assert elapsed < 60


def test_minhash_cap_keeps_small_buckets_exact(spark, docs_df):
    """Pairs from buckets under the cap must be identical to the
    uncapped all-pairs join."""
    sigs = minhash_signatures(docs_df, "doc_id", "text", n_hashes=16, shingle_k=3)
    capped = minhash_candidate_pairs(sigs, n_hashes=16, bands=8, max_bucket_size=10_000)
    uncapped = minhash_candidate_pairs(
        sigs, n_hashes=16, bands=8, max_bucket_size=1_000_000, persist=False
    )
    a = sorted(map(tuple, capped.toPandas().values.tolist()))
    b = sorted(map(tuple, uncapped.toPandas().values.tolist()))
    assert a == b


def test_cosine_near_dup_blocked_finds_planted(spark):
    """Blocked (SRP) near-dup must find planted near-identical vectors
    and must agree with the exact all-pairs form above the threshold
    it can see (same-bucket pairs)."""
    from sneller_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_blocked,
    )

    rng = np.random.Generator(np.random.PCG64(7))
    base = rng.standard_normal((40, 16))
    rows = [(i, [float(v) for v in base[i]]) for i in range(40)]
    # plant 5 near-dups: tiny perturbations of vectors 0..4
    for i in range(5):
        rows.append((100 + i, [float(v) for v in base[i] + 1e-4 * rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = cosine_near_dup_pairs_blocked(df, threshold=0.999, n_planes=6).toPandas()
    planted = {(i, 100 + i) for i in range(5)}
    assert planted <= set(map(tuple, got[["id_a", "id_b"]].values.tolist()))
    assert (got["cos_sim"] >= 0.999).all()   # never emits below threshold

    exact = cosine_near_dup_pairs(df, threshold=0.999).toPandas()
    # blocking is a subset of exact, and here (tiny perturbation) equal
    assert set(map(tuple, got[["id_a", "id_b"]].values.tolist())) == set(
        map(tuple, exact[["id_a", "id_b"]].values.tolist())
    )


def test_dedup_keep_first_rows(spark, docs_df):
    from sneller_spark.operators.dedup import dedup_keep_first, exact_dedup

    kept = dedup_keep_first(docs_df, "doc_id", "text").toPandas()
    groups = exact_dedup(docs_df, "doc_id", "text").toPandas()
    # one survivor per group, and survivors are exactly the keep_ids
    assert len(kept) == len(groups)
    assert set(kept["doc_id"]) == set(groups["keep_id"])
    # all original columns intact
    assert set(kept.columns) == set(docs_df.columns)


def test_simhash_near_dup_pairs_planted(spark):
    """Planted near-identical docs must pair up within the hamming
    budget; unrelated docs must not; reported hamming must equal the
    exact popcount of fingerprint XOR."""
    from sneller_spark.operators.dedup import simhash_fingerprint, simhash_near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base + " extra"),                          # near-dup of 1 (1 flipped bit)
        (3, "completely different content about spark shuffles and parquet files " * 3),
        (4, base),                                     # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", bits=32, max_hamming=3, bands=4)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 4)) == 0                        # exact dup: hamming 0
    assert (1, 2) in got and got[(1, 2)] <= 3          # near-dup found
    assert not any(3 in p for p in got)                # unrelated never pairs

    # hamming exactness vs python popcount
    fps = {r["id"]: r["simhash"] for r in simhash_fingerprint(df, "doc_id", "text", 32).collect()}
    for (a, b), h in got.items():
        assert h == bin((fps[a] ^ fps[b]) & 0xFFFFFFFF).count("1")


def test_simhash_bucket_cap_star_pairs(spark):
    """500 identical docs overflow every band bucket: the capped path
    must emit exactly n-1 star pairs (hamming 0) to the min-id rep."""
    n = 500
    rows = [(i, "identical boilerplate text body repeated everywhere") for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from sneller_spark.operators.dedup import simhash_near_dup_pairs

    got = simhash_near_dup_pairs(
        df, "doc_id", "text", bits=32, max_hamming=3, bands=4, max_bucket_size=64
    ).toPandas()
    assert len(got) == n - 1
    assert set(got["id_a"]) == {0}
    assert (got["hamming"] == 0).all()


def test_connected_components_chain_and_star(spark):
    """A 6-node chain (diameter 5 — forces several propagation rounds)
    plus a disjoint star plus an isolated pair."""
    from sneller_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),     # chain -> comp 1
             (10, 11), (10, 12), (10, 13),               # star  -> comp 10
             (20, 21)]                                   # pair  -> comp 20
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = connected_components(df).toPandas().set_index("id")["component"]
    assert all(got[i] == 1 for i in range(1, 7))
    assert all(got[i] == 10 for i in (10, 11, 12, 13))
    assert got[20] == 20 and got[21] == 20


def test_connected_components_vs_union_find(spark):
    """Random graph vs a plain python union-find."""
    rng = np.random.Generator(np.random.PCG64(3))
    n, m = 200, 150
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]
    from sneller_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = connected_components(df).toPandas().set_index("id")["component"].to_dict()

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    # path-compress to final roots
    expect = {x: find(x) for x in parent}
    # min-id root invariant: find() with min-merge yields min of component
    assert got == {k: expect[k] for k in got}


def test_cosine_blocked_multiband_recall_at_090(spark):
    """Sub-0.99 recall contract: plant 10 pairs at cos≈0.90 among 200
    background vectors.  A single 8-plane bank catches such a pair with
    prob ≈0.29 (6 planes: ≈0.40), so single-band misses most of them;
    12 independent 6-plane bands push per-pair recall to ≈0.998 and
    (with this fixed seed) the test demands 100% of the planted pairs
    back.  Precision stays exact via the cosine re-check: no emitted
    pair may be below threshold."""
    from sneller_spark.operators.similarity import cosine_near_dup_pairs_blocked

    rng = np.random.Generator(np.random.PCG64(11))
    dim, n_pairs = 32, 10
    rows = []
    for i in range(n_pairs):
        a = rng.normal(size=dim)
        a /= np.linalg.norm(a)
        noise = rng.normal(size=dim)
        noise -= noise.dot(a) * a
        noise /= np.linalg.norm(noise)
        b = 0.9 * a + np.sqrt(1 - 0.81) * noise  # exact cos(a,b) = 0.9
        rows.append((2 * i, [float(x) for x in a]))
        rows.append((2 * i + 1, [float(x) for x in b]))
    for j in range(200):
        v = rng.normal(size=dim)
        rows.append((1000 + j, [float(x) for x in (v / np.linalg.norm(v))]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    multi = cosine_near_dup_pairs_blocked(
        df, threshold=0.89, n_planes=6, bands=12, max_bucket_size=50
    ).toPandas()
    got_pairs = set(zip(multi["id_a"], multi["id_b"]))
    planted = {(2 * i, 2 * i + 1) for i in range(n_pairs)}
    assert planted <= got_pairs, f"missed: {planted - got_pairs}"
    assert (multi["cos_sim"] >= 0.89).all()

    # single band genuinely misses at this similarity — the contrast
    # that motivates the bands parameter
    single = cosine_near_dup_pairs_blocked(
        df, threshold=0.89, n_planes=6, bands=1, max_bucket_size=50
    ).toPandas()
    single_pairs = set(zip(single["id_a"], single["id_b"]))
    assert len(planted & single_pairs) < n_pairs


def test_cosine_blocked_multiband_matches_exact_on_dups(spark):
    """bands>1 must not change results where bands=1 already finds
    everything (near-identical vectors share every bucket)."""
    from sneller_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_blocked,
    )

    rng = np.random.Generator(np.random.PCG64(5))
    rows = []
    for i in range(40):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i < 5:  # five exact duplicates
            rows.append((100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = cosine_near_dup_pairs(df, 0.999).toPandas()
    banded = cosine_near_dup_pairs_blocked(df, 0.999, bands=4).toPandas()
    key = lambda p: sorted(zip(p["id_a"], p["id_b"]))  # noqa: E731
    assert key(banded) == key(exact)


#: full result rows of the similarity entry points at sf0.001, recorded
#: from the expression-based implementation this kernel replaced
PINNED = os.path.join(os.path.dirname(__file__), "similarity_pinned.json")


def _ordered(df):
    return [list(r) for r in df.collect()]


def _pairs(df):
    return sorted(list(r) for r in df.collect())


def _similarity_answers(spark, sf_dir, index_dir):
    from sneller_spark import query_catalog_ml as ml
    from sneller_spark.operators import similarity as sim

    out = {}
    for name in ("ann_cosine_topk_brute", "ann_cosine_topk_lsh", "ann_cosine_topk_ivf",
                 "ann_cosine_topk_ivf_pruned", "ann_cosine_topk_srp_pruned"):
        out[name] = _ordered(getattr(ml, name)(spark, sf_dir))
    for name in ("embedding_cosine_near_dup", "embedding_cosine_near_dup_blocked",
                 "embedding_cosine_near_dup_multiband"):
        out[name] = _pairs(getattr(ml, name)(spark, sf_dir))

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = ml._query_vec(spark, sf_dir)
    cent = sim.train_ivf_centroids(e, k=8)
    out["brute_all_unrounded"] = _ordered(
        sim.brute_force_cosine_topk(e, q, k=1000, round_digits=None))
    out["lsh_unrounded"] = _ordered(
        sim.lsh_bucketed_topk(e, q, k=10, n_planes=6, round_digits=None))
    out["ivf_unrounded"] = _ordered(
        sim.ivf_topk(e, q, cent, k=10, n_probe=4, round_digits=None))
    ivf_path = os.path.join(index_dir, "pin_ivf")
    sim.write_ivf_index(e, cent, ivf_path)
    out["ivf_pruned_unrounded"] = _ordered(
        sim.ivf_topk_pruned(spark, ivf_path, q, cent, k=10, n_probe=4, round_digits=None))
    srp_path = os.path.join(index_dir, "pin_srp")
    sim.write_srp_index(e, dim=len(q), path=srp_path, n_planes=6)
    out["srp_pruned_unrounded"] = _ordered(
        sim.srp_topk_pruned(spark, srp_path, q, k=10, n_planes=6, round_digits=None))
    out["ivf_buckets"] = _pairs(sim.ivf_assign_buckets(e, cent).select("vec_id", "_ivf_bucket"))
    out["srp_buckets"] = _pairs(spark.read.parquet(srp_path).select("vec_id", "srp_bucket"))

    dup = e.filter(F.col("vec_id") < 20).withColumn("vec_id", F.col("vec_id") + F.lit(1000000))
    src = e.unionByName(dup)
    configs = [(cap, bands, thr) for cap in (None, 256) for bands in (1, 4)
               for thr in (0.99, 0.2)]
    configs += [(4, 1, 0.2), (4, 4, 0.2)]  # caps that do bind: star pairs
    for cap, bands, thr in configs:
        got = sim.cosine_near_dup_pairs_blocked(
            src, threshold=thr, n_planes=8, bands=bands, max_bucket_size=cap)
        out[f"blocked_cap{cap}_bands{bands}_thr{thr}"] = _pairs(got)
    return out


def test_similarity_answers_pinned(spark, sf_dir, tmp_path, monkeypatch):
    """Every similarity entry point returns exactly the recorded rows,
    unrounded cosines and bucket ids included, bit for bit."""
    import json

    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("answers are pinned for the sf0.001 tables")
    monkeypatch.setenv("SNELLER_SPARK_INDEX_DIR", str(tmp_path))
    with open(PINNED) as f:
        pinned = json.load(f)
    got = _similarity_answers(spark, sf_dir, str(tmp_path))
    assert set(got) == set(pinned)
    for key in pinned:
        assert got[key] == pinned[key], key


#: (vector of row 7, whether every entry point must raise naming it)
MALFORMED = {
    "null vector": (None, False),
    "null element": ([1.0, None, 3.0, 4.0], False),
    "empty vector": ([], True),
    "shorter vector": ([1.0, 2.0, 3.0], True),
    "longer vector": ([1.0, 2.0, 3.0, 4.0, 5.0], True),
    "zero vector": ([0.0, 0.0, 0.0, 0.0], True),
}


def test_malformed_vectors_follow_one_rule(spark):
    """One rule in brute force, exact pairs and blocked pairs (one band;
    four bands with a binding cap), and in the LSH and IVF probes: a
    null vector or element gives a null similarity, never pairs, sorts
    last in brute force and is no ANN candidate; a length mismatch or a
    zero norm raises ValueError naming the row id.  One plane per band
    makes two buckets per band, and rows 1 and 2 (v and -v) sit in
    opposite ones, so row 7 always shares a bucket with a well-formed
    row; the probes cover every bucket."""
    from sneller_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_blocked,
        ivf_topk,
    )

    v = [1.0, 2.0, 3.0, 4.0]
    well_formed = [(1, v), (2, [-x for x in v]), (3, v)]
    entry_points = {
        "brute": lambda df: _ordered(
            brute_force_cosine_topk(df, v, k=10, round_digits=None)),
        "exact": lambda df: _pairs(cosine_near_dup_pairs(df, 0.5)),
        "blocked": lambda df: _pairs(
            cosine_near_dup_pairs_blocked(df, 0.5, n_planes=1)),
        "blocked_banded_capped": lambda df: _pairs(cosine_near_dup_pairs_blocked(
            df, 0.5, n_planes=1, bands=4, max_bucket_size=1)),
        "lsh": lambda df: _ordered(
            lsh_bucketed_topk(df, v, k=10, n_planes=1, round_digits=None)),
        "ivf": lambda df: _ordered(ivf_topk(
            df, v, np.array([well_formed[0][1], well_formed[1][1]]), k=10,
            round_digits=None)),
    }
    schema = "vec_id long, embedding array<float>"
    clean = spark.createDataFrame(well_formed, schema)
    for case, (vec, raises) in MALFORMED.items():
        df = spark.createDataFrame(well_formed + [(7, vec)], schema)
        for name, run in entry_points.items():
            if raises:
                with pytest.raises(Exception, match=r"ValueError: row id 7\b"):
                    run(df)
            elif name == "brute":
                assert run(df) == run(clean) + [[7, None]], (case, name)
            elif name in ("lsh", "ivf"):
                assert run(df) == entry_points["brute"](clean), (case, name)
            else:
                assert run(df) == run(clean) == [[1, 3, 1.0]], (case, name)


def test_connected_components_long_chain_log_rounds(spark):
    """Adversarial 1000-node chain (diameter 999): path-halving pointer
    jumping must converge in O(log n) rounds — max_iter=20 would be
    hopeless for pure propagation (needs ~999 rounds) but is ample for
    halving (~10).  strict=True means non-convergence would raise, so
    plain completion IS the round-budget assertion."""
    from sneller_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(1, 1000)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = connected_components(df, max_iter=20, strict=True).toPandas()
    assert len(got) == 1000
    assert (got["component"] == 1).all()


def test_connected_components_nonconvergence_signals(spark):
    """Exhausting max_iter must never return partial labels silently:
    strict raises ConvergenceError, non-strict warns."""
    import warnings

    from sneller_spark.operators.dedup import (
        ConvergenceError,
        connected_components,
    )

    edges = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    with pytest.raises(ConvergenceError, match="did not converge"):
        connected_components(df, max_iter=1, strict=True)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        partial = connected_components(df, max_iter=1, strict=False)
        assert partial.count() == 40
    assert any("did not converge" in str(w.message) for w in caught)


def test_dedup_near_keep_rows_end_to_end(spark, docs_df):
    """Pairs (0,1),(0,3) -> cluster {0,1,3} keeps doc 0; docs 2,4,5
    survive untouched with all columns."""
    from sneller_spark.operators.dedup import dedup_near_keep_rows

    pairs = spark.createDataFrame([(0, 1), (0, 3)], ["id_a", "id_b"])
    got = dedup_near_keep_rows(docs_df, pairs, "doc_id").toPandas()
    assert sorted(got["doc_id"]) == [0, 2, 4, 5]
    assert set(got.columns) == {"doc_id", "text"}


def test_repetition_metrics_exact(spark):
    """Hand-computed Gopher-style repetition signals; plan stays a pure
    map (no Exchange) because every metric is row-local."""
    from sneller_spark.operators.text import repetition_metrics
    from sneller_spark.plans import assert_no_exchange

    rows = [
        (1, "a a a b"),       # n=4 nd=2 top=3
        (2, "x y z"),         # no repetition
        (3, "w w w w"),       # fully degenerate
    ]
    out = repetition_metrics(spark.createDataFrame(rows, ["doc_id", "text"]))
    assert_no_exchange(out)
    got = out.toPandas().set_index("doc_id").sort_index()
    assert got.loc[1].tolist() == [4, 0.5, 0.75, 0.5]
    assert got.loc[2].tolist() == [3, 0.0, round(1 / 3, 4), 1.0]
    assert got.loc[3].tolist() == [4, 0.75, 1.0, 0.25]


def test_token_ngram_topk_exact(spark):
    """3-gram counts over token arrays vs a python recount; sequences
    shorter than n contribute nothing."""
    from collections import Counter

    from sneller_spark.operators.text import token_ngram_topk

    rows = [
        (1, [1, 2, 3, 1, 2, 3]),
        (2, [1, 2, 3]),
        (3, [9, 9]),          # too short for a 3-gram
        (4, [2, 3, 1]),
    ]
    got = token_ngram_topk(
        spark.createDataFrame(rows, ["doc_id", "tokens"]), n=3, k=10
    ).toPandas()
    expect = Counter()
    for _, toks in rows:
        for i in range(len(toks) - 2):
            expect[tuple(toks[i:i + 3])] += 1
    got_counts = {tuple(g): int(c) for g, c in zip(got["gram"], got["n"])}
    assert got_counts == dict(expect)
    # deterministic order: count desc, then lexicographic gram
    pairs = list(zip(got["n"], [tuple(g) for g in got["gram"]]))
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))


def test_unigram_logprob_matches_python(spark, docs_df):
    """Smoothed corpus-unigram mean log-prob vs a plain python model."""
    import math
    from collections import Counter

    from sneller_spark.operators.text import unigram_logprob_score

    got = (
        unigram_logprob_score(docs_df, "doc_id", "text", smoothing=0.5, round_digits=6)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    counts = Counter(w for _, t in DOCS for w in t.split())
    n, v = sum(counts.values()), len(counts)
    denom = n + 0.5 * v
    for i, text in DOCS:
        ws = text.split()
        exp = sum(math.log((counts[w] + 0.5) / denom) for w in ws) / len(ws)
        assert abs(got.loc[i, "mean_logprob"] - exp) < 1e-5, i
        assert got.loc[i, "n_words"] == len(ws)
    # an out-of-distribution doc scores lower than a typical one
    assert got["mean_logprob"].min() < got["mean_logprob"].max()


def test_asof_join_matches_python_reference(spark):
    """Backward as-of join vs a brute-force python reference: latest
    right value at-or-before each left t per key; inclusive equality;
    no match -> NULL; tolerance nulls out stale matches."""
    from sneller_spark.operators.timeseries import asof_join

    rng = np.random.Generator(np.random.PCG64(7))
    lrows = [(int(k), float(t)) for k, t in
             zip(rng.integers(0, 5, 80), rng.uniform(0, 100, 80))]
    rrows = {}
    for k, t, v in zip(rng.integers(0, 5, 60), rng.uniform(0, 100, 60),
                       rng.uniform(0, 1, 60)):
        rrows[(int(k), float(t))] = float(v)  # unique (k, t): determinism
    left = spark.createDataFrame(lrows, ["k", "t"])
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rrows.items()], ["k", "t", "v"]
    )
    got = asof_join(
        left, right, t_col="t", by=["k"], value_cols=["v"],
        matched_t_col="mt",
    ).toPandas()

    def ref(k, t, tol=None):
        cands = [(rt, v) for (rk, rt), v in rrows.items()
                 if rk == k and rt <= t and (tol is None or rt >= t - tol)]
        return max(cands)[1] if cands else None

    import math

    def norm(v):
        return None if v is None or (isinstance(v, float) and math.isnan(v)) else v

    for row in got.itertuples(index=False):
        expect = ref(row.k, row.t)
        v = norm(row.v)
        assert (v is None and expect is None) or abs(v - expect) < 1e-12
        if v is not None:
            assert row.mt <= row.t
    # tolerance form
    got_tol = asof_join(
        left, right, t_col="t", by=["k"], value_cols=["v"], tolerance=5.0
    ).toPandas()
    for row in got_tol.itertuples(index=False):
        expect = ref(row.k, row.t, tol=5.0)
        v = norm(row.v)
        assert (v is None and expect is None) or abs(v - expect) < 1e-12


def test_asof_join_inclusive_and_no_nested_loop(spark):
    from sneller_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, 10.0), (1, 5.0)], ["k", "t"])
    right = spark.createDataFrame([(1, 10.0, "same"), (1, 4.0, "old")],
                                  ["k", "t", "v"])
    out = asof_join(left, right, t_col="t", by=["k"], value_cols=["v"])
    got = {r["t"]: r["v"] for r in out.collect()}
    assert got == {10.0: "same", 5.0: "old"}  # inclusive at equal t
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_range_join_bucketed_matches_inequality(spark):
    """Bucketed range join == the naive inequality join, across bucket
    widths (edge replication + exact filter leave no dupes/misses)."""
    from sneller_spark.operators.timeseries import range_join_bucketed

    rng = np.random.Generator(np.random.PCG64(13))
    pts = [(int(k), float(t)) for k, t in
           zip(rng.integers(0, 4, 120), rng.uniform(0, 1000, 120))]
    ivs = []
    for i, (k, s) in enumerate(zip(rng.integers(0, 4, 25),
                                   rng.uniform(0, 950, 25))):
        ivs.append((int(k), i, float(s), float(s + rng.uniform(1, 200))))
    points = spark.createDataFrame(pts, ["k", "t"])
    intervals = spark.createDataFrame(ivs, ["k", "iv_id", "s", "e"])

    expect = sorted(
        (k, t, iv)
        for k, t in pts
        for (ik, iv, s, e) in ivs
        if ik == k and s <= t < e
    )
    for width in (10.0, 97.0, 400.0):
        got = sorted(
            (r["k"], r["t"], r["iv_id"])
            for r in range_join_bucketed(
                points, intervals, "t", "s", "e", by=["k"],
                bucket_width=width,
            ).collect()
        )
        assert got == expect, f"width={width}"
    # equi-join plan, not a nested loop
    out = range_join_bucketed(points, intervals, "t", "s", "e", by=["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_rollup_incremental_merge_equals_full(spark):
    """Hypertable rollups: merging a delta batch's partials into an
    existing rollup equals rolling up the full data — across every
    granularity level — and coarse levels match direct aggregation."""
    import datetime as dt

    from sneller_spark.operators.timeseries import merge_rollup, rollup_time_buckets

    rng = np.random.Generator(np.random.PCG64(3))
    base = dt.datetime(2024, 5, 1)
    rows = [
        (base + dt.timedelta(minutes=int(m)), ["a", "b"][int(k)], float(v))
        for m, k, v in zip(
            rng.integers(0, 60 * 24 * 3, 500), rng.integers(0, 2, 500),
            rng.uniform(0, 100, 500),
        )
    ]
    df = spark.createDataFrame(rows, ["ts", "k", "value"])
    first, second = df.filter(F.col("value") < 50), df.filter(F.col("value") >= 50)

    full = rollup_time_buckets(df, key_cols=["k"], granularities=("hour", "day"))
    r1 = rollup_time_buckets(first, key_cols=["k"], granularities=("hour", "day"))
    r2 = rollup_time_buckets(second, key_cols=["k"], granularities=("hour", "day"))

    def canon(d):
        pdf = d.toPandas().sort_values(["bucket", "k"]).reset_index(drop=True)
        pdf["sum_v"] = pdf["sum_v"].round(6)
        return pdf

    for g in ("hour", "day"):
        merged = merge_rollup(r1[g], r2[g], key_cols=["k"])
        assert canon(merged).equals(canon(full[g])), g
    # day level == direct aggregation of raw data
    direct = (
        df.groupBy(F.date_trunc("day", "ts").alias("bucket"), "k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"),
             F.min("value").alias("min_v"), F.max("value").alias("max_v"))
    )
    assert canon(full["day"]).equals(canon(direct))
    # week may not feed a coarser level
    with pytest.raises(AssertionError):
        rollup_time_buckets(df, key_cols=["k"], granularities=("week", "month"))


def test_cm_sketch_never_undercounts_and_bounds(spark):
    """CM property tests: estimate >= true count for EVERY item, and
    with width >> distinct items the overestimate stays within the
    eps*N bound; absent items estimate near 0."""
    from sneller_spark.operators.sketch import cm_estimate, cm_sketch

    rng = np.random.Generator(np.random.PCG64(2))
    items = [f"w{int(i)}" for i in rng.zipf(1.7, 5000) if i < 200]
    n_total = len(items)
    df = spark.createDataFrame([(w,) for w in items], ["word"])
    true = {}
    for w in items:
        true[w] = true.get(w, 0) + 1

    sketch = cm_sketch(df, "word", depth=4, width=1024)
    assert sketch.df.count() <= 4 * 1024
    assert (sketch.depth, sketch.width) == (4, 1024)
    distinct = spark.createDataFrame([(w,) for w in true], ["word"])
    est = cm_estimate(sketch, distinct, "word")
    got = {r["word"]: r["est"] for r in est.collect()}
    eps_n = (2.718 / 1024) * n_total
    for w, t in true.items():
        assert got[w] >= t, f"undercount on {w}"
        assert got[w] - t <= max(eps_n * 5, 3), f"gross overcount on {w}"
    # an item never inserted: estimate bounded by collisions only
    ghost = spark.createDataFrame([("never-seen-item",)], ["word"])
    g = cm_estimate(sketch, ghost, "word").collect()[0]["est"]
    assert g <= max(eps_n * 5, 3)


def test_heavy_hitters_exact_matches_recount(spark):
    """Sketch-pruned heavy hitters == plain exact GROUP BY/HAVING, at
    several thresholds (no false negatives by the CM one-sided bound,
    no false positives after the recount)."""
    from sneller_spark.operators.sketch import heavy_hitters_exact

    rng = np.random.Generator(np.random.PCG64(9))
    items = [f"t{int(i)}" for i in rng.zipf(1.5, 8000) if i < 500]
    df = spark.createDataFrame([(w,) for w in items], ["word"])
    true = {}
    for w in items:
        true[w] = true.get(w, 0) + 1
    for threshold in (5, 50, 200):
        got = {
            r["word"]: r["n"]
            for r in heavy_hitters_exact(df, "word", threshold, width=512).collect()
        }
        expect = {w: c for w, c in true.items() if c >= threshold}
        assert got == expect, threshold


def test_asof_join_null_value_in_matched_row(spark):
    """A matched right row whose value is NULL must yield NULL — not a
    stale older non-null value — and all value columns must come from
    the SAME matched row (the review-found fill bug)."""
    import math

    from sneller_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, 3.0)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 1.0, 5.0, "old"), (1, 2.0, None, "new")], ["k", "t", "v", "tag"]
    )
    row = asof_join(
        left, right, t_col="t", by=["k"], value_cols=["v", "tag"],
        matched_t_col="mt",
    ).collect()[0]
    assert row["tag"] == "new" and row["mt"] == 2.0
    assert row["v"] is None or (isinstance(row["v"], float) and math.isnan(row["v"]))


def test_heavy_hitters_null_items_excluded(spark):
    """COUNT(col) semantics: NULL items are not insertable, not
    candidates, and never crash the pipeline."""
    from sneller_spark.operators.sketch import cm_estimate, cm_sketch, heavy_hitters_exact

    rows = [(None,)] * 50 + [("a",)] * 30 + [("b",)] * 5
    df = spark.createDataFrame(rows, "word string")
    got = {r["word"]: r["n"] for r in heavy_hitters_exact(df, "word", 10).collect()}
    assert got == {"a": 30}
    sk = cm_sketch(df, "word")
    est = cm_estimate(sk, df.select("word").distinct(), "word").collect()
    assert None not in {r["word"] for r in est}


def test_cm_merge_equals_sketch_of_union(spark):
    """Merged shard sketches == the sketch of the concatenated data,
    cell for cell (counts add); parameter mismatch is refused."""
    from sneller_spark.operators.sketch import cm_merge, cm_sketch

    a = spark.createDataFrame([("x",)] * 7 + [("y",)] * 3, ["w"])
    b = spark.createDataFrame([("x",)] * 2 + [("z",)] * 5, ["w"])
    sa, sb = cm_sketch(a, "w", width=64), cm_sketch(b, "w", width=64)
    merged = cm_merge(sa, sb)
    full = cm_sketch(a.unionByName(b), "w", width=64)
    key = lambda df: sorted(map(tuple, df.toPandas().values.tolist()))  # noqa: E731
    assert key(merged.df) == key(full.df)
    with pytest.raises(ValueError, match="parameter mismatch"):
        cm_merge(sa, cm_sketch(b, "w", width=128))


def test_asof_join_global_chunks_equals_serial(spark):
    """Parallel global as-of (by=None, global_chunks>1) must equal the
    single-partition path exactly — including chunks that contain NO
    right rows (the carry must hop over them) — and must run the big
    window over >1 partition."""
    from sneller_spark.operators.timeseries import asof_join

    rng = np.random.Generator(np.random.PCG64(21))
    lrows = [(i, float(t)) for i, t in enumerate(rng.uniform(0, 100, 300))]
    # right rows only in [0, 30): chunks over (30, 100] are right-empty,
    # so every left row there must carry the latest right row forward
    rrows = [(float(t), float(v)) for t, v in
             zip(rng.uniform(0, 30, 40), rng.uniform(0, 1, 40))]
    left = spark.createDataFrame(lrows, ["id", "t"])
    right = spark.createDataFrame(rrows, ["t", "v"])

    serial = asof_join(left, right, t_col="t", by=None, value_cols=["v"],
                       matched_t_col="mt")
    par = asof_join(left, right, t_col="t", by=None, value_cols=["v"],
                    matched_t_col="mt", global_chunks=8)
    key = lambda df: sorted(map(tuple, df.toPandas().fillna(-1).values.tolist()))  # noqa: E731
    assert key(par) == key(serial)
    # the chunked window really is partitioned by _chunk, not _w=1
    plan = par._jdf.queryExecution().executedPlan().toString()
    assert "_chunk" in plan
    # tolerance composes with the chunked path too
    st = asof_join(left, right, t_col="t", by=None, value_cols=["v"],
                   tolerance=5.0)
    pt = asof_join(left, right, t_col="t", by=None, value_cols=["v"],
                   tolerance=5.0, global_chunks=8)
    assert key(pt) == key(st)


def test_asof_join_rejects_reserved_and_colliding_names(spark):
    from sneller_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, 1.0)], ["k", "t"])
    bad_right = spark.createDataFrame([(1, 1.0, 2.0)], ["k", "t", "_rrow"])
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, bad_right, t_col="t", by=["k"])
    # value column sharing a name with a left column
    left2 = spark.createDataFrame([(1, 1.0, 9.0)], ["k", "t", "v"])
    right2 = spark.createDataFrame([(1, 1.0, 2.0)], ["k", "t", "v"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(left2, right2, t_col="t", by=["k"], value_cols=["v"])


def test_range_join_replication_cap_and_name_guard(spark):
    """A corpus-spanning interval (pathological replication) fails fast
    with a clear error instead of exploding; overlapping non-key column
    names are rejected before the join can produce ambiguous output."""
    from sneller_spark.operators.timeseries import range_join_bucketed

    points = spark.createDataFrame([(1, 50.0)], ["k", "t"])
    huge = spark.createDataFrame([(1, 0.0, 1e9)], ["k", "s", "e"])
    # the guard is IN-PLAN (assert_true — zero extra jobs), so the
    # failure surfaces at action time with the max_repl message
    with pytest.raises(Exception, match="max_repl"):
        range_join_bucketed(points, huge, t_col="t", start_col="s",
                            end_col="e", by=["k"], bucket_width=1.0,
                            max_repl=100).count()
    # raising the cap deliberately lets it run
    ok = range_join_bucketed(points, huge, t_col="t", start_col="s",
                             end_col="e", by=["k"], bucket_width=1e8,
                             max_repl=100)
    assert ok.count() == 1
    clash = spark.createDataFrame([(1, 0.0, 10.0, 7.0)], ["k", "s", "e", "t"])
    with pytest.raises(ValueError, match="disjoint"):
        range_join_bucketed(points, clash, t_col="t", start_col="s",
                            end_col="e", by=["k"])


def test_range_join_null_bounds_dropped(spark):
    """Intervals with NULL start/end are DROPPED (standard NULL-bound
    join semantics), not a job abort: the replication guard is
    null-safe (ADVICE r5).  A real violation still renders its span."""
    from sneller_spark.operators.timeseries import range_join_bucketed

    points = spark.createDataFrame([(1, 5.0)], ["k", "t"])
    ivals = spark.createDataFrame(
        [(1, None, 10.0, "null-start"), (1, 0.0, None, "null-end"),
         (1, 0.0, 10.0, "ok")],
        "k int, s double, e double, tag string",
    )
    got = range_join_bucketed(
        points, ivals, t_col="t", start_col="s", end_col="e", by=["k"],
        bucket_width=4.0,
    ).collect()
    assert [r["tag"] for r in got] == ["ok"]
    # a genuine violation still fails fast with a READABLE span count
    huge = spark.createDataFrame([(1, 0.0, 1e6, "big")],
                                 "k int, s double, e double, tag string")
    with pytest.raises(Exception, match=r"spans 1000001 buckets"):
        range_join_bucketed(points, huge, t_col="t", start_col="s",
                            end_col="e", by=["k"], bucket_width=1.0,
                            max_repl=100).count()


def test_asof_join_global_bounds_explicit(spark):
    """global_bounds=(lo, hi) skips the in-plan stats scan and must
    produce the identical result; bounds wider than the data are safe
    (clamping keeps every row in a valid chunk)."""
    from sneller_spark.operators.timeseries import asof_join

    rng = np.random.Generator(np.random.PCG64(33))
    left = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate(rng.uniform(0, 100, 200))],
        ["id", "t"],
    )
    right = spark.createDataFrame(
        [(float(t), float(v)) for t, v in
         zip(rng.uniform(0, 100, 30), rng.uniform(0, 1, 30))],
        ["t", "v"],
    )
    key = lambda df: sorted(map(tuple, df.toPandas().fillna(-1).values.tolist()))  # noqa: E731
    serial = asof_join(left, right, t_col="t", value_cols=["v"])
    exact = asof_join(left, right, t_col="t", value_cols=["v"],
                      global_chunks=8, global_bounds=(0.0, 100.0))
    wide = asof_join(left, right, t_col="t", value_cols=["v"],
                     global_chunks=8, global_bounds=(-1e6, 1e6))
    assert key(exact) == key(serial)
    assert key(wide) == key(serial)
