"""Similarity search over embedding columns (array<float>).

The reference has one vectorized kernel per vector builtin, whatever
the input size: INNER_PRODUCT / L1_DISTANCE / L2_DISTANCE /
COSINE_DISTANCE are SIMD builtins (reference expr/builtin.go:227-230,
1197-1200).  Here every dot product goes through one numpy kernel,
`_inner`: it accumulates in dimension order from 0.0 in float64, which
is the IEEE arithmetic of a left fold over the elements, so a result
never depends on batch size, partitioning or the host's BLAS (`@` and
`.sum()` reorder the additions and give other bits).

The kernel runs in Arrow-batched Python, called in two ways:

  * per row, as an ``arrow_udf``: cosine against a constant query
    (brute force, LSH, IVF and SRP top-k), the SRP bucket ids (every
    band in one call) and the IVF argmax;
  * per bucket, as ``groupBy(bucket).applyInArrow``: the near-dup pair
    recheck.  Pairs are enumerated inside each bucket, so vectors never
    travel through a join.

Rounding and the exact threshold filter stay in Catalyst, which rounds
HALF_UP on the decimal form.

Malformed vectors follow one rule in every entry point:

  * a null vector, or one with a null element, has a null similarity
    and no bucket: it is never paired, sorts last in brute-force top-k
    and is never an ANN candidate;
  * a vector whose length differs from the query's, or from the vector
    it is paired with, raises ValueError naming its row id;
  * a vector with zero norm raises ValueError naming its row id.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: pairs scored per kernel step; bounds the gathered (dim, pairs) arrays
_PAIR_CHUNK = 1 << 16


def _inner(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot products over the first (dimension) axis, broadcasting the
    rest: ``acc = acc + a[i] * b[i]`` from 0.0, in dimension order."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for i in range(len(a)):
        acc = acc + a[i] * b[i]
    return acc


def _unpack(vecs: pa.Array | pa.ChunkedArray):
    """``(valid, lengths, starts, values)`` of a list<float> column.
    ``valid`` marks rows whose vector and every element are non-null;
    row i's elements are ``values[starts[i]:starts[i] + lengths[i]]``."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    offsets = vecs.offsets.to_numpy()
    values = vecs.values
    valid = np.array(vecs.is_valid().to_numpy(zero_copy_only=False))
    if values.null_count:
        nulls = np.concatenate(
            [[0], np.cumsum(values.is_null().to_numpy(zero_copy_only=False))]
        )
        valid &= nulls[offsets[1:]] == nulls[offsets[:-1]]
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64)
    return valid, np.diff(offsets), offsets[:-1], flat


def _gather(starts: np.ndarray, flat: np.ndarray, rows: np.ndarray, dim: int) -> np.ndarray:
    """The vectors of ``rows`` (all of length ``dim``), dimension-major:
    shape (dim, len(rows))."""
    return flat[starts[rows] + np.arange(dim)[:, None]]


def _fail(ids, i: int, problem: str):
    who = f"row id {ids[int(i)].as_py()}" if ids is not None else f"row {i} of its batch"
    raise ValueError(f"{who}: {problem}")


def _check_lengths(valid, lengths, dim: int, ids, against: str) -> None:
    bad = np.flatnonzero(valid & (lengths != dim))
    if len(bad):
        problem = f"vector length {lengths[bad[0]]} differs from the {against}'s {dim}"
        _fail(ids, bad[0], problem)


def _norms(x: np.ndarray, rows: np.ndarray, ids) -> np.ndarray:
    norms = np.sqrt(_inner(x, x))
    zero = np.flatnonzero(norms == 0)
    if len(zero):
        _fail(ids, rows[zero[0]], "vector has zero norm")
    return norms


def _row_udf(
    kernel, return_type: str, vec_col: Column | str, id_col: str | None = None
) -> Column:
    """``kernel(vecs, ids)`` as an ``arrow_udf`` over ``vec_col``; the
    ids (None without ``id_col``) only name rows in errors."""
    if id_col is None:

        def run(vecs: pa.Array) -> pa.Array:
            return kernel(vecs, None)

        return F.arrow_udf(run, return_type)(vec_col)

    def run_named(vecs: pa.Array, ids: pa.Array) -> pa.Array:
        return kernel(vecs, ids)

    return F.arrow_udf(run_named, return_type)(vec_col, id_col)


# ---------------------------------------------------------------------
# per-row kernels
# ---------------------------------------------------------------------

def _cosine_kernel(query: list[float]):
    q = np.asarray(query, dtype=np.float64)
    qnorm = float(np.sqrt(_inner(q, q)))
    if qnorm == 0:
        raise ValueError("query vector has zero norm")

    def kernel(vecs, ids):
        valid, lengths, starts, flat = _unpack(vecs)
        _check_lengths(valid, lengths, len(q), ids, "query")
        rows = np.flatnonzero(valid)
        x = _gather(starts, flat, rows, len(q))
        out = np.zeros(len(valid))
        out[rows] = _inner(x, q) / (_norms(x, rows, ids) * qnorm)
        return pa.array(out, mask=~valid)

    return kernel


def cosine_similarity_col(vec_col: Column | str, query: list[float]) -> Column:
    """Cosine of each row's vector against a constant query."""
    return _row_udf(_cosine_kernel(query), "double", vec_col)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim))


def _srp_ids(x: np.ndarray, planes: np.ndarray, n_planes: int) -> np.ndarray:
    """Bucket ids of dimension-major vectors ``x`` against stacked plane
    banks (bands * n_planes, dim): one bit per plane with a
    non-negative dot, band k offset by ``k << n_planes``.  Shape
    (len(x[0]), bands)."""
    bits = _inner(x[:, :, None], planes.T[:, None, :]) >= 0
    bands = len(planes) // n_planes
    bits = bits.reshape(-1, bands, n_planes).astype(np.int64)
    return (bits << np.arange(n_planes)).sum(axis=2) + (np.arange(bands) << n_planes)


def _srp_kernel(n_planes: int, bands: int, banks, dim: int | None):
    """Per-row SRP bucket ids, every band in one call, as array<int>.
    ``banks(d)`` gives the stacked planes for vectors of length d; with
    ``dim`` set every vector must have that length."""

    def kernel(vecs, ids):
        valid, lengths, starts, flat = _unpack(vecs)
        if dim is not None:
            _check_lengths(valid, lengths, dim, ids, "hyperplanes")
        out = np.zeros((len(valid), bands), dtype=np.int32)
        for d in np.unique(lengths[valid]):
            rows = np.flatnonzero(valid & (lengths == d))
            out[rows] = _srp_ids(_gather(starts, flat, rows, d), banks(int(d)), n_planes)
        offsets = pa.array(np.arange(len(valid) + 1, dtype=np.int32) * bands)
        return pa.ListArray.from_arrays(offsets, pa.array(out.ravel()), mask=pa.array(~valid))

    return kernel


def _srp_bucket(
    vec_col: Column | str, planes: np.ndarray, id_col: str | None
) -> Column:
    kernel = _srp_kernel(len(planes), 1, lambda d: planes, planes.shape[1])
    return _row_udf(kernel, "array<int>", vec_col, id_col).getItem(0)


def srp_bucket_col(vec_col: Column | str, planes: np.ndarray) -> Column:
    """Sign-random-projection bucket id: one bit per hyperplane."""
    return _srp_bucket(vec_col, planes, None)


def _srp_probes(query: list[float], planes: np.ndarray, probe_hamming: int) -> list[int]:
    """The query's own bucket (same kernel as the rows') plus, with
    ``probe_hamming`` >= 1, every bucket one bit away."""
    qv = np.asarray(query, dtype=np.float64)[:, None]
    qbucket = int(_srp_ids(qv, planes, len(planes))[0, 0])
    probes = [qbucket]
    if probe_hamming >= 1:
        probes += [qbucket ^ (1 << i) for i in range(len(planes))]
    return probes


def _topk(
    candidates: DataFrame,
    query: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    round_digits: int | None,
) -> DataFrame:
    sim = _row_udf(_cosine_kernel(query), "double", vec_col, id_col)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        candidates.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def brute_force_cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact baseline: scan + top-k (TakeOrderedAndProject) — O(N·d)
    per query, embarrassingly parallel, no shuffle but the k-merge."""
    return _topk(df, query, k, id_col, vec_col, round_digits)


def lsh_bucketed_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 1,
    round_digits: int | None = 4,
) -> DataFrame:
    """ANN over an UN-indexed table: computes buckets at query time, so
    the scan still reads every row (pruning only saves the re-rank).
    The scale path is write_srp_index + srp_topk_pruned below, where
    the probe is a partition-pruned scan (plan-asserted in tests)."""
    planes = _hyperplanes(len(query), n_planes)
    probes = _srp_probes(query, planes, probe_hamming)
    candidates = df.filter(_srp_bucket(vec_col, planes, id_col).isin(probes))
    return _topk(candidates, query, k, id_col, vec_col, round_digits)


# ---------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-then-probe scale path
# ---------------------------------------------------------------------

def _ivf_bucket(centroids: np.ndarray, vec_col: str, id_col: str | None) -> Column:
    """Each vector's nearest centroid: the first maximum of the dots
    with the unit-normalized centroids."""
    norms = np.linalg.norm(centroids, axis=1, keepdims=True)
    unit = centroids / np.where(norms == 0, 1, norms)

    def kernel(vecs, ids):
        valid, lengths, starts, flat = _unpack(vecs)
        _check_lengths(valid, lengths, unit.shape[1], ids, "centroids")
        rows = np.flatnonzero(valid)
        x = _gather(starts, flat, rows, unit.shape[1])
        out = np.zeros(len(valid), dtype=np.int32)
        out[rows] = _inner(x[:, :, None], unit.T[:, None, :]).argmax(axis=1)
        return pa.array(out, mask=~valid)

    return _row_udf(kernel, "int", vec_col, id_col)


def ivf_assign_buckets(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    bucket_col: str = "_ivf_bucket",
) -> DataFrame:
    """Assign each vector to its nearest centroid.  At scale the table
    is written partitioned by this column, so a query scans only probed
    partitions (partition pruning == IVF inverted lists)."""
    return df.withColumn(bucket_col, _ivf_bucket(centroids, vec_col, None))


def train_ivf_centroids(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    sample_rows: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Mini k-means on a driver-side sample (deterministic seed/order).
    The sample is tiny by design — centroids are broadcast constants,
    the full table is only ever scanned for assignment."""
    sample = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("string")))
        .limit(sample_rows)
        .collect()
    )
    x = np.asarray([list(r[0]) for r in sample], dtype=np.float64)
    rng = np.random.Generator(np.random.PCG64(seed))
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        d = x @ cent.T  # cosine-ish assignment on roughly-normalized data
        assign = d.argmax(axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


def _rank_probes(query: list[float], centroids: np.ndarray, n_probe: int) -> list[int]:
    qv = np.asarray(query, dtype=np.float64)
    norms = np.linalg.norm(centroids, axis=1)
    scores = (centroids @ qv) / np.where(norms == 0, 1, norms)
    return [int(i) for i in np.argsort(-scores)[:n_probe]]


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF search over an UN-indexed table: assigns buckets at query
    time, so it still scans every row (candidate filter only saves the
    re-rank).  Use write_ivf_index + ivf_topk_pruned for the scale
    path, where the probe is a partition-pruned scan."""
    probes = _rank_probes(query, centroids, n_probe)
    candidates = df.filter(_ivf_bucket(centroids, vec_col, id_col).isin(probes))
    return _topk(candidates, query, k, id_col, vec_col, round_digits)


# ---------------------------------------------------------------------
# persisted, partition-pruned indexes — the demonstrated 100 TB flow:
# write once partitioned by bucket; every query scans ONLY the probed
# partition directories (IVF inverted lists == hive partition pruning)
# ---------------------------------------------------------------------

def write_ivf_index(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """One-time index build: assign buckets and write the table
    PARTITIONED BY the bucket.  At 100 TB this is one full pass; every
    subsequent query reads n_probe directories."""
    bucketed = ivf_assign_buckets(df, centroids, vec_col, bucket_col="ivf_bucket")
    bucketed.write.mode("overwrite").partitionBy("ivf_bucket").parquet(path)


def ivf_topk_pruned(
    spark,
    index_path: str,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF probe against a persisted index: the isin() filter on the
    partition column becomes a PartitionFilter in the scan (asserted in
    tests/test_plan_shape.py), so only n_probe bucket directories are
    read."""
    probes = _rank_probes(query, centroids, n_probe)
    candidates = spark.read.parquet(index_path).filter(
        F.col("ivf_bucket").isin(probes)
    )
    return _topk(candidates, query, k, id_col, vec_col, round_digits)


# ---------------------------------------------------------------------
# near-duplicate pairs: per-bucket pair recheck
# ---------------------------------------------------------------------

def _pair_chunks(key: np.ndarray, star: bool):
    """Positions (ia, ib) of the pairs to score in a bucket whose rows
    are sorted by id ``key``, about _PAIR_CHUNK at a time: every pair
    with key[ia] < key[ib], or with ``star`` only the min-id row against
    every row with another id."""
    n = len(key)
    if star:
        others = np.flatnonzero(key != key[0])
        for s in range(0, len(others), _PAIR_CHUNK):
            ib = others[s : s + _PAIR_CHUNK]
            yield np.zeros_like(ib), ib
        return
    i0 = 0
    while i0 < n - 1:
        i1, count = i0, 0
        while i1 < n - 1 and (count == 0 or count + n - 1 - i1 <= _PAIR_CHUNK):
            count += n - 1 - i1
            i1 += 1
        left = np.arange(i0, i1)
        lens = n - 1 - left
        ia = np.repeat(left, lens)
        ib = np.arange(len(ia)) - np.repeat(np.cumsum(lens) - lens, lens) + ia + 1
        keep = key[ia] < key[ib]
        yield ia[keep], ib[keep]
        i0 = i1


def _pair_kernel(floor: float, max_bucket_size: int | None):
    """One bucket (a pyarrow Table of id, v) -> its pairs (id_a < id_b)
    with cosine >= ``floor``.  A bucket over ``max_bucket_size`` rows
    scores only star pairs against its min-id row."""

    def run(table: pa.Table) -> pa.Table:
        ids = table.column("id").combine_chunks()
        valid, lengths, starts, flat = _unpack(table.column("v"))
        rows = np.flatnonzero(valid)
        rows = rows[pc.sort_indices(ids.take(rows), null_placement="at_end").to_numpy()]
        key = ids.take(rows)  # sorted; null ids last, never paired
        if len(rows) > 1:
            bad = rows[lengths[rows] != lengths[rows[0]]]
            if len(bad):
                _fail(ids, bad[0], f"vector length {lengths[bad[0]]} differs from the "
                      f"{lengths[rows[0]]} of row id {key[0].as_py()} it is paired with")
        x = _gather(starts, flat, rows, lengths[rows[0]] if len(rows) else 0)
        norms = _norms(x, rows, ids)
        star = max_bucket_size is not None and len(rows) > max_bucket_size
        keyed = key.slice(0, len(key) - key.null_count).to_numpy(zero_copy_only=False)
        ia, ib, cos = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)], [np.zeros(0)]
        for a, b in _pair_chunks(keyed, star) if len(keyed) > 1 else ():
            c = _inner(x[:, a], x[:, b]) / (norms[a] * norms[b])
            keep = c >= floor
            ia.append(a[keep])
            ib.append(b[keep])
            cos.append(c[keep])
        return pa.table({
            "id_a": key.take(np.concatenate(ia)),
            "id_b": key.take(np.concatenate(ib)),
            "_cos": np.concatenate(cos),
        })

    return run


def _pairs_in_buckets(
    keyed: DataFrame,
    id_type: T.DataType,
    threshold: float,
    round_digits: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Run the pair kernel over every ``_b`` bucket of (id, v, _b) rows.
    The kernel keeps cosines within one rounding step below the
    threshold; Catalyst rounds and applies the exact threshold."""
    schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("_cos", T.DoubleType()),
    ])
    kernel = _pair_kernel(threshold - 10.0 ** -round_digits, max_bucket_size)
    pairs = keyed.groupBy("_b").applyInArrow(kernel, schema)
    return pairs.select(
        "id_a", "id_b", F.round("_cos", round_digits).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT all-pairs form:
    (id_a < id_b, cos_sim >= threshold).  One bucket holding every row,
    so O(N²) in one task by construction — use only on small slices or
    as the verification oracle for the blocked variant below."""
    keyed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.lit(0).alias("_b")
    )
    return _pairs_in_buckets(keyed, df.schema[id_col].dataType, threshold, round_digits, None)


def cosine_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int = 6,
    max_bucket_size: int | None = None,
    bands: int = 1,
) -> DataFrame:
    """Scale path for embedding near-dup: SRP-bucket BLOCKING — only
    vectors sharing a sign-random-projection bucket are paired
    (near-identical embeddings share all sign bits with high
    probability), then exact cosine re-check.  One shuffle on the
    bucket id, never an all-pairs cross join; the same banded-bucket
    layout as MinHash-LSH (operators/dedup.py).  Each vector's planes
    have its own length, so a vector of another length can only meet
    the others by chance — and raises when it does.

    ``bands`` > 1 gives MinHash-style multi-band recall for MODERATE
    similarity: a single 8-plane bank finds a cos≈0.9 pair with
    probability only (1 - θ/π)^8 ≈ 0.29 (θ = arccos 0.9), so bands=b
    runs b independent plane banks (seeds derived from ``seed``) and a
    pair is a candidate if it shares a bucket in ANY band:
    1-(1-0.29)^b ≈ 0.97 at b=10.  Each row explodes to b (band,bucket)
    keys — shuffle volume scales linearly with b while the exact
    re-check keeps precision at 1.0; the planted-0.9-pair recall test
    lives in tests/test_operators.py.

    Degenerate-bucket guard (the 100 TB case): with 8 planes there are
    only 256 buckets, and a corpus of near-identical boilerplate
    embeddings piles into ONE of them, making the pair enumeration
    quadratic in that bucket's size.  With ``max_bucket_size`` set,
    buckets above the cap emit O(n) star candidates against the
    bucket's min-id representative instead of all O(n²) pairs — the
    same guard as minhash_candidate_pairs / simhash_near_dup_pairs.
    Star candidates still pass the exact cosine re-check, so every
    emitted pair is a true near-dup; the recall contract under the cap
    is that two members of an over-cap bucket are linked only THROUGH
    the representative (connectivity for downstream union-find is
    preserved), not pairwise.  ``None`` (default) keeps the exact
    all-pairs-within-bucket behavior."""

    def banks(dim: int) -> np.ndarray:
        return np.vstack([_hyperplanes(dim, n_planes, seed + 7919 * k) for k in range(bands)])

    buckets = _row_udf(_srp_kernel(n_planes, bands, banks, None), "array<int>", vec_col)
    keyed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.explode(buckets).alias("_b")
    )
    out = _pairs_in_buckets(
        keyed, df.schema[id_col].dataType, threshold, round_digits, max_bucket_size
    )
    # bands == 1: a pair meets in exactly one bucket, so pairs are
    # already unique — the dedup shuffle is only needed when multiple
    # bands can emit the same pair
    return out.distinct() if bands > 1 else out


def write_srp_index(
    df: DataFrame,
    dim: int,
    path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """SRP-LSH analog of write_ivf_index: persist partitioned by the
    sign-random-projection bucket (deterministic hyperplanes)."""
    planes = _hyperplanes(dim, n_planes, seed)
    df.withColumn("srp_bucket", srp_bucket_col(vec_col, planes)).write.mode(
        "overwrite"
    ).partitionBy("srp_bucket").parquet(path)


def srp_topk_pruned(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Multi-probe SRP query against a persisted index: partition-
    pruned scan of the query bucket plus all buckets within
    `probe_hamming` bits."""
    probes = _srp_probes(query, _hyperplanes(len(query), n_planes, seed), probe_hamming)
    candidates = spark.read.parquet(index_path).filter(
        F.col("srp_bucket").isin(probes)
    )
    return _topk(candidates, query, k, id_col, vec_col, round_digits)
