"""Seeded inputs the benchmark owns, cached on disk.

Pipeline input: seed ``s`` holds rows ``[s*N, s*N + N)`` of the
counter-based ``datagen.generate_chunk`` table, written as a fixed
number of parquet files.  Each file's ``oracle.run_oracle`` result is
stored next to it, so the expected answer of any subset of files is a
sum of cached per-file aggregates.  Generation and the oracle run in a
pool of one process per core, before Spark starts, and are never timed.

Catalog input: the ten tables the headline queries read, generated
with the value domains of the repository's test tables and row counts
scaled by ``sf`` (sf0.1 = 600k lineitem rows).  Every number that a
query sums is a binary fraction (a multiple of 1/4, 1/64 or 1/256), so
sums are exact in any order and Spark and DuckDB round the same digits.
Embeddings are uniform random, so no pair reaches the near-dup
threshold except the duplicates the near-dup query plants itself.
"""

from __future__ import annotations

import json
import multiprocessing
import os

import numpy as np

from .stats import file_digest

_SEED_SLOTS = 100_000  # keeps doc ids within datagen's 10-digit format


def _repo_file(*parts: str) -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), *parts)


def tokens_key(seed: int, rows_per_file: int, n_files: int) -> str:
    src = [_repo_file("sneller_spark", f) for f in ("datagen.py", "vocab.py")]
    return file_digest(src, "tokens", seed, rows_per_file, n_files)


def oracle_key(seed: int, rows_per_file: int, n_files: int) -> str:
    src = [_repo_file("sneller_spark", f)
           for f in ("datagen.py", "vocab.py", "oracle.py", "lookups.py")]
    return file_digest(src, "oracle", seed, rows_per_file, n_files)


def _make_file(task: tuple[str, str, int, int]) -> None:
    """Pool task: write one parquet file and its oracle result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sneller_spark.datagen import generate_chunk
    from sneller_spark.oracle import run_oracle

    data_path, oracle_path, start, end = task
    pdf = generate_chunk(start, end)
    if not os.path.exists(data_path):
        tmp = f"{data_path}.tmp"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, data_path)
    routed, agg = run_oracle(pdf)
    groups = [
        [r.sink_id, r.source, None if r.level is None else str(r.level),
         int(r.n_rows), int(r.sum_n_tok)]
        for r in agg.itertuples(index=False)
    ]
    tmp = f"{oracle_path}.tmp"
    with open(tmp, "w") as f:
        json.dump({"rows_in": len(pdf), "rows_routed": len(routed), "groups": groups}, f)
    os.replace(tmp, oracle_path)


class TokensInput:
    """One seed's pipeline input: ``n_files`` parquet files of
    ``rows_per_file`` rows each, with cached per-file oracle results."""

    def __init__(self, cache_dir: str, seed: int, rows_per_file: int, n_files: int):
        self.seed, self.rows_per_file, self.n_files = seed, rows_per_file, n_files
        self.dir = os.path.join(cache_dir, f"tokens-{seed}-{tokens_key(seed, rows_per_file, n_files)}")
        self.oracle_tag = oracle_key(seed, rows_per_file, n_files)

    def data_path(self, k: int) -> str:
        return os.path.join(self.dir, f"part-{k:03d}.parquet")

    def oracle_path(self, k: int) -> str:
        return os.path.join(self.dir, f"oracle-{k:03d}-{self.oracle_tag}.json")

    def ensure(self, processes: int) -> None:
        """Generate the files and their oracle results, skipping what
        the cache already holds."""
        os.makedirs(self.dir, exist_ok=True)
        base = (self.seed % _SEED_SLOTS) * self.rows_per_file * self.n_files
        todo = [
            (self.data_path(k), self.oracle_path(k),
             base + k * self.rows_per_file, base + (k + 1) * self.rows_per_file)
            for k in range(self.n_files)
            if not (os.path.exists(self.data_path(k)) and os.path.exists(self.oracle_path(k)))
        ]
        if not todo:
            return
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(min(processes, len(todo))) as pool:
            pool.map(_make_file, todo, chunksize=1)

    def files(self) -> list[str]:
        return [self.data_path(k) for k in range(self.n_files)]

    def expected(self) -> dict:
        """Summed per-file oracles: rows_in, rows_routed and
        {(sink_id, source, level): (n_rows, sum_n_tok)}."""
        out = {"rows_in": 0, "rows_routed": 0, "groups": {}}
        for k in range(self.n_files):
            with open(self.oracle_path(k)) as f:
                part = json.load(f)
            out["rows_in"] += part["rows_in"]
            out["rows_routed"] += part["rows_routed"]
            for sink, source, level, n_rows, sum_n_tok in part["groups"]:
                key = (sink, source, level)
                a, b = out["groups"].get(key, (0, 0))
                out["groups"][key] = (a + n_rows, b + sum_n_tok)
        return out


def link_subset(files: list[str], dest: str) -> str:
    """A directory holding hard links to exactly ``files`` (the cache
    dir also holds oracle results), so a run over it sees only them."""
    os.makedirs(dest, exist_ok=True)
    for f in files:
        target = os.path.join(dest, os.path.basename(f))
        if not os.path.exists(target):
            os.link(f, target)
    return dest


# ---------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------

CATALOG_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_WORDS = (
    "a the data query scan filter join group agg sort merge hash key value "
    "row column table part line order customer stream batch window vector "
    "spark big small fast slow index block shard node cache page log event "
    "time user"
).split()


def _quarters(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform multiples of 0.25 in [lo, hi]."""
    return rng.integers(int(lo * 4), int(hi * 4) + 1, n) / 4.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d.astype("timedelta64[D]")).astype("datetime64[us]")


def catalog_frames(seed: int, sf: float) -> dict:
    """The ten catalog tables for ``seed`` at scale ``sf`` as pandas frames."""
    import pandas as pd

    rng = np.random.default_rng([seed, 0xCA7A])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32 = np.int32
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _quarters(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _quarters(rng, -999, 9999, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"])
    price = 900.0 + (np.arange(n_part) % 400) / 4.0
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": price,
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _quarters(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": qty * price[partkey],
        "l_discount": rng.integers(0, 7, n_li) / 64.0,
        "l_tax": rng.integers(0, 6, n_li) / 64.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.minimum(np.floor(rng.exponential(50.0, n_ev) * 4) / 4, 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    lens = rng.integers(10, 90, n_doc)
    texts = [" ".join(rng.choice(words, n)) for n in lens]
    for i in rng.choice(np.arange(1, n_doc), max(4, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]  # exact duplicates for dedup
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = (rng.integers(-256, 257, (n_emb, 64)) / 256.0).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(i32),
    })
    return t


def ensure_catalog(cache_dir: str, seed: int, sf: float) -> str:
    """Write (once per seed and generator version) the catalog tables,
    one parquet file each, and return their directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = file_digest([os.path.abspath(__file__)], "catalog", seed, sf)
    out = os.path.join(cache_dir, f"catalog-{seed}-{key}")
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, pdf in catalog_frames(seed, sf).items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(out, f"{name}.parquet"))
    open(marker, "w").close()
    return out
