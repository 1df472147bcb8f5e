"""The three workloads' operations and their correctness checks.

Every op returns an ``OpResult``; ``ok`` is False when the program's
output differs from the independent oracle.  The benchmark counts such
an op as failed, exactly like one that raised.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from decimal import Decimal

from .stats import CpuMeter, Tracer

AGG_PASSTHROUGH = ["doc_id", "source", "n_tok"]

#: operator module -> headline queries whose cost it carries
OPERATOR_QUERIES = {
    "operators.similarity_s": [
        "ann_cosine_topk_brute", "ann_cosine_topk_ivf_pruned",
        "embedding_cosine_near_dup_blocked",
    ],
    "operators.dedup_s": ["minhash_lsh_candidates"],
    "operators.sketch_s": ["sketch_heavy_hitters_exact"],
    "operators.timeseries_s": [
        "asof_join_latest_value", "range_join_first_day_counts",
        "hypertable_rollup_day_from_hour",
    ],
    "operators.curation_s": ["curation_paragraph_dedup"],
    "adapters.elastic_s": ["elastic_search_json_envelope"],
}


@dataclass
class OpResult:
    seconds: float
    seqs: int
    ok: bool
    error: str = ""
    extra: dict = field(default_factory=dict)
    cpu: float = 0.0  # machine-wide busy CPU seconds in the timed region


# ---------------------------------------------------------------------
# pipeline workloads
# ---------------------------------------------------------------------

def groups_match(rows, expected_groups: dict) -> str:
    """'' when the (sink_id, source, level) -> (n_rows, sum_n_tok)
    aggregates equal the oracle's, else a description of the first
    difference."""
    got = {}
    for r in rows:
        key = (r["sink_id"], r["source"], r["level"])
        if key in got:
            return f"duplicate group {key}"
        got[key] = (int(r["n_rows"]), int(r["sum_n_tok"]))
    if got == expected_groups:
        return ""
    for key in sorted(set(got) | set(expected_groups), key=repr):
        if got.get(key) != expected_groups.get(key):
            return f"group {key}: got {got.get(key)}, oracle {expected_groups.get(key)}"
    return "groups differ"


def aggregate_op(spark, files: list[str], expected: dict, tracer: Tracer) -> OpResult:
    """transform(narrow passthrough) -> salted per-sink aggregate -> collect."""
    from sneller_spark.pipeline.aggregate import aggregate_per_sink_salted
    from sneller_spark.pipeline.runner import transform

    with tracer.span("aggregate.op"), CpuMeter() as m:
        with tracer.span("aggregate.construct"):
            df = spark.read.parquet(*files)
            agg = aggregate_per_sink_salted(transform(spark, df, passthrough=AGG_PASSTHROUGH))
        with tracer.span("aggregate.collect"):
            rows = agg.collect()
    err = groups_match(rows, expected["groups"])
    return OpResult(m.wall, expected["rows_in"], not err, err, cpu=m.busy)


def ingest_op(spark, in_dir: str, out_dir: str, expected: dict, tracer: Tracer) -> OpResult:
    """run_pipeline into a fresh out dir, then check the manifests'
    totals and the final aggregate against the oracle (untimed)."""
    from sneller_spark.pipeline.lineage import LineageLog
    from sneller_spark.pipeline.runner import read_aggregates, run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("runner.run_pipeline"), CpuMeter() as m:
        stats = run_pipeline(spark, in_dir, out_dir)
    err = ""
    if stats["rows_in"] != expected["rows_in"] or stats["rows_routed"] != expected["rows_routed"]:
        err = (f"manifest rows_in/rows_routed {stats['rows_in']}/{stats['rows_routed']}, "
               f"oracle {expected['rows_in']}/{expected['rows_routed']}")
    if not err:
        err = groups_match(read_aggregates(spark, out_dir).collect(), expected["groups"])
    log = LineageLog(out_dir)
    walls = [log.read_manifest(u).wall_ms for u in sorted(log.committed_units())]
    shutil.rmtree(out_dir, ignore_errors=True)
    extra = {"unit_wall_ms": walls, "units": stats["units"]}
    return OpResult(m.wall, expected["rows_in"], not err, err, extra, m.busy)


# ---------------------------------------------------------------------
# catalog workload
# ---------------------------------------------------------------------

def canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(round(v, 9) + 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    return str(v)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name,
    values normalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        (tuple(canon_value(r[i]) for i in order) for r in rows), key=repr
    )


def duckdb_expected(sf_dir: str, queries: list[str], tmp_dir: str) -> dict:
    """Canonical DuckDB answers for every query that has an oracle."""
    import duckdb

    from sneller_spark.query_catalog import CATALOG

    from .inputs import CATALOG_TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute("SET threads=4")
        for t in CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for q in queries:
            sql = CATALOG[q].oracle
            if sql is None:
                continue
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[q] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        return out
    finally:
        con.close()


def rows_only_facts(sf_dir: str) -> dict:
    """Independent facts for the two queries without a SQL oracle:
    every vector's cosine to the query vector (vec_id 0), and the
    documents that have an exact-text duplicate."""
    import numpy as np
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    q = m[emb["vec_id"].to_numpy() == 0][0]
    cos = (m @ q) / (np.sqrt((m * m).sum(1)) * math.sqrt(float(q @ q)))
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    dup = docs[docs.duplicated("text", keep=False)]
    return {
        "cos": dict(zip(emb["vec_id"].tolist(), cos.tolist())),
        "dup_docs": set(dup["doc_id"].tolist()),
        "n_docs": len(docs),
    }


def check_rows_only(name: str, columns: list[str], rows, facts: dict) -> str:
    if name == "ann_cosine_topk_ivf_pruned":
        if len(rows) != 10:
            return f"{len(rows)} rows, want 10"
        ids = [r[columns.index("vec_id")] for r in rows]
        if len(set(ids)) != 10:
            return "duplicate vec_id"
        for r in rows:
            want = facts["cos"].get(r[columns.index("vec_id")])
            if want is None or abs(r[columns.index("cos_sim")] - want) > 6e-5:
                return f"cos_sim {r[columns.index('cos_sim')]} for vec {r[columns.index('vec_id')]}, numpy {want}"
        return ""
    if name == "minhash_lsh_candidates":
        a, b = columns.index("id_a"), columns.index("id_b")
        pairs = {(r[a], r[b]) for r in rows}
        if len(pairs) != len(rows):
            return "duplicate candidate pair"
        if any(not (0 <= x < y < facts["n_docs"]) for x, y in pairs):
            return "candidate pair out of order or out of range"
        linked = {x for p in pairs for x in p}
        missing = facts["dup_docs"] - linked
        if missing:
            return f"exact duplicates without a candidate pair: {sorted(missing)[:5]}"
        return ""
    return f"no check for {name}"


class Catalog:
    """The headline queries over the catalog tables, with their
    DuckDB answers and the facts the two rows-only checks need."""

    def __init__(self, sf_dir: str, tmp_dir: str):
        from bench import HEADLINE_QUERIES
        from sneller_spark import query_catalog_ml  # noqa: F401  (registers entries)
        from sneller_spark.query_catalog import CATALOG

        self.sf_dir = sf_dir
        self.queries = list(HEADLINE_QUERIES)
        self.catalog = CATALOG
        self.expected = duckdb_expected(sf_dir, self.queries, tmp_dir)
        self.facts = rows_only_facts(sf_dir)
        import pyarrow.parquet as pq

        from .inputs import CATALOG_TABLES

        self.table_rows = {
            t: pq.ParquetFile(f"{sf_dir}/{t}.parquet").metadata.num_rows for t in CATALOG_TABLES
        }
        self.input_rows: dict[str, int] = {}

    def open_inputs(self, spark) -> None:
        """Resolve every table's schema (part of set-up)."""
        for t in self.table_rows:
            spark.read.parquet(f"{self.sf_dir}/{t}.parquet").schema

    def rows_read(self, name: str, df) -> int:
        """Rows of the catalog tables a query reads, from its own plan's
        input files (looked up once per query).  The IVF query reads its
        persisted index instead, which holds the embeddings table."""
        if name not in self.input_rows:
            tables = {os.path.basename(f).split(".parquet")[0] for f in df.inputFiles()}
            n = sum(self.table_rows.get(t, 0) for t in tables)
            self.input_rows[name] = n or self.table_rows["embeddings"]
        return self.input_rows[name]

    def check(self, name: str, columns: list[str], rows) -> str:
        if name not in self.expected:
            return check_rows_only(name, columns, rows, self.facts)
        cols, want = self.expected[name]
        if sorted(columns) != cols:
            return f"columns {sorted(columns)} vs oracle {cols}"
        got = canon_rows(columns, rows)
        if len(got) != len(want):
            return f"{len(got)} rows vs oracle {len(want)}"
        if got != want:
            i = next(i for i, (x, y) in enumerate(zip(got, want)) if x != y)
            return f"row {i}: {got[i]} vs oracle {want[i]}"
        return ""

    def op(self, spark, name: str, tracer: Tracer) -> OpResult:
        """One query: construct, collect.  A traced op forces the
        DataFrame's own planning before the collect, which reuses it,
        so construct, plan and execute are timed apart."""
        with tracer.span(f"catalog.{name}"), CpuMeter() as m:
            with tracer.span("catalog.construct") as c:
                df = self.catalog[name].fn(spark, self.sf_dir)
            if tracer.enabled:
                with tracer.span("catalog.plan") as p:
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("catalog.execute") as e:
                rows = df.collect()
        err = self.check(name, df.columns, rows)
        phases = {}
        if tracer.enabled:
            phases = {"construct_s": c.elapsed, "plan_s": p.elapsed, "execute_s": e.elapsed}
        return OpResult(m.wall, self.rows_read(name, df), not err, err, phases, m.busy)
