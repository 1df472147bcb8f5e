"""Training-data-pipeline catalog entries: the documents/embeddings
operators (dedup, similarity search, text analysis) plus the
pipeline-shaped queries, registered into the same CATALOG as
query_catalog.py."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .operators.dedup import (
    exact_dedup,
    jaccard_similarity_pairs,
    minhash_candidate_pairs,
    minhash_signatures,
    simhash_fingerprint,
)
from .operators.similarity import brute_force_cosine_topk, lsh_bucketed_topk
from .operators.text import document_fingerprint, language_id, quality_features, token_count
from .query_catalog import load, register

# =====================================================================
# pipeline-shaped queries (parse -> enrich -> route -> aggregate)
# =====================================================================

_LANG_REGION = {
    "en": "amer", "es": "amer", "de": "emea", "fr": "emea", "zh": "apac",
}


@register(
    "docs_pipeline_route_agg",
    """SELECT sink, lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM (
         SELECT lang, n_chars,
                CASE WHEN region = 'emea' AND level = 'WARN' THEN 'sink-eu-warn'
                     WHEN level = 'WARN' THEN 'sink-warn'
                     WHEN region = 'apac' THEN 'sink-apac'
                     ELSE 'sink-default' END AS sink
         FROM (
           SELECT lang, n_chars,
                  CASE WHEN text LIKE '%slow%' THEN 'WARN'
                       WHEN text LIKE '%fast%' THEN 'INFO'
                       ELSE 'NONE' END AS level,
                  CASE lang WHEN 'en' THEN 'amer' WHEN 'es' THEN 'amer'
                            WHEN 'de' THEN 'emea' WHEN 'fr' THEN 'emea'
                            WHEN 'zh' THEN 'apac' ELSE 'other' END AS region
           FROM documents))
       GROUP BY sink, lang""",
)
def docs_pipeline_route_agg(spark, sf_dir):
    """The flagship DAG in miniature over the documents table:
    parse (pattern match) -> enrich (broadcast lookup) -> route
    (rule fan-out) -> aggregate (per-sink hash agg)."""
    d = load(spark, sf_dir, "documents")
    parsed = d.withColumn(
        "level",
        F.when(F.col("text").like("%slow%"), "WARN")
        .when(F.col("text").like("%fast%"), "INFO")
        .otherwise("NONE"),
    )
    lookup = F.broadcast(
        spark.createDataFrame(
            [(k, v) for k, v in _LANG_REGION.items()], ["lang", "region"]
        )
    )
    enriched = parsed.join(lookup, "lang", "left").withColumn(
        "region", F.coalesce(F.col("region"), F.lit("other"))
    )
    routed = enriched.withColumn(
        "sink",
        F.when((F.col("region") == "emea") & (F.col("level") == "WARN"), "sink-eu-warn")
        .when(F.col("level") == "WARN", "sink-warn")
        .when(F.col("region") == "apac", "sink-apac")
        .otherwise("sink-default"),
    )
    return routed.groupBy("sink", "lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("sum_chars")
    )


def _default_flagship_dir() -> str:
    """Per-user fixture dir (ADVICE r2: a fixed world-shared /tmp path
    breaks on multi-user machines — second importer hits
    PermissionError or consumes another user's files)."""
    import getpass
    import tempfile

    try:
        user = getpass.getuser()
    except OSError:
        user = str(os.getuid()) if hasattr(os, "getuid") else "nouser"
    return os.path.join(tempfile.gettempdir(), f"sneller_spark_flagship_{user}")


_FLAGSHIP_DIR = os.environ.get("SNELLER_SPARK_FLAGSHIP_DIR", _default_flagship_dir())
_FLAGSHIP_ROWS = 20_000


def _fixture_version() -> str:
    """Content version of everything the flagship fixtures derive from
    (datagen, vocab, lookups source bytes): a code change invalidates
    the /tmp cache instead of silently serving stale parquet to the
    value-checking oracle."""
    import hashlib

    from . import datagen as _dg
    from . import lookups as _lk
    from . import vocab as _vc

    h = hashlib.sha256()
    for mod in (_dg, _vc, _lk):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    h.update(str(_FLAGSHIP_ROWS).encode())
    # fixture-layout version: bump when the set of files written below
    # changes, so cached /tmp fixtures regenerate (module-source hashes
    # above don't see layout-only changes in THIS module)
    h.update(b"layout-v2-runner-units")
    return h.hexdigest()[:16]


def _drop_stale_outs(out: str, prefix: str) -> None:
    """Remove the sibling out dirs of ``out`` named ``prefix*`` but
    keyed by another fixture or layout version: nothing reads them
    again, and the flagship dir outlives the process.  Call it under
    the build lock of ``prefix``."""
    import shutil

    parent, name = os.path.split(out)
    for sibling in os.listdir(parent):
        if sibling.startswith(prefix) and sibling != name:
            shutil.rmtree(os.path.join(parent, sibling), ignore_errors=True)


def _ensure_flagship_inputs() -> str:
    """Materialize the flagship's deterministic input — the tokens
    table, the vocabulary, and the lookup/rule tables — as parquet that
    BOTH engines read, so the driver can value-check the whole
    parse -> enrich -> route -> aggregate DAG (not just row counts).
    Lazy: called from the flagship entry fns and from
    __spark_entry__.oracle_sql() (the oracle SQL references these
    paths and the driver may run it before any Spark entry) — NEVER at
    module import, which must not touch the filesystem."""
    marker = os.path.join(_FLAGSHIP_DIR, "_READY")
    version = _fixture_version()
    current = None
    if os.path.exists(marker):
        with open(marker) as f:
            current = f.read().strip()
    if current != version:
        import numpy as np
        import pandas as pd

        from .datagen import generate_chunk
        from .lookups import lookup_source_pdf, route_rules_pdf
        from .vocab import build_vocab

        os.makedirs(_FLAGSHIP_DIR, exist_ok=True)
        vocab = build_vocab()
        frames = {
            "input.parquet": generate_chunk(0, _FLAGSHIP_ROWS),
            "vocab.parquet": pd.DataFrame(
                {"id": np.arange(len(vocab), dtype=np.int32), "word": vocab}
            ),
            "lookup.parquet": lookup_source_pdf(),
            "rules.parquet": route_rules_pdf(),
        }
        # tmp + atomic rename: concurrent first-importers (pytest and a
        # bench subprocess, say) must never interleave writes into the
        # same file; the content is deterministic so last-rename wins
        # with identical bytes
        pid = os.getpid()
        # the same input split into unit files: run_pipeline's unit of
        # work is one input parquet file, so the runner-integration
        # entry (runner_sketch_merged_hitters) needs a multi-file input
        # directory to exercise per-unit sketches + the n-way merge
        runner_dir = os.path.join(_FLAGSHIP_DIR, "runner_units")
        os.makedirs(runner_dir, exist_ok=True)
        inp = frames["input.parquet"]
        n_units = 4
        step = (len(inp) + n_units - 1) // n_units
        for k in range(n_units):
            frames[os.path.join("runner_units", f"part-{k}.parquet")] = (
                inp.iloc[k * step: (k + 1) * step]
            )
        for fname, pdf in frames.items():
            tmp = os.path.join(_FLAGSHIP_DIR, f".{fname.replace(os.sep, '_')}.{pid}.tmp")
            pdf.to_parquet(tmp, index=False)
            os.replace(tmp, os.path.join(_FLAGSHIP_DIR, fname))
        # marker published atomically too: a reader that sees the
        # marker must be guaranteed to see the (already-renamed) data
        marker_tmp = f"{marker}.{pid}.tmp"
        with open(marker_tmp, "w") as f:
            f.write(version)
        os.replace(marker_tmp, marker)
    return _FLAGSHIP_DIR


_FLAGSHIP_AGG_ORACLE = f"""WITH tok AS (
         SELECT doc_id, unnest(tokens) AS tid, generate_subscripts(tokens, 1) AS pos
         FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet')
       ), txt AS (
         SELECT t.doc_id, string_agg(v.word, ' ' ORDER BY t.pos) AS text
         FROM tok t JOIN read_parquet('{_FLAGSHIP_DIR}/vocab.parquet') v ON v.id = t.tid
         GROUP BY t.doc_id
       ), parsed AS (
         SELECT i.source, i.n_tok,
                NULLIF(regexp_extract(x.text,
                       'LEVEL=(DEBUG|INFO|WARN|ERROR)\\b', 1), '') AS level
         FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet') i
         JOIN txt x USING (doc_id)
       ), enriched AS (
         SELECT p.*, COALESCE(l.category, 'unknown') AS category
         FROM parsed p
         LEFT JOIN read_parquet('{_FLAGSHIP_DIR}/lookup.parquet') l USING (source)
       ), routed AS (
         SELECT e.source, e.level, e.n_tok,
                COALESCE(r.sink_id, 'sink-7') AS sink_id
         FROM enriched e
         LEFT JOIN read_parquet('{_FLAGSHIP_DIR}/rules.parquet') r
           ON r.category = e.category AND r.level = e.level
       )
       SELECT sink_id, source, level,
              COUNT(*) AS n_rows, CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok
       FROM routed GROUP BY sink_id, source, level"""


@register("tokens_pipeline_flagship", _FLAGSHIP_AGG_ORACLE)
def tokens_pipeline_flagship(spark, sf_dir):
    """The real flagship: parse -> enrich -> route -> aggregate over
    the deterministic tokenized-sequence table.  The input (plus vocab
    and lookup/rule tables) is materialized as parquet both engines
    read, so the DuckDB oracle re-implements the ENTIRE DAG in SQL —
    decode via vocab join + string_agg, pattern extraction, lookup
    enrichment, rule routing with catch-all, per-sink aggregate — and
    the driver value-checks exact per-sink counts (BASELINE.json's
    'per-sink aggregate counts exactly equal' criterion), not just row
    counts.  Input is independent of sf_dir by design."""
    from .pipeline.aggregate import aggregate_per_sink_salted
    from .pipeline.runner import transform

    d = _ensure_flagship_inputs()
    df = spark.read.parquet(os.path.join(d, "input.parquet"))
    return aggregate_per_sink_salted(transform(spark, df))


@register("tokens_pipeline_jvm_kernel", _FLAGSHIP_AGG_ORACLE)
def tokens_pipeline_jvm_kernel(spark, sf_dir):
    """Same DAG, same oracle, ZERO-Python kernel: vocab-literal decode
    + regexp_extract under whole-stage codegen (``parse_stage_jvm``).
    A green row here proves the JVM and production parse kernels are
    interchangeable at the driver gate, not just in pytest."""
    from .lookups import lookup_source_df, route_rules_df
    from .pipeline.aggregate import aggregate_per_sink_salted
    from .pipeline.enrich import enrich_stage
    from .pipeline.parse import PARSED_FIELDS, parse_stage_jvm
    from .pipeline.route import route_stage

    d = _ensure_flagship_inputs()
    df = spark.read.parquet(os.path.join(d, "input.parquet"))
    parsed = parse_stage_jvm(df).select("doc_id", "source", "n_tok", *PARSED_FIELDS)
    enriched = enrich_stage(parsed, lookup_source_df(spark))
    return aggregate_per_sink_salted(route_stage(enriched, route_rules_df(spark)))


# =====================================================================
# dedup family (SURVEY.md build-plan extras)
# =====================================================================

@register(
    "dedup_exact_counts",
    """SELECT COUNT(*) AS n_docs,
              COUNT(DISTINCT lower(trim(text))) AS n_unique_text,
              COUNT(DISTINCT md5(text)) AS n_unique_md5
       FROM documents""",
)
def dedup_exact_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.lower(F.trim(F.col("text")))).alias("n_unique_text"),
        F.count_distinct(F.md5("text")).alias("n_unique_md5"),
    )


@register("dedup_exact_groups", None)  # xxhash64 has no DuckDB twin
def dedup_exact_groups(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


@register("minhash_signatures_sample", None)
def minhash_signatures_sample(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return minhash_signatures(d, "doc_id", "text", n_hashes=16, shingle_k=5)


@register("minhash_lsh_candidates", None)
def minhash_lsh_candidates(spark, sf_dir):
    """Scale path: opts into the degenerate-bucket star-pair cap
    explicitly (library default is uncapped/exact)."""
    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, "doc_id", "text", n_hashes=16, shingle_k=5)
    return minhash_candidate_pairs(sigs, n_hashes=16, bands=4, max_bucket_size=64)


@register(
    "dedup_keep_first_rows",
    """SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                MIN(doc_id) OVER (PARTITION BY lower(trim(text))) AS keep
         FROM documents) WHERE doc_id = keep""",
)
def dedup_keep_first_rows(spark, sf_dir):
    """Dedup as a pipeline stage: the SURVIVING rows (min-id
    representative per normalized-text group), not just group stats."""
    from .operators.dedup import dedup_keep_first

    d = load(spark, sf_dir, "documents")
    return dedup_keep_first(d, "doc_id", "text").select("doc_id", "lang", "n_chars")


@register("simhash_near_dups", None)  # xxhash64-based: rows-only
def simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs: banded blocking (pigeonhole over
    fingerprint bands) + exact bit_count(xor) hamming verification —
    pytest proves planted near-dups are found and the hamming cut is
    exact."""
    from .operators.dedup import simhash_near_dup_pairs

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return simhash_near_dup_pairs(d, "doc_id", "text", bits=48, max_hamming=3, bands=4)


@register("simhash_fingerprints", None)
def simhash_fingerprints(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash_fingerprint(d, "doc_id", "text", bits=32)


@register(
    "ngram_jaccard_pairs",
    """WITH w AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         WHERE doc_id < 60
       ), sh AS (
         SELECT DISTINCT doc_id,
                unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 2, 0)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         FROM w
       ), sizes AS (
         SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
       ), inter AS (
         SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
         FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
         GROUP BY 1, 2
       )
       SELECT id_a, id_b, n_common,
              ROUND(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.015""",
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via inverted-index join
    (never a cross join)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    # the stop-shingle cap is live on the scale path; at this slice no
    # shingle approaches it, so the result is bit-identical to the
    # exact full-universe oracle above
    return jaccard_similarity_pairs(
        d, "doc_id", "text", shingle_k=3, min_sim=0.015, max_doc_freq=1000
    )


# Shared edge definition for the connected-components entries: the
# (exact, oracle-proven) jaccard pairs over the doc_id < 60 slice.
_CC_EDGE_CTES = """w AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         WHERE doc_id < 60
       ), sh AS (
         SELECT DISTINCT doc_id,
                unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 2, 0)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         FROM w
       ), sizes AS (
         SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
       ), inter AS (
         SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
         FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
         GROUP BY 1, 2
       ), pairs AS (
         SELECT id_a, id_b FROM inter
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - n_common) >= 0.015
       ), edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs
       ), reach(u, v) AS (
         SELECT u, v FROM edges
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       ), comp AS (
         SELECT d.doc_id,
                CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
                  AS component
         FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
         LEFT JOIN reach r ON r.u = d.doc_id
         GROUP BY d.doc_id
       )"""


def _cc_inputs(spark, sf_dir):
    from .operators.dedup import jaccard_similarity_pairs as _jp

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = _jp(
        d, "doc_id", "text", shingle_k=3, min_sim=0.015, max_doc_freq=1000
    ).select("id_a", "id_b")
    return d, pairs


@register(
    "dedup_connected_components",
    f"WITH RECURSIVE {_CC_EDGE_CTES}\n       SELECT doc_id, component FROM comp",
)
def dedup_connected_components(spark, sf_dir):
    """Connected components over near-dup candidate pairs — the step
    between pair generation and cluster representatives.  Spark side
    is iterative min-label propagation (operators/dedup.py
    connected_components, O(diameter) rounds, one shuffle-join + one
    map-side-combined min() per round); the oracle is the transitive
    closure as a DuckDB recursive CTE, so the equivalence is
    value-checked, not rows-only."""
    from .operators.dedup import connected_components

    d, pairs = _cc_inputs(spark, sf_dir)
    comp = connected_components(pairs, "id_a", "id_b")
    return (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


@register(
    "near_dedup_surviving_rows",
    f"""WITH RECURSIVE {_CC_EDGE_CTES}
       SELECT d.doc_id, d.lang, d.n_chars
       FROM documents d JOIN comp c ON d.doc_id = c.doc_id
       WHERE c.component = d.doc_id""",
)
def near_dedup_surviving_rows(spark, sf_dir):
    """End-to-end near-dedup a training pipeline runs: candidate pairs
    -> connected components -> keep the min-id representative row per
    cluster (untouched rows survive).  Anti-join against the loser id
    set; value-checked against the recursive-CTE oracle."""
    from .operators.dedup import dedup_near_keep_rows

    d, pairs = _cc_inputs(spark, sf_dir)
    return dedup_near_keep_rows(d, pairs, "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


# =====================================================================
# similarity search over embeddings
# =====================================================================

def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(v) for v in row["embedding"]]


@register(
    "ann_cosine_topk_brute",
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       s AS (
         SELECT e.vec_id,
                SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qe[g.i] AS DOUBLE)) AS dot,
                SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE)) AS n1,
                SUM(CAST(q.qe[g.i] AS DOUBLE) * CAST(q.qe[g.i] AS DOUBLE)) AS n2
         FROM embeddings e, q, generate_series(1, 64) g(i)
         GROUP BY e.vec_id)
       SELECT vec_id, ROUND(dot / (SQRT(n1) * SQRT(n2)), 4) AS cos_sim
       FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10""",
)
def ann_cosine_topk_brute(spark, sf_dir):
    """Exact brute-force cosine top-k (INNER_PRODUCT/COSINE_DISTANCE
    analogs, expr/builtin.go:227-230)."""
    e = load(spark, sf_dir, "embeddings")
    return brute_force_cosine_topk(e, _query_vec(spark, sf_dir), k=10)


@register(
    "embedding_cosine_near_dup",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings WHERE vec_id < 80)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ROUND(list_dot_product(a.e, b.e)
                    / (SQRT(list_dot_product(a.e, a.e))
                       * SQRT(list_dot_product(b.e, b.e))), 6) AS cos_sim
       FROM v a JOIN v b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.e, b.e)
             / (SQRT(list_dot_product(a.e, a.e))
                * SQRT(list_dot_product(b.e, b.e))) >= 0.2""",
)
def embedding_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs over a small
    slice; the oracle is DuckDB's list_dot_product).  The scale path is
    embedding_cosine_near_dup_blocked."""
    from .operators.similarity import cosine_near_dup_pairs

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    return cosine_near_dup_pairs(e, threshold=0.2)


@register(
    "embedding_cosine_near_dup_blocked",
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cos_sim
       FROM embeddings WHERE vec_id < 20""",
)
def embedding_cosine_near_dup_blocked(spark, sf_dir):
    """Scale path: SRP-bucket blocking + exact cosine re-check of the
    pairs inside each bucket — one shuffle on the bucket id, no join.
    The entry plants 20 exact duplicates (vec_id + 1e6): identical vectors share
    every SRP sign bit, so blocking finds them DETERMINISTICALLY, and
    the uniform-random base table has no 0.99-cosine pair to emit (a
    0.99 cosine at 64 dims is an ~8-sigma event) — hence the exact
    oracle."""
    from .operators.similarity import cosine_near_dup_pairs_blocked

    e = load(spark, sf_dir, "embeddings")
    dup = e.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    # degenerate-bucket cap live on the scale path; no bucket at this
    # sf approaches 256, so the exact oracle above still holds
    return cosine_near_dup_pairs_blocked(
        e.unionByName(dup), threshold=0.99, n_planes=8, max_bucket_size=256
    )


@register(
    "embedding_cosine_near_dup_multiband",
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cos_sim
       FROM embeddings WHERE vec_id < 20""",
)
def embedding_cosine_near_dup_multiband(spark, sf_dir):
    """Multi-band SRP blocking (bands=4 independent plane banks, union
    of band buckets — MinHash-style recall amplification for the
    sub-0.99 regime; the planted-0.9-pair recall proof is
    test_cosine_blocked_multiband_recall_at_090).  Identical vectors
    share every sign bit in EVERY bank, so the planted exact dups are
    still found deterministically and the exact oracle holds; the cap
    bounds each (band, bucket) at O(n)."""
    from .operators.similarity import cosine_near_dup_pairs_blocked

    e = load(spark, sf_dir, "embeddings")
    dup = e.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    return cosine_near_dup_pairs_blocked(
        e.unionByName(dup),
        threshold=0.99,
        n_planes=8,
        bands=4,
        max_bucket_size=256,
    )


@register("ann_cosine_topk_lsh", None)  # hyperplane pruning: rows-only
def ann_cosine_topk_lsh(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(e, _query_vec(spark, sf_dir), k=10, n_planes=6)


@register(
    "embedding_norm_by_label",
    """SELECT label,
              ROUND(AVG(SQRT(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                     x -> x * x)))), 4) AS avg_norm,
              COUNT(*) AS n
       FROM embeddings GROUP BY label""",
)
def embedding_norm_by_label(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return e.groupBy("label").agg(
        F.round(F.avg(norm), 4).alias("avg_norm"), F.count(F.lit(1)).alias("n")
    )


# =====================================================================
# text analysis
# =====================================================================

@register(
    "text_quality_by_lang",
    """SELECT lang,
              COUNT(*) AS n_docs,
              ROUND(AVG(LENGTH(text)), 4) AS avg_chars,
              ROUND(AVG(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 4) AS avg_words,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM documents GROUP BY lang""",
)
def text_quality_by_lang(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_words = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        F.round(F.avg(n_words), 4).alias("avg_words"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "token_count_stats",
    """SELECT source,
              CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS total_ws_tokens,
              CAST(SUM(len(regexp_extract_all(text, '([a-zA-Z]+|\\d+|[^\\w\\s])', 1))) AS BIGINT) AS total_bpe_tokens
       FROM documents GROUP BY source""",
)
def token_count_stats(spark, sf_dir):
    d = token_count(load(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.sum("n_ws_tokens").alias("total_ws_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
    )


@register(
    "language_id_heuristic",
    """WITH w AS (
         SELECT lang, string_split_regex(text, '\\s+') AS ws,
                greatest(len(string_split_regex(text, '\\s+')), 1) AS nw
         FROM documents),
       s AS (
         SELECT lang,
           CAST(len(list_distinct(list_intersect(ws, ['the','a','of','and','to','in','is','it','that','for']))) AS DOUBLE) / nw AS s_en,
           CAST(len(list_distinct(list_intersect(ws, ['der','die','das','und','ist','ein','zu','mit','von','nicht']))) AS DOUBLE) / nw AS s_de,
           CAST(len(list_distinct(list_intersect(ws, ['el','la','de','que','y','en','un','es','por','con']))) AS DOUBLE) / nw AS s_es,
           CAST(len(list_distinct(list_intersect(ws, ['le','la','de','et','est','un','que','pour','dans','avec']))) AS DOUBLE) / nw AS s_fr,
           CAST(len(list_distinct(list_intersect(ws, ['de','shi','bu','le','zai','you','wo','ta','men','zhe']))) AS DOUBLE) / nw AS s_zh
         FROM w),
       p AS (
         SELECT lang,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM s)
       SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY lang, lang_pred""",
)
def language_id_heuristic(spark, sf_dir):
    """Stopword-intersection argmax language ID; tie-break order in the
    oracle's CASE chain mirrors the Spark when-chain (en>de>es>fr>zh)."""
    d = load(spark, sf_dir, "documents")
    return language_id(d).groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


@register(
    "quality_features_sample",
    """WITH q AS (
         SELECT doc_id, text,
                string_split_regex(text, '\\s+') AS ws,
                len(string_split_regex(text, '\\s+')) AS nw
         FROM documents WHERE doc_id < 100)
       SELECT doc_id,
              CAST(nw AS INT) AS n_words,
              ROUND(CAST(length(text) - nw + 1 AS DOUBLE) / greatest(nw, 1), 6) AS avg_word_len,
              ROUND(CAST(len(list_distinct(list_intersect(ws,
                    ['the','a','of','and','to','in','is','it','that','for']))) AS DOUBLE)
                    / greatest(nw, 1), 6) AS stopword_ratio,
              ROUND(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1), 6) AS punct_ratio
       FROM q""",
)
def quality_features_sample(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return quality_features(d).select(
        "doc_id", "n_words", "avg_word_len", "stopword_ratio", "punct_ratio"
    )


@register(
    "doc_fingerprint_shards",
    """SELECT CAST(('0x' || substr(md5(text), 1, 1))::BIGINT AS INT) AS shard,
              COUNT(*) AS n
       FROM documents GROUP BY 1""",
)
def doc_fingerprint_shards(spark, sf_dir):
    d = document_fingerprint(load(spark, sf_dir, "documents"))
    return d.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))


@register(
    "lang_distribution",
    """SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars), 4) AS avg_chars
       FROM documents GROUP BY lang""",
)
def lang_distribution(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("n_chars"), 4).alias("avg_chars")
    )


@register("ann_cosine_topk_ivf", None)  # probe pruning: rows-only
def ann_cosine_topk_ivf(spark, sf_dir):
    """IVF ANN: deterministic mini-kmeans centroids (driver-side
    sample), per-row kernel bucket assignment (partition-prunable at
    scale), n_probe nearest buckets scanned, exact re-rank.

    Recall note: the synthetic embeddings are uniform-random (IVF's
    worst case — no cluster structure); measured recall@10 vs exact
    brute force on sf0.01 rises monotonically 3/5/9/10 out of 10 at
    n_probe=2/4/6/8 with k=8 lists.  Real embedding corpora cluster,
    which is what makes n_probe << k useful."""
    from .operators.similarity import ivf_topk, train_ivf_centroids

    e = load(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(e, k=8)
    return ivf_topk(e, _query_vec(spark, sf_dir), centroids, k=10, n_probe=4)


def _index_path(sf_dir: str, kind: str) -> str:
    """Cache key includes the source table's (mtime, size): regenerated
    embeddings at the same path must never silently reuse a stale
    partitioned index."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        tok = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        tok = "missing"
    h = hashlib.sha256(f"{sf_dir}|{tok}".encode()).hexdigest()[:10]
    root = os.environ.get(
        "SNELLER_SPARK_INDEX_DIR",
        _default_flagship_dir().replace("_flagship_", "_indexes_"),
    )
    return os.path.join(root, f"{kind}_{h}")


@register("ann_cosine_topk_ivf_pruned", None)  # probe pruning: rows-only
def ann_cosine_topk_ivf_pruned(spark, sf_dir):
    """The demonstrated scale flow for IVF ANN: build-once index
    persisted PARTITIONED BY ivf_bucket (centroids saved beside it),
    then a query that reads only the n_probe probed directories —
    partition pruning is asserted in tests/test_plan_shape.py."""
    import os

    import numpy as np

    from .operators.similarity import (
        ivf_topk_pruned,
        train_ivf_centroids,
        write_ivf_index,
    )

    path = _index_path(sf_dir, "ivf")
    cfile = os.path.join(path, "_centroids.npy")  # leading _ -> invisible to the reader
    if not os.path.exists(cfile):
        e = load(spark, sf_dir, "embeddings")
        cent = train_ivf_centroids(e, k=8)
        write_ivf_index(e, cent, path)
        np.save(cfile, cent)
    cent = np.load(cfile)
    return ivf_topk_pruned(
        spark, path, _query_vec(spark, sf_dir), cent, k=10, n_probe=4
    )


@register("ann_cosine_topk_srp_pruned", None)  # probe pruning: rows-only
def ann_cosine_topk_srp_pruned(spark, sf_dir):
    """SRP-LSH twin of the IVF flow: persisted index partitioned by the
    sign-random-projection bucket, multi-probe partition-pruned query."""
    import os

    from .operators.similarity import srp_topk_pruned, write_srp_index

    q = _query_vec(spark, sf_dir)
    path = _index_path(sf_dir, "srp")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        e = load(spark, sf_dir, "embeddings")
        write_srp_index(e, dim=len(q), path=path, n_planes=6)
    return srp_topk_pruned(spark, path, q, k=10, n_planes=6, probe_hamming=1)


@register("multimodal_asset_features", None)  # synthetic assets: rows-only
def multimodal_asset_features(spark, sf_dir):
    """Multimodal plumbing made driver-visible: deterministic synthetic
    asset table (binary payload + typed meta) -> Arrow-batched image
    feature extraction (gated codec, seeded fake in this container) +
    JVM-side video frame sampling -> per-modality scalar stats.  All
    output columns scalar (catalog lint)."""
    from .operators.multimodal import image_features, sample_video_frames, synth_assets_df

    assets = synth_assets_df(spark, n=96)
    base = assets.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).alias("total_payload_bytes"),
    )
    feats = image_features(assets, dim=16).select(
        F.lit("image").alias("modality"),
        F.element_at("features", 1).alias("f0"),
    )
    img = feats.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_feature_rows"),
        F.round(F.avg("f0"), 6).alias("avg_f0"),
    )
    frames = (
        sample_video_frames(assets, every_n=8)
        .select(F.lit("video").alias("modality"), "frame_idx")
        .groupBy("modality")
        .agg(F.count(F.lit(1)).alias("n_sampled_frames"))
    )
    return (
        base.join(img, "modality", "left")
        .join(frames, "modality", "left")
        .select(
            "modality",
            "n_assets",
            "total_payload_bytes",
            F.coalesce("n_feature_rows", F.lit(0)).alias("n_feature_rows"),
            F.coalesce("avg_f0", F.lit(0.0)).alias("avg_f0"),
            F.coalesce("n_sampled_frames", F.lit(0)).alias("n_sampled_frames"),
        )
    )


@register(
    "routed_rows_equality",
    f"""WITH inp AS (
         SELECT * FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet')
         WHERE doc_id < 'doc-0000001000'
       ), tok AS (
         SELECT doc_id, unnest(tokens) AS tid, generate_subscripts(tokens, 1) AS pos
         FROM inp
       ), txt AS (
         SELECT t.doc_id, string_agg(v.word, ' ' ORDER BY t.pos) AS text
         FROM tok t JOIN read_parquet('{_FLAGSHIP_DIR}/vocab.parquet') v ON v.id = t.tid
         GROUP BY t.doc_id
       ), parsed AS (
         SELECT i.doc_id, i.source, i.n_tok,
                array_to_string(i.tokens, ',') AS tokens_csv,
                NULLIF(regexp_extract(x.text, '\\bLEVEL=(DEBUG|INFO|WARN|ERROR)\\b', 1), '') AS level,
                CAST(NULLIF(regexp_extract(x.text, '\\bcode=(\\d{{3}})\\b', 1), '') AS INT) AS code,
                NULLIF(regexp_extract(x.text, '\\b(\\d{{1,3}}(?:\\.\\d{{1,3}}){{3}})\\b', 1), '') AS ip,
                CAST(NULLIF(regexp_extract(x.text, '\\blat_ms=(\\d+)\\b', 1), '') AS INT) AS lat_ms
         FROM inp i JOIN txt x USING (doc_id)
       ), enriched AS (
         SELECT p.*, COALESCE(l.tenant, 'unknown') AS tenant,
                COALESCE(l.category, 'unknown') AS category
         FROM parsed p
         LEFT JOIN read_parquet('{_FLAGSHIP_DIR}/lookup.parquet') l USING (source)
       )
       SELECT e.doc_id, e.source, e.n_tok, e.tokens_csv,
              e.level, e.code, e.ip, e.lat_ms, e.tenant, e.category,
              COALESCE(r.sink_id, 'sink-7') AS sink_id
       FROM enriched e
       LEFT JOIN read_parquet('{_FLAGSHIP_DIR}/rules.parquet') r
         ON r.category = e.category AND r.level = e.level""",
)
def routed_rows_equality(spark, sf_dir):
    """ROUTED-ROW equality, driver-checked: every column the route
    stage emits — all four extracted fields, enrichment, sink
    assignment, and the token array itself (serialized to CSV so the
    value-hash compare can see it) — for the first 1,000 flagship
    rows.  This is BASELINE.json's per-row invariant ('routed-row
    token-array equality') lifted from pytest into the driver gate;
    the oracle re-derives every field independently in SQL."""
    from .pipeline.runner import transform

    d = _ensure_flagship_inputs()
    df = spark.read.parquet(os.path.join(d, "input.parquet")).filter(
        F.col("doc_id") < "doc-0000001000"
    )
    routed = transform(spark, df)
    return routed.select(
        "doc_id",
        "source",
        "n_tok",
        F.array_join(F.transform("tokens", lambda t: t.cast("string")), ",").alias(
            "tokens_csv"
        ),
        "level",
        "code",
        "ip",
        "lat_ms",
        "tenant",
        "category",
        "sink_id",
    )


@register(
    "tokens_exact_dedup",
    f"""SELECT source,
               COUNT(*) AS n_seqs,
               COUNT(DISTINCT array_to_string(tokens, ',')) AS n_unique_seqs
        FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet') GROUP BY source""",
)
def tokens_exact_dedup(spark, sf_dir):
    """Sequence-level exact dedup on the pipeline's own input shape:
    distinct token ARRAYS per source (hash of the serialized sequence —
    the dedup a training pipeline runs before tokenized-corpus
    ingestion)."""
    d = _ensure_flagship_inputs()
    df = spark.read.parquet(os.path.join(d, "input.parquet"))
    seq = F.array_join(F.transform("tokens", lambda t: t.cast("string")), ",")
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.count_distinct(seq).alias("n_unique_seqs"),
    )


@register(
    "tokens_unnest_histogram",
    f"""SELECT tok, COUNT(*) AS n FROM (
          SELECT unnest(tokens) AS tok
          FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet')
        ) WHERE tok >= 32704 GROUP BY tok""",
)
def tokens_unnest_histogram(spark, sf_dir):
    """Unnest/explode of token arrays (SURVEY.md M7): explode the
    tokens column of the materialized flagship input and histogram the
    motif range (MOTIF_BASE = 32704) — the token-level analog of
    FROM t, t.tokens AS tok (/root/reference/vm/unnest.go:27-70), now
    value-checked by the driver against the same parquet."""
    from .vocab import MOTIF_BASE

    assert MOTIF_BASE == 32704  # literal baked into the oracle SQL
    d = _ensure_flagship_inputs()
    df = spark.read.parquet(os.path.join(d, "input.parquet"))
    tok = df.select(F.explode("tokens").alias("tok"))
    return (
        tok.filter(F.col("tok") >= MOTIF_BASE)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# =====================================================================
# curation operators (deterministic split / per-group cap /
# decontamination / sequence packing) — operators/curation.py
# =====================================================================

@register(
    "curation_hash_split",
    """SELECT split, COUNT(*) AS n FROM (
         SELECT CASE WHEN b < 9000 THEN 'train'
                     WHEN b < 9500 THEN 'val'
                     ELSE 'test' END AS split
         FROM (
           SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 10000 AS b
           FROM documents
         )
       ) GROUP BY split""",
)
def curation_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: membership is a pure md5
    function of doc_id (never rand() — resumes and late shards must
    route identically on every run).  Value-checked: DuckDB reproduces
    the exact same md5 bucket arithmetic."""
    from .operators.curation import hash_split

    d = load(spark, sf_dir, "documents")
    split = hash_split(d, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05})
    return split.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


@register(
    "curation_cap_per_group",
    """SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n_chars DESC, doc_id ASC) AS rn
         FROM documents
       ) WHERE rn <= 5""",
)
def curation_cap_per_group(spark, sf_dir):
    """Per-class cap: keep the 5 largest docs per language
    (deterministic tiebreak) — one window shuffle on the group key."""
    from .operators.curation import cap_per_group

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return cap_per_group(
        d, ["lang"], "n_chars", k=5, descending=True, tiebreak_col="doc_id"
    )


@register(
    "curation_decontaminate",
    """WITH tw AS (
         SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
         WHERE doc_id < 300
       ), tsh AS (
         SELECT DISTINCT doc_id,
                unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 4, 0)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                       || ws[i+3] || ' ' || ws[i+4])) AS shingle
         FROM tw
       ), bw AS (
         SELECT string_split(text, ' ') AS ws FROM documents
         WHERE doc_id >= 400
       ), bsh AS (
         SELECT DISTINCT
                unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 4, 0)),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                       || ws[i+3] || ' ' || ws[i+4])) AS shingle
         FROM bw
       )
       SELECT t.doc_id, t.lang FROM tw t
       WHERE EXISTS (SELECT 1 FROM tsh s JOIN bsh b USING (shingle)
                     WHERE s.doc_id = t.doc_id)""",
)
def curation_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id < 300) sharing
    at least one word 5-gram with the benchmark slice (doc_id >= 400) —
    8 genuinely contaminated docs at sf0.01, so the value check is
    non-trivial.
    The benchmark shingle set is broadcast; the training side joins
    semi/anti without a shuffle of its rows."""
    from .operators.curation import decontaminate

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") < 300)
    bench = docs.filter(F.col("doc_id") >= 400)
    return decontaminate(
        train, bench, "doc_id", "text", shingle_k=5, mode="contaminated"
    ).select("doc_id", "lang")


@register(
    "sequence_packing_bins",
    f"""WITH b AS (
         SELECT source, doc_id, n_tok,
                CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tok) / 2048.0) AS INT)
                  AS pack_bin
         FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet')
       )
       SELECT source, pack_bin, COUNT(*) AS n_seqs,
              CAST(SUM(n_tok) AS BIGINT) AS bin_tok
       FROM b GROUP BY source, pack_bin""",
)
def sequence_packing_bins(spark, sf_dir):
    """Sequence packing for training batches: exclusive-prefix-sum bin
    assignment (budget 2048 tokens) per source over the tokenized
    flagship table, then per-bin stats.  One window shuffle on source;
    value-checked against DuckDB's identical window arithmetic."""
    from .operators.curation import pack_sequences

    d = _ensure_flagship_inputs()
    df = spark.read.parquet(os.path.join(d, "input.parquet")).select(
        "doc_id", "source", "n_tok"
    )
    packed = pack_sequences(df, "n_tok", budget=2048, part_cols=["source"])
    return packed.groupBy("source", "pack_bin").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_tok").cast("bigint").alias("bin_tok"),
    )


# =====================================================================
# Elastic query-DSL adapter (reference elasticproxy analog) —
# adapters/elastic.py translates the DSL at plan time into Catalyst
# expressions; these entries value-check the translation end to end
# =====================================================================

@register(
    "elastic_bool_query_hits",
    """SELECT event_id, user_id, event_type, value FROM events
       WHERE value >= 10.0 AND event_type IN ('click', 'view')
         AND NOT (user_id = 7)
       ORDER BY event_id ASC LIMIT 50""",
)
def elastic_bool_query_hits(spark, sf_dir):
    """bool query (filter/range/terms/must_not) + sort/size/_source
    hits — elasticproxy's filters->WHERE translation
    (/root/reference/elasticproxy/elastic-proxy/)."""
    from .adapters.elastic import elastic_search

    body = {
        "query": {"bool": {
            "filter": [
                {"range": {"value": {"gte": 10.0}}},
                {"terms": {"event_type": ["click", "view"]}},
            ],
            "must_not": [{"term": {"user_id": 7}}],
        }},
        "sort": [{"event_id": {"order": "asc"}}],
        "size": 50,
        "_source": ["event_id", "user_id", "event_type", "value"],
    }
    return elastic_search(load(spark, sf_dir, "events"), body)


@register(
    "elastic_terms_agg",
    """SELECT event_type AS key, COUNT(*) AS doc_count,
              ROUND(AVG(value), 4) AS avg_value,
              COUNT(DISTINCT user_id) AS users
       FROM events GROUP BY 1
       ORDER BY doc_count DESC, key ASC LIMIT 3""",
)
def elastic_terms_agg(spark, sf_dir):
    """terms bucket agg + avg/cardinality sub-aggs (aggs_terms.go,
    aggs_avg.go, aggs_cardinality.go), deterministic Elastic bucket
    order (doc_count desc, key asc)."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"by_type": {
        "terms": {"field": "event_type", "size": 3},
        "aggs": {
            "avg_value": {"avg": {"field": "value"}},
            "users": {"cardinality": {"field": "user_id"}},
        },
    }}}
    out = elastic_search(load(spark, sf_dir, "events"), body)
    return out.select(
        "key", "doc_count", F.round("avg_value", 4).alias("avg_value"), "users"
    )


@register(
    "elastic_date_histogram_day",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              COUNT(*) AS doc_count, ROUND(SUM(value), 4) AS sum_value
       FROM events WHERE event_type = 'click' GROUP BY 1""",
)
def elastic_date_histogram_day(spark, sf_dir):
    """query + date_histogram bucket agg + sum sub-agg
    (aggs_date_histogram.go, date_math.go's calendar units)."""
    from .adapters.elastic import elastic_search

    body = {
        "query": {"term": {"event_type": "click"}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"sum_value": {"sum": {"field": "value"}}},
        }},
    }
    out = elastic_search(load(spark, sf_dir, "events"), body)
    return out.select(
        F.date_format("key", "yyyy-MM-dd").alias("day"),
        "doc_count",
        F.round("sum_value", 4).alias("sum_value"),
    )


@register(
    "elastic_multi_terms_agg",
    """SELECT o_orderstatus AS key_0, o_orderpriority AS key_1,
              COUNT(*) AS doc_count,
              ROUND(AVG(o_totalprice), 4) AS avg_price
       FROM orders GROUP BY 1, 2
       ORDER BY doc_count DESC, key_0 ASC, key_1 ASC LIMIT 6""",
)
def elastic_multi_terms_agg(spark, sf_dir):
    """multi_terms bucket agg (aggs_multi_terms.go:28-78): composite
    (status, priority) keys, doc-count-desc Elastic default order with
    deterministic key tiebreak, avg sub-agg — one composite groupBy."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"by_status_prio": {
        "multi_terms": {
            "terms": [{"field": "o_orderstatus"}, {"field": "o_orderpriority"}],
            "size": 6,
        },
        "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}},
    }}}
    out = elastic_search(load(spark, sf_dir, "orders"), body)
    return out.select(
        "key_0", "key_1", "doc_count", F.round("avg_price", 4).alias("avg_price")
    )


@register(
    "elastic_nested_terms_agg",
    """WITH g AS (SELECT event_type AS key, user_id AS by_user_key,
                         COUNT(*) AS by_user_doc_count
                  FROM events GROUP BY 1, 2),
            t AS (SELECT *, CAST(SUM(by_user_doc_count) OVER (PARTITION BY key)
                                 AS BIGINT) AS doc_count FROM g),
            r AS (SELECT *,
                         DENSE_RANK() OVER (ORDER BY doc_count DESC, key ASC)
                           AS orank,
                         ROW_NUMBER() OVER (PARTITION BY key
                                            ORDER BY by_user_doc_count DESC,
                                                     by_user_key ASC) AS irank
                  FROM t)
       SELECT key, doc_count, by_user_key, by_user_doc_count
       FROM r WHERE orank <= 2 AND irank <= 3""",
)
def elastic_nested_terms_agg(spark, sf_dir):
    """Nested bucket aggs (terms > terms — the reference proxy's
    aggsGenerateContext nesting, aggs_terms.go): ONE groupBy over both
    keys, outer doc_count as a window sum, both size caps as rank
    filters over the aggregated result; flattened tabular buckets."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"by_type": {
        "terms": {"field": "event_type", "size": 2},
        "aggs": {"by_user": {"terms": {"field": "user_id", "size": 3}}},
    }}}
    return elastic_search(load(spark, sf_dir, "events"), body)


@register(
    "elastic_filters_one_pass",
    """SELECT COUNT(CASE WHEN value >= 400 THEN 1 END) AS big_doc_count,
              ROUND(SUM(CASE WHEN value >= 400 THEN value END), 4) AS big_v,
              COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks_doc_count,
              ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS clicks_v,
              COUNT(CASE WHEN event_type LIKE 's%' THEN 1 END) AS s_types_doc_count,
              ROUND(SUM(CASE WHEN event_type LIKE 's%' THEN value END), 4) AS s_types_v
       FROM events""",
)
def elastic_filters_one_pass(spark, sf_dir):
    """filters bucket agg (aggs_filters.go): three named predicate
    buckets + a sum sub-agg each, all evaluated as conditional
    aggregates in ONE scan — never one pass per bucket."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"buckets": {
        "filters": {"filters": {
            "big": {"range": {"value": {"gte": 400}}},
            "clicks": {"term": {"event_type": "click"}},
            "s_types": {"prefix": {"event_type": "s"}},
        }},
        "aggs": {"v": {"sum": {"field": "value"}}},
    }}}
    out = elastic_search(load(spark, sf_dir, "events"), body)
    return out.select(
        "big_doc_count", F.round("big_v", 4).alias("big_v"),
        "clicks_doc_count", F.round("clicks_v", 4).alias("clicks_v"),
        "s_types_doc_count", F.round("s_types_v", 4).alias("s_types_v"),
    )


@register("multimodal_ppm_features_real", None)  # binary codec: rows-only
def multimodal_ppm_features_real(spark, sf_dir):
    """REAL multimodal decode path — no stub: PPM payloads decoded with
    pure numpy inside mapInPandas (Arrow batches), per-channel
    mean/std + block-thumbnail features out, then resize + re-encode
    verified by re-decoding.  Exact feature values are pytest-checked
    against local numpy (test_ppm_features_real_decode); no SQL engine
    decodes binary images, hence rows-only here."""
    from .operators.multimodal import ppm_image_features, synth_ppm_assets_df

    assets = synth_ppm_assets_df(spark, n=32)
    feats = ppm_image_features(assets, grid=2)
    return feats.select(
        "asset_id",
        F.size("features").alias("n_dims"),
        F.round(F.element_at("features", 1), 4).alias("mean_r"),
        F.round(F.element_at("features", 2), 4).alias("mean_g"),
        F.round(F.element_at("features", 3), 4).alias("mean_b"),
    )


@register(
    "text_unigram_logprob",
    """WITH w AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS word
         FROM documents WHERE doc_id < 200
       ), t AS (
         SELECT word, COUNT(*) AS wc FROM w GROUP BY word
       ), c AS (
         SELECT CAST(SUM(wc) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM t
       ), m AS (
         SELECT word, ln((wc + 0.5) / (c.n + 0.5 * c.v)) AS logp FROM t, c
       )
       SELECT w.doc_id, ROUND(AVG(m.logp), 4) AS mean_logprob,
              COUNT(*) AS n_words
       FROM w JOIN m USING (word) GROUP BY w.doc_id""",
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-unigram log-probability scoring (the distributed analog
    of perplexity filtering): documents improbable under the corpus's
    own unigram model score low.  Value-checked — DuckDB reproduces the
    identical smoothed model and per-doc mean."""
    from .operators.text import unigram_logprob_score

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return unigram_logprob_score(d, "doc_id", "text", smoothing=0.5, round_digits=4)


@register(
    "bucketed_partitionwise_agg",
    """SELECT l_returnflag AS flag, COUNT(*) AS n,
              ROUND(SUM(l_quantity), 4) AS sum_qty
       FROM lineitem GROUP BY 1""",
)
def bucketed_partitionwise_agg(spark, sf_dir):
    """Partition-wise aggregation (reference plan/pir/partition.go:
    23-77 — GROUP BY on partition keys becomes per-partition
    sub-plans): the table is written bucketed on the group key, so both
    partial and final HashAggregate run inside the scan's bucket
    distribution with NO Exchange (plan-asserted in
    test_bucketed_aggregation_has_no_shuffle); values checked against
    the plain GROUP BY oracle.

    The bucketed table is built ONCE per source identity — the table
    name carries a hash of the lineitem file's (path, mtime, size), so
    a repeated invocation (the bench loop) finds the catalog entry and
    plans no write job, while regenerated input at the same path gets
    a fresh build (same identity discipline as _index_path)."""
    import hashlib
    import os

    from .sources.bucketing import bucketed_agg, write_bucketed

    src = os.path.join(sf_dir, "lineitem.parquet")
    try:
        st = os.stat(src)
        tok = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        tok = "missing"
    table = "pw_agg_lineitem_" + hashlib.sha256(
        f"{sf_dir}|{tok}".encode()
    ).hexdigest()[:10]
    if not spark.catalog.tableExists(table):
        # a regenerated source gets a fresh identity-keyed table; drop
        # superseded siblings so warehouse space stays bounded
        for t in spark.catalog.listTables():
            if t.name.startswith("pw_agg_lineitem_") and t.name != table:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
        write_bucketed(li, table, ["l_returnflag"], n_buckets=4)
    agg = bucketed_agg(
        spark,
        table,
        ["l_returnflag"],
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )
    return agg.select(F.col("l_returnflag").alias("flag"), "n", "sum_qty")


@register(
    "curation_paragraph_dedup",
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200
                     UNION ALL
                     SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
            docs AS (SELECT doc_id, text || chr(10) || chr(10) || text AS text
                     FROM base),
            p AS (SELECT doc_id, i, parts[i] AS para
                  FROM (SELECT doc_id,
                               string_split(text, chr(10) || chr(10)) AS parts
                        FROM docs),
                       LATERAL unnest(generate_series(1, len(parts))) AS t(i)
                  WHERE parts[i] <> ''),
            keep AS (SELECT doc_id, i, para,
                            ROW_NUMBER() OVER (PARTITION BY para
                                               ORDER BY doc_id, i) AS rn
                     FROM p),
            agg AS (SELECT doc_id,
                           string_agg(para, chr(10) || chr(10) ORDER BY i) AS text,
                           COUNT(*) AS kept_paras
                    FROM keep WHERE rn = 1 GROUP BY doc_id)
       SELECT d.doc_id, COALESCE(a.text, '') AS text,
              CAST(COALESCE(a.kept_paras, 0) AS BIGINT) AS kept_paras
       FROM docs d LEFT JOIN agg a USING (doc_id)""",
)
def curation_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup (operators/curation.paragraph_dedup):
    every input doc here carries TWO identical paragraphs (text twice)
    and the first 20 docs are additionally duplicated wholesale, so the
    entry exercises both within-doc and cross-doc paragraph removal —
    unique docs keep exactly one paragraph, duplicated docs come back
    empty.  One paragraph-key shuffle + one doc-id groupBy."""
    from .operators.curation import paragraph_dedup

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") < 200).unionByName(
        d.filter(F.col("doc_id") < 20).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
    )
    two_para = base.select(
        "doc_id", F.concat_ws("\n\n", "text", "text").alias("text")
    )
    return paragraph_dedup(two_para)


@register(
    "text_repetition_metrics",
    """SELECT doc_id,
              CAST(len(w) AS BIGINT) AS n_words,
              ROUND((len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE), 4)
                AS dup_word_frac,
              ROUND(list_max(list_transform(list_distinct(w),
                        u -> len(list_filter(w, x -> x = u))))
                    / CAST(len(w) AS DOUBLE), 4) AS top_word_frac,
              ROUND(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
                AS distinct_ratio
       FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
             FROM documents WHERE doc_id < 300)""",
)
def text_repetition_metrics(spark, sf_dir):
    """Gopher-style within-document repetition signals
    (operators/text.repetition_metrics): duplicate-word fraction,
    most-frequent-word share, distinct ratio — all row-local
    higher-order functions, a pure map stage with no shuffle."""
    from .operators.text import repetition_metrics

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return repetition_metrics(d)


@register(
    "tokens_ngram_topk",
    f"""WITH t AS (SELECT tokens
                   FROM read_parquet('{_FLAGSHIP_DIR}/input.parquet')),
             g AS (SELECT tokens[i] AS t0, tokens[i+1] AS t1, tokens[i+2] AS t2
                   FROM t,
                        LATERAL unnest(generate_series(1, len(tokens) - 2)) AS s(i)
                   WHERE len(tokens) >= 3)
        SELECT t0, t1, t2, COUNT(*) AS n
        FROM g GROUP BY t0, t1, t2
        ORDER BY n DESC, t0 ASC, t1 ASC, t2 ASC LIMIT 20""",
)
def tokens_ngram_topk(spark, sf_dir):
    """Top-20 token 3-grams over the pre-tokenized flagship table
    (operators/text.token_ngram_topk) — the token-payload twin of the
    text shingle ops: contamination probes and boilerplate discovery
    over `tokens:array<int32>` without ever detokenizing.  Row-local
    transform(sequence)+slice n-gram generation, one hash aggregation
    on the gram, deterministic count/lexicographic order."""
    from .operators.text import token_ngram_topk

    d = _ensure_flagship_inputs()
    df = spark.read.parquet(f"{d}/input.parquet")
    out = token_ngram_topk(df, n=3, k=20)
    # driver compare wants scalar columns: unpack the 3-gram
    return out.select(
        F.col("gram")[0].alias("t0"),
        F.col("gram")[1].alias("t1"),
        F.col("gram")[2].alias("t2"),
        "n",
    )


@register(
    "elastic_filter_single_bucket",
    """SELECT COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS doc_count,
              ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS s,
              ROUND(AVG(CASE WHEN event_type = 'click' THEN value END), 4) AS a
       FROM events""",
)
def elastic_filter_single_bucket(spark, sf_dir):
    """Single named filter bucket (aggs_filter.go): doc_count + sum/avg
    sub-aggs over matching rows as conditional aggregates in one scan."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"clicks": {
        "filter": {"term": {"event_type": "click"}},
        "aggs": {"s": {"sum": {"field": "value"}},
                 "a": {"avg": {"field": "value"}}},
    }}}
    out = elastic_search(load(spark, sf_dir, "events"), body)
    return out.select(
        "doc_count", F.round("s", 4).alias("s"), F.round("a", 4).alias("a")
    )


@register(
    "elastic_query_string_filter",
    r"""SELECT doc_id, lang, source, n_chars FROM documents
       WHERE regexp_matches(lang, '(^|[ \t])(?i)es([ \t]|$)')
         AND regexp_matches(text, '(^|[ \t])(?i)spark([ \t]|$)')
         AND regexp_matches(text, '(^|[ \t])(?i)window([ \t]|$)')
         AND n_chars >= 100 AND n_chars < 200
         AND NOT regexp_matches(source, '(^|[ \t])(?i)src3([ \t]|$)')
       ORDER BY doc_id ASC""",
)
def elastic_query_string_filter(spark, sf_dir):
    """Lucene query_string (the Kibana search bar) — adapters/qs.py
    replays the reference's lexer/grammar/field semantics
    (elasticproxy/elastic-proxy/qs_lexer.rl + qs_parser.y + qs.go):
    word-boundary case-insensitive text matching, must(+) combine,
    half-open numeric range, NOT.  The whole predicate lowers to
    col/rlike Catalyst expressions — zero Python at run time."""
    from .adapters.elastic import elastic_search

    body = {
        "query": {"query_string": {"query": (
            "lang:es AND text:(+spark +window) "
            "AND n_chars:[100 TO 200} AND NOT source:src3"
        )}},
        "sort": [{"doc_id": {"order": "asc"}}],
        "_source": ["doc_id", "lang", "source", "n_chars"],
    }
    return elastic_search(load(spark, sf_dir, "documents"), body)


@register(
    "elastic_geotile_grid",
    """WITH pts AS (SELECT (event_id % 16000) / 100.0 - 80.0 AS lat,
                           ((event_id * 7) % 36000) / 100.0 - 180.0 AS lon
                    FROM events WHERE event_id < 4000),
            t AS (SELECT '4/'
                    || CAST(CAST(floor((lon + 180.0) / 360.0 * 16) AS BIGINT) AS VARCHAR)
                    || '/'
                    || CAST(CAST(floor((1.0 - ln(tan(lat * pi() / 180.0)
                            + 1.0 / cos(lat * pi() / 180.0)) / pi()) / 2.0 * 16)
                            AS BIGINT) AS VARCHAR) AS key
                  FROM pts)
       SELECT key, COUNT(*) AS doc_count FROM t GROUP BY key
       ORDER BY doc_count DESC, key ASC LIMIT 15""",
)
def elastic_geotile_grid(spark, sf_dir):
    """geotile_grid bucket agg (aggs_geotile_grid.go): GROUP BY
    GEO_TILE_ES('z/x/y') at precision 4 over synthetic coordinates
    (the testdata carries no geo columns; both engines derive the same
    web-mercator tile), count-desc Elastic order, size cap."""
    from .adapters.elastic import elastic_search

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    lat = (F.col("event_id") % 16000) / 100.0 - 80.0
    lon = ((F.col("event_id") * 7) % 36000) / 100.0 - 180.0
    pts = ev.select(F.struct(lat.alias("lat"), lon.alias("lon")).alias("loc"))
    body = {"aggs": {"grid": {
        "geotile_grid": {"field": "loc", "precision": 4, "size": 15},
    }}}
    return elastic_search(pts, body)


@register(
    "elastic_search_json_envelope",
    """SELECT event_type AS key, COUNT(*) AS doc_count,
              COUNT(*) FILTER (WHERE value >= 50.0) AS big_docs,
              ROUND(SUM(value), 4) AS sum_value
       FROM events WHERE value >= 0.0 GROUP BY 1
       ORDER BY doc_count DESC, key ASC LIMIT 3""",
)
def elastic_search_json_envelope(spark, sf_dir):
    """The full proxy round-trip (adapters/search.py::search_json):
    request body -> Spark plans -> flat step-3 raw -> assembled
    Elastic envelope (elastic_json.go:476-758) — then the envelope's
    terms buckets (with a fused FILTER-clause sub-agg and a sum
    metric) flattened back to rows for the oracle.  Spark computes
    every bucket; only the size-capped final buckets reach the
    driver."""
    from .adapters.search import search_json

    body = {
        "size": 0,
        "query": {"range": {"value": {"gte": 0.0}}},
        "aggs": {"by_type": {
            "terms": {"field": "event_type", "size": 3},
            "aggs": {
                "big": {"filter": {"range": {"value": {"gte": 50.0}}}},
                "sum_value": {"sum": {"field": "value"}},
            },
        }},
    }
    resp = search_json(load(spark, sf_dir, "events"), body, index="events")
    rows = [
        (b["key"], b["doc_count"], b["big"]["doc_count"],
         round(float(b["sum_value"]["value"]), 4))
        for b in resp["aggregations"]["by_type"]["buckets"]
    ]
    return spark.createDataFrame(
        rows, "key string, doc_count bigint, big_docs bigint, "
              "sum_value double")


@register(
    "elastic_bucket_script_sort",
    """WITH b AS (SELECT event_type AS key, COUNT(*) AS doc_count,
                         SUM(value) AS total,
                         COUNT(value) AS n
                  FROM events GROUP BY 1
                  ORDER BY doc_count DESC, key ASC LIMIT 10)
       SELECT key, doc_count, ROUND(total, 4) AS total, n,
              ROUND(total / n, 4) AS per_doc
       FROM b ORDER BY total / n DESC LIMIT 3""",
)
def elastic_bucket_script_sort(spark, sf_dir):
    """Pipeline aggs (aggs_bucket_script.go / aggs_bucket_sort.go):
    bucket_script derives per-bucket total/n over sibling metrics,
    bucket_sort reorders the finished buckets by it and truncates —
    pure plan rewrites over the aggregated result, no extra scan."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"by_type": {
        "terms": {"field": "event_type", "size": 10},
        "aggs": {
            "total": {"sum": {"field": "value"}},
            "n": {"value_count": {"field": "value"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"a": "total", "b": "n"},
                "script": "params.a / params.b",
            }},
            "top": {"bucket_sort": {"sort": [{"per_doc": {"order": "desc"}}],
                                    "size": 3}},
        },
    }}}
    out = elastic_search(load(spark, sf_dir, "events"), body)
    return out.select(
        "key", "doc_count", F.round("total", 4).alias("total"), "n",
        F.round("per_doc", 4).alias("per_doc"),
    )


@register(
    "elastic_top_hits",
    """WITH s AS (SELECT event_type AS key, event_id, value,
                         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                           AS doc_count,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY value DESC, event_id ASC)
                           AS hit_rank
                  FROM events),
            r AS (SELECT *, DENSE_RANK() OVER (ORDER BY doc_count DESC, key ASC)
                              AS orank
                  FROM s WHERE hit_rank <= 2)
       SELECT key, doc_count, hit_rank, event_id, ROUND(value, 4) AS value
       FROM r WHERE orank <= 3""",
)
def elastic_top_hits(spark, sf_dir):
    """top_hits sub-agg (aggs_top_hits.go): per-bucket top-2 events by
    value inside the top-3 terms buckets — one partitioned row_number
    window over raw rows, no self-join; flattened hit rows."""
    from .adapters.elastic import elastic_search

    body = {"aggs": {"by_type": {
        "terms": {"field": "event_type", "size": 3},
        "aggs": {"best": {"top_hits": {
            "sort": [{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}],
            "size": 2,
            "_source": {"includes": ["event_id", "value"]},
        }}},
    }}}
    out = elastic_search(load(spark, sf_dir, "events"), body)
    return out.select(
        "key", "doc_count", "hit_rank", "event_id",
        F.round("value", 4).alias("value"),
    )


@register(
    "curation_mixture_sample",
    """WITH b AS (SELECT doc_id, source,
                         ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mix'),
                                            1, 8))::BIGINT % 10000 AS bucket
                  FROM documents)
       SELECT source, COUNT(*) AS n FROM b
       WHERE bucket < (CASE source WHEN 'src0' THEN 10000
                                   WHEN 'src1' THEN 2500
                                   ELSE 500 END)
       GROUP BY source""",
)
def curation_mixture_sample(spark, sf_dir):
    """Per-source data-mixture sampling (operators/curation.
    mixture_sample): keep 100% of src0, 25% of src1, 5% of everything
    else — membership a pure md5 function of (doc_id, salt), so reruns
    and late shards keep identical rows; DuckDB reproduces the exact
    bucket arithmetic.  Pure map stage before the count."""
    from .operators.curation import mixture_sample

    d = load(spark, sf_dir, "documents")
    kept = mixture_sample(
        d, "doc_id", "source",
        {"src0": 1.0, "src1": 0.25},
        default_fraction=0.05,
        salt="mix",
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


@register(
    "asof_join_latest_value",
    """WITH l AS (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'click'),
            r AS (SELECT user_id, ts, MAX(value) AS v FROM events
                  WHERE event_type = 'view' GROUP BY 1, 2)
       SELECT l.user_id, l.event_id, ROUND(r.v, 4) AS v
       FROM l ASOF LEFT JOIN r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
)
def asof_join_latest_value(spark, sf_dir):
    """As-of join (operators/timeseries.asof_join): every click gets
    the latest view value at-or-before it per user — the distributed
    merge shape (one shuffle on user_id + running last() window),
    never an inequality nested-loop.  Right side pre-aggregated to one
    row per (user, ts) for tie determinism; oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from .operators.timeseries import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    out = asof_join(clicks, views, t_col="ts", by=["user_id"], value_cols=["v"])
    return out.select("user_id", "event_id", F.round("v", 4).alias("v"))


@register(
    "range_join_first_day_counts",
    """WITH e AS (SELECT user_id, epoch(ts) AS t FROM events),
            iv AS (SELECT user_id, MIN(t) AS s, MIN(t) + 86400 AS en
                   FROM e GROUP BY 1)
       SELECT e.user_id, COUNT(*) AS n
       FROM e JOIN iv ON e.user_id = iv.user_id
                     AND e.t >= iv.s AND e.t < iv.en
       GROUP BY e.user_id""",
)
def range_join_first_day_counts(spark, sf_dir):
    """Bucketed range join (operators/timeseries.range_join_bucketed):
    count each user's events inside their first-24h window.  Interval
    containment as an EQUI-join on (user, time-bucket) + exact edge
    filter — the plan a nested-loop inequality join cannot give at
    scale."""
    from .operators.timeseries import range_join_bucketed

    # ts is TIMESTAMP_NTZ; hop through TIMESTAMP (session tz is UTC)
    # to get the same epoch seconds DuckDB's epoch() produces
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").cast("double").alias("t")
    )
    iv = ev.groupBy("user_id").agg(
        F.min("t").alias("s"), (F.min("t") + 86400.0).alias("en")
    )
    joined = range_join_bucketed(
        ev, iv, t_col="t", start_col="s", end_col="en",
        by=["user_id"], bucket_width=21600.0,
    )
    return joined.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))


@register(
    "hypertable_rollup_day_from_hour",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              event_type, COUNT(*) AS n,
              ROUND(SUM(value), 4) AS sum_v,
              ROUND(MIN(value), 4) AS min_v,
              ROUND(MAX(value), 4) AS max_v
       FROM events GROUP BY 1, 2""",
)
def hypertable_rollup_day_from_hour(spark, sf_dir):
    """Hypertable rollup (operators/timeseries.rollup_time_buckets):
    the DAY level is re-aggregated from the HOUR rollup — the raw
    table is scanned once and the day buckets read 24 hour-rows each
    — yet matches the oracle's direct GROUP BY day exactly, proving
    the partials compose losslessly through the hierarchy."""
    from .operators.timeseries import rollup_time_buckets

    ev = load(spark, sf_dir, "events")
    levels = rollup_time_buckets(
        ev, ts_col="ts", key_cols=["event_type"], value_col="value",
        granularities=("hour", "day"),
    )
    day = levels["day"]
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type", "n",
        F.round("sum_v", 4).alias("sum_v"),
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
    )


def _plan_size_bytes(df) -> int:
    """Catalyst's size estimate for a plan (for parquet scans: the file
    bytes), read driver-side in O(1) — no job.  Unknown estimates err
    toward 'big' (repartition), the scale-safe default."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable: assume big
        return 1 << 62


#: below this input size a widening repartition's extra stage costs
#: more than the added parallelism saves (measured at bench sf0.1:
#: +0.3-0.5s per query on ~0.6 MB inputs, vs multi-second wins on
#: >5 MB inputs)
_WIDEN_MIN_BYTES = 4 << 20


@register(
    "sketch_heavy_hitters_exact",
    """SELECT w AS word, COUNT(*) AS n
       FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w
             FROM documents)
       GROUP BY w HAVING COUNT(*) >= 500""",
)
def sketch_heavy_hitters_exact(spark, sf_dir):
    """Count-min-pruned EXACT heavy hitters (operators/sketch.py):
    words appearing >= 500 times across the documents corpus (30
    hitters at both sf0.001 and sf0.01).  The
    sketch (one scan, depth 4 x width 2048 — memory independent of
    vocabulary size) prunes the candidate set with zero false
    negatives (CM never under-counts), and the exact recount of the
    survivors matches the oracle's plain GROUP BY ... HAVING exactly."""
    from .operators.sketch import heavy_hitters_exact

    # repartition BEFORE the explode: the documents table is a single
    # parquet file (one row group at bench scale), so the scan is one
    # task — and heavy_hitters_exact walks the words THREE times
    # (sketch build, candidate distinct, exact recount), each walk
    # re-running split+explode on that one core.  One tiny shuffle of
    # the raw docs (a few MB) spreads all three walks across the full
    # parallelism; the identical repartition subtrees collapse into one
    # reused exchange.  Size-adaptive (plan stats, no job): skipped for
    # sub-4MB inputs where the extra stage costs more than it saves.
    # Row set is unchanged either way.
    d = load(spark, sf_dir, "documents")
    if _plan_size_bytes(d) >= _WIDEN_MIN_BYTES:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    words = d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
    return heavy_hitters_exact(words, "word", threshold=500, width=2048)


@register(
    "runner_sketch_merged_hitters",
    f"""SELECT source, COUNT(*) AS n_rows
        FROM read_parquet('{_FLAGSHIP_DIR}/runner_units/*.parquet')
        GROUP BY source HAVING COUNT(*) >= 1000""",
)
def runner_sketch_merged_hitters(spark, sf_dir):
    """The runner's shipped-summary story, end-to-end and
    value-checked: run_pipeline ingests the flagship input as FOUR
    units (checkpoint/resume granularity), each manifest storing its
    per-source partial counts; read_merged_sketch builds the count-min
    sketch of `source` from those committed partials (no routed data
    read); candidates whose merged estimate >= 1000 are exactly
    recounted from the routed table (CM never under-counts, so no true
    hitter is pruned) and the exact filter drops false positives.  The
    oracle is a plain GROUP BY ... HAVING over the same input files —
    routing preserves rows 1:1, so merged-sketch pruning + recount must
    reproduce it exactly.  Idempotent across invocations: committed
    units are skipped on resume (input-identity checked)."""
    from .operators.sketch import cm_estimate
    from .pipeline.runner import LAYOUT_VERSION, read_merged_sketch, read_routed, run_pipeline

    d = _ensure_flagship_inputs()
    # layout-keyed: run_pipeline refuses to resume state written under
    # another LAYOUT_VERSION, and this dir outlives the process
    out = os.path.join(d, f"runner_out_sketch_{LAYOUT_VERSION}")
    # the out_dir is shared fixture state: two concurrent invocations
    # (pytest + a driver/bench subprocess) would race the same unit
    # dirs and commit log — serialize the build with an exclusive
    # advisory lock (released on close; readers below run unlocked,
    # by then the state is committed and idempotent)
    import fcntl

    with open(os.path.join(d, ".runner_out_sketch.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        _drop_stale_outs(out, "runner_out_sketch")
        run_pipeline(spark, os.path.join(d, "runner_units"), out)
    sk = read_merged_sketch(spark, out)
    routed = read_routed(spark, out)
    cand = cm_estimate(sk, routed.select("source").distinct(), "source").filter(
        F.col("est") >= 1000
    )
    return (
        routed.join(cand.select("source"), "source", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") >= 1000)
    )


@register(
    "runner_compacted_per_sink",
    f"""WITH inp AS (
         SELECT * FROM read_parquet('{_FLAGSHIP_DIR}/runner_units/*.parquet')
       ), tok AS (
         SELECT doc_id, unnest(tokens) AS tid,
                generate_subscripts(tokens, 1) AS pos
         FROM inp
       ), txt AS (
         SELECT t.doc_id, string_agg(v.word, ' ' ORDER BY t.pos) AS text
         FROM tok t
         JOIN read_parquet('{_FLAGSHIP_DIR}/vocab.parquet') v ON v.id = t.tid
         GROUP BY t.doc_id
       ), parsed AS (
         SELECT i.doc_id, i.source, i.n_tok,
                NULLIF(regexp_extract(x.text,
                    '\\bLEVEL=(DEBUG|INFO|WARN|ERROR)\\b', 1), '') AS level
         FROM inp i JOIN txt x USING (doc_id)
       ), enriched AS (
         SELECT p.*, COALESCE(l.category, 'unknown') AS category
         FROM parsed p
         LEFT JOIN read_parquet('{_FLAGSHIP_DIR}/lookup.parquet') l
           USING (source)
       )
       SELECT COALESCE(r.sink_id, 'sink-7') AS sink_id,
              COUNT(*) AS n_rows,
              CAST(SUM(e.n_tok) AS BIGINT) AS sum_n_tok
       FROM enriched e
       LEFT JOIN read_parquet('{_FLAGSHIP_DIR}/rules.parquet') r
         ON r.category = e.category AND r.level = e.level
       GROUP BY 1 ORDER BY 1""",
)
def runner_compacted_per_sink(spark, sf_dir):
    """The compaction story, end-to-end and value-checked: ingest the
    flagship input as four checkpointed units, fold them into one
    size-targeted pack generation (pipeline/compact.py — hidden
    staging, footer-count verification, atomic manifest commit), then
    aggregate per-sink counts THROUGH the manifest-gated read_routed
    view.  The oracle re-derives every row's sink assignment
    independently in SQL over the same input files, so the compacted
    view must preserve BASELINE.json's per-sink aggregate counts
    exactly.  Idempotent: a re-run resumes to a no-op and a second
    compaction finds a single pack (nothing to fold)."""
    from .pipeline.compact import compact_routed
    from .pipeline.runner import LAYOUT_VERSION, read_routed, run_pipeline

    d = _ensure_flagship_inputs()
    # fixture-version-keyed out dir: a regenerated input must start a
    # fresh ingest, never re-feed units already absorbed into a pack;
    # layout-keyed, as run_pipeline refuses another layout's state
    out = os.path.join(d, f"runner_out_compact_{_fixture_version()}_{LAYOUT_VERSION}")
    import fcntl

    with open(os.path.join(d, ".runner_out_compact.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        _drop_stale_outs(out, "runner_out_compact")
        run_pipeline(spark, os.path.join(d, "runner_units"), out)
        compact_routed(spark, out, target_bytes=1 << 30)
    return (
        read_routed(spark, out)
        .groupBy("sink_id")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("n_tok").alias("sum_n_tok"))
        .orderBy("sink_id")
    )
