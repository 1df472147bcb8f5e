"""sneller_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the Sneller reference engine
(/root/reference), rebuilt from scratch on DataFrame/SQL/Catalyst.

The flagship capability (per BASELINE.json) is a parse -> enrich ->
route -> aggregate log pipeline over tables of pre-tokenized training
sequences, executed with Arrow-vectorized kernels (never per-row
Python), broadcast-join enrichment, partitioned fan-out sinks, salted
two-phase aggregation for skew, and per-partition lineage manifests
with checkpoint resume.

Layout:
  sneller_spark.session   SparkSession factory tuned for the workload
  sneller_spark.vocab     seeded token vocabulary + motif tokens
  sneller_spark.datagen   deterministic tokenized-sequence generator
  sneller_spark.oracle    pure-pandas reference pipeline (ground truth)
  sneller_spark.pipeline  parse / enrich / route / aggregate / lineage / runner
  sneller_spark.operators general operators (top-k, distinct-on, unnest,
                          unpivot, dedup, similarity, text analysis, ...)
  sneller_spark.functions scalar builtin analogs (vector distances,
                          IS_SUBNET_OF, fuzzy matching, ...)
  sneller_spark.sources   readers / writers / table-glob / append
  sneller_spark.sql_registry
                          SQL veneer: the scalar surface as Catalyst-
                          inlined SQL UDFs (CREATE TEMPORARY FUNCTION),
                          mirroring the reference's SQL-first posture
  sneller_spark.partiql   Sneller-dialect (PartiQL) query surface:
                          translate()/sql() — the same translator that
                          replays the reference's own 408-case corpus
                          verbatim (harness in tools/replay, not shipped)
"""

__version__ = "0.1.0"

from .sql_registry import register_sql_functions  # noqa: E402,F401
