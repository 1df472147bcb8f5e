"""Streaming execution of the pipeline.

The reference has NO streaming operators — its "streaming" is periodic
batch ingest with an index that dedups inputs
(/root/reference/db/sync.go:79-450); our batch analog of that is
pipeline/runner.py (unit manifests + resume).  This module is the
capability upside: the SAME transform (parse -> enrich -> route) run as
a Structured Streaming job over a file source, with
``foreachBatch`` writing the per-sink fan-out exactly-once per
micro-batch (checkpointed) through the enrich + parse + route + write
code the ingest units run (pipeline/route.py ``write_unit``): each
batch is enriched in Arrow from the lookup table fetched once per
query, then parsed, routed and written.  That is how the pipeline
would tail a landing bucket on a real cluster.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..datagen import TOKENS_SCHEMA
from ..pipeline.route import write_unit
from ..pipeline.runner import broadcast_tables, transform


def stream_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 4,
):
    """readStream over a directory of tokens parquet -> per-sink
    fan-out via foreachBatch, one ``epoch=<id>`` directory per
    micro-batch.  Returns the StreamingQuery (caller drives with
    processAllAvailable/stop)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    routed_dir = os.path.join(out_dir, "routed_stream")
    lookup, routes = broadcast_tables(spark)

    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )

    def sink(batch_df, epoch_id: int) -> None:
        # epoch-scoped directory => exactly-once under retries (a
        # replayed epoch starts from an empty directory, never
        # double-appends)
        epoch_dir = os.path.join(routed_dir, f"epoch={epoch_id}")
        shutil.rmtree(epoch_dir, ignore_errors=True)
        write_unit(batch_df, lookup, routes, epoch_dir)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def stateful_source_totals(
    spark: SparkSession,
    input_path: str,
    query_name: str = "source_totals",
    max_files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
):
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    per-source running (n_rows, sum_n_tok) accumulated in GroupState
    across micro-batches and re-emitted on every update.

    This is the Spark-native shape for operators the reference cannot
    express at all (its ingest is stateless batch): arbitrary
    per-key state carried between triggers, Arrow-batched on both
    sides, checkpoint-recoverable.  Totals are monotone, so the latest
    emission per key IS the running total (tested against the batch
    aggregate)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int(pdf["n_tok"].sum()) if len(pdf) else 0
        state.update((n, s))
        yield pd.DataFrame({"source": [key[0]], "n_rows": [n], "sum_n_tok": [s]})

    out = stream.groupBy("source").applyInPandasWithState(
        update,
        outputStructType="source string, n_rows long, sum_n_tok long",
        stateStructType="n long, s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if output_dir is not None:
        # fault-tolerant sink: the memory sink cannot recover from a
        # checkpoint, so the recoverable form appends each trigger's
        # emissions to an epoch-scoped parquet directory (exactly-once
        # under retries — an epoch overwrites itself).  GroupState is
        # checkpointed per trigger: a restarted query resumes the
        # per-key accumulators and processes only files the source has
        # not committed yet (tested in test_streaming.py).
        if checkpoint_dir is None:
            checkpoint_dir = os.path.join(output_dir, "_checkpoint")

        def sink(batch_df, epoch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"epoch={epoch_id}")
            )

        return (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink)
            .start()
        )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def watermarked_window_counts(
    spark: SparkSession,
    input_path: str,
    schema: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "30 minutes",
    query_name: str = "windowed_counts",
    max_files_per_trigger: int = 1,
):
    """Watermarked tumbling-window aggregate in APPEND mode: a window's
    count is emitted exactly once, when the event-time watermark
    (max event ts seen − `watermark`) passes its end; rows arriving
    later than the watermark are DROPPED, never double-counted.  This
    is the Structured-Streaming-native form of time-bucketed telemetry
    rollups (the batch analogs are time_bucket_epoch /
    tumbling_window_6h in the catalog); the reference has no event-time
    semantics at all (batch ingest only, SURVEY.md §2.9)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    # watermarks require TIMESTAMP (event-time); NTZ sources are cast
    # under the session timezone (UTC everywhere in this engine)
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def stream_pipeline_memory_sink(
    spark: SparkSession,
    input_path: str,
    query_name: str = "routed_stream",
    max_files_per_trigger: int = 4,
):
    """Memory-sink variant for tests: streaming aggregate (per-sink
    running counts) queryable as a temp view while the stream runs."""
    stream = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    routed = transform(spark, stream, passthrough=["doc_id", "source", "n_tok"])
    agg = routed.groupBy("sink_id", "source", "level").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("sum_n_tok")
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def stream_dedup_within_watermark(
    spark: SparkSession,
    input_path: str,
    schema: str,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    query_name: str = "stream_dedup",
    max_files_per_trigger: int = 1,
):
    """Streaming exact dedup: emit the FIRST occurrence of each id and
    drop re-deliveries arriving within the watermark delay
    (`dropDuplicatesWithinWatermark`) — the streaming twin of the batch
    `operators/dedup.exact_dedup`/`dedup_keep_first` family, and the
    idiomatic way to make an at-least-once telemetry feed effectively
    exactly-once.  State is bounded: an id's dedup record is evicted
    once the event-time watermark passes its timestamp + delay, so
    state size tracks the duplicate-arrival horizon, not the stream's
    lifetime — the property that keeps this viable on an unbounded
    10^12-row feed (a plain dropDuplicates() would accumulate state
    forever)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    deduped = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
