"""End-to-end pipeline runner: parse -> enrich -> route -> aggregate
with unit-granular checkpoint/resume and per-partition lineage.

The unit of work is one input parquet file (the Spark analog of the
reference's block-granular work assignment,
/root/reference/plan/unionmap.go:208-341, and of blockfmt's
ingest-once FileTree dedup, /root/reference/db/sync.go:366-430).
Each unit is one Spark job whose Python tasks read the file
themselves: the driver checks the file's footer against
``TOKENS_SCHEMA``, then one ``mapInArrow`` task per row group reads
its group with pyarrow, enriches it in Arrow from the lookup table,
parses, routes and writes each sink's rows with pyarrow, and returns
only per-(sink_id, source, level) partial counts and token sums
(pipeline/route.py ``write_unit_file``).  The rows never pass through
the JVM, and the job has no read, join or broadcast stage of Spark's.
The unit's manifest stores the partials; its ``rows_in`` is their row
count, since every row is routed.  Committed units are never
reprocessed; a killed run resumes where the commit log left off.  The
final aggregates are the sum of the committed manifests' partials —
the reference's map-side partial plus reduce-side merge
(reference plan/pir/mapreduce.go:46-400) — so the final step
reads no routed data, and comes out identical to a single
uninterrupted run.  Each call parses every committed manifest once.

The lookup and routing tables are fetched to the driver once per run,
under the 10,000-row broadcast guard, and travel to every task in the
kernel's closure.  Units run concurrently, up to
``defaultParallelism`` at a time.  The calling thread commits each
unit's manifest in completion order, after that unit's data is
durable, so the commit protocol and its single writer are unchanged.
Manifest ``wall_ms`` values overlap: their sum exceeds the run's wall
time.  If a unit fails, units already running finish and commit,
queued ones are cancelled, and the first error is re-raised.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.util import inheritable_thread_target

from ..datagen import TOKENS_SCHEMA
from ..lookups import lookup_source_df, route_rules_df
from .aggregate import PARTIALS_SCHEMA, merge_partials
from .compact import compaction_view, read_routed_consistent
from .enrich import Lookup, collect_lookup
from .lineage import (
    ROUTED_SUBDIR, LineageLog, UnitManifest, file_identity, inputs_match, require_parsed,
    total_stats, written_file_rows,
)
from .route import Routes, collect_routes, route_rows, write_unit_file

AGG_SUBDIR = "aggregates"

# Output-layout version: bumped whenever the unit-id scheme or the
# manifest contents change.  read_routed reads the WHOLE routed dir and
# total_stats() sums every manifest, so unit=* state written under an
# older id scheme would silently double-count every row once the same
# inputs re-enter under new ids; and the final aggregate sums every
# manifest's partials, which manifests written before v4 lack.
# Resuming an out_dir stamped with a different (or missing) version is
# refused instead.
LAYOUT_VERSION = "unit-partials-v4"


def _stamped_layout(out_dir: str) -> str | None:
    marker = os.path.join(out_dir, "_LAYOUT")
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        return f.read().strip()


def _check_layout_version(out_dir: str, routed_dir: str, log) -> None:
    """Refuse to resume an out_dir whose unit-id layout predates
    LAYOUT_VERSION; stamp fresh output dirs atomically."""
    marker = os.path.join(out_dir, "_LAYOUT")
    current = _stamped_layout(out_dir)
    if current == LAYOUT_VERSION:
        return
    has_state = os.path.isdir(routed_dir) or log.committed_units()
    if has_state:
        raise ValueError(
            f"output dir {out_dir!r} holds pipeline state written under "
            f"layout {current or 'pre-versioning'!r}, but this build uses "
            f"{LAYOUT_VERSION!r}; resuming would double-count rows — use a "
            "fresh output dir (or delete the stale routed/ and manifests/)"
        )
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{marker}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(LAYOUT_VERSION)
    os.replace(tmp, marker)


def transform(
    spark: SparkSession,
    df: DataFrame,
    lookup: DataFrame | None = None,
    rules: DataFrame | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """The pure transformation: input rows -> routed, enriched rows.

    Runs the kernel the ingest path writes through (pipeline/route.py
    ``route_rows``) over ``df``'s batches: it enriches each batch in
    Arrow from the lookup table, parses with
    ``parse.extract_fields_dict``, which evaluates the pattern bank
    once over the vocabulary and extracts by sparse integer gather, and
    looks up each row's sink in the routing rules.  The plan is the
    input, then one Python node: no join, no shuffle.

    ``passthrough`` limits which input columns survive the kernel
    (explicit column pruning through the Arrow boundary): routing sinks
    need everything (default); an aggregation-only consumer should pass
    ["doc_id", "source", "n_tok"] so the tokens column is never echoed
    back out of the kernel."""
    lookup, routes = broadcast_tables(spark, lookup, rules)
    return route_rows(df, lookup, routes, passthrough)


def broadcast_tables(
    spark: SparkSession,
    lookup: DataFrame | None = None,
    rules: DataFrame | None = None,
) -> tuple[Lookup, Routes]:
    """The enrich lookup and the routing rules, each fetched to the
    driver in one guarded job (built-in tables unless given); the
    kernel's closure carries them to every task."""
    lookup = lookup if lookup is not None else lookup_source_df(spark)
    rules = rules if rules is not None else route_rules_df(spark)
    return collect_lookup(lookup), collect_routes(rules)


def unit_id_for(path: str) -> str:
    """Unit id derived from the input file IDENTITY, not its position
    in the listing: a new file that sorts before existing ones must not
    shift committed ids (the reference keys ingest dedup on the input
    object, db/sync.go:366-430).  basename keeps ids human-readable;
    the path hash disambiguates same-named files from different dirs."""
    base = os.path.basename(path)
    if base.endswith(".parquet"):
        base = base[: -len(".parquet")]
    safe = "".join(c if (c.isalnum() or c in "-_.") else "_" for c in base)
    # digest the FULL normalized path: same-named files from different
    # input directories must not collide on one output's commit log.
    # realpath (not abspath) so the same file addressed via a symlink,
    # "..", or a relative path cannot fork a second unit id — duplicate
    # ids for one physical input would double-count on resume.
    digest = hashlib.sha256(os.path.realpath(path).encode()).hexdigest()[:8]
    return f"unit-{safe}-{digest}"


def list_units(input_path: str) -> list[tuple[str, list[str]]]:
    """One unit per input parquet file, deterministic order, ids keyed
    on file identity (stable under later additions to the directory)."""
    files = sorted(
        os.path.join(input_path, f)
        for f in os.listdir(input_path)
        if f.endswith(".parquet")
    )
    return [(unit_id_for(f), [f]) for f in files]


def _as_read(dt: T.DataType) -> T.DataType:
    """``dt`` as Spark's file reader types it: every field, element and
    map value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _as_read(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_read(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_as_read(dt.keyType), _as_read(dt.valueType))
    return dt


def _unit_input(path: str) -> tuple[int, T.StructType]:
    """The row-group count of a unit file and the schema Spark's reader
    gives it, from its footer.  A file that is not parquet, or whose
    columns break ``TOKENS_SCHEMA``, raises a ValueError naming it;
    extra columns pass through."""
    try:
        pf = pq.ParquetFile(path)
        schema = _as_read(from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True))
    except (pa.ArrowException, TypeError) as e:
        raise ValueError(f"unit input {path!r} is not a parquet file Spark can read: {e}") from e
    have = {f.name: f.dataType.simpleString() for f in schema.fields}
    broken = [f"{f.name} {f.dataType.simpleString()} (file: {have.get(f.name, 'missing')})"
              for f in T.StructType.fromDDL(TOKENS_SCHEMA).fields
              if have.get(f.name) != f.dataType.simpleString()]
    if broken:
        raise ValueError(f"unit input {path!r} breaks the input contract "
                         f"{TOKENS_SCHEMA!r}: {', '.join(broken)}")
    return pf.num_row_groups, schema


def _run_unit(
    spark: SparkSession,
    unit_id: str,
    files: list[str],
    lookup: Lookup,
    routes: Routes,
    routed_dir: str,
) -> UnitManifest:
    """Check, read, transform and durably write one unit; return its
    manifest for the caller to commit.  Runs on a ``run_pipeline`` pool
    thread."""
    t0 = time.monotonic()
    (path,) = files  # list_units makes one unit per file
    row_groups, in_schema = _unit_input(path)

    unit_dir = os.path.join(routed_dir, f"unit={unit_id}")
    # a reprocessed unit (killed mid-write, or its input changed)
    # starts from an empty directory: task files are named by
    # partition id, so nothing of an earlier attempt can survive
    shutil.rmtree(unit_dir, ignore_errors=True)
    partials = merge_partials(write_unit_file(
        spark, path, row_groups, in_schema, lookup, routes, unit_dir) if row_groups else [])

    # lineage + metrics from parquet footers of the files just
    # written (counts exactly what was committed, zero extra scans)
    per_sink, per_file = written_file_rows(unit_dir)
    return UnitManifest(
        unit_id=unit_id,
        inputs=files,
        input_identity=file_identity(files),
        input_bytes=sum(os.path.getsize(f) for f in files),
        # every row is routed, to exactly one sink
        rows_in=sum(p[3] for p in partials),
        rows_routed=sum(per_sink.values()),
        per_sink_rows=per_sink,
        per_partition_rows=per_file,
        wall_ms=(time.monotonic() - t0) * 1000.0,
        partials=partials,
    )


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    resume: bool = True,
    max_units: int | None = None,
) -> dict:
    """Run (or resume) the pipeline over an input table directory.

    Returns ExecStats-style metrics.  ``max_units`` caps how many units
    this invocation processes — used by tests to simulate a killed job.
    """
    log = LineageLog(out_dir)
    routed_dir = os.path.join(out_dir, ROUTED_SUBDIR)
    units = list_units(input_path)
    _check_layout_version(out_dir, routed_dir, log)
    # each committed manifest is parsed once per call; units committed
    # below join the dict, and the stats and aggregates come from it
    manifests = log.read_manifests()
    done_ids = {
        uid
        for uid, files in units
        if resume and inputs_match(manifests.get(uid), files)
    }
    todo = [(uid, files) for uid, files in units if uid not in done_ids]
    if todo:
        # a unit already absorbed into a compaction pack must never be
        # reprocessed: its old rows live in the pack, so a rewrite
        # would double-count in read_routed
        absorbed, _packs = compaction_view(out_dir)
        clash = sorted(uid for uid, _f in todo if uid in absorbed)
        if clash and not resume:
            raise RuntimeError(
                "resume=False cannot reprocess a compacted output dir: "
                f"unit(s) {clash} are inside a pack and a rewrite would "
                "duplicate their rows — use a fresh output dir")
        if clash:
            raise RuntimeError(
                f"input identity changed for compacted unit(s) {clash}: "
                "their previous rows are inside a pack and reprocessing "
                "would duplicate them — inputs must be immutable after "
                "compaction (use a fresh output dir to re-ingest)")
    if max_units is not None:
        todo = todo[:max_units]

    if todo:
        # fetched and guarded once per run; every unit's kernel carries them
        lookup, routes = broadcast_tables(spark)
        pool = ThreadPoolExecutor(
            max_workers=min(len(todo), spark.sparkContext.defaultParallelism),
            thread_name_prefix="sneller-unit",
        )
        first_error: Exception | None = None
        try:
            futures = [
                # wrapped per unit so each carries its own copy of the
                # caller's local properties (job group, scheduler pool):
                # Spark sets the SQL execution id in that copy while a
                # query runs, so units sharing one copy would cross ids
                pool.submit(
                    inheritable_thread_target(spark)(_run_unit),
                    spark, unit_id, files, lookup, routes, routed_dir,
                )
                for unit_id, files in todo
            ]
            # commit on this thread only: LineageLog.commit and the
            # commit log keep a single writer
            for fut in as_completed(futures):
                if fut.cancelled():
                    continue
                try:
                    manifest = fut.result()
                except Exception as e:
                    # units already running finish and commit; queued
                    # ones are cancelled.  cancel() keeps them queued,
                    # so a worker still notifies as_completed for each;
                    # shutdown(cancel_futures=True) here would drain
                    # them unnotified and hang this loop
                    if first_error is None:
                        first_error = e
                        for f in futures:
                            f.cancel()
                    continue
                log.commit(manifest)
                manifests[manifest.unit_id] = manifest
        finally:
            pool.shutdown(cancel_futures=True)
        if first_error is not None:
            raise first_error

    # final aggregates from all committed units (derived state — always
    # consistent with the routed table, regardless of kill/resume).
    # A no-op resume (nothing processed, aggregate already written)
    # skips the rewrite: the committed units are unchanged, so the
    # existing aggregate is still the derived state.
    stats = total_stats(manifests)
    agg_dir = os.path.join(out_dir, AGG_SUBDIR)
    if manifests and (todo or not os.path.exists(os.path.join(agg_dir, "_SUCCESS"))):
        _write_aggregates(manifests, agg_dir)
    stats["units_processed_this_run"] = len(todo)
    return stats


def _write_aggregates(manifests: dict[str, UnitManifest], agg_dir: str) -> None:
    """Sum the committed manifests' partials and write them as one
    parquet file behind a ``_SUCCESS`` marker, as Spark's writer did.
    Compaction moves rows but never changes them, so the manifests of
    absorbed units stay valid; no Spark job runs and no routed data is
    read."""
    rows = merge_partials(p for uid in sorted(manifests) for p in manifests[uid].partials)
    shutil.rmtree(agg_dir, ignore_errors=True)
    os.makedirs(agg_dir)
    table = pa.Table.from_pylist(
        [dict(zip(PARTIALS_SCHEMA.names, r)) for r in rows], schema=PARTIALS_SCHEMA)
    pq.write_table(table, os.path.join(agg_dir, "part-00000.parquet"))
    open(os.path.join(agg_dir, "_SUCCESS"), "w").close()


def read_aggregates(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, AGG_SUBDIR))


def read_merged_sketch(spark: SparkSession, out_dir: str):
    """The count-min sketch of ``source`` over every committed unit,
    built from the manifests' partials: each non-null source's row
    count is summed once (``merge_partials``) and added to its cells
    with ``cm_sketch``'s hashing and default (depth, width, seed).  It
    equals ``cm_sketch(read_routed(spark, out_dir), "source")`` cell
    for cell, reads no routed data, and holds after compaction, which
    never changes manifests.  Heavy-hitter pruning then runs on this
    fixed-size summary instead of a second pass over the routed table.
    A committed manifest that does not parse raises a ValueError naming
    its unit, and so does an out dir not stamped LAYOUT_VERSION, whose
    manifests may lack partials."""
    from ..operators.sketch import CMSketch, cm_cells

    layout = _stamped_layout(out_dir)
    if layout != LAYOUT_VERSION:
        raise ValueError(f"output dir {out_dir!r} has layout {layout!r}, not "
                         f"{LAYOUT_VERSION!r}; its manifests may lack partials")
    manifests = LineageLog(out_dir).read_manifests()
    require_parsed(manifests)
    # one (None, source, None, n_rows, None) row per non-null source
    per_source = merge_partials(
        (None, source, None, n, None)
        for m in manifests.values() for _sink, source, _level, n, _tok in m.partials
        if source is not None)
    depth, width, seed = 4, 1024, 7  # cm_sketch's defaults
    cells = (
        spark.createDataFrame([(r[1], r[3]) for r in per_source], "source string, n bigint")
        .select(F.explode(cm_cells("source", depth, width, seed)).alias("c"), "n")
        .groupBy(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("n").alias("cnt"))
    )
    return CMSketch(cells, depth, width, seed)


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Consistent view of the routed table: live units + committed
    compaction packs, absorbed units excluded (pipeline/compact.py)."""
    return read_routed_consistent(spark, out_dir)
