"""Route stage — tag each row with its sink, and write each sink's rows.

Spark analog of Sneller's TeeWriter + OutputPart
(/root/reference/vm/tee.go:27-80, /root/reference/plan/output.go:142-182):
the reference writes every sink from inside its vectorized pass.  Here
one ``mapInArrow`` kernel takes each input batch, enriches it in Arrow
from the lookup table (``enrich.enrich_columns``), parses it
(``parse.extract_fields_dict``), looks up each row's sink in the
routing rules, and then either returns the routed rows (``route_rows``,
what ``runner.transform`` runs) or writes each sink's rows with
``pyarrow.parquet`` and returns only per-(sink_id, source, level)
partial counts and token sums.  ``write_unit`` does the latter over a
DataFrame's batches (the streaming epoch sink); ``write_unit_file``,
one pipeline unit, reads the unit's parquet file inside the kernel,
one task per row group, so the rows never cross the JVM at all: the
JVM's decode of the tokens column and its row-by-row conversion to
Arrow were most of a unit's time.

Output layout is the hive layout of Spark's ``partitionBy("sink_id")``:
``<dir>/sink_id=<s>/``, one file per task per sink.  Each file is
written under a dot-prefixed temp name, which Spark's reader ignores,
and renamed on success to ``part-<partition id>.parquet``, so a retried
task overwrites its own files instead of adding a copy.  The caller
clears the directory before the job.

Rows whose (category, level) has no routing rule — including rows the
parse left with level = null — fall through to the catch-all sink.
``route_stage`` states the same routing as a broadcast LEFT join plus
coalesce; it is the route that runs without Python workers and the
reference the kernel is tested against.  The kernel gets the rules as a
driver-side table (``collect_routes``), so a rules table that repeats a
(category, level) key is refused: the join would fan such a row out to
every matching sink, a lookup would silently pick one.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema, to_arrow_type

from ..lookups import CATCH_ALL_SINK
from .aggregate import AGG_KEYS, PARTIALS_SCHEMA
from .enrich import Lookup, assert_broadcastable, collect_broadcastable, enrich_columns
from .parse import PARSED_FIELDS, PARSED_SCHEMA, extract_fields_dict

ROUTE_ON = ("category", "level")
SINK_FIELD = T.StructField("sink_id", T.StringType(), False)


def route_stage(
    df: DataFrame,
    rules: DataFrame,
    on: tuple[str, str] = ROUTE_ON,
    catch_all: str = CATCH_ALL_SINK,
) -> DataFrame:
    """Tag each row with sink_id by a broadcast join on the rule table."""
    assert_broadcastable(rules)
    out = df.join(F.broadcast(rules), on=list(on), how="left")
    return out.withColumn("sink_id", F.coalesce(F.col("sink_id"), F.lit(catch_all)))


class Routes(NamedTuple):
    """The routing rules as an Arrow lookup: the sink of category
    ``categories[i]`` at level ``levels[j]`` is
    ``sinks[i * len(levels) + j]``, null where no rule exists."""

    categories: pa.Array
    levels: pa.Array
    sinks: pa.Array


def collect_routes(rules: DataFrame) -> Routes:
    """Fetch and guard the rule table in one job; refuse repeated keys."""
    table: dict[tuple, str] = {}
    for cat, level, sink in collect_broadcastable(rules.select(*ROUTE_ON, "sink_id")):
        if cat is None or level is None:
            continue  # a null join key never matches
        if (cat, level) in table:
            raise ValueError(
                f"routing rules hold duplicate keys {ROUTE_ON} = {(cat, level)!r}; "
                "a join would route such rows to every matching sink")
        table[(cat, level)] = sink
    cats = list(dict.fromkeys(c for c, _ in table))
    levels = list(dict.fromkeys(lv for _, lv in table))
    sinks = [table.get((c, lv)) for c in cats for lv in levels]
    return Routes(pa.array(cats), pa.array(levels), pa.array(sinks))


def sink_ids(routes: Routes, category: pa.Array, level: pa.Array) -> pa.Array:
    """Each row's sink: its rule's, else the catch-all."""
    i = pc.index_in(category, value_set=routes.categories.cast(category.type))
    j = pc.index_in(level, value_set=routes.levels.cast(level.type))
    pair = pc.add(pc.multiply(i, len(routes.levels)), j)
    return pc.fill_null(routes.sinks.take(pair), CATCH_ALL_SINK)


class _Router:
    """The per-batch kernel: enrich one batch of input columns in Arrow,
    parse it, and look up each row's sink.  ``fields`` are the routed
    columns (sink_id aside), named, typed and ordered as the Catalyst
    chain of enrich join, parse and route join produced them."""

    def __init__(self, in_fields: list[T.StructField], lookup: Lookup, routes: Routes):
        self.lookup, self.routes = lookup, routes
        by_name = {f.name: f for f in [*in_fields, *PARSED_SCHEMA.fields, *lookup.fields]}
        kept = [lookup.key, *(f.name for f in in_fields if f.name != lookup.key),
                *PARSED_FIELDS, *(f.name for f in lookup.fields)]
        self.fields = [by_name[c] for c in [*ROUTE_ON, *(c for c in kept if c not in ROUTE_ON)]]
        self.names = [f.name for f in self.fields]
        self.added = {f.name: pa.field(f.name, to_arrow_type(f.dataType), f.nullable)
                      for f in [*PARSED_SCHEMA.fields, *lookup.fields]}

    def __call__(self, batch: pa.RecordBatch) -> tuple[pa.RecordBatch, pa.Array]:
        """One input batch -> (its routed rows, their sinks).  Input
        columns keep the batch's own field and the added ones Spark's,
        so a defaulted lookup column is written REQUIRED, as Spark's
        writer wrote it."""
        cols = dict(zip(batch.schema.names, batch.columns))
        cols.update(enrich_columns(self.lookup, cols[self.lookup.key]))
        cols.update(extract_fields_dict(cols["tokens"]))
        sinks = sink_ids(self.routes, *(cols[c] for c in ROUTE_ON))
        schema = pa.schema([self.added.get(c) or batch.schema.field(c) for c in self.names])
        return pa.RecordBatch.from_arrays([cols[c] for c in self.names], schema=schema), sinks


def route_rows(
    df: DataFrame,
    lookup: Lookup,
    routes: Routes,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Enrich, parse and route in one kernel; the routed rows."""
    in_cols = list(df.columns) if passthrough is None else list(passthrough)
    router = _Router([df.schema[c] for c in in_cols], lookup, routes)

    def run(batches):
        pa.set_cpu_count(1)
        for b in batches:
            if b.num_rows:
                rows, sinks = router(b)
                yield pa.RecordBatch.from_arrays(
                    [*rows.columns, sinks], names=[*rows.schema.names, "sink_id"])

    return df.select(*dict.fromkeys([*in_cols, "tokens"])).mapInArrow(
        run, schema=T.StructType([*router.fields, SINK_FIELD]))


def _write_batches(batches, router: _Router, out_dir: str):
    """Route and write each input batch's rows under ``out_dir``; yield
    the partial (sink_id, source, level, n_rows, sum_n_tok) rows of the
    rows written, one per key per batch."""
    with _SinkFiles(out_dir) as files:
        for b in batches:
            if b.num_rows:
                rows, sinks = router(b)
                files.write(rows, sinks)
                yield from _partials(rows, sinks).to_batches()


def write_unit(df: DataFrame, lookup: Lookup, routes: Routes, out_dir: str) -> list:
    """Enrich, parse, route and write each sink's rows of ``df`` under
    ``out_dir`` in one kernel over its batches; the partials."""
    router = _Router(df.schema.fields, lookup, routes)

    def run(batches):
        pa.set_cpu_count(1)
        yield from _write_batches(batches, router, out_dir)

    return df.mapInArrow(run, schema=from_arrow_schema(PARTIALS_SCHEMA)).collect()


def write_unit_file(
    spark: SparkSession,
    path: str,
    row_groups: int,
    in_schema: T.StructType,
    lookup: Lookup,
    routes: Routes,
    out_dir: str,
) -> list:
    """``write_unit`` over a parquet file the kernel reads itself: one
    task per row group, reading it with pyarrow as Spark's reader typed
    it (``in_schema``) and in Spark's Arrow batch size.  One Spark job;
    the partials."""
    schema = to_arrow_schema(in_schema)
    router = _Router(in_schema.fields, lookup, routes)
    # zero or negative: no limit, so one batch per row group
    batch_size = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def read(ids):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        size = batch_size if batch_size > 0 else max(1, pf.metadata.num_rows)
        for ib in ids:
            for group in ib.column(0).to_pylist():
                for b in pf.iter_batches(size, row_groups=[group], use_threads=False):
                    yield b.cast(schema)

    def run(ids):
        pa.set_cpu_count(1)
        yield from _write_batches(read(ids), router, out_dir)

    # spark.range, not createDataFrame([path]): a mapInArrow over a
    # local relation waited 0.55-0.9 s for its first input batch
    return spark.range(row_groups, numPartitions=row_groups).mapInArrow(
        run, schema=from_arrow_schema(PARTIALS_SCHEMA)).collect()


def _partials(rows: pa.RecordBatch, sinks: pa.Array) -> pa.Table:
    """count(*) and sum(n_tok) per AGG_KEYS group of one batch; exact,
    and null sums where a group's n_tok are all null, as Spark's sum."""
    t = pa.table({"sink_id": sinks, "source": rows.column("source"),
                  "level": rows.column("level"), "n_tok": rows.column("n_tok")})
    g = t.group_by(AGG_KEYS).aggregate(
        [("n_tok", "count", pc.CountOptions(mode="all")), ("n_tok", "sum")])
    return pa.table({**{k: g[k] for k in AGG_KEYS},
                     "n_rows": g["n_tok_count"], "sum_n_tok": g["n_tok_sum"]},
                    schema=PARTIALS_SCHEMA)


def write_routed(df: DataFrame, path: str) -> None:
    """Write ``df`` as one directory per ``sink_id`` value under
    ``path``, replacing what ``path`` held: one job, through the same
    per-sink writer the ingest kernel uses."""
    shutil.rmtree(path, ignore_errors=True)
    names = [c for c in df.columns if c != "sink_id"]

    def run(batches):
        with _SinkFiles(path) as files:
            for b in batches:
                if b.num_rows:
                    files.write(b.select(names), b.column("sink_id"))
        yield from ()  # the job's output is the files

    df.mapInArrow(run, schema="rows long").collect()


# Spark's ExternalCatalogUtils.escapePathName: partition values with
# these characters get %XX escapes in their directory names
_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def _sink_dir(sink) -> str:
    if sink is None or sink == "":
        return "sink_id=__HIVE_DEFAULT_PARTITION__"
    return "sink_id=" + "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in str(sink))


class _SinkFiles:
    """One task's per-sink parquet writers under ``root``; each file is
    renamed from its temp name into place when the task's rows are all
    written, and removed if the task fails."""

    def __init__(self, root: str):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        self.root = root
        self.name = f"part-{ctx.partitionId():05d}.parquet"
        self.tmp = f".{self.name}.{ctx.attemptNumber()}.tmp"
        self.open: dict = {}

    def write(self, rows: pa.RecordBatch, sinks: pa.Array) -> None:
        enc = pc.dictionary_encode(sinks, null_encoding="encode")
        codes = enc.indices.to_numpy(zero_copy_only=False)
        for k, sink in enumerate(enc.dictionary.to_pylist()):
            part = rows if len(enc.dictionary) == 1 else rows.filter(pa.array(codes == k))
            self._writer(sink, rows.schema).write_batch(part)

    def _writer(self, sink, schema: pa.Schema):
        import pyarrow.parquet as pq

        if sink not in self.open:
            d = os.path.join(self.root, _sink_dir(sink))
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, self.tmp)
            self.open[sink] = (pq.ParquetWriter(tmp, schema), tmp, os.path.join(d, self.name))
        return self.open[sink][0]

    def __enter__(self) -> _SinkFiles:
        return self

    def __exit__(self, exc_type, *_exc) -> None:
        for writer, tmp, final in self.open.values():
            writer.close()
            if exc_type is None:
                os.replace(tmp, final)
            else:
                with contextlib.suppress(OSError):
                    os.remove(tmp)
