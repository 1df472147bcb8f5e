"""Route stage — tag each row with its sink, and write each sink's rows.

Spark analog of Sneller's TeeWriter + OutputPart
(/root/reference/vm/tee.go:27-80, /root/reference/plan/output.go:142-182):
the reference writes every sink from inside its vectorized pass.  Here
one ``mapInArrow`` kernel takes each enriched batch, parses it
(``parse.extract_fields_dict``), looks up each row's sink in the
routing rules, and then either returns the routed rows (``route_rows``,
what ``runner.transform`` runs) or writes each sink's rows with
``pyarrow.parquet`` and returns only per-(sink_id, source, level)
partial counts and token sums (``write_unit``, one pipeline unit).  The
tokens column crosses into Python once and never comes back to the JVM:
Spark's parquet writer spent about 3 CPU-s per 100k rows encoding it,
pyarrow's about a fifth of that.  The enrich join stays in Catalyst
ahead of the kernel, since its key ``source`` is an input column.

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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..lookups import CATCH_ALL_SINK
from .aggregate import AGG_KEYS, PARTIALS_SCHEMA
from .enrich import assert_broadcastable, collect_broadcastable, enrich_join
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


def _layout(
    df: DataFrame, lookup: DataFrame, passthrough: list[str] | None
) -> tuple[DataFrame, list[T.StructField]]:
    """The enriched input the kernel reads, and the routed columns it
    emits (sink_id aside), named and ordered as the Catalyst chain of
    parse, enrich join and route join produced them."""
    in_cols = list(df.columns) if passthrough is None else list(passthrough)
    enriched = enrich_join(df.select(*dict.fromkeys([*in_cols, "tokens"])), lookup)
    fields = {f.name: f for f in [*enriched.schema.fields, *PARSED_SCHEMA.fields]}
    added = [c for c in enriched.columns if c not in in_cols and c != "tokens"]
    kept = [c for c in enriched.columns if c in in_cols] + PARSED_FIELDS + added
    names = [*ROUTE_ON, *(c for c in kept if c not in ROUTE_ON)]
    return enriched, [fields[c] for c in names]


def _parse_route(
    batch: pa.RecordBatch, names: list[str], routes: Routes
) -> tuple[pa.RecordBatch, pa.Array]:
    """One enriched batch -> (its routed rows as columns ``names``, their
    sinks).  Input columns keep the batch's own field, so a non-null
    enriched column is written REQUIRED, as Spark's writer wrote it."""
    cols = dict(zip(batch.schema.names, batch.columns))
    cols.update(extract_fields_dict(cols["tokens"]))
    sinks = sink_ids(routes, *(cols[c] for c in ROUTE_ON))
    schema = pa.schema([
        batch.schema.field(c) if c in batch.schema.names else pa.field(c, cols[c].type)
        for c in names
    ])
    return pa.RecordBatch.from_arrays([cols[c] for c in names], schema=schema), sinks


def route_rows(
    df: DataFrame,
    lookup: DataFrame,
    routes: Routes,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Enrich, then parse and route in one kernel; the routed rows."""
    enriched, fields = _layout(df, lookup, passthrough)
    names = [f.name for f in fields]

    def run(batches):
        pa.set_cpu_count(1)
        for b in batches:
            if b.num_rows:
                rows, sinks = _parse_route(b, names, routes)
                yield pa.RecordBatch.from_arrays(
                    [*rows.columns, sinks], names=[*rows.schema.names, "sink_id"])

    return enriched.mapInArrow(run, schema=T.StructType([*fields, SINK_FIELD]))


def write_unit(df: DataFrame, lookup: DataFrame, routes: Routes, out_dir: str) -> list:
    """Enrich, then parse, route and write each sink's rows under
    ``out_dir`` in one kernel: one Spark job, one Python pass.  Returns
    the partial (sink_id, source, level, n_rows, sum_n_tok) rows of the
    rows written, one per key per batch."""
    enriched, fields = _layout(df, lookup, None)
    names = [f.name for f in fields]

    def run(batches):
        pa.set_cpu_count(1)
        with _SinkFiles(out_dir) as files:
            for b in batches:
                if b.num_rows:
                    rows, sinks = _parse_route(b, names, routes)
                    files.write(rows, sinks)
                    yield from _partials(rows, sinks).to_batches()

    return enriched.mapInArrow(run, schema=from_arrow_schema(PARTIALS_SCHEMA)).collect()


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
