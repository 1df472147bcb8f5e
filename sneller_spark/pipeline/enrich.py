"""Enrich stage — look up small tables on the stream's key.

Spark analog of Sneller's equi-join elimination: the reference rewrites
every INNER equi-join into a broadcast hash lookup and *refuses* plans
whose RHS exceeds 10,000 rows post-filter
(/root/reference/plan/pir/joinelim.go:23-120,
/root/reference/doc/sneller-SQL.md:245-254).  We keep the same explicit
guard (BroadcastGuardError) rather than letting a silently-huge lookup
degrade into a shuffle join at 100 TB scale.

The pipeline enriches in Arrow, inside the kernel that parses and
routes each batch (pipeline/route.py): ``collect_lookup`` fetches the
guarded table to the driver once per run, and ``enrich_columns`` looks
each row's key up with ``pc.index_in``, so the stream's rows never
leave the Python pass.  ``enrich_stage`` states the same enrichment as
a left join with an explicit ``F.broadcast`` hint, so the big side
never shuffles; it is the enrichment that runs without Python workers
and the reference the Arrow lookup is tested against.

Unmatched keys get default values — Lookup.Else semantics
(/root/reference/expr/node.go:1656-1660).
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..lookups import UNKNOWN_CATEGORY, UNKNOWN_TENANT

MAX_BROADCAST_ROWS = 10_000
DEFAULTS = {"tenant": UNKNOWN_TENANT, "category": UNKNOWN_CATEGORY}


class BroadcastGuardError(ValueError):
    """Lookup table exceeds the broadcast cardinality guard."""


def _refuse_over(n: int, max_rows: int) -> None:
    if n > max_rows:
        raise BroadcastGuardError(
            f"lookup table has >{max_rows} rows; refusing to broadcast "
            "(mirrors /root/reference/doc/sneller-SQL.md:249-250)"
        )


def assert_broadcastable(lookup: DataFrame, max_rows: int = MAX_BROADCAST_ROWS) -> int:
    n = lookup.limit(max_rows + 1).count()
    _refuse_over(n, max_rows)
    return n


def collect_broadcastable(lookup: DataFrame, max_rows: int = MAX_BROADCAST_ROWS) -> list:
    """``assert_broadcastable`` and the fetch in one job: the rows of a
    table the caller needs on the driver, refused the same way past
    ``max_rows``."""
    rows = lookup.limit(max_rows + 1).collect()
    _refuse_over(len(rows), max_rows)
    return rows


def enrich_stage(
    df: DataFrame,
    lookup: DataFrame,
    key: str = "source",
    defaults: dict[str, str] | None = None,
    max_rows: int = MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Left broadcast-join ``lookup`` onto ``df`` on ``key``; fill
    non-key lookup columns with defaults for unmatched rows."""
    assert_broadcastable(lookup, max_rows)
    if defaults is None:
        defaults = DEFAULTS
    out = df.join(F.broadcast(lookup), on=key, how="left")
    for col, default in defaults.items():
        if col in out.columns:
            out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


class Lookup(NamedTuple):
    """A lookup table on the driver, for ``enrich_columns``: the row of
    key ``keys[i]`` holds ``columns[c][i]``.  ``fields`` are the added
    columns as ``enrich_stage`` types them: a defaulted column is never
    null."""

    key: str
    keys: pa.Array
    columns: dict[str, pa.Array]
    fields: list[T.StructField]
    defaults: dict[str, str]


def collect_lookup(lookup: DataFrame, key: str = "source") -> Lookup:
    """Fetch and guard the lookup table in one job; refuse repeated
    keys, which the left join fanned out into duplicate rows."""
    value_fields = [f for f in lookup.schema.fields if f.name != key]
    rows: dict = {}
    for r in collect_broadcastable(lookup):
        k = r[key]
        if k is None:
            continue  # a null join key never matches
        if k in rows:
            raise ValueError(
                f"lookup table holds duplicate key {key} = {k!r}; "
                "a join would enrich such rows once per match")
        rows[k] = r
    columns = {
        f.name: pa.array([r[f.name] for r in rows.values()], to_arrow_type(f.dataType))
        for f in value_fields
    }
    fields = [T.StructField(f.name, f.dataType, f.nullable and f.name not in DEFAULTS)
              for f in value_fields]
    key_type = to_arrow_type(lookup.schema[key].dataType)
    return Lookup(key, pa.array(list(rows), key_type), columns, fields,
                  {c: v for c, v in DEFAULTS.items() if c in columns})


def enrich_columns(lookup: Lookup, keys: pa.Array) -> dict[str, pa.Array]:
    """The lookup's columns for each of ``keys``: the matched row's
    values, the default where the key or the value is missing."""
    idx = pc.index_in(keys, value_set=lookup.keys.cast(keys.type))
    out = {}
    for name, values in lookup.columns.items():
        col = values.take(idx)
        if name in lookup.defaults:
            col = pc.fill_null(col, lookup.defaults[name])
        out[name] = col
    return out
