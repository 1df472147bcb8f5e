"""Bit-identity reference for the parse stage: decode token ids to
text, then run the RE2 pattern bank over the decoded text.

This is the literal reading of the parse semantics ("first match of
each pattern in the space-joined text"), which the production kernel
``sneller_spark.pipeline.parse.parse_stage_dict`` reproduces by an
integer gather over the vocabulary.  Tests compare the two; nothing in
the package imports this module.

``parse_stage`` runs on Spark workers, which receive the package zip
but not this directory, so the module registers itself for
pickle-by-value: its functions travel inside the task closure.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import DataFrame

from sneller_spark.pipeline.parse import _ARROW_PATTERNS, PARSED_FIELDS, _vocab_arrow

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def tokens_series_to_arrow(tokens: pd.Series) -> pa.ListArray:
    """pandas series of int32 numpy arrays -> arrow list<int32>,
    via one concatenate + offsets (no per-row python iteration)."""
    vals = tokens.to_numpy()
    n = len(vals)
    if n == 0:
        return pa.ListArray.from_arrays(pa.array([0], type=pa.int32()),
                                        pa.array([], type=pa.int32()))
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
    flat = np.concatenate(vals)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(flat.astype(np.int32, copy=False), type=pa.int32()),
    )


def decode_tokens_arrow(tokens: pa.Array) -> pa.Array:
    """list<int32> token ids -> utf8 decoded text, vectorized."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    words = pc.take(_vocab_arrow(), tokens.values)
    word_lists = pa.ListArray.from_arrays(tokens.offsets, words)
    return pc.binary_join(word_lists, " ")


def extract_fields_arrow(text: pa.Array) -> dict[str, pa.Array]:
    """Run the pattern bank over decoded text; null where no match."""
    out: dict[str, pa.Array] = {}
    for name, (pattern, dtype) in _ARROW_PATTERNS.items():
        struct = pc.extract_regex(text, pattern)
        col = pc.struct_field(struct, name)
        if dtype == "int":
            col = pc.cast(col, pa.int32())
        out[name] = col
    return out


def parse_stage(df: DataFrame, passthrough: list[str] | None = None) -> DataFrame:
    """``parse_stage_dict``'s contract (same output schema, same
    ``passthrough`` pruning), computed by RE2 over the decoded text."""
    from pyspark.sql import types as T

    in_cols = list(df.columns) if passthrough is None else list(passthrough)
    projected = df.select(*dict.fromkeys(in_cols + ["tokens"]))
    in_schema = {f.name: f for f in projected.schema.fields}
    fields = [in_schema[c] for c in in_cols] + [
        T.StructField("level", T.StringType()),
        T.StructField("code", T.IntegerType()),
        T.StructField("ip", T.StringType()),
        T.StructField("lat_ms", T.IntegerType()),
    ]
    out_names = [f.name for f in fields]

    def run(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            extracted = extract_fields_arrow(decode_tokens_arrow(b.column("tokens")))
            cols = [b.column(c) for c in in_cols] + [extracted[n] for n in PARSED_FIELDS]
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return projected.mapInArrow(run, schema=T.StructType(fields))


def decode_texts_np(token_arrays: list[np.ndarray]) -> list[str]:
    """Decode a list of numpy token arrays to strings."""
    arr = pa.array(token_arrays, type=pa.list_(pa.int32()))
    return decode_tokens_arrow(arr).to_pylist()


def parse_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Parse one pandas batch: ``pdf`` plus the extracted fields."""
    text = decode_tokens_arrow(tokens_series_to_arrow(pdf["tokens"]))
    out = pdf.copy()
    for name, arr in extract_fields_arrow(text).items():
        out[name] = pd.array(arr, dtype=pd.ArrowDtype(arr.type))
    return out
