"""The JVM <-> Python Arrow boundary of every per-document stage.

:func:`map_docs` runs one Python function over a frame's payload column,
one ``mapInArrow`` pass per Arrow batch: ``fn`` receives the batch's
payload column as its Arrow array (list-based bodies call ``to_pylist()``,
buffer readers read it zero-copy) and returns one column per declared
output field.  The id columns pass through as the untouched Arrow arrays,
so they keep their input type (``string`` or ``large_string``, ``long``,
...); every other column is built with, or checked against, the Arrow type
of its declared field, so a value of the wrong type raises in Python with
the column's name instead of failing (or being misread) on the JVM side,
which checks neither names nor types.

:func:`offsets` is the one reader of Arrow offset buffers, for the stages
that read binary and list payloads zero-copy.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructField, StructType

_ATOMIC = {
    "string": pa.string(),
    "binary": pa.binary(),
    "boolean": pa.bool_(),
    "long": pa.int64(),
    "double": pa.float64(),
}


def arrow_fields(ddl: str) -> pa.Schema:
    """Arrow schema of a DDL field list (``"text string, spans
    array<struct<start: long, end: long>>"``).  Types are the atomic ones
    in :data:`_ATOMIC`, ``array<T>`` and ``struct<name: T, ...>``; anything
    else raises.  Parsed here, not by Spark, so a per-batch body runs
    without a JVM; the Spark schema is derived from the result."""
    toks = re.findall(r"[<>,:]|[^\s<>,:]+", ddl)[::-1]

    def field() -> pa.Field:
        name = toks.pop()
        if toks[-1] == ":":
            toks.pop()
        return pa.field(name, dtype())

    def fields() -> list:
        out = [field()]
        while toks and toks[-1] == ",":
            toks.pop()
            out.append(field())
        return out

    def dtype() -> pa.DataType:
        name = toks.pop().lower()
        if name not in ("array", "struct"):
            return _ATOMIC[name]
        if toks.pop() != "<":
            raise ValueError
        t = pa.list_(dtype()) if name == "array" else pa.struct(fields())
        if toks.pop() != ">":
            raise ValueError
        return t

    try:
        schema = pa.schema(fields())
    except (IndexError, KeyError, ValueError) as e:
        raise ValueError(f"unsupported field list {ddl!r}") from e
    if toks:
        raise ValueError(f"unsupported field list {ddl!r}")
    return schema


def _typed(values, field: pa.Field, n: int) -> pa.Array:
    """``values`` as an Arrow array of the field's type and length ``n``.
    An Arrow array of the field's type passes through uncopied; an Arrow
    array of any other type raises."""
    if isinstance(values, pa.Array):
        if values.type != field.type:
            raise TypeError(
                f"column {field.name!r} ({field.type}): got {values.type}"
            )
        arr = values
    else:
        try:
            if pa.types.is_integer(field.type) and not isinstance(values, np.ndarray):
                # pyarrow truncates Python floats into integer columns;
                # through numpy a float makes a float array, which the
                # cast refuses
                values = np.asarray(values)
            arr = pa.array(values, type=field.type)
        except pa.ArrowException as e:
            raise TypeError(f"column {field.name!r} ({field.type}): {e}") from e
    if len(arr) != n:
        raise ValueError(f"column {field.name!r}: {len(arr)} values for {n} rows")
    return arr


def map_batch(
    batch: pa.RecordBatch,
    n_ids: int,
    fn: Callable,
    fields: pa.Schema,
    explode: bool = False,
) -> pa.RecordBatch | None:
    """One ``(ids..., payload)`` batch -> ``(ids..., fields...)``.

    ``fn(payloads)`` gets the payload column as its Arrow array and
    returns one column per field, in field order: one value per doc, or
    with ``explode`` a ``(counts, columns)`` pair, where doc ``i`` owns
    ``counts[i]`` consecutive rows of the flat columns.  Columns may be
    lists, numpy arrays or Arrow arrays of the field's type.  Returns None
    when an exploded batch has no rows."""
    out = fn(batch.column(n_ids))
    ids = batch.columns[:n_ids]
    n = batch.num_rows
    if explode:
        counts, out = out
        counts = np.asarray(counts, dtype=np.int64)
        n = int(counts.sum())
        if n == 0:
            return None
        idx = pa.array(np.repeat(np.arange(len(counts)), counts))
        ids = [pc.take(a, idx) for a in ids]
    if len(out) != len(fields):
        raise ValueError(f"{len(out)} columns returned for fields {fields.names}")
    schema = pa.schema(list(batch.schema)[:n_ids] + list(fields))
    arrays = ids + [_typed(v, f, n) for v, f in zip(out, fields)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def map_docs(
    df: DataFrame,
    id_cols: Sequence[str],
    payload_col: str,
    fields_ddl: str,
    fn: Callable,
    explode: bool = False,
    monitor=None,
) -> DataFrame:
    """``df`` -> ``(id_cols..., fields...)``: ``fn`` maps each Arrow
    batch's ``payload_col`` values to the declared fields, see
    :func:`map_batch`.  Empty batches are skipped; ``monitor`` (a
    :class:`tesseract_rs_spark.monitor.ProgressMonitor`) counts every
    non-empty batch and its rows."""
    id_cols = tuple(id_cols)
    fields = arrow_fields(fields_ddl)
    schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in id_cols]
        + [StructField(f.name, from_arrow_type(f.type)) for f in fields]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if monitor is not None:
                monitor.add_batch(batch.num_rows)
            out = map_batch(batch, len(id_cols), fn, fields, explode)
            if out is not None:
                yield out

    return df.select(*id_cols, payload_col).mapInArrow(gen, schema=schema)


def per_doc(row_fn: Callable) -> Callable:
    """A :func:`map_docs` function from a per-doc one that takes a Python
    payload and returns the doc's field values as one tuple."""
    return lambda payloads: list(zip(*map(row_fn, payloads.to_pylist())))


def explode_rows(docs: list) -> tuple:
    """Per-doc lists of row tuples -> the ``(counts, columns)`` pair an
    exploding :func:`map_batch` takes (one column per tuple position)."""
    rows = [row for doc in docs for row in doc]
    return [len(doc) for doc in docs], list(zip(*rows))


def offsets(arr: pa.Array) -> np.ndarray:
    """Slice-aware int64 offsets of a binary or list Arrow array.  The
    offset width comes from the type (int32 for ``binary``/``list``, int64
    for the ``large_`` variants that ``useLargeVarTypes`` produces); any
    other type raises instead of reinterpreting the buffer."""
    t = arr.type
    if pa.types.is_binary(t) or pa.types.is_list(t):
        width = np.int32
    elif pa.types.is_large_binary(t) or pa.types.is_large_list(t):
        width = np.int64
    else:
        raise TypeError(f"expected a binary or list Arrow array, got {t}")
    return np.frombuffer(arr.buffers()[1], dtype=width)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
