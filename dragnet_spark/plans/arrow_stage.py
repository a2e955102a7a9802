"""The Arrow row stage: the JVM <-> Python boundary of every per-document
Python operator.

An operator supplies ``per_row(*values)`` -- one input row's decoded
column values in, an iterable of that row's output tuples out -- and
the pyarrow schema of those tuples.  This module owns the rest of the
crossing, the layer *Accelerating Python UDFs in Vectorized Query
Execution* (CIDR 2022) separates from the UDF body:

* decode: argument columns become Python lists; a ``list<struct>``
  column goes through its flat child fields (one C pass per field
  instead of one nested scalar per element), and a null list decodes
  to ``[]``;
* passthrough: the named input columns are carried to each output row
  by input-row index (``take``), so ids keep their Arrow type with no
  Python round trip; they lead the output, in the order given;
* encode + flush: output rows are buffered and yielded as one batch
  once they reach ``FLUSH_ROWS`` rows or about ``FLUSH_BYTES`` bytes,
  checked after every output row -- a document with a huge fan-out
  (shingles, blocks) flushes part-way through, so per-task memory stays
  bounded the way the JVM Generate the explode stages replaced streamed
  in constant space.
"""

from __future__ import annotations

import pyarrow as pa

FLUSH_ROWS = 1 << 16
FLUSH_BYTES = 32 << 20


def _nbytes(v):
    """Rough in-memory size of one decoded value: the length of a string
    or bytes, 8 per scalar, summed through lists and dicts.  Exact type
    checks: this runs once per output value."""
    t = type(v)
    if t is str or t is bytes:
        return len(v)
    if t is list or t is tuple:
        return 8 + sum(map(_nbytes, v))
    if t is dict:
        return 8 + sum(map(_nbytes, v.values()))
    return 8


def _struct_list_rows(arr):
    """``list<struct>`` array -> per-row lists of dicts, through the flat
    child fields: primitive child arrays convert to Python in one C pass
    each instead of one nested StructScalar per element (measured ~5% of
    the extraction stage).  A null list decodes to ``[]``."""
    offsets = arr.offsets.to_pylist()
    flat = arr.values
    names = [f.name for f in flat.type]
    fields = [flat.field(i).to_pylist() for i in range(len(names))]
    elems = [dict(zip(names, vals)) for vals in zip(*fields)]
    nulls = arr.is_null().to_pylist() if arr.null_count else None
    return [[] if nulls is not None and nulls[i]
            else elems[offsets[i]:offsets[i + 1]] for i in range(len(arr))]


def _decode(col):
    t = col.type
    if pa.types.is_list(t) and pa.types.is_struct(t.value_type):
        return _struct_list_rows(col)
    return col.to_pylist()


def row_batches(per_row, out_schema, passthrough=(), args=None):
    """The ``Iterator[RecordBatch] -> Iterator[RecordBatch]`` function of
    one row stage.

    ``args`` names the columns decoded and passed to ``per_row``, in
    order (default: every input column not in ``passthrough``).  Output
    batches carry the ``passthrough`` columns, then ``out_schema``'s.
    An input batch that yields no rows yields no batch.
    """
    passthrough = list(passthrough)

    def run(batches):
        for rb in batches:
            names = (list(args) if args is not None else
                     [n for n in rb.schema.names if n not in passthrough])
            keep = [rb.column(n) for n in passthrough]
            rows, idx, nbytes = [], [], 0
            for i, vals in enumerate(zip(*[_decode(rb.column(n))
                                            for n in names])):
                for row in per_row(*vals):
                    rows.append(row)
                    idx.append(i)
                    nbytes += sum(map(_nbytes, row))
                    if len(rows) >= FLUSH_ROWS or nbytes >= FLUSH_BYTES:
                        yield _encode(rows, idx, keep, passthrough,
                                      out_schema)
                        rows, idx, nbytes = [], [], 0
            if rows:
                yield _encode(rows, idx, keep, passthrough, out_schema)

    return run


def _encode(rows, idx, keep, passthrough, out_schema):
    arrays = [c.take(pa.array(idx, pa.int64())) for c in keep]
    arrays += [pa.array(vals, type=f.type)
               for f, vals in zip(out_schema, zip(*rows))]
    return pa.RecordBatch.from_arrays(
        arrays, names=passthrough + out_schema.names)


def map_rows(df, per_row, out_schema, passthrough=(), args=None):
    """``df.mapInArrow`` over :func:`row_batches`; the Spark schema is
    derived from ``out_schema``, with the passthrough columns typed as
    in ``df``."""
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = T.StructType(
        [T.StructField(n, df.schema[n].dataType) for n in passthrough]
        + from_arrow_schema(out_schema).fields)
    return df.mapInArrow(row_batches(per_row, out_schema, passthrough, args),
                         schema)
