"""The Arrow row stage (``plans.arrow_stage``), driven in-process on
hand-built RecordBatches -- no Spark -- plus the guard that keeps every
per-row Python stage on it."""

import os
import re

import pyarrow as pa

from dragnet_spark.plans import arrow_stage
from dragnet_spark.plans.arrow_stage import row_batches

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), 'dragnet_spark')

SPAN = pa.struct([('kind', pa.string()), ('text', pa.string())])


def _run(fn, *batches):
    return list(fn(iter(batches)))


def _fan_out(t):
    return (('%s-%d' % (t, i),) for i in range(100))


def _docs_batch():
    return pa.RecordBatch.from_arrays(
        [pa.array([7, 8], pa.int64()), pa.array(['a', 'b'])],
        names=['doc_id', 'text'])


OUT = pa.schema([('part', pa.string())])


def test_fat_document_flushes_by_rows(monkeypatch):
    fn = row_batches(_fan_out, OUT, passthrough=('doc_id',))
    whole = pa.Table.from_batches(_run(fn, _docs_batch()))
    monkeypatch.setattr(arrow_stage, 'FLUSH_ROWS', 30)
    parts = _run(fn, _docs_batch())
    # 100 rows per document: flushed part-way through each one
    assert [b.num_rows for b in parts] == [30, 30, 30, 30, 30, 30, 20]
    assert pa.Table.from_batches(parts).equals(whole)
    assert whole.num_rows == 200


def test_fat_document_flushes_by_bytes(monkeypatch):
    fn = row_batches(_fan_out, OUT, passthrough=('doc_id',))
    whole = pa.Table.from_batches(_run(fn, _docs_batch()))
    row_bytes = len('a-10')  # every output value is 3-4 characters
    monkeypatch.setattr(arrow_stage, 'FLUSH_BYTES', 25 * row_bytes)
    parts = _run(fn, _docs_batch())
    assert len(parts) > 2
    for b in parts:
        assert sum(map(len, b.column('part').to_pylist())) \
            < 25 * row_bytes + row_bytes
    assert pa.Table.from_batches(parts).equals(whole)


def test_nulls_reach_per_row_as_none_and_null_lists_as_empty():
    spans = pa.array([[{'kind': 'text', 'text': 'x'}], None, []],
                     pa.list_(SPAN))
    rb = pa.RecordBatch.from_arrays(
        [pa.array(['d0', 'd1', None]), pa.array([1, None, 3], pa.int32()),
         spans], names=['doc_id', 'n', 'spans'])
    seen = []

    def per_row(doc_id, n, sp):
        seen.append((doc_id, n, sp))
        return ((len(sp),),)

    out = _run(row_batches(per_row, pa.schema([('n_spans', pa.int64())])),
               rb)
    assert seen == [('d0', 1, [{'kind': 'text', 'text': 'x'}]),
                    ('d1', None, []), (None, 3, [])]
    assert out[0].column('n_spans').to_pylist() == [1, 0, 0]


def test_passthrough_keeps_arrow_type_one_to_one_and_exploding():
    rb = _docs_batch()
    one = _run(row_batches(lambda t: ((t.upper(),),), OUT,
                           passthrough=('doc_id',)), rb)[0]
    assert one.schema.names == ['doc_id', 'part']
    assert one.schema.field('doc_id').type == pa.int64()
    assert one.column('doc_id').to_pylist() == [7, 8]
    assert one.column('part').to_pylist() == ['A', 'B']

    many = _run(row_batches(lambda t: ((t,), (t + t,), (t * 3,)), OUT,
                            passthrough=('doc_id',)), rb)[0]
    assert many.schema.field('doc_id').type == pa.int64()
    assert many.column('doc_id').to_pylist() == [7, 7, 7, 8, 8, 8]
    assert many.column('part').to_pylist() == [
        'a', 'aa', 'aaa', 'b', 'bb', 'bbb']

    # a passthrough column may also be an argument
    both = _run(row_batches(lambda d, t: (('%d%s' % (d, t),),), OUT,
                            passthrough=('doc_id',),
                            args=('doc_id', 'text')), rb)[0]
    assert both.column('doc_id').type == pa.int64()
    assert both.column('part').to_pylist() == ['7a', '8b']


def test_empty_batch_and_empty_fan_out_yield_no_rows():
    fn = row_batches(_fan_out, OUT, passthrough=('doc_id',))
    assert _run(fn, _docs_batch().slice(0, 0)) == []
    none = row_batches(lambda t: (), OUT, passthrough=('doc_id',))
    assert _run(none, _docs_batch()) == []


def test_output_types_follow_the_schema():
    schema = pa.schema([('doc_id', pa.string()), ('k', pa.int32()),
                        ('spans', pa.list_(SPAN))])
    rb = _docs_batch()
    out = _run(row_batches(
        lambda d, t: (('d%d' % d, 1, [{'kind': 'text', 'text': t}]),),
        schema), rb)[0]
    assert out.schema == schema
    assert out.column('spans').to_pylist()[1] == [{'kind': 'text',
                                                   'text': 'b'}]


def test_extract_stage_looks_up_kernels_at_call_time(monkeypatch):
    # layer tracing wraps kernels by patching module attributes, so a
    # stage built before the patch must still reach the patched kernel
    import importlib

    from dragnet_spark.model import default_model
    from dragnet_spark.sources.synthesis import SPANS_SCHEMA, iter_span_docs
    extract = importlib.import_module('dragnet_spark.operators.extract')

    docs = list(iter_span_docs([1, 2, 3], ['One. Two. Three.'] * 3))
    rb = pa.RecordBatch.from_pylist(
        [{'doc_id': d, 'spans': s} for d, s in docs], schema=SPANS_SCHEMA)
    fn = extract.make_extract_fn(default_model())
    calls = []
    real = extract.process_document

    def traced(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(extract, 'process_document', traced)
    out = pa.Table.from_batches(_run(fn, rb))
    assert len(calls) == 3
    assert out.schema == extract.EXTRACTED_PA_SCHEMA
    assert out.column('doc_id').to_pylist() == [d for d, _ in docs]


# -- guard: one boundary loop ----------------------------------------------

# vectorized numpy/pandas bodies, not per-row loops: file -> call count
MAP_IN_PANDAS_ALLOWED = {
    'operators/similarity.py': 6,
    'operators/metrics.py': 1,
    'operators/dedup.py': 1,
}


def _calls(pattern):
    found = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith('.py'):
                path = os.path.join(root, f)
                with open(path, encoding='utf-8') as fh:
                    n = len(re.findall(pattern, fh.read()))
                if n:
                    found[os.path.relpath(path, PKG)] = n
    return found


def test_map_in_arrow_only_in_the_row_stage_helper():
    assert set(_calls(r'\.mapInArrow\(')) == {'plans/arrow_stage.py'}


def test_map_in_pandas_only_at_vectorized_sites():
    assert _calls(r'\.mapInPandas\(') == MAP_IN_PANDAS_ALLOWED

