"""Tracing for the benchmark's traced run.

Three recorders, all kept in memory and written out when the run ends:

* :class:`Tracer` -- spans ``(id, parent, pass_id, name, start_ns,
  end_ns, counts)``.  A layer's self time is its span's duration minus
  the part its child spans cover.
* :func:`kernel_layers` -- patches the module attributes through which
  one document flows (blockify -> parse -> features -> predict, and
  the LCS inclusion step of labeling) with span-recording wrappers for
  the duration of a ``with`` block.  The program's code is unchanged;
  only the calls into each layer are wrapped.
* :func:`sql_metrics` -- the executed-plan SQL metrics of every Spark
  SQL execution since a given id, read from the session's SQL status
  store, which keeps the final adaptive plan (query stages expanded)
  of each execution with its aggregated metric values.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import time
from collections import defaultdict

_now = time.perf_counter_ns


class Tracer:
    """Spans as lists ``[id, parent, pass_id, name, start_ns, end_ns,
    counts]``: the wrapper around a kernel call is on the measured path,
    so it stays a few plain statements."""

    FIELDS = ('id', 'parent', 'pass_id', 'name', 'start_ns', 'end_ns',
              'counts')

    def __init__(self):
        self.spans = []
        self._stack = []
        self.pass_id = None

    def _open(self, name):
        rec = [len(self.spans), self._stack[-1] if self._stack else None,
               self.pass_id, name, _now(), None, None]
        self.spans.append(rec)
        self._stack.append(rec[0])
        return rec

    def _close(self, rec):
        rec[5] = _now()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name):
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    def wrap(self, name, fn, count=None):
        """``fn`` recorded as a span; ``count(args, result)`` returns a
        dict of counts to attach."""
        def traced(*args, **kwargs):
            rec = self._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(rec)
            if count is not None:
                rec[6] = count(args, out)
            return out
        return traced

    def self_times_ns(self, pass_ids):
        """name -> summed self time over the spans of ``pass_ids``."""
        child = defaultdict(int)
        for s in self.spans:
            if s[1] is not None:
                child[s[1]] += s[5] - s[4]
        out = defaultdict(int)
        for s in self.spans:
            if s[2] in pass_ids:
                out[s[3]] += s[5] - s[4] - child[s[0]]
        return out

    def counts(self, pass_ids):
        out = defaultdict(int)
        for s in self.spans:
            if s[6] and s[2] in pass_ids:
                for k, v in s[6].items():
                    out[k] += v
        return out

    def dump(self, path):
        with open(path, 'w') as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(self.FIELDS, s))) + '\n')


def secs(rec):
    return (rec[5] - rec[4]) / 1e9


def _lcs_counts(args, out):
    flags, covered, gold_truncated = out
    return {'lcs.cells': covered * len(args[1]),
            'lcs.truncated': int(covered < len(args[0]) or gold_truncated)}


@contextlib.contextmanager
def kernel_layers(tracer):
    """Record a span around each kernel layer a document passes through."""
    blocks, extract, labeling = (importlib.import_module(
        'dragnet_spark.%s' % m) for m in (
            'kernels.blocks', 'operators.extract', 'operators.labeling'))
    patches = [
        (blocks, 'parse_html', 'htmlparse.parse',
         lambda a, out: {'htmlparse.bytes': len(a[0])}),
        (extract, 'blockify', 'blocks.walk',
         lambda a, out: {'blocks.blocks': len(out[0])}),
        (extract, 'compute', 'features.compute', None),
        (labeling, 'compute', 'features.compute', None),
        (extract, 'process_document', 'extract.process_document', None),
        (labeling, 'check_inclusion_ex', 'lcs.inclusion', _lcs_counts),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
    try:
        for mod, attr, name, count in patches:
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr), count))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class TracedModel:
    """A model whose ``predict`` is recorded as the ``model.predict``
    layer."""

    def __init__(self, model, tracer):
        self._model = model
        self.predict = tracer.wrap('model.predict', model.predict)

    def __getattr__(self, name):
        return getattr(self._model, name)


# -- executed-plan SQL metrics ---------------------------------------------

_UNITS = {'ns': 1e-9, 'ms': 1e-3, 's': 1.0, 'm': 60.0, 'h': 3600.0,
          'B': 1.0, 'KiB': 2.0 ** 10, 'MiB': 2.0 ** 20, 'GiB': 2.0 ** 30,
          'TiB': 2.0 ** 40}
_VALUE = re.compile(r'^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)')


def parse_metric(text):
    """A status-store metric string -> float in seconds, bytes or count.
    Aggregated timing and size metrics read ``total (min, med, max ...)``
    on the first line and the values on the second."""
    if text is None:
        return 0.0
    line = text.split('\n')[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(',', ''))
    return value * _UNITS.get(m.group(2), 1.0)


def last_execution_id(spark):
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def sql_metrics(spark, after_id):
    """Plan-node metrics of every SQL execution with id > ``after_id``:
    a list of ``(node_name, metric_name, value)``."""
    jvm = spark._jvm
    spark._jsc.sc().listenerBus().waitUntilEmpty(30000)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        values = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.executionMetrics(eid))
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics = node.metrics()
            for k in range(metrics.size()):
                pm = metrics.apply(k)
                out.append((node.name(), pm.name(),
                            parse_metric(values.get(pm.accumulatorId()))))
    return out


def spark_layers(rows):
    """Executed-plan rows of one pass -> the Spark per-layer metrics."""
    def total(metric, node_prefix=''):
        return sum(v for n, m, v in rows
                   if m == metric and n.startswith(node_prefix))

    def nodes(metric):
        return sum(1 for n, m, v in rows if m == metric)

    return {
        'arrow.python_stages': nodes('time to run Python workers'),
        'arrow.python_s': total('time to run Python workers'),
        'arrow.boot_init_s': (total('time to start Python workers')
                              + total('time to initialize Python workers')),
        'arrow.bytes_to_python_mb': total('data sent to Python workers') / 1e6,
        'arrow.bytes_from_python_mb': (
            total('data returned from Python workers') / 1e6),
        'shuffle.exchanges': nodes('shuffle bytes written'),
        'shuffle.bytes_written_mb': total('shuffle bytes written') / 1e6,
        'shuffle.write_s': total('shuffle write time'),
        'jvm.pipeline_s': total('duration', 'WholeStageCodegen'),
    }
