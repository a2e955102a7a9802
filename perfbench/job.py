"""The benchmark's job process: Spark session, passes, output checks.

    python3 perfbench/job.py --workload W --inputs DIR --work DIR
        --seed N --seconds S --trace 0|1

Prints ``READY`` once the session is up and a first tiny pass has booted
the Python workers and loaded the model (``run.py`` times process start
to that line as ``setup_s``).  Then it runs one warm pass and timed
passes of the workload's production job until ``--seconds`` of job time
are spent, checks every pass's output, and prints ``RESULT <json>`` as
its last line.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import random
import re
import shutil
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict

import pyarrow.dataset as ds

import tracing as tr

DEDUP_THRESHOLD = 0.7     # training_corpus_funnel's curation thresholds
MAX_DUP10 = 0.6
MIN_PLANTED_RECALL = 0.9
# extract_resumable's range partitions: the 4x-cores rule get_spark
# applies to shuffle partitions
PARTITIONS_PER_CORE = 4
KERNEL_SAMPLE = {'extract_web': 200, 'label_train': 6}
KERNEL_REPS = 8
_TOKEN = re.compile(r'[^\W_]+', re.UNICODE)


def nproc():
    return len(os.sched_getaffinity(0))


def session_conf(work):
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    return {'spark.local.dir': tmp,
            'spark.driver.extraJavaOptions': '-Djava.io.tmpdir=' + tmp,
            'spark.ui.showConsoleProgress': 'false'}


def read_rows(path, columns=None):
    return ds.dataset(path, format='parquet').to_table(
        columns=columns).to_pylist()


def tokens(text):
    return _TOKEN.findall((text or '').lower())


def token_f1(pairs):
    """Corpus token F1 over ``(predicted_text, gold_text)`` pairs."""
    hit = n_pred = n_gold = 0
    for pred, gold in pairs:
        p, g = Counter(tokens(pred)), Counter(tokens(gold))
        hit += sum((p & g).values())
        n_pred += sum(p.values())
        n_gold += sum(g.values())
    if not hit:
        return 0.0
    prec, rec = hit / n_pred, hit / n_gold
    return 2 * prec * rec / (prec + rec)


def id_faults(expected_ids, found_ids):
    """Documents missing from an output or present more than once."""
    seen = Counter(found_ids)
    missing = sum(1 for d in expected_ids if d not in seen)
    dup = sum(c - 1 for c in seen.values() if c > 1)
    return missing + dup


def _noop(df):
    df.write.format('noop').mode('overwrite').save()


def _timed(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class RssSampler:
    """Peak RSS of the Python workers, sampled from /proc."""

    def __init__(self, period=0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _worker_pids(self):
        """Python processes descending from this one: the Python daemon
        (which moves to a process group of its own) and its workers."""
        parent, comm = {}, {}
        for pid in os.listdir('/proc'):
            if not pid.isdigit():
                continue
            try:
                with open('/proc/%s/stat' % pid) as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(pid)] = int(stat[stat.rindex(')') + 2:].split()[1])
            comm[int(pid)] = stat[stat.index('(') + 1:stat.rindex(')')]
        me = os.getpid()
        out = []
        for pid in parent:
            p = parent[pid]
            while p not in (0, 1, me) and p in parent:
                p = parent[p]
            if p == me and comm[pid].startswith('python'):
                out.append(pid)
        return out

    def _run(self):
        while not self._stop.is_set():
            for pid in self._worker_pids():
                try:
                    with open('/proc/%d/status' % pid) as f:
                        for line in f:
                            if line.startswith('VmRSS:'):
                                self.peak_kb = max(self.peak_kb,
                                                   int(line.split()[1]))
                                break
                except OSError:
                    pass
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- workloads ----------------------------------------------------------------
#
# Each workload object runs its production job once per pass (``run``,
# the timed part) and checks the written output (``check``, untimed);
# ``check`` returns ``(failed_docs, fault_or_None, quality)``.  In the
# traced run ``layers`` adds the workload's own layer metrics, running
# extra Spark jobs where a layer needs them.


class ExtractWeb:
    """``sources.checkpoint.extract_resumable`` + manifest read, as
    ``scripts/submit_job.py`` runs it."""

    sample_docs = 24  # output rows re-derived in process, per pass

    def __init__(self, spark, inputs, truth, seed):
        from dragnet_spark.model import default_model
        self.spark, self.seed = spark, seed
        self.spans_path = os.path.join(inputs, 'spans.parquet')
        self.inputs = {r['doc_id']: r['spans']
                       for r in read_rows(self.spans_path)}
        self.gold = {r['doc_id']: r['content_text']
                     for r in read_rows(os.path.join(inputs, 'gold.parquet'))}
        self.model = default_model()
        self.n_docs = len(self.inputs)

    def run(self, out):
        from dragnet_spark.sources.checkpoint import (extract_resumable,
                                                      read_manifest)
        spans = self.spark.read.parquet(self.spans_path)
        run_id = extract_resumable(self.spark, spans, out,
                                   num_partitions=PARTITIONS_PER_CORE * nproc())
        rows = read_manifest(self.spark, out).where(
            'run_id = %r' % run_id).collect()
        return {'run_id': run_id,
                'manifest_docs': sum(r.n_docs for r in rows)}

    def check(self, out, info):
        from dragnet_spark.operators.extract import process_document
        rows = read_rows(os.path.join(out, 'extracted',
                                      'run_id=%s' % info['run_id']),
                         ['doc_id', 'spans', 'content_text', 'status'])
        failed = id_faults(self.inputs, [r['doc_id'] for r in rows])
        self.status = Counter(r['status'] for r in rows)
        failed += self.status.get('error', 0)
        fault = None
        if info['manifest_docs'] != len(rows):
            fault = 'manifest counts %d docs, output has %d' % (
                info['manifest_docs'], len(rows))
        by_id = {r['doc_id']: r for r in rows}
        rng = random.Random(self.seed)
        for did in rng.sample(sorted(self.inputs), self.sample_docs):
            spans, content, status = process_document(
                self.inputs[did] or [], self.model)
            got = by_id.get(did)
            if got is None or (got['spans'], got['content_text'],
                               got['status']) != (spans, content, status):
                fault = fault or 'output of %s differs from process_document' % did
        f1 = token_f1((r['content_text'], self.gold[r['doc_id']])
                      for r in rows if r['doc_id'] in self.gold)
        return failed, fault, f1

    def layers(self, work):
        from dragnet_spark.operators.extract import extract
        from dragnet_spark.plans.partitioning import repartition_by_doc_range
        from dragnet_spark.sources.checkpoint import run_with_checkpoints
        out = {'extract.status.%s' % s: self.status.get(s, 0)
               for s in ('ok', 'too_few_blocks', 'blockify_error', 'error')}
        df = repartition_by_doc_range(self.spark.read.parquet(self.spans_path),
                                      PARTITIONS_PER_CORE * nproc())
        base = os.path.join(work, 'ckpt')
        shutil.rmtree(base, ignore_errors=True)
        with_ckpt = _timed(lambda: run_with_checkpoints(extract(df), base))
        shutil.rmtree(base, ignore_errors=True)
        out['checkpoint.write_s'] = with_ckpt - _timed(
            lambda: _noop(extract(df)))
        return out


class LabelTrain:
    """``operators.labeling.gold_blocks(spans, gold)`` written to
    parquet: one wide row per block."""

    sample_docs = 8

    def __init__(self, spark, inputs, truth, seed):
        self.spark, self.seed = spark, seed
        self.spans_path = os.path.join(inputs, 'spans.parquet')
        self.gold_path = os.path.join(inputs, 'gold.parquet')
        self.inputs = {r['doc_id']: r['spans']
                       for r in read_rows(self.spans_path)}
        self.gold = {r['doc_id']: r for r in read_rows(self.gold_path)}
        self.n_docs = len(self.inputs)

    def run(self, out):
        from dragnet_spark.operators.labeling import gold_blocks
        gold_blocks(self.spark.read.parquet(self.spans_path),
                    self.spark.read.parquet(self.gold_path)) \
            .write.parquet(out)
        return {}

    def check(self, out, info):
        from dragnet_spark.operators.labeling import label_document
        rows = read_rows(out)
        per_doc = defaultdict(list)
        for r in rows:
            per_doc[r['doc_id']].append(r)
        failed = sum(1 for d in self.inputs if d not in per_doc)
        fault = None
        for did, rs in per_doc.items():
            idx = sorted(r['block_idx'] for r in rs)
            if did not in self.inputs or idx != list(range(len(idx))):
                failed += 1
                fault = fault or 'block rows of %s are not 0..n-1' % did
        rng = random.Random(self.seed)
        for did in rng.sample(sorted(self.inputs), self.sample_docs):
            g = self.gold[did]
            want = label_document(did, self.inputs[did] or [],
                                  g['content_text'], g['comments_text'])
            got = sorted(per_doc.get(did, []), key=lambda r: r['block_idx'])
            if got != want:
                fault = fault or 'rows of %s differ from label_document' % did
        f1 = token_f1((' '.join(r['text'] for r in per_doc[d]
                                if r['label_content'] == 1),
                       self.gold[d]['content_text'])
                      for d in per_doc if d in self.gold)
        return failed, fault, f1

    def layers(self, work):
        return {}


class CurateDedup:
    """``operators.curation.curate_corpus`` writing curated rows and
    verdicts, then the funnel summary, as ``scripts/curate_job.py``."""

    def __init__(self, spark, inputs, truth, seed):
        self.spark = spark
        self.docs_path = os.path.join(inputs, 'docs.parquet')
        self.texts = {r['doc_id']: r['text']
                      for r in read_rows(self.docs_path)}
        self.planted = truth['planted']
        self.expect_kept = truth['expect_kept']
        self.n_docs = len(self.texts)

    def run(self, out):
        import pyspark.sql.functions as F
        from dragnet_spark.operators.curation import curate_corpus
        docs = self.spark.read.parquet(self.docs_path)
        curated, verdicts = curate_corpus(docs,
                                          dedup_threshold=DEDUP_THRESHOLD,
                                          max_dup10=MAX_DUP10)
        curated.write.parquet(os.path.join(out, 'curated'))
        verdicts.write.parquet(os.path.join(out, 'verdicts'))
        v = self.spark.read.parquet(os.path.join(out, 'verdicts'))
        agg = v.agg(
            F.count('*').alias('n_in'),
            F.sum(((F.col('passes_quality') == 1)
                   & (F.col('passes_repetition') == 1)).cast('long'))
            .alias('n_gates'),
            F.sum('kept').alias('n_kept')).collect()[0]
        return {'funnel': [agg['n_in'], agg['n_gates'], agg['n_kept']]}

    def check(self, out, info):
        verdicts = read_rows(os.path.join(out, 'verdicts'))
        curated = read_rows(os.path.join(out, 'curated'), ['doc_id', 'text'])
        failed = id_faults(self.texts, [r['doc_id'] for r in verdicts])
        fault = None
        n_in, n_gates, n_kept = self.funnel = info['funnel']
        if not n_in > n_gates > n_kept > 0:
            fault = 'funnel %s has an empty or no-op stage' % info['funnel']
        kept = {r['doc_id'] for r in verdicts if r['kept'] == 1}
        if kept != {r['doc_id'] for r in curated}:
            fault = fault or 'curated rows differ from kept verdicts'
        cluster = {r['doc_id']: r['cluster_id'] for r in verdicts}
        hits = sum(1 for dup, src in self.planted.items()
                   if cluster.get(dup) is not None
                   and cluster.get(dup) == cluster.get(src))
        self.recall = hits / len(self.planted)
        if self.recall < MIN_PLANTED_RECALL:
            fault = fault or 'planted_dup_recall %.3f' % self.recall
        f1 = token_f1([(' '.join(r['text'] for r in curated),
                        ' '.join(self.texts[d] for d in self.expect_kept))])
        return failed, fault, f1

    def layers(self, work):
        import pyspark.sql.functions as F
        from dragnet_spark.operators import dedup, text_analysis
        out = {'curation.funnel.in': self.funnel[0],
               'curation.funnel.gates_pass': self.funnel[1],
               'curation.funnel.kept': self.funnel[2],
               'curation.planted_dup_recall': self.recall}
        docs = self.spark.read.parquet(self.docs_path)
        out['text_analysis.gopher_quality_s'] = _timed(
            lambda: _noop(text_analysis.gopher_quality_flags(docs)))
        out['text_analysis.gopher_repetition_s'] = _timed(
            lambda: _noop(text_analysis.gopher_repetition_flags_rowwise(
                docs, max_dup10=MAX_DUP10)))
        # the dedup layers run on the gate survivors, as in curate_corpus
        surv_path = os.path.join(work, 'survivors')
        shutil.rmtree(surv_path, ignore_errors=True)
        q = text_analysis.gopher_quality_flags(docs, keep_cols=('text',))
        r = text_analysis.gopher_repetition_flags_rowwise(
            docs, max_dup10=MAX_DUP10).select('doc_id', 'passes_repetition')
        (q.join(r, 'doc_id')
         .where((F.col('passes') == 1) & (F.col('passes_repetition') == 1))
         .select('doc_id', 'text').write.parquet(surv_path))
        surv = self.spark.read.parquet(surv_path)
        out['dedup.minhash_signatures_s'] = _timed(
            lambda: _noop(dedup.minhash_signatures(surv)))
        out['dedup.cluster_assignments_s'] = _timed(
            lambda: _noop(dedup.duplicate_cluster_assignments(
                surv, threshold=DEDUP_THRESHOLD)))
        cand = dedup.minhash_candidates(surv).count()
        verified = dedup.minhash_near_duplicates(
            surv, threshold=DEDUP_THRESHOLD).count()
        shutil.rmtree(surv_path, ignore_errors=True)
        out['dedup.candidate_pairs'] = cand
        out['dedup.verified_pairs'] = verified
        out['dedup.pair_yield'] = verified / cand if cand else 0.0
        return out


WORKLOADS = {'extract_web': ExtractWeb, 'label_train': LabelTrain,
             'curate_dedup': CurateDedup}


# -- traced run ----------------------------------------------------------------


KERNEL_LAYERS = {  # span name -> per-layer metric
    'htmlparse.parse': 'htmlparse.parse_us_per_doc',
    'blocks.walk': 'blocks.walk_us_per_doc',
    'features.compute': 'features.compute_us_per_doc',
    'model.predict': 'model.predict_us_per_doc',
    'extract.process_document': 'extract.reassemble_us_per_doc',
    'extract.batch': 'extract.boundary_us_per_doc',
    'lcs.inclusion': 'lcs.inclusion_us_per_doc',
    'labeling.label_document': 'labeling.self_us_per_doc',
}
PROCESS_DOCUMENT_LAYERS = ('htmlparse.parse', 'blocks.walk',
                           'features.compute', 'model.predict',
                           'extract.process_document')


def kernel_trace(workload, job, seed, tracer):
    """Kernel layers in this process, pinned to one core, on a seeded
    sample of the workload's documents.  Untraced and traced repetitions
    alternate, and every figure is the median over repetitions of a
    ratio or time taken within one repetition, so a burst of load from
    outside the process skews one repetition, not the result."""
    import pyarrow as pa
    extract, labeling = (importlib.import_module(
        'dragnet_spark.operators.' + m) for m in ('extract', 'labeling'))
    from dragnet_spark.sources.synthesis import SPANS_SCHEMA
    n = KERNEL_SAMPLE.get(workload, 0)
    if not n:
        return {}
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})
    ids = random.Random(seed).sample(sorted(job.inputs), n)
    if workload == 'extract_web':
        batch = pa.RecordBatch.from_pylist(
            [{'doc_id': d, 'spans': job.inputs[d]} for d in ids],
            schema=SPANS_SCHEMA)

        def run(model):
            for _ in extract.make_extract_fn(model)([batch]):
                pass

        def run_docs():
            for d in ids:
                extract.process_document(job.inputs[d] or [], job.model)

        root = 'extract.batch'
        plain = lambda: run(job.model)
        traced = lambda: run(tr.TracedModel(job.model, tracer))
    else:
        def run(span):
            for d in ids:
                g = job.gold[d]
                with span():
                    labeling.label_document(d, job.inputs[d] or [],
                                            g['content_text'],
                                            g['comments_text'])

        run_docs = None
        root = 'labeling.batch'
        plain = lambda: run(contextlib.nullcontext)
        traced = lambda: run(lambda: tracer.span('labeling.label_document'))
    plain()  # warm caches and lazy imports
    plain_s, docs_s, overhead, accounted, self_ns = [], [], [], [], []
    for i in range(KERNEL_REPS):
        plain_s.append(_timed(plain))
        tracer.pass_id = 'kernel-%d' % i
        with tr.kernel_layers(tracer), tracer.span(root) as rec:
            traced()
        overhead.append(tr.secs(rec) / plain_s[-1] - 1)
        self_ns.append(tracer.self_times_ns({tracer.pass_id}))
        if run_docs is not None:
            docs_s.append(_timed(run_docs))
            accounted.append(sum(self_ns[-1][k] for k in
                                 PROCESS_DOCUMENT_LAYERS) / 1e9 / docs_s[-1])
    counts = tracer.counts({'kernel-0'})
    out = {metric: statistics.median(r[span] for r in self_ns) / 1e3 / n
           for span, metric in KERNEL_LAYERS.items()}
    out.update({
        'trace.kernel_overhead_frac': statistics.median(overhead),
        'htmlparse.bytes_per_doc': counts['htmlparse.bytes'] / n,
        'blocks.blocks_per_doc': counts['blocks.blocks'] / n,
        'lcs.cells_per_doc': counts['lcs.cells'] / n,
        'lcs.truncated_docs': counts['lcs.truncated'],
    })
    if run_docs is not None:
        out['kernel.process_document_us_per_doc'] = (
            statistics.median(docs_s) / n * 1e6)
        out['kernel.accounted_frac'] = statistics.median(accounted)
    else:
        out['kernel.label_document_us_per_doc'] = (
            statistics.median(plain_s) / n * 1e6)
    return out


def one_pass(job, out, tracer, pass_id):
    """Run and check one pass: (seconds, failed_docs, fault, quality)."""
    tracer.pass_id = pass_id
    shutil.rmtree(out, ignore_errors=True)
    with tracer.span('pass'):
        try:
            with tracer.span('job') as rec:
                info = job.run(out)
        except Exception as exc:  # a pass that aborts fails every document
            return tr.secs(rec), job.n_docs, repr(exc)[:300], 0.0
        with tracer.span('check'):
            try:
                failed, fault, quality = job.check(out, info)
            except Exception as exc:  # a check that breaks fails the pass
                failed, fault, quality = job.n_docs, repr(exc)[:300], 0.0
    shutil.rmtree(out, ignore_errors=True)
    if fault is not None:
        failed = job.n_docs
    return tr.secs(rec), failed, fault, quality


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', choices=sorted(WORKLOADS), required=True)
    ap.add_argument('--inputs', required=True)
    ap.add_argument('--work', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    tracer = tr.Tracer()
    t0 = time.perf_counter()
    from dragnet_spark.operators.extract import extract
    from dragnet_spark.plans.session import get_spark
    spark = get_spark('perfbench-' + a.workload, cores=nproc(),
                      extra_conf=session_conf(a.work))
    get_spark_s = time.perf_counter() - t0
    tiny = spark.read.parquet(os.path.join(a.inputs, 'tiny.parquet'))
    extract(tiny.repartition(nproc())).collect()
    print('READY', flush=True)

    with open(os.path.join(a.inputs, 'truth.json')) as f:
        truth = json.load(f)
    job = WORKLOADS[a.workload](spark, a.inputs, truth, a.seed)
    out = os.path.join(a.work, 'out')
    one_pass(job, out, tracer, 'warm')
    passes, plan_layers = [], []
    with RssSampler() as rss:
        while not passes or sum(p[0] for p in passes) < a.seconds:
            after = tr.last_execution_id(spark) if a.trace else None
            passes.append(one_pass(job, out, tracer, 'pass-%d' % len(passes)))
            if a.trace:
                plan_layers.append(
                    tr.spark_layers(tr.sql_metrics(spark, after)))
    result = {
        'walls': [p[0] for p in passes],
        'n_docs': job.n_docs,
        'failed': sum(p[1] for p in passes),
        'faults': [p[2] for p in passes if p[2] is not None],
        'quality': statistics.median(p[3] for p in passes),
        'worker_peak_rss_mb': rss.peak_kb / 1024,
    }
    if a.trace:
        layers = {k: statistics.median(d[k] for d in plan_layers)
                  for k in plan_layers[0]}
        layers['session.get_spark_s'] = get_spark_s
        layers.update(job.layers(a.work))
        spark.stop()
        layers.update(kernel_trace(a.workload, job, a.seed, tracer))
        os.makedirs(os.path.join(a.work, 'traces'), exist_ok=True)
        tracer.dump(os.path.join(a.work, 'traces', '%s-%d.jsonl'
                                 % (a.workload, a.seed)))
        result['layers'] = layers
    else:
        spark.stop()
    spent = defaultdict(float)
    for rec in tracer.spans:
        _, _, pass_id, name = rec[:4]
        if name in ('job', 'check') and pass_id is not None:
            spent['warm' if pass_id == 'warm' else name] += tr.secs(rec)
    print('perfbench: warm pass %.1f s, %d timed passes %.1f s, checks '
          '%.1f s' % (spent['warm'], len(passes), spent['job'],
                      spent['check']), file=sys.stderr)
    print('RESULT ' + json.dumps(result), flush=True)


if __name__ == '__main__':
    sys.exit(main())
