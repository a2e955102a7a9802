"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(workload, seed)``: source texts come
from a seeded word sampler (sentences over a small vocabulary, like the
text of the synthetic ``documents.parquet`` test tables), and pages are
rendered through ``sources.synthesis.make_document``, so the program
under test receives only parquet files.  Nothing here runs inside a timed
window or inside ``setup_s``.

Layout written under ``<out_dir>`` (tables are directories of one
parquet file per core)::

    spans.parquet/  (doc_id, spans)                 extract_web, label_train
    gold.parquet/   (doc_id, content_text, comments_text)
    docs.parquet/   (doc_id, text)                  curate_dedup
    tiny.parquet    (doc_id, spans)                 the set-up pass
    truth.json      generator-side facts the output checks need
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from dragnet_spark.sources.synthesis import (EDGE_DOCS, GOLD_SCHEMA,
                                             SPANS_SCHEMA, TEMPLATE_FAMILIES,
                                             make_document)

# Documents per workload on a 4-core box, scaled linearly with the core
# count: one warm pass of each job then takes 4-12 s there, so a run
# with its cold start and warm pass stays within a minute.
SIZES = {'extract_web': 1500, 'label_train': 100, 'curate_dedup': 300}
CORES_SIZED_FOR = 4

STOP = ['the', 'of', 'and', 'to', 'with', 'that', 'have', 'be', 'in', 'for']
WORDS = (
    'spark window merge table column vector stream value data small join '
    'filter big group hash customer sort order slow line part fast row agg '
    'key query scan batch river garden market winter summer planet rocket '
    'engine signal archive harbor meadow forest valley canyon island bridge '
    'tunnel castle village museum theater library station airport factory '
    'kitchen bakery doctor teacher farmer pilot sailor painter writer '
    'singer dancer judge lawyer banker tailor mirror candle blanket pillow '
    'ladder hammer needle basket bottle bucket carpet curtain wallet ticket '
    'letter parcel report record result method system policy budget '
    'contract meeting project network protocol journal chapter lecture '
    'season weather climate harvest festival holiday journey venture '
    'quickly slowly gently loudly quietly rarely often always seldom '
    'bright silent golden hollow narrow gentle broken frozen hidden ancient '
    'modern rural urban coastal northern southern eastern western central'
).split()
HOSTILE_KINDS = ('null-spans', 'null-text', 'deep-nesting', 'unknown-kind',
                 'dup-offsets', 'neg-offsets', 'huge-attr')


def scaled_size(workload, cores):
    return max(SIZES[workload] * cores // CORES_SIZED_FOR, 50)


def _sentence(rng):
    n = rng.randint(6, 14)
    words = [rng.choice(STOP) if rng.random() < 0.3 else rng.choice(WORDS)
             for _ in range(n)]
    return ' '.join(words).capitalize() + rng.choice('..!?')


def _text(rng, n_sentences):
    return ' '.join(_sentence(rng) for _ in range(n_sentences))


def _doc_id(rng, i):
    return 'h%03d/doc-%06d-%08x' % (rng.randrange(100), i,
                                    rng.getrandbits(32))


def _span_row(doc_id, spans):
    return {'doc_id': doc_id, 'spans': [
        {'kind': k, 'text': t, 'media_ref': m, 'offset': o}
        for k, t, m, o in spans]}


def _hostile(kind, doc_id, rng):
    """Documents built to break a naive kernel; each must come back as a
    status row, never a task abort."""
    text = _text(rng, 4)
    if kind == 'null-spans':
        return {'doc_id': doc_id, 'spans': None}
    if kind == 'null-text':
        return {'doc_id': doc_id, 'spans': [
            {'kind': 'text', 'text': None, 'media_ref': None, 'offset': 0},
            {'kind': None, 'text': '<p>%s</p>' % text, 'media_ref': '',
             'offset': None}]}
    if kind == 'deep-nesting':
        html = '<div>' * 600 + text + '</div>' * 600
    elif kind == 'huge-attr':
        html = '<div class="%s"><p>%s</p></div>' % ('x' * 20000, text)
    else:
        spans, _, _ = make_document(doc_id, text)
        row = _span_row(doc_id, spans)
        for j, s in enumerate(row['spans']):
            if kind == 'unknown-kind' and j == 0:
                s['kind'] = 'hologram'
            elif kind == 'dup-offsets':
                s['offset'] = 0
            elif kind == 'neg-offsets':
                s['offset'] = -j
        return row
    return {'doc_id': doc_id, 'spans': [
        {'kind': 'text', 'text': html, 'media_ref': '', 'offset': 0}]}


def gen_extract_web(rng, n, write):
    """Mostly short pages across the four chrome families, a heavy tail
    of long pages, the synthesis edge documents and hostile documents."""
    spans, gold = [], []
    long_pages = set(rng.sample(range(n), n // 50))
    for i in range(n):
        did = _doc_id(rng, i)
        text = _text(rng, rng.randint(60, 240) if i in long_pages
                     else rng.randint(2, 4))
        chrome = rng.choice(TEMPLATE_FAMILIES)
        sp, gc, gm = make_document(did, text, chrome=chrome)
        spans.append(_span_row(did, sp))
        gold.append({'doc_id': did, 'content_text': gc, 'comments_text': gm})
    for eid, html, gc in EDGE_DOCS:
        did = '%s-%08x' % (eid, rng.getrandbits(32))
        spans.append(_span_row(did, [('text', html, '', 0)]))
        gold.append({'doc_id': did, 'content_text': gc, 'comments_text': ''})
    for kind in HOSTILE_KINDS:
        did = 'hostile/%s-%08x' % (kind, rng.getrandbits(32))
        spans.append(_hostile(kind, did, rng))
        gold.append({'doc_id': did, 'content_text': '', 'comments_text': ''})
    order = list(range(len(spans)))
    rng.shuffle(order)
    write(pa.Table.from_pylist([spans[j] for j in order], SPANS_SCHEMA),
          'spans.parquet')
    write(pa.Table.from_pylist([gold[j] for j in order], GOLD_SCHEMA),
          'gold.parquet')
    return {'docs': len(spans)}


def gen_label_train(rng, n, write):
    """Long articles: each page concatenates tens of source texts, so
    the LCS of page tokens against gold tokens is large."""
    spans, gold = [], []
    for i in range(n):
        did = _doc_id(rng, i)
        text = ' '.join(_text(rng, rng.randint(2, 5))
                        for _ in range(rng.randint(45, 65)))
        sp, gc, gm = make_document(did, text,
                                   chrome=rng.choice(TEMPLATE_FAMILIES))
        spans.append(_span_row(did, sp))
        gold.append({'doc_id': did, 'content_text': gc, 'comments_text': gm})
    write(pa.Table.from_pylist(spans, SPANS_SCHEMA), 'spans.parquet')
    write(pa.Table.from_pylist(gold, GOLD_SCHEMA), 'gold.parquet')
    return {'docs': n}


def _near_dup(rng, text, n_edits=3):
    words = text.split(' ')
    for _ in range(n_edits):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    return ' '.join(words)


def gen_curate_dedup(rng, n, write):
    """Article-length texts that pass the Gopher gates, planted
    near-duplicates of some of them, and repetitive or too-short texts
    that fail the gates."""
    n_dups = n // 10
    n_bad = n // 10
    rows, planted, expect_kept = [], {}, []
    for i in range(n - n_dups - n_bad):
        did = _doc_id(rng, i)
        rows.append({'doc_id': did, 'text': _text(rng, rng.randint(12, 24))})
        expect_kept.append(did)
    sources = rng.sample(rows, n_dups)
    for j, src in enumerate(sources):
        did = _doc_id(rng, n + j)
        rows.append({'doc_id': did, 'text': _near_dup(rng, src['text'])})
        planted[did] = src['doc_id']
    for j in range(n_bad):
        did = _doc_id(rng, 2 * n + j)
        if j % 2:
            text = ' '.join([_sentence(rng)] * rng.randint(15, 30))
        else:
            text = _sentence(rng)
        rows.append({'doc_id': did, 'text': text})
    rng.shuffle(rows)
    schema = pa.schema([('doc_id', pa.string()), ('text', pa.string())])
    write(pa.Table.from_pylist(rows, schema), 'docs.parquet')
    # a planted copy and its source form one cluster, and only one of
    # the pair may be kept; which one is the program's choice
    return {'docs': len(rows), 'planted': planted,
            'expect_kept': sorted(set(expect_kept))}


GENERATORS = {'extract_web': gen_extract_web,
              'label_train': gen_label_train,
              'curate_dedup': gen_curate_dedup}


def generate(workload, seed, out_dir, cores):
    """Build ``workload``'s inputs for ``seed`` under ``out_dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    def write(table, name):
        # a table of one file per core, as a job with one writer task per
        # core leaves it: the scan starts with one split per core
        os.makedirs(os.path.join(out_dir, name))
        step = -(-table.num_rows // cores)
        for k in range(cores):
            pq.write_table(table.slice(k * step, step), os.path.join(
                out_dir, name, 'part-%05d.parquet' % k))

    rng = random.Random('%s:%d' % (workload, seed))
    truth = GENERATORS[workload](rng, scaled_size(workload, cores), write)
    # the set-up pass input: one short page per task slot
    tiny = []
    for i in range(cores):
        did = _doc_id(rng, i)
        tiny.append(_span_row(did, make_document(did, _text(rng, 3))[0]))
    pq.write_table(pa.Table.from_pylist(tiny, SPANS_SCHEMA),
                   os.path.join(out_dir, 'tiny.parquet'))
    truth['mb'] = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, files in os.walk(out_dir)
                      for f in files) / 1e6
    with open(os.path.join(out_dir, 'truth.json'), 'w') as f:
        json.dump(truth, f)
    return truth
