"""Fused extraction operator: spans -> content spans, one Arrow stage.

The flagship inference path (SURVEY.md §3.1): parse -> blockify ->
featurize -> predict -> reassemble fused inside a single ``mapInArrow``
-- zero shuffles, model captured by closure (broadcast), failures
contained as status rows (never task failures; the reference similarly
skips bad docs, ``data_processing.py:120-125``).

Media-span semantics (SURVEY.md §7, no reference equivalent -- dragnet
blacklists ``img`` and drops media): media spans partition a document
into *runs* of consecutive text spans.  Each run is blockified separately
(readability tag-ids offset so the namespaces don't collide), sequence
features are computed over the concatenated per-document block list, and
output spans interleave kept text blocks with passthrough media spans in
original order.  Documents with no media have exactly one run and are
bit-identical to reference semantics.
"""

from __future__ import annotations

import pyarrow as pa

from ..kernels.blocks import BlockifyError, blockify
from ..kernels.features import DEFAULT_FEATURES, compute
from ..model import LogisticModel, default_model
from ..plans.arrow_stage import map_rows, row_batches
from ..sources.synthesis import SPANS_SCHEMA

STATUS_OK = 'ok'
STATUS_PARSE_ERROR = 'blockify_error'
STATUS_TOO_FEW = 'too_few_blocks'
STATUS_ERROR = 'error'

# (doc_id, spans) in, (doc_id, spans, content_text, status) out
EXTRACTED_PA_SCHEMA = pa.schema([
    *SPANS_SCHEMA,
    ('content_text', pa.string()),
    ('status', pa.string()),
])


def _sanitize(spans):
    """Null-proof raw span rows: a single malformed field must degrade the
    document, never abort an executor task (failure containment at
    10^12-doc scale -- a null slips into any real corpus)."""
    out = []
    for i, s in enumerate(spans):
        s = s or {}
        out.append({
            'kind': s.get('kind') or 'text',
            'text': s.get('text') or '',
            'media_ref': s.get('media_ref') or '',
            'offset': s.get('offset') if s.get('offset') is not None else i,
        })
    return out


def split_runs(spans):
    """Sort spans by offset; split into text runs separated by media spans.

    Returns an ordered list of ('text', [span,...]) / ('media', span)
    items.
    """
    ordered = sorted(_sanitize(spans), key=lambda s: s['offset'])
    items = []
    run = []
    for s in ordered:
        # every non-text kind (media, video, audio, image, ...) bypasses
        # classification and passes through in order
        if s['kind'] != 'text':
            if run:
                items.append(('text', run))
                run = []
            items.append(('media', s))
        else:
            run.append(s)
    if run:
        items.append(('text', run))
    return items


def blockify_spans(spans, do_css=False):
    """spans -> (items, per-run block lists, all_blocks, status).

    ``items`` is the run/media structure from :func:`split_runs`; text
    items are annotated with their index into the per-run block lists.
    """
    items = split_runs(spans)
    run_blocks = []
    all_blocks = []
    tag_id_base = 0
    out_items = []
    for kind, payload in items:
        if kind == 'media':
            out_items.append(('media', payload))
            continue
        html = ''.join(s['text'] for s in payload)
        if not html.strip():
            continue
        try:
            blocks, tag_id_base = blockify(
                html, do_tagcount=True, do_css=do_css, do_readability=True,
                tag_id_base=tag_id_base, return_next_tag_id=True)
        except BlockifyError:
            return items, [], [], STATUS_PARSE_ERROR
        except RecursionError:
            return items, [], [], STATUS_PARSE_ERROR
        out_items.append(('text', len(run_blocks)))
        run_blocks.append(blocks)
        all_blocks.extend(blocks)
    return out_items, run_blocks, all_blocks, STATUS_OK


def _strip_link_tokens(block):
    """Block text minus its anchor-sourced tokens (right-to-left
    multiset removal: spam CTA anchors trail the commenter's words).
    Returns '' when the block was pure anchor text."""
    if not block.link_tokens:
        return block.text
    toks = block.text.split(' ')
    remaining = {}
    for t in block.link_tokens:
        remaining[t] = remaining.get(t, 0) + 1
    kept = []
    for t in reversed(toks):
        if remaining.get(t):
            remaining[t] -= 1
        else:
            kept.append(t)
    kept.reverse()
    return ' '.join(kept)


def process_document(spans, model: LogisticModel,
                     features=DEFAULT_FEATURES, strip_link_tokens=False):
    """One document: list-of-span-dicts -> (out_spans, content_text, status).

    Kernel-level (Spark-free) so the span-sequence invariant is directly
    unit-testable.

    ``strip_link_tokens`` removes anchor-sourced tokens from kept blocks
    (dropping blocks that become empty) -- the comments-extraction mode:
    comment gold is the commenter's words, while embedded anchors are
    overwhelmingly CTA/spam chrome ('click here to win').  The reference
    emits anchor text verbatim (divergence documented; default False
    keeps reference parity).
    """
    items, run_blocks, all_blocks, status = blockify_spans(spans)

    preds = None
    if status == STATUS_OK:
        try:
            mat = compute(all_blocks, features)
            preds = model.predict(mat)
        except ValueError:
            # <3 blocks: all-boilerplate prediction (extractor.py:211-212)
            preds = [0] * len(all_blocks)
            status = STATUS_TOO_FEW

    out_spans = []
    kept_texts = []
    if preds is not None:
        # map flat predictions back to per-run blocks
        flat_idx = 0
        keep_per_run = []
        for blocks in run_blocks:
            kept = []
            for b in blocks:
                if preds[flat_idx]:
                    text = (_strip_link_tokens(b) if strip_link_tokens
                            else b.text)
                    if text:
                        kept.append(text)
                flat_idx += 1
            keep_per_run.append(kept)
        for kind, payload in items:
            if kind == 'media':
                out_spans.append({
                    'kind': payload['kind'], 'text': '',
                    'media_ref': payload['media_ref'],
                    'offset': len(out_spans)})
            else:
                for text in keep_per_run[payload]:
                    out_spans.append({
                        'kind': 'text', 'text': text, 'media_ref': '',
                        'offset': len(out_spans)})
                    kept_texts.append(text)
    else:
        # parse error: media passthrough only
        for kind, payload in items:
            if kind == 'media':
                out_spans.append({
                    'kind': payload['kind'], 'text': '',
                    'media_ref': payload['media_ref'],
                    'offset': len(out_spans)})

    return out_spans, '\n'.join(kept_texts), status


def extract_document(spans, model, features=DEFAULT_FEATURES,
                     strip_link_tokens=False):
    """:func:`process_document` with last-resort containment: one
    pathological document becomes a ``STATUS_ERROR`` row, never a task
    failure."""
    try:
        return process_document(spans, model, features,
                                strip_link_tokens=strip_link_tokens)
    except Exception:
        return [], '', STATUS_ERROR


def _extract_stage(model, features, strip_link_tokens):
    """(per_row, out_schema, passthrough, args) of the extraction stage:
    ``spans`` decoded, ``doc_id`` carried through."""
    def per_row(spans):
        return (extract_document(spans, model, features,
                                 strip_link_tokens),)

    return (per_row, EXTRACTED_PA_SCHEMA.remove(0), ('doc_id',),
            ('spans',))


def make_extract_fn(model, features=DEFAULT_FEATURES,
                    strip_link_tokens=False):
    """Arrow-batch iterator function of the extraction stage (the
    ``DataFrame.mapInArrow`` body of :func:`extract`)."""
    return row_batches(*_extract_stage(model, features, strip_link_tokens))


def extract(df, model=None, features=DEFAULT_FEATURES,
            to_extract=('content',), strip_link_tokens=False):
    """DataFrame[(doc_id, spans)] -> DataFrame[(doc_id, spans,
    content_text, status)] -- the flagship query.

    ``to_extract`` selects the shipped model ('content', 'comments', or
    both) when ``model`` is None, mirroring the reference's module-level
    extractors (``dragnet/__init__.py:9-27``).

    Physical plan: Scan -> Project(mapInArrow) -- a single narrow stage;
    verify with ``result.explain('formatted')`` that no Exchange appears.
    """
    model = model or default_model(to_extract)
    return map_rows(df, *_extract_stage(model, features, strip_link_tokens))


def extract_content(df, model=None):
    """M6 convenience: main-content extraction (dragnet.extract_content)."""
    return extract(df, model=model, to_extract=('content',))


def extract_comments(df, model=None, strip_link_tokens=True):
    """M6 convenience: comments extraction (dragnet.extract_comments).

    Defaults to stripping anchor-sourced tokens from kept blocks: comment
    gold is the commenter's words; embedded anchors in comment regions
    are overwhelmingly CTA/spam chrome. Pass strip_link_tokens=False for
    verbatim reference behavior."""
    return extract(df, model=model, to_extract=('comments',),
                   strip_link_tokens=strip_link_tokens)


def extract_content_and_comments(df, model=None):
    """M6 convenience: combined extraction
    (dragnet.extract_content_and_comments)."""
    return extract(df, model=model, to_extract=('content', 'comments'))
