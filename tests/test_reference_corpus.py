"""Robustness sweep over the reference's own real-page HTML corpus
(VERDICT r03 "next round" #3).

Every ``*.html`` under ``/root/reference/test/datafiles`` (public test
fixtures of dragnet v2.0.4, including the 103 KB real-web
``models_testing.html``) must blockify without raising, and the Spark
extraction operator must return a contained status row for each --
never a task-aborting exception.  Block counts are snapshot-pinned as a
regression guard on the parser/blockifier.

Note: the corpus is 5 files, not the hundreds the r03 verdict
estimated -- ``find /root/reference -name '*.html'`` returns exactly
these; the gold-standard corpus the reference's papers used is not
shipped in the repo.  The glob keeps this sweep complete against
whatever is present.
"""

import glob
import os

import pytest

REF_GLOB = '/root/reference/test/datafiles/**/*.html'
REF_DIR = REF_GLOB.split('/**')[0]

if not os.path.isdir(REF_DIR):
    pytest.skip('reference fixtures not present: %s' % REF_DIR,
                allow_module_level=True)

# snapshot pin: (relative path -> block count with default flags)
EXPECTED_BLOCKS = {
    'HTML/blank_label.html': 0,
    'HTML/page_comments.html': 5,
    'HTML/page_for_testing.html': 11,
    'HTML/page_no_comments.html': 4,
    'models_testing.html': 222,
}


def _files():
    return sorted(glob.glob(REF_GLOB, recursive=True))


def test_sweep_is_complete():
    rel = {f.split('datafiles/')[1] for f in _files()}
    assert rel == set(EXPECTED_BLOCKS), (
        'reference corpus changed on disk; re-pin EXPECTED_BLOCKS', rel)


@pytest.mark.parametrize('path', _files(),
                         ids=lambda p: p.split('datafiles/')[1])
def test_blockify_never_raises_and_counts_pinned(path):
    from dragnet_spark.kernels.blocks import blockify
    raw = open(path, 'rb').read()
    blks = blockify(raw)          # must not raise on any real page
    rel = path.split('datafiles/')[1]
    assert len(blks) == EXPECTED_BLOCKS[rel], (rel, len(blks))
    # every produced block carries text and sane feature fields
    for b in blks:
        assert b.text is not None
        assert b.link_density >= 0.0


@pytest.mark.spark
def test_spark_extraction_contains_all_reference_pages(spark):
    """The full corpus through the distributed operator: one status row
    per doc, statuses from the contained set, media spans preserved."""
    from dragnet_spark.operators.extract import extract
    rows = []
    for f in _files():
        text = open(f, 'rb').read().decode('utf-8', 'replace')
        rows.append((os.path.basename(f),
                     [{'kind': 'text', 'text': text,
                       'media_ref': None, 'offset': 0}]))
    df = spark.createDataFrame(
        rows, 'doc_id string, spans array<struct<kind:string,text:string,'
              'media_ref:string,offset:int>>')
    out = extract(df).collect()
    assert len(out) == len(rows)
    allowed = {'ok', 'too_few_blocks', 'blockify_error'}
    assert {r.status for r in out} <= allowed, [
        (r.doc_id, r.status) for r in out]
    # the one real web page must extract non-trivial content
    big = {r.doc_id: r for r in out}['models_testing.html']
    assert big.status == 'ok'
    assert len(big.content_text or '') > 500
