"""LCS kernel tests: reference vector parity (test/test_lcs.py:4-8),
naive-DP cross-check of the matrix and of the exact reference
backtrack flags, memory and coverage at the cell budget, and the
truncation/unknown-label contract (ADVICE r02)."""

import random
import tracemalloc

import numpy as np
import pytest

from dragnet_spark.kernels import lcs as L
from dragnet_spark.operators.labeling import _frac_and_tokens


def naive_lcs_len(x, y):
    m, n = len(x), len(y)
    c = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            if x[i - 1] == y[j - 1]:
                c[i][j] = c[i - 1][j - 1] + 1
            else:
                c[i][j] = max(c[i - 1][j], c[i][j - 1])
    return c[m][n]


def naive_inclusion(x, y):
    """Pure-Python full-matrix DP with the reference backtrack
    (lcs.pyx:78-103), tie-break included."""
    m, n = len(x), len(y)
    c = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            if x[i - 1] == y[j - 1]:
                c[i][j] = c[i - 1][j - 1] + 1
            else:
                c[i][j] = max(c[i - 1][j], c[i][j - 1])
    i, j = m, n
    ret = []
    while i > 0 or j > 0:
        if i > 0 and j > 0 and x[i - 1] == y[j - 1]:
            ret.append(True)
            i -= 1
            j -= 1
        elif j > 0 and (i == 0 or c[i][j - 1] >= c[i - 1][j]):
            j -= 1
        elif i > 0 and (j == 0 or c[i][j - 1] < c[i - 1][j]):
            ret.append(False)
            i -= 1
    ret.reverse()
    return ret


def test_reference_vector():
    inc = L.check_inclusion(
        ["some", "words", "here", "the", "football"],
        ["he", "said", "words", "kick", "the", "football"])
    assert inc == [False, True, False, True, True]


def test_matrix_vs_naive_random():
    rng = random.Random(7)
    for _ in range(25):
        m = rng.randrange(0, 40)
        n = rng.randrange(0, 40)
        x = [str(rng.randrange(8)) for _ in range(m)]
        y = [str(rng.randrange(8)) for _ in range(n)]
        c = L.longest_common_subsequence(x, y)
        assert int(c[m][n]) == naive_lcs_len(x, y)
        # inclusion flags must sum to the LCS length
        flags, covered, gtrunc = L.check_inclusion_ex(x, y)
        assert covered == m and not gtrunc
        assert sum(flags) == naive_lcs_len(x, y)


def test_flags_equal_reference_backtrack():
    """Exact flag equality with the reference backtrack, tie-break
    included: many equal-length LCS member sets exist on small
    alphabets, and only the reference's ``>=`` picks this one."""
    rng = random.Random(11)
    cases = []
    for _ in range(600):
        a = rng.randrange(1, 9)
        cases.append(([str(rng.randrange(a)) for _ in range(rng.randrange(41))],
                      [str(rng.randrange(a)) for _ in range(rng.randrange(41))]))
    for a in (2, 8, 60):
        cases.append(([str(rng.randrange(a)) for _ in range(300)],
                      [str(rng.randrange(a)) for _ in range(200)]))
    for x, y in cases:
        assert L.check_inclusion(x, y) == naive_inclusion(x, y), (x, y)


def test_long_gold_fully_covered():
    """Pre-r03 the gold side was truncated at 8192 tokens and matches
    past the cap silently read as unmatched (label 0).  Now a 16k-token
    gold against a small document is fully covered by one backtrack."""
    gold = ['g%d' % i for i in range(16000)]
    # document = the TAIL of the gold text (all past the old cap)
    x = gold[15000:]
    flags, covered, gtrunc = L.check_inclusion_ex(x, gold)
    assert covered == len(x) and not gtrunc
    assert all(flags)


def test_cell_budget_caps_doc_not_gold():
    """60k-token gold over a 70k-token doc: r03 truncated the gold and
    voided every label; now 8 overlapping windows see ALL of the gold
    and only the doc side is capped (VERDICT r03 #5)."""
    x = ['x%d' % i for i in range(70000)]
    y = ['y%d' % i for i in range(60000)]  # m*n >> CELL_BUDGET
    flags, covered, gtrunc = L.check_inclusion_ex(x, y)
    assert not gtrunc
    n_windows = len(range(0, 60000, L.GOLD_WINDOW - L.GOLD_OVERLAP))
    assert covered == L.CELL_BUDGET // (L.GOLD_WINDOW * n_windows)
    assert len(flags) == covered
    assert not any(flags)  # disjoint vocabularies: genuinely unmatched


def test_windowed_long_gold_keeps_real_labels():
    """The r03 gap: gold > MAX_TOKENS with an over-budget doc voided ALL
    labels.  A 20k-token gold inside a 30k-token doc must now yield real
    flags: every embedded gold token inside the covered prefix matched,
    junk tokens unmatched."""
    gold = ['g%d' % i for i in range(20000)]
    junk = ['j%d' % i for i in range(10000)]
    # interleave: 2 gold tokens, 1 junk token, preserving gold order
    doc = []
    gi = iter(gold)
    for k, j in enumerate(junk):
        doc.append(next(gi))
        doc.append(next(gi))
        doc.append(j)
    assert len(doc) == 30000
    flags, covered, gtrunc = L.check_inclusion_ex(doc, gold)
    assert not gtrunc
    assert covered > 10000  # a real covered prefix, not all-unknown
    got = flags[:covered]
    want = [not t.startswith('j') for t in doc[:covered]]
    # every gold token in a window's span matches; overlap windows cover
    # the boundaries, so the union equals the exact answer here
    assert got == want


def test_gold_beyond_window_budget_still_flags_truncation():
    x = ['x%d' % i for i in range(70000)]
    y = ['y%d' % i for i in range(200000)]  # > MAX_GOLD_WINDOWS windows
    flags, covered, gtrunc = L.check_inclusion_ex(x, y)
    assert gtrunc
    assert covered == L.CELL_BUDGET // L.MAX_TOKENS
    assert len(flags) == covered


def test_gold_truncated_fracs_all_unknown():
    """ADVICE r02 (medium): when the gold side is truncated every frac
    must be None (unknown), never a silent 0.0 -> label 0."""
    n_tok = 200000  # past MAX_GOLD_WINDOWS: windowing cannot cover it
    gold_tokens = ['t%d' % i for i in range(n_tok)]
    doc_tokens = gold_tokens[:70000]
    blocks_tokens = [doc_tokens[:10], doc_tokens[10:]]
    flat = doc_tokens
    fracs, matched, trunc = _frac_and_tokens(
        blocks_tokens, flat, ' '.join(gold_tokens))
    assert trunc
    assert fracs == [None, None]
    assert matched == [[], []]


def test_doc_truncation_keeps_unknown_not_zero():
    """Document tokens past the covered prefix stay unknown (None frac
    for fully-uncovered blocks), gold fully covered."""
    gold = ['g%d' % i for i in range(100)]
    covered_budget = L.CELL_BUDGET // 100  # y_cap=100 -> x capped here
    extra = 5000
    doc = ['z%d' % i for i in range(covered_budget + extra)]
    blocks_tokens = [doc[:covered_budget], doc[covered_budget:]]
    fracs, matched, trunc = _frac_and_tokens(
        blocks_tokens, doc, ' '.join(gold))
    assert trunc
    assert fracs[0] == 0.0  # covered, genuinely unmatched
    assert fracs[1] is None  # entirely past the cap: unknown


@pytest.mark.parametrize('m,n', [(0, 5), (5, 0), (1, 1)])
def test_edges(m, n):
    x = ['a'] * m
    y = ['a'] * n
    flags, covered, gtrunc = L.check_inclusion_ex(x, y)
    assert covered == (m if n else m) and not gtrunc
    assert len(flags) == m
    if m and n:
        assert flags == [True]


def test_large_doc_fully_covered():
    """65k-token document vs 4k-token gold: full coverage (VERDICT r02
    item 9), the embedded gold matched."""
    rng = random.Random(3)
    gold = ['w%d' % rng.randrange(2000) for _ in range(4000)]
    noise = ['n%d' % i for i in range(61000)]
    doc = noise[:30000] + gold + noise[30000:]
    flags, covered, gtrunc = L.check_inclusion_ex(doc, gold)
    assert covered == len(doc) and not gtrunc
    # the embedded verbatim gold must be (near-)fully matched
    assert sum(flags) >= 4000 * 0.999
    matched_mid = flags[30000:34000]
    assert np.mean(matched_mid) > 0.99


@pytest.mark.parametrize('m,n', [(23170, 23170), (8192, 65536)])
def test_cell_budget_memory_bounded(m, n):
    """All-distinct tokens at just under CELL_BUDGET, every document
    token in the gold: one exact backtrack, full coverage, and task
    memory bounded by the kept bit rows plus the symbol masks
    (<= 2 * CELL_BUDGET / 8 bytes, module docstring)."""
    assert m * n <= L.CELL_BUDGET
    y = ['t%d' % i for i in range(n)]
    x = random.Random(5).sample(y, m)
    tracemalloc.start()
    try:
        flags, covered, gtrunc = L.check_inclusion_ex(x, y)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert covered == m and not gtrunc
    assert len(flags) == m and 0 < sum(flags) < m
    assert peak <= 160 * 10 ** 6
