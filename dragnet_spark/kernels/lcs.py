"""Longest-common-subsequence labeling kernel.

Re-derivation of the reference ``dragnet/lcs.pyx`` using bit-vector
rows (Allison & Dix, IPL 23(6), 1986; Hyyro, *Bit-Parallel LCS-length
Computation Revisited*, AWOCA 2004) over Python ints instead of the
Cython double loop.

Row ``i`` of the LCS matrix ``C`` is one ``n``-bit int ``V_i`` whose bit
``j-1`` is set iff ``C[i][j] == C[i][j-1]`` (no step at column ``j``),
so ``C[i][j] = j - popcount(V_i & (2**j - 1))``.  With one mask
``M[a]`` per symbol of ``y`` (bit ``j`` set iff ``y[j] == a``),
``V_0 = 2**n - 1`` and

``U = V_{i-1} & M[x_i];  V_i = ((V_{i-1} + U) | (V_{i-1} - U)) & (2**n - 1)``

-- a handful of word-parallel big-int ops per document token.

The backtrack in :func:`check_inclusion` replicates the reference's
exact tie-breaking (``lcs.pyx:88-103``: prefer moving ``j`` when
``C[i][j-1] >= C[i-1][j]``) so the chosen LCS -- and therefore the
derived block labels -- are bit-identical.  Off a match the reference
cell satisfies ``C[i][j] = max(C[i-1][j], C[i][j-1])``, so that test is
``C[i][j-1] == C[i][j]``, i.e. bit ``j-1`` of ``V_i`` is set: in row
``i`` the reference walks left across set bits until a match or a clear
bit.  Skipping a match on a set bit does not change the flags: the
first column ``q`` of that run of equal values (the highest clear bit
below it) is then a match as well -- were it not, ``C[i-1][q+1]`` would
exceed ``C[i-1]`` further right -- so ``x[i-1]`` is matched either way,
and row ``i-1`` is entered at a column of the same value, from which
the same argument repeats.  So each row costs one big-int
``bit_length`` (the highest clear bit below ``j``), never a per-cell
step; ``tests/test_lcs.py`` pins the flags against a naive DP with the
reference backtrack.

Memory/time bounds (SURVEY.md §4).  The reference materializes the full
``(m+1, n+1)`` uint16 matrix and *asserts* below 65k tokens
(``lcs.pyx:30-33``); one huge web document must not kill an executor, so:

* ``m*n <= CELL_BUDGET`` (537M cells): the exact reference backtrack.
  The kept rows take ``(m+1)*n/8`` bytes and the masks, built only for
  symbols present in both sides, at most ``m*n/8``: rows + masks <=
  ``2*CELL_BUDGET/8`` (~134 MB) at the budget; the masks are dropped
  before the backtrack.
* beyond ``CELL_BUDGET``: O(m*n) *time* is the real bound (a 500k x 500k
  pair is ~2.5e11 cell ops regardless of space), so work is capped.
  Tokens past the document cap are *unknown*, never unmatched.  Long
  GOLD (> ``MAX_TOKENS``) no longer voids the whole document (the r03
  behavior VERDICT r03 #5 flagged): the gold side is chunked into
  overlapping windows (``GOLD_WINDOW``/``GOLD_OVERLAP``) and the
  per-window inclusion flags are unioned, so every gold token is seen
  and long-gold documents keep real labels.  The union relaxes LCS's
  *global* ordering to per-window ordering -- a token can match
  out-of-global-order across windows -- which can only mark extra
  tokens, never lose true matches whose context fits a window; the
  reference asserts out above 65k tokens, so there is no parity target
  here.  The document cap shrinks to ``CELL_BUDGET / (window *
  n_windows)`` to keep total work bounded; only past ``MAX_GOLD_WINDOWS``
  (~123k gold tokens) does gold truncation -- and the all-unknown
  contract -- kick back in.  ``check_inclusion_ex`` reports coverage and
  truncation; ``operators/labeling.py`` emits null fracs/labels
  accordingly plus a ``truncated`` flag.
"""

from __future__ import annotations

import numpy as np

MAX_TOKENS = 8192
# Hard per-(doc, gold) DP budget: ~537M cells keeps worst-case labeling
# of one pathological document to single-digit seconds on one core.
CELL_BUDGET = MAX_TOKENS * 65536
# Long-gold windowing: gold beyond MAX_TOKENS is scored window by
# window and the flags unioned.  The overlap keeps matches whose
# context straddles a boundary discoverable in the next window.
GOLD_WINDOW = MAX_TOKENS
GOLD_OVERLAP = 512
MAX_GOLD_WINDOWS = 16


def _masks(x, y):
    """Symbol -> bit mask of its positions in ``y``, for the symbols of
    ``y`` that also occur in ``x``.  Each mask is built once from its
    position list (no per-position OR into a growing int)."""
    in_x = set(x)
    positions = {}
    for j, tok in enumerate(y):
        if tok in in_x:
            positions.setdefault(tok, []).append(j)
    masks = {}
    for tok, js in positions.items():
        buf = bytearray(js[-1] // 8 + 1)
        for j in js:
            buf[j >> 3] |= 1 << (j & 7)
        masks[tok] = int.from_bytes(buf, 'little')
    return masks


def _rows(x, y):
    """Bit rows ``V_0 .. V_m`` (module docstring).  A token absent from
    ``y`` leaves the row unchanged, so its entry shares the previous
    int."""
    masks = _masks(x, y)
    full = (1 << len(y)) - 1
    v = full
    rows = [v]
    for tok in x:
        mask = masks.get(tok)
        if mask is not None:
            u = v & mask
            v = ((v + u) | (v - u)) & full
        rows.append(v)
    return rows


def longest_common_subsequence(x, y):
    """Full (m+1, n+1) uint16 LCS matrix over token lists."""
    m = len(x)
    n = len(y)
    c = np.zeros((m + 1, n + 1), dtype=np.uint16)
    if m == 0 or n == 0:
        return c
    cols = np.arange(1, n + 1)
    nbytes = (n + 7) // 8
    for i, v in enumerate(_rows(x, y)):
        bits = np.unpackbits(np.frombuffer(v.to_bytes(nbytes, 'little'),
                                           dtype=np.uint8),
                             count=n, bitorder='little')
        c[i, 1:] = cols - np.cumsum(bits)
    return c


def _inclusion(x, y):
    """Reference-tie-break backtrack over the bit rows
    (lcs.pyx:78-103; vector pinned by tests/test_features.py)."""
    rows = _rows(x, y)
    i = len(x)
    j = len(y)
    ret = []
    while i > 0:
        if j == 0:
            ret.extend([False] * i)
            break
        # highest column p < j with a step in row i: clear bit p of V_i
        j = (~rows[i] & ((1 << j) - 1)).bit_length()
        i -= 1
        if j and y[j - 1] == x[i]:
            ret.append(True)
            j -= 1
        else:
            ret.append(False)
    ret.reverse()
    return ret


def check_inclusion_ex(x, y):
    """For each covered token of ``x``: is it part of the LCS with ``y``?

    Returns ``(flags, x_covered, gold_truncated)``:

    * ``flags`` -- inclusion booleans for ``x[:x_covered]``,
    * ``x_covered`` -- how many leading document tokens were scored
      (tokens past it are *unknown*, never unmatched),
    * ``gold_truncated`` -- True when ``y`` could not be fully seen
      (beyond ``MAX_GOLD_WINDOWS`` windows), in which case every flag
      is unreliable (a token matching past the seen gold reads as
      unmatched) and callers must treat all derived fractions as
      unknown.  Long-but-windowable gold (``MAX_TOKENS`` < len(y) <=
      ~``MAX_GOLD_WINDOWS * GOLD_WINDOW``) is fully seen via
      overlapping windows and is NOT truncation: flags are the union of
      per-window LCS inclusion (module docstring).
    """
    m = len(x)
    n = len(y)
    if n == 0:
        return [False] * m, m, False
    if m == 0:
        return [], 0, False
    if m * n <= CELL_BUDGET:
        return _inclusion(x, y), m, False
    if n <= MAX_TOKENS:
        x_cap = min(m, CELL_BUDGET // n)
        return _inclusion(x[:x_cap], y), x_cap, False
    # long gold: overlapping windows, flags unioned
    step = GOLD_WINDOW - GOLD_OVERLAP
    starts = list(range(0, n, step))[:MAX_GOLD_WINDOWS]
    if starts[-1] + GOLD_WINDOW < n:
        # gold too long even for windowing: callers null every label on
        # gold truncation, so don't burn the window budget computing
        # flags that will be discarded -- one capped pass, flagged
        x_cap = min(m, CELL_BUDGET // MAX_TOKENS)
        return _inclusion(x[:x_cap], y[:MAX_TOKENS]), x_cap, True
    x_cap = min(m, max(CELL_BUDGET // (GOLD_WINDOW * len(starts)), 64))
    xs = x[:x_cap]
    acc = np.zeros(x_cap, dtype=bool)
    for s in starts:
        flags = _inclusion(xs, y[s:s + GOLD_WINDOW])
        acc |= np.asarray(flags, dtype=bool)
    return acc.tolist(), x_cap, False


def check_inclusion(x, y):
    """Back-compat wrapper: flags only (covered prefix of ``x``)."""
    return check_inclusion_ex(x, y)[0]
