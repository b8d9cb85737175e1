"""Levenshtein edit distance over token sequences.

:func:`levenshtein` — Myers/Hyyrö bit-parallel algorithm (Myers 1999,
  Hyyrö 2001 — published algorithms). Python arbitrary-precision ints act
  as a single unbounded bit vector, so no 64-bit block sweep is needed
  (the reference's C++ path blocks at 64 bits:
  cpp/src/edit_distance.cpp:26-50,120-128 — same algorithm family).
  Tokens are interned to ints first, mirroring the reference's interning
  (edit_distance.cpp:64-84), though with hashable Python tokens the
  bitmask table keys on the token directly. The tests cross-check it
  against a plain O(n·m) DP (tests/reference_kernels.py), the way the
  reference cross-checks Python vs C++
  (benchmarks/edit_distance_benchmark.py:90-102).

Normalization matches the reference exactly
(docling_metrics_text.py:183-203): ``dist / max(len_a, len_b)`` and ``0.0``
when both sequences are empty.
"""

from __future__ import annotations

from collections.abc import Hashable, Sequence


def levenshtein(a: Sequence[Hashable], b: Sequence[Hashable]) -> int:
    """Exact Levenshtein distance via the bit-parallel Myers algorithm."""
    if a == b:
        return 0
    m, n = len(a), len(b)
    if m == 0:
        return n
    if n == 0:
        return m
    # Keep the pattern (bit-vector side) as the shorter sequence.
    if m > n:
        a, b = b, a
        m, n = n, m

    # Pattern-match bitmask table: token -> bitmask of its positions in a.
    peq: dict[Hashable, int] = {}
    bit = 1
    for tok in a:
        peq[tok] = peq.get(tok, 0) | bit
        bit <<= 1

    mask = (1 << m) - 1
    msb = 1 << (m - 1)
    vp = mask
    vn = 0
    score = m
    for tok in b:
        pm = peq.get(tok, 0)
        d0 = ((((pm & vp) + vp) & mask) ^ vp) | pm | vn
        hp = vn | (~(d0 | vp) & mask)
        hn = vp & d0
        if hp & msb:
            score += 1
        elif hn & msb:
            score -= 1
        hp = ((hp << 1) | 1) & mask
        hn = (hn << 1) & mask
        vp = hn | (~(d0 | hp) & mask)
        vn = hp & d0
    return score


def normalized_edit_distance(
    tokens_a: Sequence[Hashable], tokens_b: Sequence[Hashable]
) -> float:
    """``levenshtein / max(len_a, len_b)``; 0.0 when both empty.

    Reference semantics: docling_metrics_text.py:183-203 (norm at 198-200)
    and the C++ normalization edit_distance.cpp:148-155.
    """
    max_length = max(len(tokens_a), len(tokens_b))
    if max_length == 0:
        return 0.0
    return levenshtein(tokens_a, tokens_b) / max_length
