"""Suffix array + LCP over integer token sequences (N6 core math).

The north rule's "suffix-array pass for long repeated substrings" operates at
token granularity: a repeated substring of >= L tokens between two documents
is a common subsequence-run of their token-hash arrays. The suffix array is
built with the prefix-doubling algorithm — O(n log^2 n), fully
numpy-vectorized (one argsort per doubling round) — and the LCP array comes
from the same rounds' rank arrays by binary lifting, every adjacent SA pair
at once. Pair extraction is numpy segment ops over the LCP intervals. No step
walks the tokens in a Python loop.

Document fencing: sequences are concatenated with unique separator values
smaller than every token value, so no suffix comparison ever runs across a
document boundary.
"""

from __future__ import annotations

import numpy as np


def prefix_doubling(seq: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """Suffix array of an integer sequence plus every doubling round's ranks.

    ranks[l][i] orders seq[i : i + 2**l]; for i != j the ranks are equal iff
    both slices are 2**l tokens long and identical. The rounds stop when all
    ranks differ, so every LCP is below 2**(len(ranks) - 1) and the levels
    suffice for `lcp_array`'s binary lifting.
    """
    n = len(seq)
    if n == 0:
        return np.empty(0, dtype=np.int64), []
    _, rank = np.unique(seq, return_inverse=True)
    rank = rank.astype(np.int64)
    order = np.argsort(rank, kind="stable")
    ranks = [rank.astype(np.int32)]
    k = 1
    while k < n:
        # one int64 key per suffix: (rank of its first k tokens, rank of the
        # next k tokens, 0 past the end); < n**2 + n, no overflow
        key = rank * (n + 1)
        key[: n - k] += rank[k:] + 1
        order = np.argsort(key, kind="stable")
        ks = key[order]
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.concatenate(([0], np.cumsum(ks[1:] != ks[:-1])))
        ranks.append(rank.astype(np.int32))
        if rank[order[-1]] == n - 1:
            break
        k *= 2
    return order.astype(np.int64), ranks


def suffix_array(seq: np.ndarray) -> np.ndarray:
    """Suffix array of an integer sequence (any dtype, any value range)."""
    return prefix_doubling(seq)[0]


def lcp_array(sa: np.ndarray, ranks: list[np.ndarray]) -> np.ndarray:
    """lcp[i] = longest common prefix of suffixes sa[i-1], sa[i] (lcp[0] = 0).

    Binary lifting over `prefix_doubling`'s rank levels, highest first: a
    pair whose next 2**l tokens have equal level-l ranks extends its common
    prefix by 2**l. Each level is one vectorized step over all adjacent SA
    pairs, so the whole array costs O(n log n) numpy work.
    """
    n = len(sa)
    lcp = np.zeros(n, dtype=np.int64)
    if n < 2:
        return lcp
    left, right = sa[:-1], sa[1:]
    h = np.zeros(n - 1, dtype=np.int64)
    for level in range(len(ranks) - 1, -1, -1):
        a, b = left + h, right + h
        live = np.flatnonzero((a < n) & (b < n))
        rank = ranks[level]
        same = live[rank[a[live]] == rank[b[live]]]
        h[same] += 1 << level
    lcp[1:] = h
    return lcp


def fence_concat(arrays: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate integer arrays with unique separators.

    Returns (fenced sequence, doc_of: index -> doc ordinal, -1 on separators).
    Token values are densified to start at len(arrays) so separators
    0..len(arrays)-1 (in reverse doc order) are unique and collide with
    nothing.
    """
    k = len(arrays)
    arrays = [np.asarray(a, dtype=np.int64) for a in arrays]
    lens = np.array([len(a) for a in arrays], dtype=np.int64)
    seps = np.cumsum(lens + 1) - 1
    is_tok = np.ones(int(lens.sum()) + k, dtype=bool)
    is_tok[seps] = False
    out = np.empty(len(is_tok), dtype=np.int64)
    doc_of = np.full(len(is_tok), -1, dtype=np.int64)
    if k:
        _, dense = np.unique(np.concatenate(arrays), return_inverse=True)
        out[is_tok] = dense + k
        doc_of[is_tok] = np.repeat(np.arange(k, dtype=np.int64), lens)
    out[seps] = np.arange(k, dtype=np.int64)[::-1]
    return out, doc_of


def longest_common_run(a: np.ndarray, b: np.ndarray) -> int:
    """Exact longest common token run between two sequences: the two-doc case
    of `bucket_repeat_pairs`, whose run length is exact for two docs (the
    classic LCS-substring reduction over the fenced concatenation)."""
    pairs = bucket_repeat_pairs([a, b], 1)
    return int(pairs[0, 2]) if len(pairs) else 0


def bucket_repeat_pairs(arrays: list[np.ndarray], min_run: int) -> np.ndarray:
    """All doc-ordinal pairs in a bucket sharing a token run >= min_run.

    ONE suffix array over the fenced concatenation of every doc in the bucket
    (amortized: per-pair verification would rebuild an SA per pair). Maximal
    SA intervals with lcp >= min_run identify suffix groups sharing a run; by
    the range-minimum property, every cross-doc pair inside such an interval
    has a common run >= the interval minimum, and conversely any pair with a
    true common run >= min_run lands in one interval — so emitting ALL pairs
    per interval is exactly the per-pair-verified pair set. `run_tokens` is
    the interval minimum (a lower bound, always >= min_run), raised to the
    exact lcp for SA-adjacent cross-doc entries; with two docs it is the
    exact longest common run. min_run below 1 is treated as 1.

    All segment ops: interval ids from a cumsum over interval starts, the
    interval minimum by `minimum.reduceat`, the distinct docs of each
    interval by one `unique`, pairs per interval from `triu_indices` for each
    distinct interval size, and one max-reduce over (a, b).
    Returns an int64 (m, 3) array of (ord_a, ord_b, run_tokens) rows,
    ord_a < ord_b, sorted by (ord_a, ord_b).
    """
    min_run = max(int(min_run), 1)
    k = len(arrays)
    seq, doc_of = fence_concat(arrays)
    sa, ranks = prefix_doubling(seq)
    lcp = lcp_array(sa, ranks)
    owners = doc_of[sa]
    # link[t]: SA entries t-1 and t share >= min_run tokens. Separators are
    # unique values, so no linked entry is a separator.
    link = lcp >= min_run
    links = np.flatnonzero(link)
    if len(links) == 0:
        return np.empty((0, 3), dtype=np.int64)
    member = link.copy()
    member[:-1] |= link[1:]
    iv = np.cumsum(member & ~link) - 1  # interval id of each member entry
    link_iv = iv[links]
    iv_min = np.minimum.reduceat(
        lcp[links], np.flatnonzero(np.r_[True, link_iv[1:] != link_iv[:-1]])
    )

    # distinct docs per interval, sorted by (interval, doc)
    ent = np.flatnonzero(member)
    key = np.unique(iv[ent] * k + owners[ent])
    key_iv, key_doc = key // k, key % k
    size = np.bincount(key_iv, minlength=len(iv_min))
    offset = np.concatenate(([0], np.cumsum(size)[:-1]))
    a_parts, b_parts, r_parts = [], [], []
    for s in np.unique(size[size >= 2]):
        groups = np.flatnonzero(size == s)
        docs = key_doc[offset[groups][:, None] + np.arange(s)]
        ti, tj = np.triu_indices(s, 1)
        a_parts.append(docs[:, ti].ravel())
        b_parts.append(docs[:, tj].ravel())
        r_parts.append(np.repeat(iv_min[groups], len(ti)))
    # exact lengths for SA-adjacent cross-doc entries
    x, y = owners[links - 1], owners[links]
    cross = x != y
    a_parts.append(np.minimum(x, y)[cross])
    b_parts.append(np.maximum(x, y)[cross])
    r_parts.append(lcp[links][cross])

    pair = np.concatenate(a_parts) * k + np.concatenate(b_parts)
    run = np.concatenate(r_parts)
    if len(pair) == 0:
        return np.empty((0, 3), dtype=np.int64)
    order = np.argsort(pair, kind="stable")
    pair, run = pair[order], run[order]
    first = np.flatnonzero(np.r_[True, pair[1:] != pair[:-1]])
    pair = pair[first]
    return np.column_stack(
        (pair // k, pair % k, np.maximum.reduceat(run, first))
    ).astype(np.int64)
