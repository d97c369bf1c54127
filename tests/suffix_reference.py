"""Loop-based reference kernels for the suffix channel.

These are the straightforward per-token Python versions of the vectorized
kernels in `dedup_spark.functions.suffix`: Kasai's LCP, a per-doc fencing
loop and a per-interval pair loop. They are kept only as equivalence
references for the property tests; the package never calls them.
"""

from __future__ import annotations

import numpy as np

from dedup_spark.functions.suffix import suffix_array


def kasai_lcp(seq: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[i] = longest common prefix of suffixes sa[i-1], sa[i]."""
    n = len(seq)
    lcp = np.zeros(n, dtype=np.int64)
    if n == 0:
        return lcp
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and seq[i + h] == seq[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def fence_concat_loop(arrays: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc fencing: tokens densified to start at len(arrays), separators
    len(arrays)-1..0 in doc order, doc_of -1 on separators."""
    k = len(arrays)
    parts, owners = [], []
    for d, a in enumerate(arrays):
        parts.append(np.asarray(a, dtype=np.int64))
        owners.append(np.full(len(a), d, dtype=np.int64))
        parts.append(np.array([-(d + 1)], dtype=np.int64))
        owners.append(np.array([-1], dtype=np.int64))
    seq = np.concatenate(parts)
    doc_of = np.concatenate(owners)
    toks = seq[doc_of >= 0]
    _, dense = np.unique(toks, return_inverse=True)
    out = np.empty(len(seq), dtype=np.int64)
    out[doc_of >= 0] = dense + k
    out[doc_of < 0] = np.arange(k, dtype=np.int64)[::-1]
    return out, doc_of


def bucket_repeat_pairs_loop(
    arrays: list[np.ndarray], min_run: int
) -> list[tuple[int, int, int]]:
    """Per-interval loop: every cross-doc pair of each maximal lcp >= min_run
    interval at the interval minimum, SA-adjacent pairs at their exact lcp,
    max-aggregated per (ord_a, ord_b) and sorted."""
    seq, doc_of = fence_concat_loop(arrays)
    sa = suffix_array(seq)
    lcp = kasai_lcp(seq, sa)
    owners = doc_of[sa]
    best: dict[tuple[int, int], int] = {}
    i = 1
    n = len(seq)
    while i < n:
        if lcp[i] < min_run:
            i += 1
            continue
        j = i
        run_min = lcp[i]
        while j + 1 < n and lcp[j + 1] >= min_run:
            j += 1
            run_min = min(run_min, lcp[j])
        docs_in = owners[i - 1 : j + 1]
        uniq = np.unique(docs_in[docs_in >= 0])
        if len(uniq) >= 2:
            run_min = int(run_min)
            for x in range(len(uniq)):
                for y in range(x + 1, len(uniq)):
                    key = (int(uniq[x]), int(uniq[y]))
                    if best.get(key, 0) < run_min:
                        best[key] = run_min
            for t in range(i, j + 1):
                x, y = int(owners[t - 1]), int(owners[t])
                if x >= 0 and y >= 0 and x != y:
                    key = (min(x, y), max(x, y))
                    if best.get(key, 0) < lcp[t]:
                        best[key] = int(lcp[t])
        i = j + 1
    return [(a, b, r) for (a, b), r in sorted(best.items())]


def brute_common_run(a, b) -> int:
    """O(n*m*run) longest common token run."""
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            m = 0
            while i + m < len(a) and j + m < len(b) and a[i + m] == b[j + m]:
                m += 1
            best = max(best, m)
    return best
