"""Property-based tests (hypothesis) for the pure numpy signature kernels.

These pin the algebraic identities the pipeline's correctness rests on —
the same obligations the reference discharges by construction with exact
hashing (/root/reference/src/find_duplicates_map.cpp hash-then-verify):

- MinHash is a *set* summary: order/multiplicity invariant, and
  sig(A ∪ B) = elementwise-min(sig(A), sig(B)).
- Batch flattening (flat + lengths + reduceat offsets) is equivalent to
  per-doc computation, including empty docs interleaved anywhere.
- SimHash is order invariant and is the identity on single-shingle docs.
- Rolling window hashes are position independent (equal g-token windows
  hash equally anywhere in any doc) — the property that makes cross-doc
  bucket joins on window hashes sound.
- Winnowing keeps its SIGMOD-2003 guarantee: docs sharing a run of
  >= min_run_tokens tokens share a selected fingerprint (the suffix
  channel's recall floor).
- suffix_array/lcp_array match naive sorted-suffix / common-prefix
  computation; longest_common_run matches an O(n*m) DP.
- The vectorized suffix kernels (fence_concat, binary-lifted lcp_array,
  segment-op bucket_repeat_pairs) return exactly what the loop references
  in tests/suffix_reference.py return (Kasai LCP, per-interval pair loop).

No SparkSession — pure numpy/pandas, so hypothesis can afford hundreds of
examples per property.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st

from dedup_spark.functions.minhash import fold31, minhash_batch
from dedup_spark.functions.rolling import doc_fingerprints, window_hashes, winnow
from dedup_spark.functions.simhash import simhash_batch
from dedup_spark.functions.suffix import (
    bucket_repeat_pairs,
    fence_concat,
    lcp_array,
    longest_common_run,
    prefix_doubling,
    suffix_array,
)
from suffix_reference import (
    bucket_repeat_pairs_loop,
    fence_concat_loop,
    kasai_lcp,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
SMALL_TOK = st.integers(min_value=0, max_value=9)  # collision-rich alphabet
NUM_PERM = 16  # enough rows to make elementwise properties non-trivial
SEED = 1234


def sig_of(arr):
    return np.asarray(minhash_batch(pd.Series([list(arr)]), NUM_PERM, SEED)[0])


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, min_size=1, max_size=50), st.randoms(use_true_random=False))
def test_minhash_order_and_multiplicity_invariant(shingles, rnd):
    base = sig_of(shingles)
    shuffled = list(shingles)
    rnd.shuffle(shuffled)
    dup = shuffled + [rnd.choice(shingles)]
    assert np.array_equal(base, sig_of(shuffled))
    assert np.array_equal(base, sig_of(dup))


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, min_size=1, max_size=30), st.lists(I64, min_size=1, max_size=30))
def test_minhash_union_is_elementwise_min(a, b):
    assert np.array_equal(
        sig_of(a + b), np.minimum(sig_of(a), sig_of(b))
    )


@settings(max_examples=50, deadline=None)
@given(st.lists(st.one_of(st.none(), st.lists(I64, max_size=20)), max_size=8))
def test_minhash_batch_equals_per_doc(docs):
    batched = minhash_batch(pd.Series(docs, dtype=object), NUM_PERM, SEED)
    for got, doc in zip(batched, docs):
        solo = minhash_batch(pd.Series([doc], dtype=object), NUM_PERM, SEED)[0]
        assert np.array_equal(np.asarray(got), np.asarray(solo))


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, min_size=0, max_size=100))
def test_fold31_stays_in_field(xs):
    folded = fold31(np.array(xs, dtype=np.int64))
    assert (folded < np.uint64(1 << 31)).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, min_size=1, max_size=50), st.randoms(use_true_random=False))
def test_simhash_order_invariant(shingles, rnd):
    shuffled = list(shingles)
    rnd.shuffle(shuffled)
    a = simhash_batch(pd.Series([shingles]))[0]
    b = simhash_batch(pd.Series([shuffled]))[0]
    assert a == b


@settings(max_examples=200, deadline=None)
@given(I64)
def test_simhash_single_shingle_is_identity(x):
    # one shingle: every bit's vote is that shingle's bit (ones*2 > 1)
    assert simhash_batch(pd.Series([[x]]))[0] == x


@settings(max_examples=50, deadline=None)
@given(st.lists(st.one_of(st.none(), st.lists(I64, max_size=20)), max_size=8))
def test_simhash_batch_equals_per_doc(docs):
    batched = simhash_batch(pd.Series(docs, dtype=object))
    for got, doc in zip(batched, docs):
        assert got == simhash_batch(pd.Series([doc], dtype=object))[0]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(SMALL_TOK, min_size=4, max_size=60),
    st.integers(min_value=2, max_value=4),
    st.data(),
)
def test_window_hashes_position_independent(toks, g, data):
    seq = np.array(toks, dtype=np.int64)
    wh = window_hashes(seq, g)
    assert len(wh) == len(seq) - g + 1
    i = data.draw(st.integers(min_value=0, max_value=len(wh) - 1))
    alone = window_hashes(seq[i:i + g], g)
    assert wh[i] == alone[0]


@settings(max_examples=200, deadline=None)
@given(st.lists(I64, min_size=1, max_size=60), st.integers(min_value=1, max_value=8))
def test_winnow_subset_of_input(hashes, w):
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    sel = winnow(h, w)
    assert np.isin(sel, h).all()
    assert len(sel) >= 1


@settings(max_examples=100, deadline=None)
@given(
    st.lists(SMALL_TOK, min_size=0, max_size=25),
    st.lists(SMALL_TOK, min_size=0, max_size=25),
    st.lists(SMALL_TOK, min_size=0, max_size=25),
    st.lists(SMALL_TOK, min_size=0, max_size=25),
    st.lists(SMALL_TOK, min_size=12, max_size=20),
)
def test_fingerprint_shared_run_guarantee(pre_a, suf_a, pre_b, suf_b, run):
    """Two docs embedding the same >=min_run token run share a fingerprint."""
    min_run, w = len(run), 4  # g = min_run - w + 1 >= 9 > 2
    doc_a = pre_a + run + suf_a
    doc_b = pre_b + run + suf_b
    fps = doc_fingerprints(pd.Series([doc_a, doc_b]), min_run, w)
    assert set(fps[0]) & set(fps[1])


@settings(max_examples=200, deadline=None)
@given(st.lists(SMALL_TOK, min_size=0, max_size=40))
def test_suffix_array_matches_naive_sort(toks):
    seq = np.array(toks, dtype=np.int64)
    sa = suffix_array(seq)
    naive = sorted(range(len(seq)), key=lambda i: tuple(seq[i:]))
    assert list(sa) == naive


@settings(max_examples=200, deadline=None)
@given(st.lists(SMALL_TOK, min_size=1, max_size=40))
def test_lcp_matches_naive(toks):
    seq = np.array(toks, dtype=np.int64)
    sa, ranks = prefix_doubling(seq)
    lcp = lcp_array(sa, ranks)
    assert lcp[0] == 0
    for r in range(1, len(seq)):
        a, b = seq[sa[r - 1]:], seq[sa[r]:]
        n = 0
        while n < len(a) and n < len(b) and a[n] == b[n]:
            n += 1
        assert lcp[r] == n


def _naive_lcs_run(a, b):
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            n = 0
            while i + n < len(a) and j + n < len(b) and a[i + n] == b[j + n]:
                n += 1
            best = max(best, n)
    return best


@settings(max_examples=100, deadline=None)
@given(
    st.lists(SMALL_TOK, min_size=0, max_size=20),
    st.lists(SMALL_TOK, min_size=0, max_size=20),
)
def test_longest_common_run_matches_dp(a, b):
    assert longest_common_run(
        np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
    ) == _naive_lcs_run(a, b)


# small-alphabet buckets: alphabet size 2..5, 1..6 docs of 0..30 tokens
# (empty docs and docs shorter than min_run included)
BUCKETS = st.integers(min_value=2, max_value=5).flatmap(
    lambda alpha: st.lists(
        st.lists(st.integers(min_value=0, max_value=alpha - 1), max_size=30),
        min_size=1,
        max_size=6,
    )
)


@settings(max_examples=300, deadline=None)
@given(BUCKETS)
@example([[]])
@example([[], [], [0, 1]])
@example([[0, 1, 0, 1, 0, 1]])
def test_lcp_matches_kasai_reference(docs):
    arrays = [np.array(d, dtype=np.int64) for d in docs]
    seq, doc_of = fence_concat(arrays)
    ref_seq, ref_doc_of = fence_concat_loop(arrays)
    assert seq.tolist() == ref_seq.tolist()
    assert doc_of.tolist() == ref_doc_of.tolist()
    sa, ranks = prefix_doubling(seq)
    assert lcp_array(sa, ranks).tolist() == kasai_lcp(seq, sa).tolist()


@settings(max_examples=400, deadline=None)
@given(BUCKETS, st.integers(min_value=1, max_value=8))
@example([[]], 1)
@example([[0, 1, 1, 0]], 2)
@example([[], [0, 1, 0], []], 1)
@example([[0, 1], [0, 1]], 3)  # docs shorter than min_run
@example([[0, 1, 0, 1, 1], [1, 0, 1, 1], [0, 1, 1, 0, 1]], 2)
def test_bucket_repeat_pairs_matches_loop_reference(docs, min_run):
    arrays = [np.array(d, dtype=np.int64) for d in docs]
    got = [tuple(map(int, r)) for r in bucket_repeat_pairs(arrays, min_run)]
    assert got == bucket_repeat_pairs_loop(arrays, min_run)


# --- lazy verification shingles (plans/pipeline.py): the engine computes
# pair-generation features WITHOUT shingle arrays and recomputes shingle
# sets later (shingle_hash_arrays) for only the candidate-involved docs.
# Soundness rests on two identities pinned here: the shingle-free batch
# returns the same simhash/bands, and the standalone shingle kernel is
# bit-identical to the fused batch's shingle_hashes column.

TOK_DOCS = st.lists(
    st.one_of(st.none(), st.lists(I64, max_size=30)), min_size=1, max_size=8
)


@settings(max_examples=50, deadline=None)
@given(TOK_DOCS, st.integers(min_value=2, max_value=5))
def test_channel_batch_equals_full_batch(docs, k):
    from dedup_spark.functions.signatures import signature_batch

    tok = pd.Series(docs, dtype=object)
    full = signature_batch(tok, k, 16, 7, 4, 4, include_signature=False)
    chan = signature_batch(
        tok, k, 16, 7, 4, 4, include_signature=False, include_shingles=False
    )
    assert list(chan.columns) == ["simhash", "bands"]
    assert list(chan["simhash"]) == list(full["simhash"])
    for a, b in zip(chan["bands"], full["bands"]):
        assert list(a) == list(b)


@settings(max_examples=50, deadline=None)
@given(TOK_DOCS, st.integers(min_value=2, max_value=5))
def test_lazy_shingles_bit_identical_to_fused(docs, k):
    from dedup_spark.functions.signatures import (
        shingle_hash_arrays,
        signature_batch,
    )

    tok = pd.Series(docs, dtype=object)
    fused = signature_batch(tok, k, 16, 7, 4, 4)["shingle_hashes"]
    lazy = shingle_hash_arrays(tok, k)
    for a, b in zip(lazy, fused):
        assert sorted(a) == sorted(b)
