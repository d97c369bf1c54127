"""Suffix-array channel (N6): math vs brute force + Spark operator e2e."""

from __future__ import annotations

import numpy as np
import pytest

from dedup_spark.config import DedupConfig
from dedup_spark.functions.rolling import window_hashes, winnow
from dedup_spark.functions.suffix import (
    bucket_repeat_pairs,
    lcp_array,
    longest_common_run,
    prefix_doubling,
)
from dedup_spark.operators.suffix import suffix_repeat_pairs
from suffix_reference import brute_common_run

RNG = np.random.default_rng(7)


def test_suffix_array_vs_brute():
    for _ in range(30):
        n = int(RNG.integers(1, 50))
        seq = RNG.integers(0, 5, size=n).astype(np.int64)
        sa, ranks = prefix_doubling(seq)
        assert sa.tolist() == sorted(range(n), key=lambda i: seq[i:].tolist())
        lcp = lcp_array(sa, ranks)
        for i in range(1, n):
            a, b = seq[sa[i - 1]:], seq[sa[i]:]
            m = 0
            while m < len(a) and m < len(b) and a[m] == b[m]:
                m += 1
            assert lcp[i] == m


def test_longest_common_run_vs_brute():
    for _ in range(30):
        a = RNG.integers(0, 5, size=int(RNG.integers(0, 30))).astype(np.int64)
        b = RNG.integers(0, 5, size=int(RNG.integers(0, 30))).astype(np.int64)
        assert longest_common_run(a, b) == brute_common_run(a, b)


def test_window_hash_position_independent():
    t = RNG.integers(-(2**62), 2**62, size=100).astype(np.int64)
    g = 9
    w1 = window_hashes(t, g)
    embedded = np.concatenate(
        [RNG.integers(0, 2**61, size=17).astype(np.int64), t[40 : 40 + g]]
    )
    assert window_hashes(embedded, g)[17] == w1[40]


def test_winnowing_guarantee():
    """Any shared run of >= g + w - 1 tokens shares a winnowed fingerprint."""
    w, L = 8, 30
    g = L - w + 1
    for _ in range(20):
        run = RNG.integers(0, 2**61, size=L).astype(np.int64)
        a = np.concatenate(
            [RNG.integers(0, 2**61, size=int(RNG.integers(0, 60))).astype(np.int64), run]
        )
        b = np.concatenate(
            [run, RNG.integers(0, 2**61, size=int(RNG.integers(0, 60))).astype(np.int64)]
        )
        fa = winnow(window_hashes(a, g), w)
        fb = winnow(window_hashes(b, g), w)
        assert len(np.intersect1d(fa, fb)) >= 1


def test_bucket_repeat_pairs_star_and_adjacent():
    run = RNG.integers(0, 2**61, size=40).astype(np.int64)
    noise = lambda n: RNG.integers(0, 2**61, size=n).astype(np.int64)
    docs = [
        np.concatenate([run, noise(20)]),
        noise(50),
        np.concatenate([noise(7), run]),
        np.concatenate([noise(3), run, noise(11)]),
    ]
    pairs = bucket_repeat_pairs(docs, 30)
    connected = {frozenset(p[:2]) for p in pairs}
    # docs 0, 2, 3 must end up pair-connected (transitively at least)
    import itertools

    # build union-find over pairs
    parent = {i: i for i in range(4)}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in connected:
        parent[find(a)] = find(b)
    assert find(0) == find(2) == find(3)
    assert find(1) != find(0)
    assert all(r >= 30 for _, _, r in pairs)


WORDS = [f"w{i:03d}" for i in range(400)]


def _text(rng, n):
    return " ".join(rng.choice(WORDS, size=n))


@pytest.fixture(scope="module")
def suffix_docs(spark):
    rng = np.random.default_rng(11)
    shared = _text(rng, 60)  # 60-token shared run
    rows = [
        ("a", _text(rng, 30) + " " + shared + " " + _text(rng, 40)),
        ("b", shared + " " + _text(rng, 80)),
        ("c", _text(rng, 120)),  # no long shared run
        ("d", _text(rng, 5)),  # too short for any fingerprint
        ("e", _text(rng, 25) + " " + shared),
    ]
    return spark.createDataFrame(rows, "id string, text string")


def test_suffix_repeat_pairs_spark(spark, suffix_docs):
    cfg = DedupConfig(suffix_min_run_tokens=50, shuffle_partitions=8)
    out = suffix_repeat_pairs(suffix_docs, cfg).toPandas()
    got = {frozenset((r.id_a, r.id_b)) for r in out.itertuples()}
    assert got == {
        frozenset(("a", "b")),
        frozenset(("a", "e")),
        frozenset(("b", "e")),
    }
    assert (out.run_tokens >= 50).all()
    assert (out.channel == "suffix").all()


def test_hot_tier_run_tokens_are_exact(spark, suffix_docs):
    """pair_cap_all=2 puts the 3-member {a, b, e} fingerprint buckets on the
    salted star tier, which keeps connectivity, not every pair. Each star
    edge is verified as a 2-member set, so every row carries the exact
    longest common run of its two token arrays."""
    from dedup_spark.functions.signatures import token_hashes

    cfg = DedupConfig(suffix_min_run_tokens=50, shuffle_partitions=8)
    out = suffix_repeat_pairs(suffix_docs, cfg, pair_cap_all=2).toPandas()
    got = {frozenset((r.id_a, r.id_b)) for r in out.itertuples()}
    assert len(got) >= 2 and got <= {
        frozenset(("a", "b")),
        frozenset(("a", "e")),
        frozenset(("b", "e")),
    }
    assert set().union(*got) == {"a", "b", "e"}
    toks = {
        r.id: np.asarray(r.tok, dtype=np.int64)
        for r in suffix_docs.select("id", token_hashes("text").alias("tok")).collect()
    }
    for r in out.itertuples():
        assert r.run_tokens == brute_common_run(toks[r.id_a], toks[r.id_b])


def test_suffix_channel_in_pipeline(spark):
    from dedup_spark.plans.pipeline import run_dedup

    rng = np.random.default_rng(13)
    shared = _text(rng, 80)
    rows = []
    for i, body in enumerate(
        [
            _text(rng, 20) + " " + shared,
            shared + " " + _text(rng, 30),
            _text(rng, 150),
            _text(rng, 140),
        ]
    ):
        rows.append((f"u{i}", f"2024-01-0{i+1} 00:00:00", None, body, "en", "s0"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, text string, lang string, source string"
    ).withColumn("warc_ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("warc_ts"))
    cfg = DedupConfig(suffix_enabled=True, shuffle_partitions=8)
    res = run_dedup(pages, cfg, channels=("exact", "suffix"))
    members = res.members.toPandas()
    by_cluster = members.groupby("cluster_id").url.apply(set).tolist()
    assert {"u0", "u1"} in by_cluster
    assert all("u2" not in c or c == {"u2"} for c in by_cluster)
