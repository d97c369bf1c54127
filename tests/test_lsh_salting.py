"""Salted two-level LSH pair generation (N10): connectivity equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup_spark.operators.lsh import salted_pairs_from_buckets
from lsh_reference import pairs_from_buckets


def _components(pair_rows):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for node in list(parent):
        comps.setdefault(find(node), set()).add(node)
    return {frozenset(v) for v in comps.values()}


@pytest.fixture(scope="module")
def exploded(spark):
    # 3 buckets: tiny (2), medium (10), hot (300 members)
    rows = []
    for i in range(2):
        rows.append((100, f"a{i:04d}"))
    for i in range(10):
        rows.append((200, f"b{i:04d}"))
    for i in range(300):
        rows.append((300, f"c{i:04d}"))
    # one doc in two buckets (cross-bucket bridge)
    rows.append((200, "c0000"))
    df = spark.createDataFrame(rows, "band_key long, id string")
    df.persist().count()
    return df


def test_salted_connectivity_equals_unsalted(exploded):
    plain = pairs_from_buckets(exploded, "x").select("id_a", "id_b").toPandas()
    salted = salted_pairs_from_buckets(exploded, "x", nsalt=8).select(
        "id_a", "id_b"
    ).toPandas()
    assert _components(map(tuple, plain.values)) == _components(
        map(tuple, salted.values)
    )


def test_salted_task_bound(exploded):
    """No sub-bucket member list exceeds ~bucket/nsalt (the OOM guard)."""
    salted = exploded.withColumn("salt", F.pmod(F.xxhash64("id"), F.lit(8)))
    sizes = (
        salted.groupBy("band_key", "salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert sizes <= 300 / 8 * 3  # loose balance bound

def test_salted_pairs_are_ordered_distinct(exploded):
    out = salted_pairs_from_buckets(exploded, "x", nsalt=4).toPandas()
    assert (out.id_a < out.id_b).all()
    assert not out.duplicated(["id_a", "id_b"]).any()


def test_small_buckets_exhaustive_across_salts(spark):
    """Regression for the cross-salt recall hole: two docs co-bucketed in a
    sub-cap bucket must be paired DIRECTLY even when their per-id salts
    differ — enumeration below pair_cap_all is exhaustive, not star-closed."""
    rows = [(100, f"d{i:03d}") for i in range(12)]
    df = spark.createDataFrame(rows, "band_key long, id string")
    got = {
        tuple(r)
        for r in salted_pairs_from_buckets(df, "x", nsalt=8)
        .select("id_a", "id_b")
        .collect()
    }
    ids = sorted(r[1] for r in rows)
    want = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert got == want  # all 66 pairs, no hub mediation


def test_mid_bucket_exhaustive_across_salts(spark):
    """Hot-but-not-ultra-hot buckets (pair_cap_all < n <= pair_cap_cross) are
    enumerated EXHAUSTIVELY via the triangulated cross-salt blocks: every one
    of the C(300,2) pairs is emitted directly, none is hub-mediated. This is
    the round-2 recall-hole fix — two true near-dups in different salt groups
    no longer depend on a hub doc surviving Hamming/Jaccard verification."""
    rows = [(7, f"h{i:04d}") for i in range(300)]
    df = spark.createDataFrame(rows, "band_key long, id string")
    got = {
        tuple(r)
        for r in salted_pairs_from_buckets(df, "x", nsalt=8)
        .select("id_a", "id_b")
        .collect()
    }
    ids = sorted(r[1] for r in rows)
    want = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert got == want  # all 44850 pairs, no hub mediation


def test_ultra_hot_bucket_pairs_bounded_and_connected(spark):
    """Ultra-hot buckets (> pair_cap_cross) must not emit quadratic pairs but
    must stay one component, with all pairs ordered/distinct."""
    rows = [(7, f"h{i:04d}") for i in range(300)]
    df = spark.createDataFrame(rows, "band_key long, id string")
    out = salted_pairs_from_buckets(
        df, "x", nsalt=8, pair_cap_cross=128
    ).toPandas()
    # sub-buckets (~n/nsalt <= cap) do local all-pairs: bounded by n*cap/2
    # + hub closure, far below the full quadratic C(300,2)=44850
    assert len(out) <= 300 * 64 / 2 + 8 * 7 / 2
    assert (out.id_a < out.id_b).all()
    assert not out.duplicated(["id_a", "id_b"]).any()
    comps = _components(map(tuple, out[["id_a", "id_b"]].values))
    assert len(comps) == 1 and len(next(iter(comps))) == 300


def test_planted_hot_block_cross_salt_near_pair_survives(spark):
    """Round-2 VERDICT planted test: a hot SimHash block (> pair_cap_all
    members) where the only true near-pair spans salt groups and every
    potential hub is Hamming-far from both. The pair must be emitted
    DIRECTLY by the generator and survive the Hamming cut."""
    import dedup_spark.plans.pipeline as plans
    from dedup_spark.config import DedupConfig

    cfg = DedupConfig()
    # pick two ids in DIFFERENT salt groups (the star topology's blind spot)
    salts = {
        r.id: r.salt
        for r in spark.range(100)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(cfg.bucket_salts)).alias("salt"))
        .collect()
    }
    # a = overall min id (a hub under the old star topology); b = the MAX id
    # of a different salt group, i.e. NOT its group's hub — under the round-2
    # star code the (a, b) pair could only arise hub-mediated, so this test
    # fails without the exhaustive mid tier.
    a = 0
    b = max(i for i in range(1, 100) if salts[i] != salts[a])
    # 100 docs sharing SimHash block 0 (low 16 bits all zero). Docs a and b
    # differ by exactly one bit in each of blocks 1, 2, 3 (hamming=3), so
    # block 0 is their ONLY shared block; every decoy differs from both in
    # ~16+ upper bits, so any hub star path through a third doc fails
    # hamming<=3 — the pair must be emitted directly.
    base = 0x5A5A_A5A5_0000_0000
    near = base ^ (1 << 17) ^ (1 << 33) ^ (1 << 49)
    sims = {a: base, b: near}
    for i in range(100):
        if i not in sims:
            # unique far-away upper bits; low 16 bits zero keeps them co-blocked
            sims[i] = ((i * 0x9E3779B9) << 16) & ((1 << 64) - 1)
    df = spark.createDataFrame(
        [(i, v - (1 << 64) if v >= (1 << 63) else v) for i, v in sims.items()],
        "id long, simhash long",
    )
    got = {
        (r.id_a, r.id_b)
        for r in plans.simhash_candidate_pairs(df, cfg).collect()
    }
    assert (min(a, b), max(a, b)) in got


def test_inline_pair_predicate_equals_post_filter(spark):
    """payload_col + pair_predicate must emit EXACTLY the pairs that survive
    a post-generation filter — across all three tiers (exhaustive small/mid,
    ultra-hot salted star) in one randomized input. This is the identity the
    SimHash channel's inline Hamming cut rests on."""
    import random

    rng = random.Random(7)
    rows = []
    nid = 0
    for b, size in enumerate([2, 5, 64, 65, 300, 1200]):
        for _ in range(size):
            rows.append((b, nid, rng.randrange(0, 16)))
            nid += 1
    df = spark.createDataFrame(rows, "band_key long, id long, p long")
    payload = {i: p for _, i, p in rows}

    def pred(pa, pb):  # arbitrary symmetric Column predicate
        return ((pa + pb) % F.lit(3)) == F.lit(0)

    plain = salted_pairs_from_buckets(
        df.select("band_key", "id"), "x", nsalt=8, pair_cap_cross=128
    )
    want = {
        (r.id_a, r.id_b)
        for r in plain.collect()
        if (payload[r.id_a] + payload[r.id_b]) % 3 == 0
    }
    got = {
        (r.id_a, r.id_b)
        for r in salted_pairs_from_buckets(
            df,
            "x",
            nsalt=8,
            pair_cap_cross=128,
            payload_col="p",
            pair_predicate=pred,
        ).collect()
    }
    assert got == want
    assert want  # non-vacuous: the predicate keeps a real subset


def test_randomized_tier_sweep_matches_exhaustive_reference(spark):
    """Property sweep: mixed bucket sizes spanning all three tiers in one
    input. Every bucket at or below pair_cap_cross must be EXHAUSTIVE
    (pair set equality with the n*(n-1)/2 reference); ultra-hot buckets
    must be connectivity-equivalent with bounded pair counts."""
    import itertools
    import random

    rng = random.Random(99)
    sizes = [2, 3, 63, 64, 65, 100, 400, 1023]  # tier boundaries + interiors
    rows, want_exhaustive = [], set()
    next_id = 0
    for b, size in enumerate(sizes):
        ids = [f"x{next_id + i:06d}" for i in range(size)]
        next_id += size
        rng.shuffle(ids)
        for i in ids:
            rows.append((1000 + b, i))
        want_exhaustive |= {
            (a, c) for a, c in itertools.combinations(sorted(ids), 2)
        }
    # plus one ultra-hot bucket sharing some members with a small bucket
    hot_ids = [f"x{next_id + i:06d}" for i in range(1100)]
    for i in hot_ids:
        rows.append((9999, i))
    df = spark.createDataFrame(rows, "band_key long, id string")
    out = salted_pairs_from_buckets(df, "x", nsalt=8).toPandas()
    got = {tuple(r) for r in out[["id_a", "id_b"]].values}
    missing = want_exhaustive - got
    assert not missing, f"{len(missing)} pairs missing from exhaustive tiers"
    # ultra-hot bucket: connected, bounded
    hot_pairs = [
        (a, c) for a, c in got if a in set(hot_ids) and c in set(hot_ids)
    ]
    assert len(hot_pairs) < 1100 * 64  # far below C(1100,2) = 604,450
    comps = _components(hot_pairs)
    hot_comp = next(c for c in comps if hot_ids[0] in c)
    assert set(hot_ids) <= hot_comp


def test_dedup_false_equals_distinct_of_dedup_true(exploded):
    """dedup=False is the SAME pair multiset modulo duplicates: distinct of
    the raw output equals the dedup=True output exactly. This is the identity
    the pipeline's fold-the-distinct-into-the-channel-merge shuffle rests on
    (one grouped shuffle dedups within and across channels)."""
    import pandas as pd

    dd = (
        salted_pairs_from_buckets(exploded, "x", nsalt=8)
        .select("id_a", "id_b")
        .toPandas()
    )
    raw = (
        salted_pairs_from_buckets(exploded, "x", nsalt=8, dedup=False)
        .select("id_a", "id_b")
        .toPandas()
    )
    got = {tuple(r) for r in raw.values}
    want = {tuple(r) for r in dd.values}
    assert got == want
    # non-vacuous: the raw output really does carry cross-bucket duplicates
    # (the bridge doc c0000 co-buckets pairs in two bands)
    assert len(raw) >= len(dd)


def test_ultra_hot_star_salt_count_scales_with_bucket(spark):
    """A bucket far beyond nsalt*pair_cap_cross must still (a) connect all
    members through the two-level star (CC closure = the whole bucket) and
    (b) bound every per-salt sub-bucket near pair_cap_cross members — the
    salt count scales as ceil(n / pair_cap_cross) instead of staying at the
    configured floor (a fixed count would put n/nsalt members in ONE
    aggregation task at any bucket size)."""
    from dedup_spark.operators.lsh import salted_pairs_from_buckets

    n, cross = 5000, 256
    exploded = spark.range(n).select(
        F.col("id"), F.lit(7).cast("long").alias("band_key")
    )
    pairs = salted_pairs_from_buckets(
        exploded, channel="t", nsalt=4, pair_cap_all=64, pair_cap_cross=cross
    ).select("id_a", "id_b").collect()
    # (a) closure covers the whole bucket
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(int(r.id_a)), find(int(r.id_b))
        if ra != rb:
            parent[ra] = rb
    assert len({find(i) for i in range(n)}) == 1
    # (b) pair volume is star-linear, not quadratic (exhaustive would be
    # ~12.5M; two-level star stays within a few multiples of n)
    assert len(pairs) < 6 * n, len(pairs)
