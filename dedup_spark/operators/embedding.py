"""Embedding-space similarity: cosine near-dup channel + ANN search.

Two scale paths over an `array<float>` embedding column:

1. `cosine_near_dup_pairs` — near-duplicate candidate channel: random-
   hyperplane LSH (Charikar 2002: sign-pattern sketches preserve angle;
   P[bit match] = 1 - angle/pi), banded exactly like MinHash-LSH, then exact
   cosine verification via `cosine_exact` (Arrow-vectorized, bit-identical
   to the interpreted JVM fold — see its docstring). The sketch is one matrix
   multiply per Arrow batch (numpy @), no per-row Python.
2. `ann_topk` — approximate nearest neighbors: probe the query's LSH buckets,
   score candidates with exact cosine inside each bucket, window top-k.
   `brute_force_topk` is the exact baseline the recall tests compare against
   (the only honest oracle for ANN).
3. `ivf_topk` — IVF (inverted-file) ANN: a spherical-k-means coarse quantizer
   (`train_centroids`, sample-trained like FAISS) assigns every vector to ONE
   cell; queries probe their nprobe nearest cells and rescore exactly. The
   one-cell-per-vector layout moves the corpus once keyed by cell (vs b band
   copies under LSH) — the preferred shuffle shape for top-k retrieval;
   full probe (nprobe = n_centroids) is exactly brute force.

At 100 TB the bucketed path shuffles each vector b times (b band keys) and
scores only within-bucket collisions — versus the brute-force cross join that
is quadratic and exists only as the small-scale oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG
from dedup_spark.operators.lsh import salted_pairs_from_buckets


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_bits)).astype(np.float64)


def banding_for_threshold(
    threshold: float,
    n_bits: int = 128,
    target_miss: float = 5e-3,
    n: int | None = None,
    cand_per_vec: float = 8.0,
    max_bits: int = 4096,
    legacy_budget: float = 2e6,
) -> tuple[int, int]:
    """(bands, rows_per_band) whose S-curve recalls cosine>=threshold pairs.

    P[sign bit matches] = 1 - arccos(t)/pi (Charikar 2002); a pair at cosine t
    is missed with prob (1 - p^r)^b. With ``n`` unset: pick the LARGEST r
    (most selective buckets, fewest spurious candidates) within a fixed
    ``n_bits`` budget whose miss prob at the threshold is <= target_miss —
    high thresholds get r=8 (strong pruning), low thresholds degrade smoothly
    toward r=2/r=1 where LSH inherently cannot prune (a cosine-0.45 "near
    dup" is 63 degrees away: most of the sphere collides).

    **Band width must scale with corpus size** (pass ``n``), for two
    measured reasons (both from a 1M dim-64 / threshold-0.95 run):

    1. *Recall*: an r-bit band has only 2^r buckets, so expected buckets
       hold n/2^r members regardless of similarity — the fixed-budget r=8
       put ~3,900 vectors in every bucket, the size-aware pair generator
       starred them all (>1024 = hub-mediated), and planted-pair recall
       collapsed to ~2%.
    2. *Cost*: a random pair (theta ~ 90 deg, bit-match prob ~1/2) collides
       in one band with prob ~2^-r, so expected spurious candidates are
       ~ b * n^2 / 2^(r+1). Fixing recall by only adding bands (b=46 at
       r=16) produced ~350M spurious pairs whose exact-cosine verify join
       spilled >110 GB and OOM-killed the JVM.

    With ``n`` set, the rule picks the SMALLEST r whose expected random
    collisions per vector, b(r) * n * 2^-r, stay under ``cand_per_vec``,
    where b(r) = ceil(ln(miss) / ln(1 - p^r)) enforces a TIGHTENED per-pair
    miss bound min(target_miss, 1e-4) at the threshold (at corpus scale the
    true-pair count multiplies any per-pair miss rate) and b*r <= max_bits.
    The same 1M run then recalls 10,000/10,000 planted pairs at ~5M spurious
    candidates. If no r meets the candidate target within the bits budget
    (loose thresholds at large n: the geometry admits no selective family —
    Charikar's rho = ln(p1)/ln(p2) is too close to 1), the bits-feasible r
    with the fewest expected collisions is used: cost then grows toward
    quadratic and over-cap buckets are surfaced via hot-bucket reporting,
    the same documented trade as the text channels. Small jobs never churn:
    when the fixed-budget choice's expected spurious total b * n^2 / 2^(r+1)
    is already under ``legacy_budget`` pairs, it is returned unchanged (the
    driver-scale plans keep their proven banding).
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    legacy: tuple[int, int] = (n_bits, 1)
    for r in (16, 8, 4, 2, 1):
        b = n_bits // r
        if (1.0 - p**r) ** b <= target_miss:
            legacy = (b, r)
            break
    if n is None or n <= 1:
        return legacy
    if legacy[0] * n * (n - 1) * 2.0 ** -(legacy[1] + 1) <= legacy_budget:
        return legacy
    miss = min(target_miss, 1e-4)
    best: tuple[int, int] | None = None
    best_cand = math.inf
    for r in range(max(2, legacy[1]), 49):
        pr = p**r
        if pr >= 1.0:
            break
        # ln(1 - p^r) underflows for tiny p^r; log1p is exact enough
        b = math.ceil(math.log(miss) / math.log1p(-pr))
        if b * r > max_bits:
            continue
        cand = b * n * 2.0**-r  # expected random collisions per vector
        if cand <= cand_per_vec:
            return b, r  # smallest such r = fewest bits that meet both
        if cand < best_cand:
            best, best_cand = (b, r), cand
    return best if best is not None else legacy


_BAND_MIX = np.uint64(0x9E3779B97F4A7C15)  # odd 64-bit golden-ratio constant

# prototype-block width for the nearest-prototype kernels: above this k the
# (batch, k) cosine matrix stops being materialized (4096 rows x 8192 cols
# x 8 B = 256 MB is the per-worker ceiling) and the argmax runs blocked
_PROTO_BLOCK = 8192


def _blocked_rounded_argmax(
    X: np.ndarray,
    P: np.ndarray,
    pn: np.ndarray,
    xn: np.ndarray,
    round_cosine: int,
    block: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(n,) first-max argmax + max of round(cos(X, P), round_cosine) over
    prototype blocks — never materializes the full (n, k) matrix. Bitwise
    identical to the one-shot `round(X @ P.T / ...).argmax(axis=1)`: each
    cosine column is the same full-dim dot product whichever block computes
    it, and the strict-> update keeps the earliest block on ties, matching
    global argmax's first-max rule. SemDeDup/IVF-realistic prototype counts
    (tens of thousands) stay memory-bounded per Arrow batch.

    Rounding-mode caveat vs domain_assign's k<=256 JVM path: np.round is
    half-even while F.round is HALF_UP, so the two paths agree only when no
    cosine lands exactly on a .5 tie at the round_cosine digit. Computed
    float64 cosines (a dot-product quotient) cannot represent an exact
    decimal .00005 tie except on measure-zero inputs, the same assumption
    the pre-existing _feats rounding precedent already makes — but the two
    code paths are not STRICTLY bitwise-identical across the k=256
    boundary."""
    n, k = len(X), P.shape[0]
    b = _PROTO_BLOCK if block is None else block
    rows = np.arange(n)
    best_v = np.full(n, -np.inf)
    best_i = np.zeros(n, dtype=np.int64)
    for s in range(0, k, b):
        Pb = P[s : s + b]
        Cb = np.round(
            (X @ Pb.T) / (xn[:, None] * pn[None, s : s + b]),
            round_cosine,
        )
        bi = Cb.argmax(axis=1)
        bv = Cb[rows, bi]
        upd = bv > best_v
        best_v = np.where(upd, bv, best_v)
        best_i = np.where(upd, bi + s, best_i)
    return best_i.astype(np.int64), best_v


def _band_keys_numpy(
    X: np.ndarray, H: np.ndarray, bands: int, rows_per_band: int
) -> np.ndarray:
    """(n, dim) float matrix -> (n, bands) int64 band-mixed bucket keys.

    Sign pattern of (X @ H) gives bands*rows bits per vector; each band's
    r-bit slice packs into one long. The band index is mixed in by a
    multiply-hash (packed ^ band * odd64) — NOT the old `packed ^ (band <<
    56)`, which wraps for band >= 256 (the size-aware banding can pick
    hundreds of bands at loose thresholds) and silently merged band 146
    with band 402. A multiply-mix collision is ~2^-64 per band pair and
    only merges buckets (extra candidates, removed by exact verification).
    """
    return _pack_band_keys((X @ H) > 0, bands, rows_per_band)


def _pack_band_keys(bits: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """(n, n_bits) bool sign matrix -> (n, bands) band-mixed int64 keys."""
    weights = np.uint64(1) << np.arange(rows_per_band, dtype=np.uint64)
    # uint64 wraparound is the point of the multiply-mix; array arithmetic
    # wraps silently (a numpy-scalar multiply raises RuntimeWarning)
    mixes = np.arange(bands, dtype=np.uint64) * _BAND_MIX
    keys = np.empty((len(bits), bands), dtype=np.int64)
    for b in range(bands):
        block = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
        packed = (block.astype(np.uint64) * weights[None, :]).sum(axis=1)
        keys[:, b] = (packed ^ mixes[b]).view(np.int64)
    return keys


def hyperplane_band_udf(
    dim: int, bands: int, rows_per_band: int, seed: int
):
    """pandas UDF: embedding -> array<long> of per-band bucket keys
    (numpy kernel: `_band_keys_numpy`, mirroring functions/minhash.band_keys).
    """
    H = _hyperplanes(dim, bands * rows_per_band, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def _bands(emb: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        return pd.Series(list(_band_keys_numpy(X, H, bands, rows_per_band)))

    return _bands


def _cosine(a, b) -> F.Column:
    """Interpreted-JVM cosine (reference semantics): three sequential left
    folds. Higher-order lambdas never reach codegen, so this is the SLOW
    path — kept as the definitional twin the Arrow scorer is pinned against;
    hot paths use `cosine_exact` below (bit-identical, ~order-of-magnitude
    faster on verify joins)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


_COSINE_ARROW = None


def cosine_exact(a, b) -> F.Column:
    """Arrow-vectorized cosine, BIT-IDENTICAL to `_cosine` per pair.

    The trick: vectorize ACROSS pairs but loop the dimensions IN ORDER, so
    every per-pair operation — each product, each accumulation step, the
    sqrt, the divide — is the same IEEE-754 double op in the same order as
    the interpreted fold (`acc += x*y` rounds the product then the add,
    exactly like `s + x*y`; numpy never fuses into FMA). Equality to
    `_cosine` is therefore EXACT, not approximate (property-pinned in
    tests/test_embedding.py), which keeps every rounded-threshold and
    rank-tie decision — and so every DuckDB oracle — unchanged while
    removing the interpreted-lambda verify bottleneck (a 1M-vector IVF
    rescore spends its whole budget there; see BENCH/BASELINE.md)."""
    global _COSINE_ARROW
    if _COSINE_ARROW is None:

        @F.pandas_udf("double")
        def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
            if len(va) == 0:
                return pd.Series(np.empty(0, dtype=np.float64))
            A = np.vstack(va.to_numpy())
            B = np.vstack(vb.to_numpy())
            n = len(A)
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for j in range(A.shape[1]):
                x = A[:, j]
                y = B[:, j]
                dot += x * y
                na += x * x
                nb += y * y
            return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

        _COSINE_ARROW = _cos
    return _COSINE_ARROW(a, b)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    config: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    vec_col: str = "embedding",
    bands: int | None = None,
    rows_per_band: int | None = None,
    expected_n: int | None = None,
) -> DataFrame:
    """(id, embedding) -> (id_a, id_b, cosine, channel='embedding') pairs with
    exact cosine >= threshold, candidates from hyperplane-LSH banding.

    Banding auto-adapts to the threshold AND the corpus size
    (`banding_for_threshold`): the S-curve sits below the threshold — at
    0.95 (angle ~18°) a true pair is missed with prob <= 1e-4 — while the
    band width r grows with log2(n) so buckets stay far under the pair
    generator's star cap AND spurious random collisions stay ~linear in n
    (measured at 1M dim-64 vectors: the fixed 128-bit banding put ~3,900
    vectors in every bucket and planted-pair recall collapsed to ~2%;
    recall-only widening (b=46, r=16) produced ~350M spurious verify pairs
    and an OOM; the candidate-bounded rule (b=115, r=24) recalls
    10,000/10,000 planted pairs at ~5M spurious candidates).
    ``expected_n`` skips the one count() job when the caller knows the
    corpus size; explicit bands/rows_per_band skip adaptation entirely.
    Pair generation is the size-aware salted bucket machinery, so a
    degenerate bucket (e.g. all-zero sketches of boilerplate embeddings)
    stars instead of exploding quadratically.
    """
    if bands is None or rows_per_band is None:
        if expected_n is None:
            # one cheap job (parquet footers / cached input); callers on a
            # hot path pass expected_n instead
            expected_n = vectors.count()
        bands, rows_per_band = banding_for_threshold(threshold, n=expected_n)
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    udf = hyperplane_band_udf(dim, bands, rows_per_band, config.minhash_seed)
    banded = v.select("id", udf("v").alias("band_keys"))
    exploded = banded.select(
        "id", F.explode("band_keys").alias("band_key")
    )
    # spill the (id, band) rows once: the salted generator reads its input
    # up to 4x (bucket counts + tier joins); without materialization each
    # read re-runs the hyperplane-sketch UDF over every vector
    from dedup_spark.plans.pipeline import spill

    exploded = spill(exploded, config, "emb_bands")
    cand = salted_pairs_from_buckets(
        exploded,
        channel="embedding",
        nsalt=config.bucket_salts,
    )
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", cosine_exact(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine", "channel")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: cross join + window. The ANN oracle — O(n*q),
    small-scale only."""
    scored = (
        queries.crossJoin(vectors)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", cosine_exact(F.col("qv"), F.col(vec_col)))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "rank", "cosine")
    )


def domain_assign(
    vectors: DataFrame,
    prototypes: np.ndarray,
    id_col: str = "id",
    vec_col: str = "v",
    round_cosine: int = 4,
) -> DataFrame:
    """Nearest-prototype domain assignment: label every vector with the
    prototype (domain) it is most cosine-similar to — the embedding-space
    corpus-organization primitive behind cluster-balanced mixing, domain
    tagging and curriculum construction (the coarse-quantizer assignment of
    IVF exposed as a standalone curation operator).

    `prototypes` is a (k, dim) float array of domain anchor vectors — seed
    documents, trained centroids (`train_centroids`), or external concept
    embeddings. Output: (id, domain_id, cosine) with domain_id the 0-based
    prototype index; ties on the ROUNDED cosine break to the smallest
    domain_id, and rounding happens BEFORE the argmax in engine and oracle
    alike (the ann_topk round-before-rank precedent).

    Plan (100 TB shape): a pure map — one Arrow pass computes all k cosines
    per vector as a single (batch, dim) @ (dim, k) matmul, then a JVM
    `greatest` over k (rounded cosine, -domain) structs picks the winner in
    codegen. ZERO exchanges, no window, no explode; k is a plan-time
    constant so the struct comparison never touches interpreted lambdas.
    Skew-free by construction (every row does identical work).
    """
    P = np.asarray(prototypes, dtype=np.float64)
    if P.ndim != 2 or P.shape[0] < 2:
        raise ValueError("prototypes must be (k>=2, dim)")
    k = P.shape[0]
    pn = np.sqrt((P * P).sum(axis=1))  # |p| per prototype

    @F.pandas_udf(ArrayType(DoubleType()))
    def _cos(emb: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        xn = np.sqrt((X * X).sum(axis=1))
        # cosine = dot / (|x| |p|), same formula the SQL oracle spells out
        C = (X @ P.T) / (xn[:, None] * pn[None, :])
        return pd.Series(list(C))  # ndarray row views, never Python lists

    if k > 256:
        # large-k path: the JVM greatest over k struct children stops
        # fitting whole-stage codegen (64 KB method bound) and the
        # k-element cosine array costs k*8 B per row — pick the winner
        # inside the UDF with the blocked first-max kernel instead (same
        # round-before-argmax + smallest-domain tie rule; identity to the
        # JVM path pinned in tests/test_embedding.py at k>256)
        from pyspark.sql.types import StructField, StructType

        best_schema = StructType(
            [
                StructField("domain_id", LongType()),
                StructField("cosine", DoubleType()),
            ]
        )

        @F.pandas_udf(best_schema)
        def _best(emb: pd.Series) -> pd.DataFrame:
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
            xn = np.sqrt((X * X).sum(axis=1))
            dom, val = _blocked_rounded_argmax(X, P, pn, xn, round_cosine)
            return pd.DataFrame({"domain_id": dom, "cosine": val})

        b = vectors.select(F.col(id_col), _best(vec_col).alias("_b"))
        return b.select(
            F.col(id_col),
            F.col("_b.domain_id").alias("domain_id"),
            F.col("_b.cosine").alias("cosine"),
        )

    scored = vectors.select(F.col(id_col), _cos(vec_col).alias("_c"))
    best = F.greatest(
        *[
            F.struct(
                F.round(F.element_at("_c", i + 1), round_cosine).alias("c"),
                F.lit(-i).cast("long").alias("nd"),
            )
            for i in range(k)
        ]
    )
    return scored.select(
        F.col(id_col),
        (-best.getField("nd")).cast("long").alias("domain_id"),
        best.getField("c").alias("cosine"),
    )


def semantic_dedup(
    vectors: DataFrame,
    prototypes: np.ndarray,
    threshold: float,
    dim: int,
    config: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    vec_col: str = "v",
    round_cosine: int = 4,
    expected_n: int | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its nearest prototype (domain), find within-domain
    pairs with cosine >= threshold, merge them into clusters, and keep ONE
    representative (the min id) per cluster — the embedding-space analogue of
    the text pipeline's cluster-and-pick-representative flow, used to prune
    semantically redundant training data that no lexical channel can see.

    Output: (id, domain_id, rep_id, cluster_size, keep) for EVERY input
    vector — singletons keep themselves with cluster_size 1, so downstream
    `filter(keep)` is the pruned corpus and `1/cluster_size` is the
    duplication-aware sampling weight.

    Threshold semantics match `emb_near_dup_lsh`: the decision compares the
    ROUNDED cosine (round_cosine digits) on both engine and oracle sides,
    with candidates generated a hair below so boundary pairs are decided on
    the rounded value. Only SAME-domain pairs become edges (the SemDeDup
    contract: cross-domain redundancy is intentional corpus diversity).

    Plan (100 TB shape): ONE full-corpus Arrow pass computes BOTH the domain
    assignment and the hyperplane band keys — prototypes and hyperplanes are
    stacked into a single (dim, k + n_bits) matrix so the whole map phase is
    one BLAS matmul per batch — and is spilled ONCE with two column-pruned
    consumers (domains, band explode). Candidates come from the size-aware
    salted bucket machinery (threshold- and corpus-size-adaptive banding,
    skew-proof, never a cross join), verification is exact JVM cosine on the
    rounded value, two 8-byte-id equi-joins tag pair endpoints with domains,
    hash-min connected components merge the surviving edges (O(log d)
    pointer-doubled rounds), and cluster sizes come from a map-side-combined
    groupBy(rep_id) count joined back (AQE-skew-splittable either side —
    never a count window, whose partition would funnel a degenerate giant
    cluster through one task). Near-identical vectors almost always share a
    nearest prototype, so the same-domain filter drops few candidates;
    folding domain_id into the band key would prune them pre-shuffle but
    buys little because verification is already candidate-bounded.
    """
    from pyspark.sql.types import StructField, StructType

    from dedup_spark.operators.components import connected_components
    from dedup_spark.plans.pipeline import spill

    P = np.asarray(prototypes, dtype=np.float64)
    if P.ndim != 2 or P.shape[0] < 2:
        raise ValueError("prototypes must be (k>=2, dim)")
    if P.shape[1] != dim:
        raise ValueError(f"prototypes dim {P.shape[1]} != dim {dim}")
    k = P.shape[0]
    pn = np.sqrt((P * P).sum(axis=1))

    if expected_n is None:
        expected_n = vectors.count()
    gen_threshold = threshold - 10.0 ** -round_cosine
    bands, rows_per_band = banding_for_threshold(gen_threshold, n=expected_n)
    H = _hyperplanes(dim, bands * rows_per_band, config.minhash_seed)
    M = np.hstack([P.T, H])  # (dim, k + n_bits): one matmul does both

    feat_schema = StructType(
        [
            StructField("domain_id", LongType()),
            StructField("band_keys", ArrayType(LongType())),
        ]
    )

    # captured at DEFINITION time so the switch ships with the closure
    # (workers re-import the module; a runtime global read would see the
    # default there)
    proto_block = _PROTO_BLOCK

    @F.pandas_udf(feat_schema)
    def _feats(emb: pd.Series) -> pd.DataFrame:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        xn = np.sqrt((X * X).sum(axis=1))
        if k <= proto_block:
            # fused path (measured win at small k: one BLAS call does
            # prototypes + hyperplanes)
            Y = X @ M  # (n, k + n_bits)
            C = np.round(Y[:, :k] / (xn[:, None] * pn[None, :]), round_cosine)
            # first max = smallest domain_id: identical to domain_assign's
            # JVM greatest-struct tie rule (pinned by the identity test)
            dom = C.argmax(axis=1).astype(np.int64)
            bits = Y[:, k:] > 0
        else:
            # large-k path: never materialize (n, k) — blocked running
            # first-max (bitwise identical: each cosine column is the same
            # full-dim dot product; strict > keeps the earliest block on
            # ties, matching global argmax's first-max rule)
            dom, _ = _blocked_rounded_argmax(
                X, P, pn, xn, round_cosine, block=proto_block
            )
            bits = (X @ H) > 0
        keys = _pack_band_keys(bits, bands, rows_per_band)
        # Fold the domain into every band key: only SAME-domain pairs are
        # edges, so vectors from different domains must never share a
        # bucket — cross-domain candidates are pruned BEFORE the verify
        # join instead of after it (the in-bucket _dom predicate below
        # stays as the correctness guarantee against 64-bit key
        # collisions). uint64 multiply-mix wraps silently as array
        # arithmetic.
        dom_mix = (dom.astype(np.uint64) + np.uint64(1)) * _BAND_MIX
        keys = (keys.view(np.uint64) ^ dom_mix[:, None]).view(np.int64)
        return pd.DataFrame({"domain_id": dom, "band_keys": list(keys)})

    v = vectors.select(
        F.col(id_col).alias("_sd_id"),
        F.col(vec_col).cast("array<double>").alias("_sd_v"),
    )
    feats = v.select("_sd_id", _feats("_sd_v").alias("_f")).select(
        "_sd_id", F.col("_f.domain_id").alias("domain_id"),
        F.col("_f.band_keys").alias("band_keys"),
    )
    # UDF-computed, multi-consumer (domain joins + band explode, and the
    # salted generator reads its input up to 4x): spill exactly once
    feats = spill(feats, config, "semdedup_feats")
    assigned = feats.select("_sd_id", "domain_id")

    # Route by domain population — SemDeDup's unit of work is the domain
    # (the paper does within-cluster pairwise): a domain small enough for
    # the bucket machinery's exhaustive tier (<= PAIR_CAP_CROSS members) is
    # enumerated all-pairs keyed on the DOMAIN itself — recall exactly 1.0,
    # no banding, ONE exploded row per vector instead of `bands` (at loose
    # thresholds banding_for_threshold needs hundreds of bands, so this
    # collapses the generator's input ~bands-fold). Only domains too big to
    # enumerate go through the size-aware hyperplane LSH keys (domain-mixed
    # above, so cross-domain vectors never co-bucket). The domain rides the
    # bucket lists as the pair payload and cross-domain pairs — possible
    # only via a 64-bit key collision between the two keyspaces — are cut
    # inside the bucket task, never after the verify join.
    from dedup_spark.operators.lsh import PAIR_CAP_CROSS

    sizes = feats.groupBy("domain_id").agg(F.count(F.lit(1)).alias("_n"))
    # over-cap domain LIST is bounded (<= one row per prototype) but can
    # still be thousands at SemDeDup-realistic k — route via a broadcast
    # join, never isin(*literals) (a k-literal plan blows up analysis and
    # codegen long before the data is a problem)
    big_df = sizes.filter(F.col("_n") > PAIR_CAP_CROSS).select("domain_id")
    n_big = big_df.count()
    small = (
        feats
        if not n_big
        else feats.join(F.broadcast(big_df), "domain_id", "left_anti")
    )
    exploded = small.select(
        F.col("_sd_id").alias("id"),
        F.xxhash64(F.lit("semdedup_domain"), "domain_id").alias("band_key"),
        F.col("domain_id").alias("_dom"),
    )
    if n_big:
        exploded = exploded.unionByName(
            feats.join(F.broadcast(big_df), "domain_id", "left_semi").select(
                F.col("_sd_id").alias("id"),
                F.explode("band_keys").alias("band_key"),
                F.col("domain_id").alias("_dom"),
            )
        )
    cand = salted_pairs_from_buckets(
        exploded, channel="embedding", nsalt=config.bucket_salts,
        payload_col="_dom",
        pair_predicate=lambda da, db: da == db,
    )
    a = v.select(F.col("_sd_id").alias("id_a"), F.col("_sd_v").alias("va"))
    b = v.select(F.col("_sd_id").alias("id_b"), F.col("_sd_v").alias("vb"))
    pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine", F.round(cosine_exact(F.col("va"), F.col("vb")), round_cosine)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    # Same-domain by construction: the domain is folded into every band key
    # above, so cross-domain vectors never share a bucket and `pairs` cannot
    # contain a cross-domain pair — no post-hoc domain-equality joins needed
    # (pinned by the brute-force identity test, which filters on domain).
    edges = pairs
    labels = connected_components(edges, config)  # (id, cluster_id=min id)
    out = (
        assigned.select(F.col("_sd_id").alias(id_col), "domain_id")
        .join(
            labels.select(F.col("id").alias(id_col), "cluster_id"),
            id_col,
            "left",
        )
        .withColumn("rep_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    # cluster sizes via groupBy + join, NOT a count window: a window
    # partition funnels a whole cluster through ONE task's sort buffer and
    # is exempt from AQE skew splitting — a degenerate giant cluster
    # (zero/padding vectors, boilerplate) would become a single straggler.
    # The aggregate is map-side combined and the join shuffle AQE-splits.
    csize = out.groupBy("rep_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return out.join(csize, "rep_id").select(
        F.col(id_col),
        "domain_id",
        "rep_id",
        "cluster_size",
        (F.col(id_col) == F.col("rep_id")).alias("keep"),
    )


def train_centroids(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str = "id",
    vec_col: str = "v",
    sample_size: int | None = None,
    seed: int = 42,
    iters: int = 10,
) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF, trained on a bounded
    deterministic sample. Returns a unit-norm (n_centroids, dim) ndarray.

    IVF quantizers are trained on a sample by design (FAISS trains on
    ~max(10k, 50k_centroids) vectors regardless of corpus size), so the
    driver-side numpy Lloyd loop is O(sample * k * iters) — independent of
    the corpus. The sample is the first `sample_size` vectors by id
    (deterministic); on a corpus whose id-prefix is biased, pre-filter with a
    hash sample (pmod(xxhash64(id), m) == 0) before calling. Ties and empty
    cells resolve deterministically (stable argmax; an emptied cell keeps its
    previous centroid).

    Driver memory is bounded at any n_centroids: the sample arrives as ONE
    Arrow batch (toPandas, never per-Row python objects), the default
    sample is capped at 1M vectors (the FAISS-style 32/centroid rule,
    clamped — pass sample_size explicitly to override), and the assignment
    step never materializes the full (sample, k) score matrix: it argmaxes
    in row blocks sized so each block's scores stay ~256 MB."""
    if sample_size is None:
        sample_size = min(max(2048, 32 * n_centroids), 1_000_000)
    pdf = (
        vectors.orderBy(F.col(id_col))
        .limit(sample_size)
        .select(F.col(vec_col).cast("array<double>").alias("_v"))
        .toPandas()
    )
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    row_block = max(1, (1 << 25) // max(k, 1))  # ~256 MB of float64 scores
    assign = np.empty(len(X), dtype=np.int64)
    for _ in range(iters):
        for s in range(0, len(X), row_block):
            assign[s : s + row_block] = np.argmax(X[s : s + row_block] @ C.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    C[c] = m / n
    return C


def _centroid_udfs(centroids: np.ndarray, nprobe: int):
    """(assign, probe) pandas UDFs over a broadcast-by-closure centroid
    matrix: assign -> nearest cell id; probe -> the nprobe nearest cell ids.
    Cosine argmax needs no input normalization (positive scaling preserves
    order); centroid rows are unit-norm."""
    from pyspark.sql.types import IntegerType

    C = np.ascontiguousarray(centroids, dtype=np.float64)
    npr = min(nprobe, len(C))

    @F.pandas_udf(IntegerType())
    def _assign(emb: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        return pd.Series(np.argmax(X @ C.T, axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(emb: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        scores = X @ C.T
        # stable argsort on -score: ties break on cell id, deterministic
        order = np.argsort(-scores, axis=1, kind="stable")[:, :npr].astype(np.int32)
        return pd.Series(list(order))

    return _assign, _probe


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int,
    nprobe: int,
    id_col: str = "id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    round_cosine: int | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantizer cells + nprobe probing + exact rescoring.

    Every vector is assigned to exactly ONE cell (vs b band copies under
    hyperplane-LSH banding — the better shuffle shape for top-k retrieval:
    the corpus moves once, keyed by cell), each query probes its `nprobe`
    nearest cells, and exact cosine + a per-query window pick the top k.
    `nprobe == len(centroids)` probes every cell, so each vector is scored
    exactly once and the result equals brute force — the oracle-matched
    contract mode; recall at small nprobe is the tested scale tradeoff.
    Cells are disjoint so no dedup step is needed; a skewed (hot) cell is an
    AQE-splittable equi-join partition, not a window.
    """
    assign, probe = _centroid_udfs(centroids, nprobe)
    vb = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        assign(vec_col).alias("cell"),
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"), F.col("qv"),
        F.explode(probe("qv")).alias("cell"),
    )
    cand = qb.join(vb, "cell").filter(F.col("id") != F.col("query_id"))
    score = cosine_exact(F.col("qv"), F.col("v"))
    if round_cosine is not None:
        score = F.round(score, round_cosine)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return (
        cand.withColumn("cosine", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank", "cosine")
    )


def ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int,
    config: DedupConfig = DEFAULT_CONFIG,
    bands: int = 32,
    rows_per_band: int = 4,
    id_col: str = "id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    round_cosine: int | None = None,
) -> DataFrame:
    """Approximate top-k: LSH-bucketed candidate retrieval + exact rescoring.

    Both sides are banded with the SAME hyperplanes; candidates are vectors
    sharing any band bucket with the query. Shorter bands (r=4) trade
    precision of bucketing for recall of candidates; exact cosine rescoring
    restores ranking quality. **Corpus-size note**: the default r=4 gives 16
    buckets per band, so candidate volume per query grows ~bands*n/16 — fine
    at contract scale, quadratic-ish at millions of vectors (the same size
    blindness measured and fixed for `cosine_near_dup_pairs`). For corpus-
    scale top-k use `ivf_topk` (one cell per vector, the corpus moves once;
    measured at 1M dim-64 vectors / pinned local[8]: 1,000 queries in 53.6 s
    with twin-recall 1.0 at nprobe=32 of 1,024 cells), or pass wider bands
    from `banding_for_threshold(t, n=...)` when a similarity floor t for
    wanted neighbors is known. Scale path: no cross join anywhere — two
    explodes and an equi-join on the band-mixed key. The band join and the
    per-(query, id) dedup move only 8-byte ids (a 128-dim embedding is ~1 KB:
    carrying vectors through the b-way band explode would shuffle every
    vector b times); the deduped candidate list then fetches both vectors
    back via two equi-joins for exact rescoring.

    ``round_cosine`` rounds the score BEFORE ranking (ties then break on id)
    so rankings are comparable against oracles that sort rounded values.
    """
    udf = hyperplane_band_udf(dim, bands, rows_per_band, config.minhash_seed)
    # band keys are band-mixed inside the UDF (index xored into the value),
    # so the equi-join needs only the single long key
    vb = vectors.select(
        F.col(id_col).alias("id"),
        F.explode(udf(vec_col)).alias("band_key"),
    )
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(udf("qv")).alias("band_key"),
    )
    cand = (
        qb.join(vb, ["band_key"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", "id")
        .dropDuplicates(["query_id", "id"])
        .join(
            queries.select(F.col(query_id_col).alias("query_id"), "qv"),
            "query_id",
        )
        .join(
            vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            "id",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    score = cosine_exact(F.col("qv"), F.col("v"))
    if round_cosine is not None:
        score = F.round(score, round_cosine)
    return (
        cand.withColumn("cosine", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank", "cosine")
    )
