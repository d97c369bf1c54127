"""LSH bucket pair generation (N4 + V2 + N10 in SURVEY.md §2).

The reference's join-shaped work is within-bucket pair enumeration
(/root/reference/src/find_duplicates_vector.cpp:191-206); here buckets come
from MinHash band keys. Pair generation is the classic scale hazard: a bucket
of n rows implies n(n-1)/2 pairs, and boilerplate pages create huge buckets.

Skew strategy (explicit — Catalyst/AQE can split skewed *joins* but cannot fix
within-group pair explosion). `salted_pairs_from_buckets` counts bucket
sizes first (one partial-aggregated shuffle; the count is map-side
combinable so hot keys cannot straggle a reducer), then routes buckets by
size:

  - buckets with n <= pair_cap_cross — the overwhelming majority — are
    exhaustive: one sorted collect_list per bucket (<= 1024 ids, 8 KB) and
    ALL pairs generated inline (<= ~524k pairs from one bounded task).
    Enumeration below the cap is exhaustive with NO hub mediation and no
    salting, so no cross-salt recall hole: two true near-dups never depend
    on a third doc surviving downstream Hamming/Jaccard verification.
  - ultra-hot buckets (n > pair_cap_cross) get the salted two-level star:
    per-salt sub-buckets emit all pairs if small else a star around their
    min-id hub, and the <= nsalt per-bucket hubs are then fully paired
    (second, tiny shuffle). No task ever holds more than ~bucket/nsalt
    members. The transitive closure equals the unsalted bucket's, which is
    what connected components needs.

  RECALL TRADEOFF inside ultra-hot buckets (explicit, not silent): star/hub
  edges still have to pass downstream verification (Jaccard), so two true
  near-dups whose only shared buckets are ultra-hot are connected through hub
  docs that may fail the verify cut. At the default pair_cap_cross=1024 this
  tier is reached only by degenerate boilerplate clusters (>1024 docs sharing
  a band key), which are near-identical in practice — that is what makes them
  hot — so hubs verify against members; every hot bucket is nonetheless
  surfaced via `hot_buckets` so the cap is auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG

# inside ultra-hot buckets, per-salt sub-buckets emit all pairs below this
# size and a min-id star above it (<= 2016 pairs/sub-bucket either way);
# also the suffix channel's exhaustive cap and the `hot_buckets` report
# threshold.
PAIR_CAP_ALL = 64
# exhaustive enumeration up to this bucket size: <= ~524k pairs/bucket from
# one bounded task; beyond it the salted two-level star caps quadratic
# blowup for degenerate boilerplate clusters.
PAIR_CAP_CROSS = 1024

# Bucket key is the single long `band_key`. Every producer mixes the band /
# probe-table index INTO the key value (MinHash band keys are seeded by band
# index in band_keys_from_signatures, hyperplane keys xor the band index in,
# SimHash block keys go through xxhash64(block_idx, value)), so carrying a
# separate band_idx column through the generator's four reads and its counts
# shuffle was 8 B/row of pure redundancy on the biggest shuffle in the
# near-dup path. A spurious key collision across bands merely merges two
# buckets — extra candidates that downstream Hamming/Jaccard verification
# filters; recall can only gain.
_KEYS = ["band_key"]


def _all_pairs(members, pred=None) -> F.Column:
    """Inline all-pairs of a sorted member array:
    flatten(transform(members, (x, i) -> transform(tail after i, y -> (x, y)))).

    With ``pred``, members are (id, p) structs and only pairs satisfying
    pred(x.p, y.p) are emitted — the pair filter runs INSIDE the bucket task,
    so failing pairs never reach the explode/distinct shuffle (the SimHash
    channel's Hamming cut rejects ~99.4% of block-bucket pairs at 600k docs:
    11.28M generated -> 72k kept, measured)."""

    def inner(x, i):
        rest = F.slice(members, i + 2, F.size(members))
        if pred is None:
            return F.transform(
                rest, lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))
            )
        return F.transform(
            F.filter(rest, lambda y: pred(x["p"], y["p"])),
            lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b")),
        )

    return F.flatten(F.transform(members, inner))


def _star_pairs(members, pred=None) -> F.Column:
    """Hub star: members[0] (min id after sort_array) paired with the rest.

    With ``pred``, members are (id, p) structs and spokes failing
    pred(hub.p, y.p) are dropped inline — identical to generating the spoke
    and filtering it downstream, minus the shuffle."""
    hub = F.element_at(members, 1)
    rest = F.slice(members, 2, F.size(members))
    if pred is None:
        return F.transform(
            rest, lambda y: F.struct(hub.alias("id_a"), y.alias("id_b"))
        )
    return F.transform(
        F.filter(rest, lambda y: pred(hub["p"], y["p"])),
        lambda y: F.struct(hub["id"].alias("id_a"), y["id"].alias("id_b")),
    )


def salted_pairs_from_buckets(
    exploded: DataFrame,
    channel: str,
    nsalt: int,
    pair_cap_all: int = PAIR_CAP_ALL,
    pair_cap_cross: int = PAIR_CAP_CROSS,
    payload_col: str | None = None,
    pair_predicate=None,
    dedup: bool = True,
) -> DataFrame:
    """Size-aware skew-proof pair generation (see module docstring).

    Exhaustive (identical to the unsalted all-pairs enumeration) for every
    bucket with <= pair_cap_cross members — one bounded collect_list task per
    bucket — and a salted two-level star only for ultra-hot buckets, whose
    transitive closure equals the unsalted bucket's.

    ``payload_col`` + ``pair_predicate``: carry a per-member payload column
    into the bucket lists and emit only pairs with
    pair_predicate(payload_a, payload_b) true — the pair filter runs inside
    the bucket task instead of as a post-generation join, so rejected pairs
    never touch a shuffle. The emitted pair set is IDENTICAL to generating
    all pairs and filtering afterwards (property-pinned); connectivity
    semantics of the ultra-hot star tier are unchanged because star edges
    always had to survive the same downstream cut. Used by the SimHash
    channel (payload = the 8-byte fingerprint, predicate = Hamming <= max):
    at 600k docs this keeps 11.2M block-collision pairs out of the distinct
    shuffle and removes both post-generation fingerprint joins.

    NOTE: reads `exploded` up to 4x (counts + the exhaustive-tier semi-join +
    two hot-tier consumers); spill() any UDF-computed input first or the UDF
    re-runs per read. A fully single-pass shape (one salted aggregate,
    spilled, re-read per tier) was built and A-B-A-measured 11% SLOWER e2e at
    600k/local[8]: collect_list partials over the ~95%-singleton bucket
    population plus the materialization cost more than the pruned re-reads.

    ``dedup=False`` skips the final cross-bucket ``distinct()`` and returns
    raw generated pairs (a pair co-bucketed in b bands appears up to b
    times). For a caller that immediately groupBy(id_a, id_b)-merges pairs
    from several channels (the pipeline), the per-channel distinct is a
    redundant extra shuffle of the same rows — one grouped shuffle over the
    channel union dedups identically (map-side partial aggregation collapses
    the ~32x band replication exactly like distinct's partials would).
    """
    if pair_cap_cross < pair_cap_all:
        pair_cap_cross = pair_cap_all
    pred = pair_predicate
    if pred is not None and payload_col is None:
        raise ValueError("pair_predicate requires payload_col")
    member = (
        F.struct(F.col("id").alias("id"), F.col(payload_col).alias("p"))
        if pred is not None
        else F.col("id")
    )
    counts = exploded.groupBy(*_KEYS).agg(F.count(F.lit(1)).alias("_n"))
    members = F.col("members")
    n = F.size(members)

    # small + mid buckets (2..pair_cap_cross): exhaustive all-pairs. The
    # semi-join keeps only pair-capable buckets BEFORE the heavy collect_list
    # shuffle — on web corpora the vast majority of band buckets are
    # singletons (no pair possible), so this shrinks the expensive
    # aggregation ~10x; the eligible key list is pair-density-sized and AQE
    # broadcasts it (measured: BroadcastHashJoin at runtime). A bucket at the
    # cap collects <=1024 ids (8 KB) and emits <=~524k pairs from one bounded
    # task.
    eligible = counts.filter(
        (F.col("_n") >= 2) & (F.col("_n") <= F.lit(pair_cap_cross))
    ).select(*_KEYS)
    smallmid = (
        exploded.join(eligible, _KEYS, "left_semi")
        .groupBy(*_KEYS)
        .agg(F.sort_array(F.collect_list(member)).alias("members"))
        .filter(n >= 2)
        .select(F.explode(_all_pairs(members, pred)).alias("p"))
        .select("p.id_a", "p.id_b")
    )

    # ultra-hot buckets: per-salt sub-buckets. The salt count scales with
    # the bucket (_n is already computed): ceil(_n / pair_cap_cross) salts
    # — floored at the configured nsalt — so per-task collect_list payload
    # is bounded by ~pair_cap_cross members NO MATTER the bucket size (a
    # fixed salt count would make the "bucket/nsalt per task" claim
    # unbounded: a 10^8-member boilerplate bucket at nsalt=8 is 1.25e7
    # members in one aggregation buffer). Behavior is unchanged below
    # nsalt*pair_cap_cross members. Sub-lists are used as-is (never
    # re-assembled per key); salt derives from (_n, id) only, so retries
    # and speculative attempts re-derive it identically.
    hot = exploded.join(
        counts.filter(F.col("_n") > F.lit(pair_cap_cross)).select(*_KEYS, "_n"),
        _KEYS,
    ).withColumn(
        "_ns",
        F.greatest(
            F.lit(nsalt),
            F.ceil(F.col("_n") / F.lit(pair_cap_cross)).cast("int"),
        ),
    )
    sub = (
        hot.withColumn("salt", F.pmod(F.xxhash64("id"), F.col("_ns")))
        .groupBy(*_KEYS, "salt")
        .agg(F.sort_array(F.collect_list(member)).alias("members"))
    )
    level1 = (
        sub.filter(n >= 2)
        .select(
            F.explode(
                F.when(
                    n <= F.lit(pair_cap_all), _all_pairs(members, pred)
                ).otherwise(_star_pairs(members, pred))
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    # level 2: connect sub-buckets via their hubs. Few hubs (the common
    # case: _ns salts) pair exhaustively; past pair_cap_cross hubs (bucket
    # > pair_cap_cross^2 members) the hubs themselves ride a star — the
    # same hub-of-hubs connectivity argument one level up, keeping level-2
    # pair volume linear in hub count instead of quadratic.
    hubs = sub.groupBy(*_KEYS).agg(
        F.sort_array(F.collect_set(F.element_at(members, 1))).alias("members")
    )
    level2 = (
        hubs.filter(n >= 2)
        .select(
            F.explode(
                F.when(
                    n <= F.lit(pair_cap_cross), _all_pairs(members, pred)
                ).otherwise(_star_pairs(members, pred))
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    raw = smallmid.unionByName(level1).unionByName(level2)
    if dedup:
        raw = raw.distinct()
    return raw.withColumn("channel", F.lit(channel))


def lsh_candidate_pairs(
    with_bands: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    channel: str = "minhash",
    dedup: bool = True,
) -> DataFrame:
    """Distinct candidate pairs from MinHash band-bucket co-membership
    (size-aware salted generation — the scale path). ``dedup=False`` defers
    cross-bucket dedup to the caller's own pair-merge shuffle.

    (id, band_keys) input; the buckets and pairs are the pipeline's minhash
    channel's own (plans/pipeline.channel_keys -> near_bucket_pairs), so
    callers of this entry point run the generator `run_dedup` runs."""
    from dedup_spark.plans.pipeline import channel_keys, near_bucket_pairs

    banded = with_bands.select(
        F.col(id_col).alias("id"), F.col("band_keys").alias("bands")
    )
    pairs = near_bucket_pairs(
        channel_keys(banded, config, "minhash"), config, "minhash", dedup
    )
    return pairs.withColumn("channel", F.lit(channel))


def hot_buckets(
    with_bands: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "id",
) -> DataFrame:
    """Report buckets above the all-pairs cap (N10: no silent caps).

    Diagnostic path: keeps the explicit (band_idx, band_key) pair so a hot
    bucket is attributable to its band."""
    exploded = with_bands.select(
        F.col(id_col).alias("id"),
        F.posexplode("band_keys").alias("band_idx", "band_key"),
    )
    return (
        exploded.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > PAIR_CAP_ALL)
        .orderBy(F.col("n_members").desc())
    )
