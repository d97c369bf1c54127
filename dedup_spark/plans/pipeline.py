"""End-to-end dedup pipeline (SURVEY.md §3.4 target lifecycle).

    ingest -> normalize -> exact channel
                        -> MinHash-LSH channel -> Jaccard verify
                        -> SimHash channel     -> Jaccard verify
           -> union pairs -> connected components -> representatives -> sinks

Reproduces the reference lifecycle (scan -> prune -> hash-group -> verify ->
harvest -> deal_with_duplicates, /root/reference/src/find_duplicates_map.cpp:147-208
+ /root/reference/src/deal_with_duplicates.cpp:265-355) with the near-dup
channels the north rule adds.

Scale notes: the shingle table (id, shingle_hashes) is computed once, cached,
and reused by signature generation and verification; `html` is never selected
past ingest (column pruning keeps it out of every scan); all joins are equi-
joins on id or bucket keys with AQE skew splitting enabled.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG
from dedup_spark.functions.signatures import (
    doc_signature_udf,
    shingle_hashes_udf,
    token_hashes,
)
from dedup_spark.functions.simhash import hamming_distance, simhash_blocks
from dedup_spark.operators.components import connected_components
from dedup_spark.operators.ids import assign_dense_ids
from dedup_spark.operators.lsh import salted_pairs_from_buckets
from dedup_spark.operators.representatives import select_representatives
from dedup_spark.operators.scan import ingest_pages
from dedup_spark.operators.summarize import summarize_clusters
from dedup_spark.operators.verify import verify_pairs_jaccard


@dataclass
class DedupResult:
    members: DataFrame  # url, cluster_id, is_representative, source, warc_ts
    pairs: DataFrame  # id_a, id_b, channel
    summary: DataFrame  # n_duplicate_docs, n_duplicate_sets, bytes_reclaimable
    channel_stats: DataFrame | None = None  # channel, n_pairs (provenance mix)


_SPILL_DIRS: list[str] = []


def _cleanup_spill_dirs() -> None:
    import shutil

    for p in _SPILL_DIRS:
        shutil.rmtree(p, ignore_errors=True)
    _SPILL_DIRS.clear()


def register_temp_dir(path: str) -> None:
    """Register a run-scoped temp dir for removal at interpreter exit.

    For dirs that must outlive the call that created them because returned
    DataFrames lazily re-read them (spills, throwaway checkpoint roots)."""
    import atexit

    if not _SPILL_DIRS:
        atexit.register(_cleanup_spill_dirs)
    _SPILL_DIRS.append(path)


def spill(df: DataFrame, config: DedupConfig, name: str) -> DataFrame:
    """Materialize a multi-consumer intermediate as parquet and read it back.

    Preferred over .persist() for wide columns (shingle/signature arrays):
    the on-heap columnar cache build is serial-ish under high task concurrency
    and pressures GC, while a parquet spill is a streaming columnar write
    through the OS page cache and gives every consumer a clean scan with
    column pruning. On a cluster this is the classic stage-output checkpoint.

    Spill dirs are registered for removal at interpreter exit (they must
    outlive the run: returned DataFrames lazily re-read them), so repeated
    runs in one process no longer accumulate dead parquet on disk forever.

    config.spill_mode == "cache" switches to plain .persist() — the small-
    corpus mode (see DedupConfig): at driver scale the four parquet barriers
    are ~half the pipeline wall, while tiny cached frames cost nothing. The
    first consumer materializes the cache; results are identical.
    """
    if config.spill_mode == "cache":
        return df.persist()
    return spill_path(df, name, config.spill_dir)


def spill_path(df: DataFrame, name: str, base_dir: str | None = None) -> DataFrame:
    """`spill` for callers without a DedupConfig (see its docstring)."""
    import tempfile
    import uuid

    base = base_dir or tempfile.gettempdir()
    path = f"{base}/dedup_spill_{name}_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(path)
    register_temp_dir(path)
    return df.sparkSession.read.parquet(path)


# Pair provenance priority, highest first: when several channels emit the
# same pair, the pair merges keep the channel listed first here.
CHANNEL_PRIORITY = ("exact", "minhash", "simhash", "suffix")
DEFAULT_CHANNELS = ("exact", "minhash", "simhash")


def enabled_channels(
    config: DedupConfig, channels: tuple[str, ...] = DEFAULT_CHANNELS
) -> tuple[str, ...]:
    """`channels` plus the suffix channel when config.suffix_enabled."""
    if config.suffix_enabled and "suffix" not in channels:
        return channels + ("suffix",)
    return channels


def _channel_rank(channel: str) -> F.Column:
    """Channel-name column -> its 1-based int rank in CHANNEL_PRIORITY. The
    pair merges take an int min of the rank and decode it after
    (_channel_name): a string-buffered min_by(channel, rank) cannot use
    HashAggregate's mutable fixed-width buffer, so Catalyst would plan a
    SortAggregate — a full sort of the pair stream."""
    names = F.array(*map(F.lit, CHANNEL_PRIORITY))
    return F.array_position(names, F.col(channel)).cast("int")


def _channel_name(rank: str) -> F.Column:
    """Inverse of _channel_rank."""
    return F.element_at(F.array(*map(F.lit, CHANNEL_PRIORITY)), F.col(rank))


def channel_keys(docs: DataFrame, config: DedupConfig, channel: str) -> DataFrame:
    """docs -> one row per (doc, bucket key) of `channel`: the columns of
    `docs` plus the long `bkey` the channel buckets on (the array a key is
    exploded from is dropped). The one definition of each channel's bucket
    key, read by the pair generators in `channel_pair_sets`, by its bucket
    restriction, and by the resume fingerprints (plans/incremental.py), so
    a resumed run can never bucket differently from a cold one:

    - exact: xxhash64(text) (the `text_hash` of operators/exact.py);
    - minhash: each band-mixed key of `bands`;
    - simhash: each multi-index probe key of `simhash`, with the probe-table
      index folded in (the generator buckets on ONE long; one block value in
      two probe tables must not co-bucket);
    - suffix: each winnowed fingerprint of `sfps`.

    Docs with no tokens (null simhash/bands/sfps) get no near or suffix
    keys."""
    if channel == "exact":
        return docs.withColumn("bkey", F.xxhash64("text"))
    if channel == "simhash":
        keep = docs.columns
        return (
            docs.filter(F.col("simhash").isNotNull())
            .select(
                *keep,
                F.posexplode(simhash_blocks("simhash", config)).alias(
                    "band_idx", "band_key"
                ),
            )
            .select(*keep, F.xxhash64("band_idx", "band_key").alias("bkey"))
        )
    src = {"minhash": "bands", "suffix": "sfps"}[channel]
    return docs.select(
        *(c for c in docs.columns if c != src), F.explode(src).alias("bkey")
    )


def near_bucket_pairs(
    keys: DataFrame, config: DedupConfig, channel: str, dedup: bool = True
) -> DataFrame:
    """minhash or simhash `channel_keys` rows -> that channel's candidate
    pairs (id_a < id_b, channel) from the size-aware salted generator
    (operators/lsh). SimHash members carry their fingerprint as the
    generator's payload, so the Hamming cut runs inside the bucket task."""
    kw = {}
    if channel == "simhash":
        hmax = F.lit(config.simhash_hamming_max)
        kw = dict(
            payload_col="simhash",
            pair_predicate=lambda pa, pb: hamming_distance(pa, pb) <= hmax,
        )
    return salted_pairs_from_buckets(
        keys.withColumnRenamed("bkey", "band_key"),
        channel=channel,
        nsalt=config.bucket_salts,
        dedup=dedup,
        **kw,
    ).select("id_a", "id_b", "channel")


def simhash_candidate_pairs(
    sims: DataFrame, config: DedupConfig, dedup: bool = True
) -> DataFrame:
    """(id, simhash) -> pairs within the Hamming ball, via block probing.

    Bucket on (block_idx, block_value): pigeonhole guarantees every pair
    within hamming_max shares a block. Pair generation goes through the
    size-aware salted bucket machinery shared with the MinHash channel
    (operators/lsh): blocks holding <= pair_cap_cross (1024) docs are
    enumerated EXHAUSTIVELY — single-task all-pairs below pair_cap_all,
    triangulated cross-salt blocks between the caps — so the pigeonhole
    guarantee carries through to the emitted pair set with no hub mediation.
    Only an ultra-hot block (block values are 16-bit, so at web scale a
    block holds ~n/2^16 docs and an uncapped self-join would explode
    quadratically) falls back to the salted star, where pairs inside it are
    hub-connected and must survive the Hamming cut + Jaccard verification
    through their hubs — the explicit ultra-hot recall tradeoff documented
    in operators/lsh (surfaced via hot_buckets, never silent; planted-pair
    test in tests/test_lsh_salting.py pins the exhaustive tier).

    The Hamming-distance cut runs INSIDE the bucket task: the 8-byte
    fingerprint rides the collect_list as a member payload and the generator
    applies bit_count(xor) <= hamming_max per pair inline
    (pair_predicate). 16-bit block values collide heavily by design —
    measured at 600k docs: 11.28M block-bucket pairs, 72k within the ball —
    so generating first and filtering after shuffled those 11.2M rows
    through a distinct plus TWO fingerprint equi-joins. The emitted pair set
    is identical (property-pinned in tests/test_lsh_salting.py).
    """
    keys = channel_keys(sims.select("id", "simhash"), config, "simhash")
    return near_bucket_pairs(keys, config, "simhash", dedup)


def channel_pair_sets(
    docs: DataFrame,
    config: DedupConfig,
    channels: tuple[str, ...],
    buckets: DataFrame | None = None,
) -> DataFrame:
    """docs(id, text) -> per-channel verified pairs WITHOUT the final
    cross-channel priority merge: (id_a, id_b, channel, jaccard, ghash).
    The one pair builder of both the cold run and the resumed run.

    `ghash` is the exact channel's content-hash group key (null for the
    other channels). Exact pairs are a hub STAR per content-equality class —
    not pair-local — so any consumer that caches pair sets incrementally
    (plans/incremental.py) must attribute each exact pair to its bucket;
    minhash/simhash rows are pair-local below the ultra-hot cap (exhaustive
    tiers emit every in-bucket pair) and need no attribution.

    If `docs` already carries `simhash`/`bands` (and `sfps`) columns (the
    checkpointed path precomputes them per input partition so a resume
    never re-signs unchanged partitions), the signature and winnow UDFs are
    skipped and the pair generators read the precomputed features; rows
    with null simhash are docs that produced no tokens (the same set the
    UDF path filters with size(_tok) > 0).

    `buckets`, when given, is a (channel, bkey) frame: each channel then
    semi-joins its `channel_keys` rows on its listed keys before pair
    generation, so only docs in those buckets pair, over the buckets' full
    membership — a resumed run regenerating its stale buckets. The caller
    must have refused every bucket over the exhaustive caps (the
    incremental ultra-hot guard), so the suffix channel verifies each
    bucket whole and plans no salted star tier."""
    from dedup_spark.operators.exact import exact_dup_members

    def keyed(src: DataFrame, channel: str) -> DataFrame:
        keys = channel_keys(src, config, channel)
        if buckets is None:
            return keys
        listed = buckets.filter(F.col("channel") == channel).select("bkey")
        return keys.join(listed, "bkey", "left_semi")

    null_ghash = F.lit(None).cast("long").alias("ghash")
    all_pairs = []

    if "exact" in channels:
        m = exact_dup_members(
            keyed(docs.select("id", "text"), "exact"),
            id_col="id", text_col="text", config=config,
        )
        all_pairs.append(
            m.filter(F.col("id") != F.col("exact_cluster_id")).select(
                F.least("exact_cluster_id", "id").alias("id_a"),
                F.greatest("exact_cluster_id", "id").alias("id_b"),
                F.lit("exact").alias("channel"),
                F.lit(1.0).alias("jaccard"),
                F.col("text_hash").alias("ghash"),
            )
        )

    need_shingles = bool({"minhash", "simhash"} & set(channels))
    precomputed = {"simhash", "bands"} <= set(docs.columns)
    if need_shingles and precomputed:
        # docs is a column-pruned read of the one combined spill (or of the
        # per-partition checkpoint parquet), so the generators' multi-read
        # pattern re-scans parquet, never a UDF — the spill-before-multi-read
        # rule holds with zero extra materialization.
        feats = docs.filter(F.col("simhash").isNotNull()).select(
            "id", "simhash", "bands"
        )
    elif need_shingles:
        # fused hot path: one cheap JVM lambda (token xxhash64) + ONE Arrow
        # round trip computing MinHash band keys and SimHash together
        # (functions/signatures.py — interpreted Catalyst lambdas for string
        # shingling measured ~70x slower than this).
        # include_signature=False + include_shingles=False: neither the raw
        # 128-long signatures nor the ~130-long shingle arrays leave the
        # Python worker (bands are folded in-UDF) — together ~2 GB less
        # Arrow serde per 10^6 docs, and the feats spill shrinks ~785 MB ->
        # ~170 MB per 600k docs. Shingle sets are recomputed lazily below
        # for ONLY the candidate-involved docs (measured 8% at 600k).
        feats = (
            docs.select("id", token_hashes("text").alias("_tok"))
            .filter(F.size("_tok") > 0)  # == old size(shingle_hashes) > 0
            .select(
                "id",
                doc_signature_udf(
                    config, include_signature=False, include_shingles=False
                )(F.col("_tok")).alias("s"),
            )
            .select("id", "s.simhash", "s.bands")
        )
        feats = spill(feats, config, "feats")

    # band keys are precomputed inside the fused UDF (numpy) — the JVM
    # xxhash64(slice(...)) transform was interpreted per band and flat
    # across core counts
    near_cands = [
        near_bucket_pairs(keyed(feats.select("id", feat), ch), config, ch)
        for ch, feat in (("minhash", "bands"), ("simhash", "simhash"))
        if ch in channels
    ]
    if near_cands:
        # dedupe candidates across channels (keep highest-priority
        # provenance) BEFORE verification, so the expensive join against the
        # wide shingle arrays runs ONCE over the union instead of once per
        # channel.
        # Per-channel distinct INSIDE the generators is kept deliberately:
        # folding it into this merge (dedup=False channels + one grouped
        # shuffle over the raw ~32x-replicated pair stream) was A-B-A-B
        # measured 35% SLOWER e2e at 600k/local[8] pinned (old 71.3/77.5 s
        # vs folded 108.9/96.4 s, two interleaved campaigns) — the per-
        # channel distinct's early collapse beats the saved shuffle. Don't
        # retry without fresh evidence.
        cand = merge_near_candidates(near_cands)
        all_pairs.append(
            verify_near_candidates(docs, cand, config).withColumn(
                "ghash", null_ghash
            )
        )

    if "suffix" in channels:
        from dedup_spark.operators.lsh import PAIR_CAP_ALL
        from dedup_spark.operators.suffix import (
            suffix_bucket_pairs,
            suffix_fingerprints,
        )

        # star topology on hot fingerprint buckets: CC only needs
        # connectivity. Precomputed per-doc winnow fingerprints (the
        # checkpointed path stores them per partition) skip the O(tokens)
        # winnow UDF here entirely.
        fps = suffix_fingerprints(
            docs, config, fps_col="sfps" if "sfps" in docs.columns else None
        )
        sp = suffix_bucket_pairs(
            keyed(fps, "suffix"), docs, config,
            pair_cap_all=PAIR_CAP_ALL if buckets is None else None,
        ).select(
            "id_a", "id_b", "channel",
            F.lit(None).cast("double").alias("jaccard"), null_ghash,
        )
        all_pairs.append(sp)

    pairs = all_pairs[0]
    for p in all_pairs[1:]:
        pairs = pairs.unionByName(p)
    return pairs


def merge_near_candidates(near_cands: list[DataFrame]) -> DataFrame:
    """Union the minhash/simhash candidate sets keeping highest-priority
    provenance (CHANNEL_PRIORITY), so the expensive verify join runs ONCE
    over the union instead of once per channel. Priority rides a primitive
    int min decoded after (see _channel_rank)."""
    cand = near_cands[0]
    for c in near_cands[1:]:
        cand = cand.unionByName(c)
    if len(near_cands) > 1:
        cand = (
            cand.select("id_a", "id_b", _channel_rank("channel").alias("_p"))
            .groupBy("id_a", "id_b")
            .agg(F.min("_p").alias("_p"))
            .select("id_a", "id_b", _channel_name("_p").alias("channel"))
        )
    return cand


def verify_near_candidates(
    docs: DataFrame, cand: DataFrame, config: DedupConfig
) -> DataFrame:
    """Lazy-shingle Jaccard verification of near-dup candidate pairs.

    Computes the k-window hash sets for ONLY the docs that appear in a
    candidate pair (the same window polynomial as the signature UDF —
    bit-identical arrays), instead of shipping and spilling shingle arrays
    for the whole corpus. `cand` is spilled because it feeds both the id
    list and the verify join (recomputing it would re-run the pair
    generators)."""
    cand = spill(cand, config, "cand")
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    ver_shingles = (
        docs.join(cand_ids, "id", "left_semi")
        .select(
            "id",
            shingle_hashes_udf(config)(token_hashes("text")).alias(
                "shingle_hashes"
            ),
        )
    )
    # read twice by the verify join (a and b sides)
    ver_shingles = spill(ver_shingles, config, "ver_sh")
    return verify_pairs_jaccard(cand, ver_shingles, config)


def merge_channel_pairs(pairs: DataFrame) -> DataFrame:
    """Cross-channel dedup keeping highest-priority provenance
    (CHANNEL_PRIORITY) and the max jaccard. Priority is an int min + decode
    (see _channel_rank)."""
    return (
        pairs.select(
            "id_a", "id_b", _channel_rank("channel").alias("_prio"), "jaccard"
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("_prio").alias("_prio"),
            F.max("jaccard").alias("jaccard"),
        )
        .select("id_a", "id_b", _channel_name("_prio").alias("channel"), "jaccard")
    )


def candidate_and_verified_pairs(
    docs: DataFrame, config: DedupConfig, channels: tuple[str, ...]
) -> DataFrame:
    """docs(id, text) -> verified pairs (id_a, id_b, channel, jaccard) from
    all enabled channels, deduped with channel priority CHANNEL_PRIORITY
    (see channel_pair_sets for the per-channel semantics)."""
    return merge_channel_pairs(channel_pair_sets(docs, config, channels))


def run_dedup(
    pages: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    channels: tuple[str, ...] = DEFAULT_CHANNELS,
) -> DedupResult:
    channels = enabled_channels(config, channels)
    # checkpointed path: per-partition precomputed features ride the input
    # (see plans/checkpoint.py) and must survive ingest/id-assignment so the
    # pair generators can skip the signature UDF on resume
    precomputed = {"simhash", "bands"} <= set(pages.columns)
    feat_cols = ["simhash", "bands"] if precomputed else []
    ingested = ingest_pages(pages, config)

    # compact long ids for every shuffle-heavy stage (operators/ids.py): band
    # explode x32, pair gen, and CC iterations all key on the id — an 8-byte
    # long instead of a 30-80 byte url string cuts shuffle volume 4-10x.
    # nid follows url sort order, so min(nid) and min(url) pick the same hub.
    with_ids = assign_dense_ids(
        ingested.select(
            "url",
            "text",
            # try_cast: a source with no trailing digits (e.g. a WARC
            # segment file name) must rank 0, not throw under ANSI cast
            F.coalesce(
                F.regexp_extract("source", r"(\d+)$", 1).try_cast("int"),
                F.lit(0),
            ).alias("source_rank"),
            "warc_ts",
            F.length("text").cast("long").alias("doc_bytes"),
            *feat_cols,
        ),
        "url",
        "nid",
    )
    # ONE spill of the id-assigned table; docs/idmap are column-pruned reads
    # of it (parquet scans each consumer's columns only), saving a second
    # full pass over the text column. The spill also pins the (run-stable)
    # nid assignment for every downstream consumer.
    combined = spill(
        with_ids.select(
            "nid", "url", "text", "source_rank", "warc_ts", "doc_bytes",
            *feat_cols,
        ),
        config,
        "docs",
    )
    docs = combined.select(F.col("nid").alias("id"), "text", *feat_cols)
    idmap = combined.select("nid", "url", "source_rank", "warc_ts", "doc_bytes")

    # verified pairs are tiny relative to docs; persist so CC's checkpoint and
    # the returned pairs handle never recompute the candidate channels
    pairs = candidate_and_verified_pairs(docs, config, channels).persist()
    labels = connected_components(pairs, config)

    hubs = idmap.select(
        F.col("nid").alias("cluster_id"), F.col("url").alias("_hub_url")
    )
    members = (
        labels.join(idmap, labels.id == idmap.nid)
        .join(hubs, "cluster_id")
        .select(
            "url",
            F.col("_hub_url").alias("cluster_id"),
            "source_rank",
            "warc_ts",
            "doc_bytes",
        )
    )
    members = select_representatives(
        members,
        cluster_col="cluster_id",
        order_cols=[F.col("source_rank").asc(), F.col("warc_ts").asc()],
        id_col="url",
    )
    summary = summarize_clusters(members, bytes_col="doc_bytes")
    channel_stats = pairs.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return DedupResult(
        members=members, pairs=pairs, summary=summary, channel_stats=channel_stats
    )
