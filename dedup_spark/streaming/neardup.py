"""Streaming near-dup front door (foreachBatch incremental index).

Every micro-batch runs plain JVM batch plans (the same fused shingle UDF +
8-byte-hash equi-joins as the batch engine) against a growing parquet
shingle index, then appends itself to the index. No per-key Python, no
Python state; cross-batch pairs appear when their later member's batch
arrives, within-batch pairs immediately, and no pair repeats (index x index
is never re-joined). State is the on-disk index — prunable by event time
for a TTL (a watermark trade applied as an index filter).

Per-key Python state (applyInPandasWithState) pays a per-GROUP Python
invocation (~100 µs); shingle-granular keys mean ~130 groups per page, and
a shingle-keyed stateful design measured 17 pages/s on 8 cores at 6k pages
(BENCH/stream_neardup.json). Keep per-key state for DOC-granular keys
(content hash: `stateful.stream_first_seen`); never for token/shingle-
granular keys.

Per-batch cost grows with the index (delta-vs-base, like
`curation.incremental_near_dups`); at a real crawl front door the index
join is the same shape the 100 TB projection already sizes for c2.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG
from dedup_spark.functions.signatures import shingle_hashes_udf, token_hashes

_FEATS = "url string, warc_ts timestamp, shingle_hashes array<bigint>"


def batch_near_dups_vs_index(
    batch: DataFrame,
    index: DataFrame | None,
    threshold: float = 0.7,
    config: DedupConfig = DEFAULT_CONFIG,
    max_shingle_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(new-batch pages, accumulated index feats | None) ->
    (verified pairs, this batch's feats to append to the index).

    Pairs: within-batch (url_a < url_b) plus batch x index, shared-shingle
    candidates verified at exact Jaccard >= threshold (UNROUNDED decision,
    rounded output — the engine-wide rule). Pure batch DataFrame plan:
    usable inside foreachBatch or standalone.

    `max_shingle_df` drops shingles whose document frequency exceeds it
    from candidate generation (verification still uses the full sets) —
    the same explicit boilerplate/recall trade as
    `curation.incremental_near_dups`; a crawl front door needs it or a
    navigation-bar shingle makes every batch join quadratic. The frequency
    is measured over the BATCH PLUS THE INDEX: a template shingle is
    usually rare within one micro-batch but present in every indexed page,
    and an index-side-unbounded join would grow with stream lifetime.

    Re-crawled urls (same url in an earlier batch and this one): the index
    is append-only per batch (the replay-idempotence contract), so a url
    can hold several historical rows. Candidates join the raw index (extra
    rows are bounded by the re-crawl rate and collapse in the distinct);
    self-pairs are filtered; VERIFICATION uses exactly one set per url —
    the latest crawl wins (max (warc_ts, set), deterministic under replay)
    with this batch's set superseding all index rows. A production
    deployment compacts the index to one row per url on a background
    cadence; the per-batch latest-wins aggregate here is the same
    computation applied at read.

    Pair output contract under re-crawls: a re-crawled url re-emits its
    surviving pairs with verdicts computed from the NEW content — the
    pairs table is a batch_id-partitioned verdict log and consumers take
    the latest batch_id per (url_a, url_b). Within one batch no pair
    repeats (pinned in test_streaming).
    """
    src = batch
    if config.drop_empty_text:
        src = src.filter(F.regexp_replace(F.col("text"), r"\s+", "") != "")
    feats = src.select(
        "url",
        "warc_ts",
        shingle_hashes_udf(config)(token_hashes("text")).alias("shingle_hashes"),
    )
    new_ex = feats.select("url", F.explode("shingle_hashes").alias("_h"))
    old_ex = (
        index.select("url", F.explode("shingle_hashes").alias("_h"))
        if index is not None
        else None
    )
    if max_shingle_df is not None:
        scope = new_ex if old_ex is None else new_ex.unionByName(old_ex)
        hot = (
            scope.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_h")
        )
        new_ex = new_ex.join(hot, "_h", "left_anti")
        if old_ex is not None:
            old_ex = old_ex.join(hot, "_h", "left_anti")
    within = (
        new_ex.alias("a")
        .join(new_ex.alias("b"), "_h")
        .filter(F.col("a.url") < F.col("b.url"))
        .select(F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"))
    )
    cand = within
    all_sets = feats.select("url", "shingle_hashes")
    if index is not None:
        cross = (
            new_ex.alias("a")
            .join(old_ex.alias("b"), "_h")
            .filter(F.col("a.url") != F.col("b.url"))
            .select(
                F.least(F.col("a.url"), F.col("b.url")).alias("url_a"),
                F.greatest(F.col("a.url"), F.col("b.url")).alias("url_b"),
            )
        )
        cand = within.unionByName(cross)
        # one verification set per url: latest index row per url (struct
        # max orders by warc_ts first; the set itself breaks exact ties so
        # a replayed batch resolves identically), new batch supersedes
        latest = (
            index.groupBy("url")
            .agg(F.max(F.struct("warc_ts", "shingle_hashes")).alias("_s"))
            .select("url", F.col("_s.shingle_hashes").alias("shingle_hashes"))
        )
        all_sets = all_sets.unionByName(
            latest.join(feats.select("url"), "url", "left_anti")
        )
    cand = cand.distinct()
    a = all_sets.select(F.col("url").alias("url_a"), F.col("shingle_hashes").alias("_sa"))
    b = all_sets.select(F.col("url").alias("url_b"), F.col("shingle_hashes").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    pairs = (
        cand.join(a, "url_a")
        .join(b, "url_b")
        .withColumn("_j", inter.cast("double") / union)
        .filter(F.col("_j") >= F.lit(threshold))
        .select("url_a", "url_b", F.round("_j", 4).alias("jaccard"))
    )
    return pairs, feats


def process_near_dup_batch(
    batch_df: DataFrame,
    batch_id: int,
    work_dir: str,
    threshold: float = 0.7,
    config: DedupConfig = DEFAULT_CONFIG,
    max_shingle_df: int | None = None,
) -> None:
    """One foreachBatch step, REPLAY-IDEMPOTENT (pinned in test_streaming).

    foreachBatch is at-least-once: after a mid-batch failure the batch
    replays, and a plain append would double-write — duplicate index rows
    then multiply the verify join and emit duplicate pairs. Two rules make
    the replay exact instead:

    1. Each batch owns a `batch_id=N` partition directory written with
       overwrite, so a replay replaces its own output (the idempotent-sink
       pattern; with Iceberg the same contract comes from an overwrite
       commit keyed by batch_id).
    2. The index read filters `batch_id < N` — a retried batch never joins
       against its own partial previous output, and partition pruning means
       a half-written `batch_id=N` directory's files are never even opened.

    Readers of the parent dirs see batch_id as a discovered partition
    column; all consumers select columns explicitly.
    """
    index_dir = os.path.join(work_dir, "index")
    pairs_dir = os.path.join(work_dir, "pairs")
    spark = batch_df.sparkSession
    index = (
        spark.read.schema(_FEATS)
        .parquet(index_dir)
        .filter(F.col("batch_id") < F.lit(batch_id))
        .drop("batch_id")
        if os.path.isdir(index_dir)
        else None
    )
    pairs, feats = batch_near_dups_vs_index(
        batch_df, index, threshold=threshold, config=config,
        max_shingle_df=max_shingle_df,
    )
    # the feats subtree (the dominant per-batch cost: the fused shingle
    # UDF) appears ~5x in the plans below (both self-join sides, both
    # verify sides, the index append); persist the micro-batch once so the
    # cache manager substitutes every occurrence. Micro-batches are
    # trigger-bounded, so this is batch-sized, never index-sized.
    feats = feats.persist()
    try:
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch_id={batch_id}")
        )
        feats.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch_id={batch_id}")
        )
    finally:
        feats.unpersist()


def run_stream_near_dups(
    stream: DataFrame,
    work_dir: str,
    threshold: float = 0.7,
    config: DedupConfig = DEFAULT_CONFIG,
    max_shingle_df: int | None = None,
) -> None:
    """Drain `stream` (input_hint pages) with an availableNow foreachBatch:
    per micro-batch, emit verified near-dup pairs of that batch against
    everything seen so far, then add the batch's shingle feats to the
    index. Outputs: `{work_dir}/pairs` parquet; index at `{work_dir}/index`
    (both batch_id=N-partitioned; see process_near_dup_batch for the
    replay-idempotence contract).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_near_dup_batch(
            batch_df, batch_id, work_dir, threshold=threshold, config=config,
            max_shingle_df=max_shingle_df,
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
