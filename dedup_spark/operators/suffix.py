"""Suffix-array channel (N6): pairs of documents sharing a long repeated
token run.

Generalizes the reference's cheap-signature-then-verify shape
(/root/reference/src/find_duplicates_map_two.cpp:104-156 — prefix hash prunes,
whole-file hash confirms) to substring similarity:

  stage 1 (prune)  : winnowed rolling-hash fingerprints per doc (vectorized
                     pandas UDF, functions/rolling.py). Guarantee: any pair
                     sharing a run of >= min_run_tokens shares a fingerprint,
                     so channel recall is 1.0 up to 64-bit hash collisions.
  stage 2 (group)  : fingerprint buckets, deduped by member set (near-dup
                     pairs share many fingerprints; one SA per distinct
                     member set instead of one per fingerprint).
  stage 3 (verify) : one vectorized suffix array + LCP pass per distinct
                     member set (functions/suffix.bucket_repeat_pairs, numpy
                     prefix doubling, binary-lifted LCP and segment ops, in a
                     grouped-map pandas UDF) extracts every pair sharing a
                     run >= min_run_tokens — amortized over the set, versus
                     rebuilding an SA per candidate pair. Hot buckets
                     (> pair_cap_all members, the boilerplate case) instead
                     emit salted star candidates (operators/lsh), bounding
                     both the SA size and the pair count; each star edge
                     joins the same set stream as a 2-member set, so one
                     distinct, one token join and one SA pass verify both.

Scale: stage 1 is O(tokens) per doc and embarrassingly parallel; stage 2 is
one shuffle on fingerprint with map-side-combined counts; stage 3 tasks are
bounded by pair_cap_all members per SA group and spread over the session's
shuffle partitions. Token arrays, the heavy column, are built only for
members of pair-capable buckets, straight into the verify join, and never
carried past this channel. `run_tokens` is exact for 2-member sets (every
hot-tier pair) and SA-adjacent suffixes, otherwise a lower bound >= min_run;
pair membership is exact either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG
from dedup_spark.functions.rolling import doc_fingerprints
from dedup_spark.functions.signatures import token_hashes
from dedup_spark.functions.suffix import bucket_repeat_pairs
from dedup_spark.operators.lsh import salted_pairs_from_buckets


def fingerprint_udf(config: DedupConfig):
    min_run, w = config.suffix_min_run_tokens, config.suffix_winnow_w

    @F.pandas_udf(ArrayType(LongType()))
    def _fp(tok: pd.Series) -> pd.Series:
        return doc_fingerprints(tok, min_run, w)

    return _fp


def _bucket_verify_fn(min_run: int):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # id order fixes the doc ordinals, so ord_a < ord_b maps to
        # id_a < id_b and the kernel's input does not depend on row order
        pdf = pdf.sort_values("id", kind="stable")
        ids = pdf["id"].to_numpy()
        p = bucket_repeat_pairs(
            [np.asarray(t, dtype=np.int64) for t in pdf["tok"]], min_run
        )
        return pd.DataFrame(
            {"id_a": ids[p[:, 0]], "id_b": ids[p[:, 1]], "run_tokens": p[:, 2]}
        )

    return fn


def verify_fp_buckets(
    exploded: DataFrame,
    toks: DataFrame,
    config: DedupConfig,
    pair_cands: DataFrame | None = None,
) -> DataFrame:
    """Exact SA verification of member sets: fingerprint buckets plus
    optional candidate pairs, in one pass.

    exploded(id, fp) lists bucket membership (caller guarantees every bucket
    is within the exhaustive cap); pair_cands(id_a, id_b), when given, adds
    each candidate as a 2-member set (the suffix channel's hot-tier star
    edges); toks(id, tok) supplies token arrays for at least every id in
    either. Sets are deduped first (near-dup pairs share many fingerprints:
    one suffix array per distinct doc set, not per fingerprint), then one
    vectorized SA + LCP pass per set (functions/suffix.bucket_repeat_pairs)
    extracts (id_a, id_b, run_tokens) for every pair sharing a run of
    >= config.suffix_min_run_tokens tokens. For a 2-member set run_tokens is
    the exact longest common run.

    The grouped-map UDF reads from an explicit repartition on the set key
    with the session's shuffle-partition count. It satisfies the grouping's
    distribution, so it adds no exchange, and AQE never coalesces it: the
    CPU-heavy verify stays spread over every core instead of collapsing
    onto the one or two tasks its small shuffle would coalesce to.

    Shared by both tiers of suffix_bucket_pairs below."""
    id_type = dict(zip(toks.schema.names, toks.schema))["id"].dataType.simpleString()
    sets = (
        exploded.groupBy("fp")
        .agg(F.sort_array(F.collect_list("id")).alias("members"))
        .filter(F.size("members") >= 2)
        .select("members")
    )
    if pair_cands is not None:
        sets = sets.unionByName(
            pair_cands.select(
                F.array(
                    F.least("id_a", "id_b"), F.greatest("id_a", "id_b")
                ).alias("members")
            )
        )
    sets = sets.distinct().withColumn("bkt", F.xxhash64("members"))
    flat = sets.select("bkt", F.explode("members").alias("id")).join(toks, "id")
    nparts = int(toks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        flat.repartition(nparts, "bkt")
        .groupBy("bkt")
        .applyInPandas(
            _bucket_verify_fn(config.suffix_min_run_tokens),
            schema=f"id_a {id_type}, id_b {id_type}, run_tokens long",
        )
    )


def suffix_repeat_pairs(
    docs: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "id",
    text_col: str = "text",
    pair_cap_all: int | None = None,
    fps_col: str | None = None,
) -> DataFrame:
    """docs(id, text) -> (id_a, id_b, run_tokens, channel='suffix') for pairs
    sharing a repeated run of >= config.suffix_min_run_tokens tokens.

    Exhaustive by default (pair_cap_all=None: recall 1.0 — the winnowing
    fingerprint guarantee plus exact SA verification); pass a cap to bound
    SA-group size and switch hot fingerprint buckets to the salted star when
    only CC connectivity is needed at scale.

    `fps_col`: name of a precomputed array<long> winnow-fingerprint column
    on `docs` (the checkpointed path stores per-doc fingerprints in the
    per-partition prepared stage so a resume never re-winnows unchanged
    partitions — plans/checkpoint.py). When given, the O(tokens) winnow UDF
    is skipped entirely.

    Either way, token arrays are built for ONLY the docs that land in a
    pair-capable bucket (the boilerplate-heavy minority), instead of the
    whole corpus, and feed the verify join directly.
    """
    from dedup_spark.plans.pipeline import channel_keys

    fps = suffix_fingerprints(docs, config, id_col, text_col, fps_col)
    return suffix_bucket_pairs(
        channel_keys(fps, config, "suffix"), docs, config, id_col, text_col,
        pair_cap_all,
    )


def suffix_fingerprints(
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "id",
    text_col: str = "text",
    fps_col: str | None = None,
) -> DataFrame:
    """docs -> (id, sfps): each doc's winnowed fingerprints, read from the
    stored `fps_col` when given, else computed by the winnow UDF."""
    from dedup_spark.plans.pipeline import spill

    if fps_col is not None:
        # precomputed fingerprints: column-pruned reads of the caller's
        # already-materialized docs (no UDF behind them), so no spill needed
        return docs.select(
            F.col(id_col).alias("id"), F.col(fps_col).alias("sfps")
        )
    fps = docs.select(
        F.col(id_col).alias("id"),
        fingerprint_udf(config)(token_hashes(text_col)).alias("sfps"),
    )
    # consumed by counts + the eligible semi-join + the hot semi-join +
    # the token-array semi-join, and the hot branch feeds
    # salted_pairs_from_buckets which reads ITS input up to 4x — without
    # a spill the O(tokens) fingerprint UDF re-runs per read (the exact
    # violation the generator's docstring warns about)
    return spill(fps, config, "suffix_fps")


def suffix_bucket_pairs(
    keys: DataFrame,
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "id",
    text_col: str = "text",
    pair_cap_all: int | None = None,
) -> DataFrame:
    """Fingerprint bucket keys (id, bkey) -> the suffix channel's pairs
    (id_a, id_b, run_tokens, channel='suffix'); `docs` supplies the text of
    every id. Every bucket with 2..pair_cap_all members is verified whole;
    with a cap, bigger buckets emit salted star candidates instead. With no
    cap the star tier is not planned at all."""
    exploded = keys.select("id", F.col("bkey").alias("fp"))
    counts = exploded.groupBy("fp").agg(F.count(F.lit(1)).alias("_n"))
    pairable = counts.filter(F.col("_n") >= 2).select("fp")
    needed = exploded.join(pairable, "fp", "left_semi").select(
        F.col("id").alias(id_col)
    )
    toks = (
        docs.join(needed, id_col, "left_semi")
        .select(F.col(id_col).alias("id"), token_hashes(text_col).alias("tok"))
        .filter(F.size("tok") > 0)
    )
    small, hot_cand = pairable, None
    if pair_cap_all is not None:
        # small buckets: 2..cap members. Hot buckets emit salted star
        # candidates instead; with pair_cap_cross = cap too, everything over
        # the caller's cap goes straight to the star (the generator's default
        # mid tier, cap+1..1024 exhaustive in one task, would put a
        # 1024-member boilerplate bucket's C(1024,2) ~ 524k pairs through the
        # SA verify; the star bounds that to ~members x salts). Both feed one
        # set stream: each star edge is a 2-member set verified by the same
        # SA pass.
        cap = F.lit(pair_cap_all)
        small = counts.filter(
            (F.col("_n") >= 2) & (F.col("_n") <= cap)
        ).select("fp")
        hot = exploded.join(
            counts.filter(F.col("_n") > cap).select("fp"), "fp", "left_semi"
        ).select("id", F.col("fp").alias("band_key"))
        hot_cand = salted_pairs_from_buckets(
            hot, channel="suffix", nsalt=config.bucket_salts,
            pair_cap_all=pair_cap_all, pair_cap_cross=pair_cap_all,
            dedup=False,
        )
    # the semi-join keeps only pair-capable buckets before the heavy
    # collect_list (singleton fingerprints — the vast majority — can never
    # pair)
    pairs = verify_fp_buckets(
        exploded.join(small, "fp", "left_semi"), toks, config, hot_cand
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.max("run_tokens").alias("run_tokens"))
        .withColumn("channel", F.lit("suffix"))
    )
