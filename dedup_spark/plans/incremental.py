"""Incremental pair generation for checkpoint resume (N9 + the north rule's
periodic-crawl update story).

At 100 TB the operational shape is a monthly crawl dump: one or a few input
partitions change while the rest of the corpus is untouched. After r4e the
per-partition `prepared` stage already re-signs only changed partitions; this
module makes the PAIRS stage incremental too, so a one-partition edit no
longer replays bucket pair generation + Jaccard verification over the whole
corpus (the dominant cross-partition cost — ~50 s of a 75 s cold run at 600k
docs / local[8]).

This module builds no pairs itself. Both the full and the incremental path
call the cold run's pair builder, `plans/pipeline.channel_pair_sets`, and
every bucket key comes from one function, `plans/pipeline.channel_keys`,
which the pair generators, the stale-bucket restriction and the bucket
fingerprints below all read.

Correctness model — reuse a cached verified pair only when the full
recompute would provably emit it, and regenerate exactly the buckets the
full recompute could disagree on:

- Per-doc identity: ``dhash = xxhash64(url, text)``. A doc is *changed* iff
  its (url, dhash) row differs between runs (covers edits, adds, removals).
- minhash/simhash pairs are PAIR-LOCAL below the ultra-hot cap: the
  exhaustive tiers of `salted_pairs_from_buckets` emit every in-bucket pair,
  so an unchanged pair's candidacy depends only on its own two docs' keys.
  Cached near rows are therefore kept iff BOTH endpoints are unchanged, and
  pairs involving changed docs are regenerated from the buckets whose
  membership fingerprint moved. Above `PAIR_CAP_CROSS` the star tier makes
  emission depend on OTHER bucket members — the incremental path refuses
  (falls back to a full recompute) if any old or new near bucket exceeds the
  cap, instead of silently diverging.
- exact pairs are a hub STAR per content-equality class — NOT pair-local
  (dropping a changed hub would disconnect unchanged members). Exact rows
  carry their group key (``ghash`` = xxhash64(text)); a cached exact row is
  kept iff its group's membership fingerprint is unchanged, and every
  changed group is regenerated whole (min-url hub selection is deterministic
  given membership, so unchanged groups replay bit-identically).
- suffix pairs (r5) are pair-local for MEMBERSHIP below the star cap: the
  winnowing guarantee plus exact SA verification means "(a, b) emitted" is a
  property of (tok_a, tok_b) alone — any pair sharing a >= min_run token run
  shares a fingerprint, and the bucket SA emits exactly the qualifying pairs
  of its members. Cached suffix rows are therefore kept iff both endpoints
  are unchanged, and stale fingerprint buckets (fingerprints are per-doc
  `sfps` columns in the prepared stage when `suffix_enabled`) are
  re-verified whole over their full current membership. Above
  `PAIR_CAP_ALL` the channel switches to the salted star (connectivity-only
  emission depends on other members) — any old or new suffix bucket over
  that cap refuses to the full path, like the near-channel guard.
- Bucket membership fingerprints: (channel, bkey, n, bit_xor(dhash)) over
  buckets with >= 2 members, stored as a sidecar next to the cached pairs.
  A bucket is *stale* iff its fingerprint moved, appeared or vanished; the
  regeneration is `channel_pair_sets` restricted to the stale buckets.

Identity to the full recompute is property-pinned in
tests/test_incremental.py (random edits across partitions, pair-set and
members equality), including a suffix-enabled case.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig
from dedup_spark.operators.ids import assign_dense_ids
from dedup_spark.operators.lsh import PAIR_CAP_ALL, PAIR_CAP_CROSS
from dedup_spark.plans.pipeline import (
    DEFAULT_CHANNELS,
    channel_keys,
    channel_pair_sets,
    enabled_channels,
    spill,
)

PAIR_COLS = ["url_a", "url_b", "channel", "jaccard", "ghash"]


def _digest(fields: dict) -> str:
    return hashlib.md5(repr(sorted(fields.items())).encode()).hexdigest()[:12]


def signature_config_digest(config: DedupConfig) -> str:
    """Digest of every knob the per-partition prepared features depend on.
    A change invalidates the prepared stage (stale simhash/bands would
    silently feed the pair generators otherwise)."""
    return _digest(
        {
            "shingle_k": config.shingle_k,
            "num_perm": config.num_perm,
            "minhash_seed": config.minhash_seed,
            # scheme changes every signature/band key; omitting it would
            # let a classic->oph rerun silently reuse stale features.
            # (_digest sorts items, so appending a key is append-safe for
            # OLD checkpoints only if the value matches the old implicit
            # default — it does not, by design: any pre-existing checkpoint
            # recomputes once under the new digest, which is the safe
            # direction.)
            "minhash_scheme": config.minhash_scheme,
            "lsh_bands": config.lsh_bands,
            "lsh_rows_per_band": config.lsh_rows_per_band,
            "simhash_bits": config.simhash_bits,
            "drop_empty_text": config.drop_empty_text,
            "dedup_url_keep": config.dedup_url_keep,
            # when the suffix channel is on, the prepared stage also carries
            # per-doc winnowed fingerprints (the `sfps` column the suffix
            # incremental path buckets on), so the prepared features depend
            # on the winnow knobs too. None when off: toggling the channel
            # either way recomputes prepared once (off->on must — the column
            # is missing; on->off pays one redundant re-sign for a much
            # simpler invariant).
            "suffix": (
                (config.suffix_min_run_tokens, config.suffix_winnow_w)
                if config.suffix_enabled
                else None
            ),
        }
    )


def pairs_config_digest(config: DedupConfig) -> str:
    """Digest of every knob the pair sets depend on; embedded in the pairs
    stage fingerprint so a config change can never reuse stale pairs."""
    return _digest(
        {
            "sig": signature_config_digest(config),
            "jaccard_threshold": config.jaccard_threshold,
            "simhash_hamming_max": config.simhash_hamming_max,
            "simhash_key_blocks": config.simhash_key_blocks,
            "bucket_salts": config.bucket_salts,
            "exact_verify": config.exact_verify,
            "suffix_enabled": config.suffix_enabled,
            "suffix_min_run_tokens": config.suffix_min_run_tokens,
            "suffix_winnow_w": config.suffix_winnow_w,
        }
    )


def canonical_pages(prepared: DataFrame, config: DedupConfig) -> DataFrame:
    """Resolve urls duplicated ACROSS input partitions (S1: one row per url,
    earliest warc_ts wins) without a corpus-wide window.

    The per-partition prepared stage can only url-dedup within its own
    partition; the same url crawled into two segments must still collapse
    globally. Duplicated urls are rare, so the window shuffle runs ONLY over
    them: one map-side-combining count finds the dup url set (tiny — AQE
    broadcasts it into the semi/anti joins), unique rows pass through with
    no shuffle at all. Every pairs-stage consumer (fingerprints, docsig,
    full and incremental pair generation, members) reads this view, so the
    per-doc change model sees canonical rows only.

    The dup-detection agg keys on ``xxhash64(url)`` (8 B/row on the wire)
    rather than the url string itself; a hash collision only routes an
    innocent row through `ingest_pages`, which resolves by FULL url, so the
    output is identical either way. Both tiny sides (`dups`, `resolved`) are
    spilled: the returned view is consumed several times by the pairs stage
    (fingerprints, docsig, pair generation, members), and without the spill
    every read would re-run the corpus-wide agg and the dup-row window."""
    from dedup_spark.operators.scan import ingest_pages

    uh = F.xxhash64("url")
    dups = spill(
        prepared.groupBy(uh.alias("_uh"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_uh"),
        config,
        "canon_dups",
    )
    # common case: no url crawled into two partitions. The dup set is
    # already materialized (the spill above IS the corpus agg), so this
    # check is one parquet-metadata read — and returning `prepared`
    # directly drops the resolve spill, the window, and two join nodes
    # from every downstream consumer's plan.
    if dups.limit(1).count() == 0:
        return prepared
    dup_rows = prepared.join(dups, uh == dups["_uh"], "left_semi")
    resolved = spill(ingest_pages(dup_rows, config), config, "canon_resolved")
    uniq = prepared.join(dups, uh == dups["_uh"], "left_anti")
    return uniq.unionByName(resolved.select(*uniq.columns))


def doc_signatures(prepared: DataFrame) -> DataFrame:
    """(url, dhash) per ingested doc — the per-doc change detector."""
    return prepared.select("url", F.xxhash64("url", "text").alias("dhash"))


def bucket_fingerprints(prepared: DataFrame, config: DedupConfig) -> DataFrame:
    """(channel, bkey, n, h) membership fingerprints for every pair-capable
    (n >= 2) bucket of every enabled channel.

    h = bit_xor of the member docs' dhash: order-independent and sensitive to
    any member's (url, text) change. The keys are `channel_keys` with the
    dhash as the doc id, the same function the pair generators bucket on."""
    docs = prepared.select(
        F.xxhash64("url", "text").alias("id"), *_feature_cols(prepared)
    )
    out = None
    for channel in enabled_channels(config):
        fp = (
            channel_keys(docs, config, channel)
            .groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("id").alias("h"))
            .select(F.lit(channel).alias("channel"), "bkey", "n", "h")
        )
        out = fp if out is None else out.unionByName(fp)
    return out.filter(F.col("n") >= 2)


def _feature_cols(prepared: DataFrame) -> list[str]:
    """The prepared columns the pair builder reads: text plus the stored
    signature features (and the winnow fps when the suffix channel is on,
    so it skips its UDF)."""
    return ["text", "simhash", "bands"] + (
        ["sfps"] if "sfps" in prepared.columns else []
    )


def full_pairs(
    prepared: DataFrame,
    config: DedupConfig,
    channels: tuple[str, ...] = DEFAULT_CHANNELS,
) -> DataFrame:
    """Url-level per-channel verified pairs over the whole corpus.

    Pair generation runs on compact long nids (the shuffle-width rule:
    operators/ids.py) and translates back to urls at the end — the pair set
    is tiny relative to the corpus, the band explode is not. nid order
    follows url order, so hubs/min-ids match the url-granularity regen path
    bit-for-bit."""
    cols = _feature_cols(prepared)
    with_ids = assign_dense_ids(prepared.select("url", *cols), "url", "nid")
    combined = spill(with_ids, config, "ckpt_docs")
    docs = combined.select(F.col("nid").alias("id"), *cols)
    idmap = combined.select("nid", "url")
    pairs = channel_pair_sets(docs, config, enabled_channels(config, channels))
    a = idmap.select(F.col("nid").alias("id_a"), F.col("url").alias("url_a"))
    b = idmap.select(F.col("nid").alias("id_b"), F.col("url").alias("url_b"))
    return pairs.join(a, "id_a").join(b, "id_b").select(*PAIR_COLS)


def incremental_pairs(
    prepared: DataFrame,
    old_pairs: DataFrame,
    old_buckets: DataFrame,
    old_docsig: DataFrame,
    new_buckets: DataFrame,
    new_docsig: DataFrame,
    config: DedupConfig,
) -> tuple[DataFrame | None, str]:
    """Incrementally updated url-level pair set, or (None, reason) when the
    reuse invariants don't hold and the caller must recompute fully."""
    # star-tier guard: above the cap, pair emission depends on other bucket
    # members (hub mediation) and cached rows can diverge from a recompute.
    # The suffix channel stars at PAIR_CAP_ALL (each suffix pair carries two
    # full token arrays through its verify, so its exhaustive tier is the
    # small cap — operators/suffix.py), the near channels at PAIR_CAP_CROSS.
    # The reason names one channel by a fixed precedence, near before
    # suffix: the near channels run in every config and suffix is opt-in, so
    # turning suffix on never changes the reason a near-hot corpus reports.
    hot = {
        r["channel"]
        for r in old_buckets.unionByName(new_buckets)
        .filter(
            (
                F.col("channel").isin("minhash", "simhash")
                & (F.col("n") > PAIR_CAP_CROSS)
            )
            | ((F.col("channel") == "suffix") & (F.col("n") > PAIR_CAP_ALL))
        )
        .select("channel")
        .distinct()
        .collect()
    }
    if hot & {"minhash", "simhash"}:
        return None, "ultra_hot_near_bucket"
    if hot:
        return None, "ultra_hot_suffix_bucket"

    # changed docs: (url, dhash) symmetric difference old vs new
    o = old_docsig.select("url", F.col("dhash").alias("_od"))
    nw = new_docsig.select("url", F.col("dhash").alias("_nd"))
    changed = (
        o.join(nw, "url", "full_outer")
        .filter(
            F.col("_od").isNull()
            | F.col("_nd").isNull()
            | (F.col("_od") != F.col("_nd"))
        )
        .select("url")
    )
    changed = spill(changed, config, "incr_changed")

    # changed buckets: membership fingerprint moved (or bucket appeared /
    # vanished from the n>=2 population)
    ob = old_buckets.select(
        "channel", "bkey", F.col("n").alias("_on"), F.col("h").alias("_oh")
    )
    nb = new_buckets.select(
        "channel", "bkey", F.col("n").alias("_nn"), F.col("h").alias("_nh")
    )
    stale = (
        ob.join(nb, ["channel", "bkey"], "full_outer")
        .filter(
            F.col("_on").isNull()
            | F.col("_nn").isNull()
            | (F.col("_on") != F.col("_nn"))
            | (F.col("_oh") != F.col("_nh"))
        )
        .select("channel", "bkey")
    )
    stale = spill(stale, config, "incr_stale")

    # ---- kept cache ----
    kept_exact = old_pairs.filter(F.col("channel") == "exact").join(
        stale.filter(F.col("channel") == "exact").select(
            F.col("bkey").alias("ghash")
        ),
        "ghash",
        "left_anti",
    )
    kept_near = (
        old_pairs.filter(F.col("channel") != "exact")
        .join(changed.select(F.col("url").alias("url_a")), "url_a", "left_anti")
        .join(changed.select(F.col("url").alias("url_b")), "url_b", "left_anti")
    )

    # ---- regenerate stale buckets over their full current membership ----
    # the cold run's pair builder, on url ids, restricted to the stale
    # buckets (the guard above bounded every one within the exhaustive caps)
    regen = channel_pair_sets(
        prepared.select(F.col("url").alias("id"), *_feature_cols(prepared)),
        config,
        enabled_channels(config),
        buckets=stale,
    ).select(
        F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b"),
        "channel", "jaccard", "ghash",
    )

    out = (
        kept_exact.select(*PAIR_COLS)
        .unionByName(kept_near.select(*PAIR_COLS))
        .unionByName(regen)
    )
    # a kept pair can be re-emitted by a regenerated bucket it also lives in
    # (identical values: same docs -> same jaccard/ghash); collapse exactly
    return out.dropDuplicates(["url_a", "url_b", "channel"]), "incremental"
