"""Incremental pair generation on checkpoint resume (plans/incremental.py).

The contract under test: a resumed run that reuses cached pairs must produce
EXACTLY the members/pairs a from-scratch full run over the edited corpus
produces — incrementality is an execution strategy, never a semantics change.
Every test compares the incremental resume against a fresh-root full run on
the same edited input.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dedup_spark.plans.checkpoint import CheckpointedRun, run_dedup_checkpointed
from dedup_spark.plans.pipeline import merge_channel_pairs


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


@pytest.fixture()
def fresh_root(tmp_path):
    return str(tmp_path / "ckpt_fresh")


def _members_set(df):
    p = df.toPandas()
    return sorted(
        map(tuple, p[["url", "cluster_id", "is_representative"]].values)
    )


def _merged_pairs_set(spark, root):
    import json
    import os

    from dedup_spark.plans.checkpoint import _pairs_paths

    fp = json.load(open(os.path.join(root, "_markers", "pairs.json")))[
        "fingerprint"
    ]
    raw = spark.read.parquet(_pairs_paths(root, fp)[0])
    merged = merge_channel_pairs(
        raw.select(
            F.col("url_a").alias("id_a"),
            F.col("url_b").alias("id_b"),
            "channel",
            "jaccard",
        )
    ).toPandas()
    p = merged[["id_a", "id_b", "channel", "jaccard"]].copy()
    # suffix pairs carry null jaccard -> NaN in pandas, and NaN != NaN would
    # make identical pair sets compare unequal; use an impossible sentinel
    p["jaccard"] = p["jaccard"].fillna(-1.0)
    return sorted(map(tuple, p.values))


def _edit_some_docs(pages, src):
    """Edit only HALF the docs of one source: exercises the unchanged-doc-in-
    changed-partition case (partition-granularity reuse would wrongly drop
    those docs' cached pairs; doc-granularity must keep them)."""
    hit = (F.col("source") == src) & (F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    return pages.withColumn(
        "text", F.when(hit, F.concat("text", F.lit(" EDITED"))).otherwise(F.col("text"))
    )


def test_resume_after_edit_is_incremental_and_identical(
    spark, pages, config, root, fresh_root
):
    run_dedup_checkpointed(pages, config, root)
    src = pages.select("source").distinct().orderBy("source").limit(1).collect()[0][0]
    edited = _edit_some_docs(pages, src)

    run2 = CheckpointedRun(spark, root, config)
    incr = run_dedup_checkpointed(edited, config, root, run=run2)
    assert run2.pairs_mode == "incremental"

    full = run_dedup_checkpointed(edited, config, fresh_root)
    assert _members_set(incr) == _members_set(full)
    # pair-level identity after the cross-channel priority merge (the raw
    # cached rowset may legitimately hold both a minhash and a simhash row
    # for one pair; the merged set must be bit-identical)
    assert _merged_pairs_set(spark, root) == _merged_pairs_set(spark, fresh_root)


def test_exact_star_hub_change_does_not_split_cluster(
    spark, config, root, fresh_root
):
    """Exact pairs are a hub star: if the hub doc's text changes, the
    remaining identical members MUST stay clustered on resume. Naive
    endpoint-based reuse loses the (a, b) connection because the cache only
    held (hub, a) and (hub, b); the group-fingerprint attribution regenerates
    the whole surviving group."""
    ts = datetime.datetime(2024, 1, 1)
    dup = "the very same duplicated body of text repeated verbatim " * 5
    rows = [
        ("https://x/aaa_hub", ts, dup, "en", "src0"),  # min url -> star hub
        ("https://x/bbb", ts, dup, "en", "src1"),
        ("https://x/ccc", ts, dup, "en", "src1"),
    ] + [
        (f"https://x/unique{i}", ts, f"wholly unrelated unique page {i} " * 8,
         "en", "src0")
        for i in range(6)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string, source string"
    )
    first = run_dedup_checkpointed(pages, config, root)
    assert ("https://x/bbb", "https://x/aaa_hub", False) in _members_set(first)

    edited = pages.withColumn(
        "text",
        F.when(
            F.col("url") == "https://x/aaa_hub",
            F.lit("completely different text now, nothing shared at all " * 6),
        ).otherwise(F.col("text")),
    )
    run2 = CheckpointedRun(spark, root, config)
    incr = run_dedup_checkpointed(edited, config, root, run=run2)
    assert run2.pairs_mode == "incremental"
    got = _members_set(incr)
    # bbb and ccc are still identical: they must remain one cluster with
    # bbb (new min url) as hub/representative
    assert ("https://x/bbb", "https://x/bbb", True) in got
    assert ("https://x/ccc", "https://x/bbb", False) in got
    assert not any(u == "https://x/aaa_hub" for (u, _, _) in got)
    full = run_dedup_checkpointed(edited, config, fresh_root)
    assert got == _members_set(full)


def test_removed_partition_incremental_identity(
    spark, pages, config, root, fresh_root
):
    run_dedup_checkpointed(pages, config, root)
    victim = pages.select("source").distinct().orderBy("source").limit(1).collect()[0][0]
    shrunk = pages.filter(F.col("source") != victim)

    run2 = CheckpointedRun(spark, root, config)
    incr = run_dedup_checkpointed(shrunk, config, root, run=run2)
    assert run2.pairs_mode == "incremental"
    full = run_dedup_checkpointed(shrunk, config, fresh_root)
    assert _members_set(incr) == _members_set(full)


def test_hot_bucket_falls_back_to_full(
    spark, pages, config, root, fresh_root, monkeypatch
):
    """Above the star cap, cached near pairs can diverge from a recompute
    (hub mediation); the incremental path must refuse LOUDLY (fall back to
    full), not silently reuse."""
    import dedup_spark.plans.incremental as incr_mod

    run_dedup_checkpointed(pages, config, root)
    # every pair-capable near bucket is now "ultra hot"
    monkeypatch.setattr(incr_mod, "PAIR_CAP_CROSS", 1)
    src = pages.select("source").distinct().orderBy("source").limit(1).collect()[0][0]
    edited = _edit_some_docs(pages, src)
    run2 = CheckpointedRun(spark, root, config)
    out = run_dedup_checkpointed(edited, config, root, run=run2)
    assert run2.pairs_mode == "full(ultra_hot_near_bucket)"
    monkeypatch.undo()
    full = run_dedup_checkpointed(edited, config, fresh_root)
    assert _members_set(out) == _members_set(full)


def test_crashed_version_garbage_ignored_and_gcd(
    spark, pages, config, root, fresh_root
):
    """Artifacts are content-versioned: a crashed run's half-written version
    dir is unreferenced garbage — a resume must use the marker's version
    (never the newest dir) and GC the leftovers on success."""
    import os

    run_dedup_checkpointed(pages, config, root)
    garbage = os.path.join(root, "stage=pairs", "deadbeef0000")
    os.makedirs(garbage)
    with open(os.path.join(garbage, "junk.parquet"), "w") as f:
        f.write("not parquet")
    src = pages.select("source").distinct().orderBy("source").limit(1).collect()[0][0]
    edited = _edit_some_docs(pages, src)
    run2 = CheckpointedRun(spark, root, config)
    incr = run_dedup_checkpointed(edited, config, root, run=run2)
    assert run2.pairs_mode == "incremental"
    assert not os.path.exists(garbage)  # GC'd after the successful write
    full = run_dedup_checkpointed(edited, config, fresh_root)
    assert _members_set(incr) == _members_set(full)


def test_config_change_forces_full(spark, pages, config, root):
    from dataclasses import replace

    run_dedup_checkpointed(pages, config, root)
    cfg2 = replace(config, jaccard_threshold=0.9)
    run2 = CheckpointedRun(spark, root, cfg2)
    run_dedup_checkpointed(pages, cfg2, root, run=run2)
    # a pairs-config change can never reuse cached pairs
    assert run2.pairs_mode == "full"


def test_cross_partition_url_dedup_matches_run_dedup(spark, config, root):
    """S1 contract across partitions: the same url crawled into two source
    partitions must collapse to ONE canonical row (earliest warc_ts) before
    pair generation — per-partition ingest alone can't see the twin. The
    canonical copy's text (A) matches doc `same`; the stale copy's text (B)
    matches doc `other` — if the stale row leaked, `other` would wrongly
    join a cluster."""
    from dedup_spark.plans.pipeline import run_dedup

    ts1 = datetime.datetime(2024, 1, 1)
    ts2 = datetime.datetime(2024, 2, 1)
    text_a = "canonical body of the duplicated url, crawled first " * 5
    text_b = "later recrawl body that must be discarded entirely " * 5
    rows = [
        ("https://x/dup", ts1, text_a, "en", "src0"),
        ("https://x/dup", ts2, text_b, "en", "src1"),
        ("https://x/same", ts1, text_a, "en", "src1"),
        ("https://x/other", ts1, text_b, "en", "src0"),
    ] + [
        (f"https://x/u{i}", ts1, f"wholly unrelated unique page {i} " * 8,
         "en", f"src{i % 2}")
        for i in range(6)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string, source string"
    )
    ckpt = _members_set(run_dedup_checkpointed(pages, config, root))
    direct = _members_set(run_dedup(pages, config).members)
    assert ckpt == direct
    # exactly one cluster: {dup (canonical text A), same}; `other` untouched
    assert ("https://x/dup", "https://x/dup", True) in ckpt
    assert ("https://x/same", "https://x/dup", False) in ckpt
    assert len([r for r in ckpt if r[0] == "https://x/dup"]) == 1
    assert not any(r[0] == "https://x/other" for r in ckpt)


def test_unchanged_resume_replays_pairs(spark, pages, config, root):
    run_dedup_checkpointed(pages, config, root)
    run2 = CheckpointedRun(spark, root, config)
    run_dedup_checkpointed(pages, config, root, run=run2)
    assert run2.pairs_mode == "replay"
    assert run2.computed == []


# ---------------------------------------------------------------------------
# suffix-channel incremental resume (r5): winnow-fingerprint buckets have the
# same membership-fingerprint structure as the near channels; below the star
# cap pair MEMBERSHIP is pair-local (winnow guarantee + exact SA verify), so
# cached suffix pairs are kept endpoint-wise and stale buckets re-verify whole.


def _stext(seed, n):
    import numpy as np

    rng = np.random.default_rng(seed)
    return " ".join(rng.choice([f"w{i:03d}" for i in range(400)], size=n))


@pytest.fixture()
def suffix_pages(spark):
    """Two source partitions; two suffix-only clusters {a,b} and {d,e}
    sharing 60-token runs (default min_run=50), plus unique fillers. The
    shared runs have no 0.7-Jaccard or exact twin, so CC connectivity for
    these clusters rides the suffix channel alone."""
    ts = datetime.datetime(2024, 1, 1)
    shared1, shared2 = _stext(1, 60), _stext(2, 60)
    rows = [
        ("https://s/a", ts, _stext(10, 30) + " " + shared1 + " " + _stext(11, 40), "en", "src0"),
        ("https://s/b", ts, shared1 + " " + _stext(12, 80), "en", "src1"),
        ("https://s/d", ts, shared2 + " " + _stext(13, 70), "en", "src1"),
        ("https://s/e", ts, _stext(14, 25) + " " + shared2, "en", "src0"),
    ] + [
        (f"https://s/u{i}", ts, _stext(100 + i, 90), "en", f"src{i % 2}")
        for i in range(6)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string, source string"
    )


@pytest.fixture()
def suffix_config(config):
    from dataclasses import replace

    return replace(config, suffix_enabled=True)


def test_suffix_incremental_resume_identity(
    spark, suffix_pages, suffix_config, root, fresh_root
):
    """Edit ONE doc so it leaves its suffix cluster and joins the other:
    the resume must drop the stale cached pair, keep the untouched one, and
    regenerate the moved buckets — then match a fresh full run exactly."""
    first = run_dedup_checkpointed(suffix_pages, suffix_config, root)
    got = _members_set(first)
    clusters = {u: c for (u, c, _) in got}
    assert clusters["https://s/a"] == clusters["https://s/b"]
    assert clusters["https://s/d"] == clusters["https://s/e"]
    assert clusters["https://s/a"] != clusters["https://s/d"]

    shared2 = _stext(2, 60)
    edited = suffix_pages.withColumn(
        "text",
        F.when(
            F.col("url") == "https://s/b",
            F.lit(shared2 + " " + _stext(50, 80)),
        ).otherwise(F.col("text")),
    )
    run2 = CheckpointedRun(spark, root, suffix_config)
    incr = run_dedup_checkpointed(edited, suffix_config, root, run=run2)
    assert run2.pairs_mode == "incremental"
    got2 = _members_set(incr)
    c2 = {u: c for (u, c, _) in got2}
    assert c2["https://s/b"] == c2["https://s/d"] == c2["https://s/e"]
    # `a` lost its only partner: it leaves the members table (singletons
    # carry no pair) — the stale cached (a, b) pair must NOT survive
    assert "https://s/a" not in c2

    full = run_dedup_checkpointed(edited, suffix_config, fresh_root)
    assert got2 == _members_set(full)
    assert _merged_pairs_set(spark, root) == _merged_pairs_set(spark, fresh_root)


def test_suffix_hot_bucket_falls_back_to_full(
    spark, suffix_pages, suffix_config, root, fresh_root, monkeypatch
):
    """Above the suffix star cap, emission depends on other bucket members
    (hub mediation): the incremental path must refuse loudly."""
    import dedup_spark.plans.incremental as incr_mod

    run_dedup_checkpointed(suffix_pages, suffix_config, root)
    monkeypatch.setattr(incr_mod, "PAIR_CAP_ALL", 1)
    edited = suffix_pages.withColumn(
        "text",
        F.when(
            F.col("url") == "https://s/u0",
            F.concat("text", F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    run2 = CheckpointedRun(spark, root, suffix_config)
    out = run_dedup_checkpointed(edited, suffix_config, root, run=run2)
    assert run2.pairs_mode == "full(ultra_hot_suffix_bucket)"
    monkeypatch.undo()
    full = run_dedup_checkpointed(edited, suffix_config, fresh_root)
    assert _members_set(out) == _members_set(full)


def test_near_and_suffix_hot_reports_near_first(
    spark, suffix_pages, suffix_config, root, monkeypatch
):
    """With a near bucket AND a suffix bucket over their star caps, the
    fallback reason follows the fixed precedence near before suffix, not
    whichever offending row a scan happens to return first."""
    import dedup_spark.plans.incremental as incr_mod

    ts = datetime.datetime(2024, 1, 1)
    body = _stext(200, 90)
    twins = spark.createDataFrame(
        [
            ("https://s/n1", ts, body, "en", "src0"),
            ("https://s/n2", ts, body + " tail", "en", "src1"),
        ],
        suffix_pages.schema,
    )
    pages = suffix_pages.unionByName(twins)
    run_dedup_checkpointed(pages, suffix_config, root)
    monkeypatch.setattr(incr_mod, "PAIR_CAP_CROSS", 1)
    monkeypatch.setattr(incr_mod, "PAIR_CAP_ALL", 1)
    edited = pages.withColumn(
        "text",
        F.when(
            F.col("url") == "https://s/u0",
            F.concat("text", F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    run2 = CheckpointedRun(spark, root, suffix_config)
    run_dedup_checkpointed(edited, suffix_config, root, run=run2)
    assert run2.pairs_mode == "full(ultra_hot_near_bucket)"


def test_fallback_reason_lands_in_metrics(
    spark, pages, config, root, monkeypatch
):
    """A 100 TB operator must be able to see WHY a resume went full-cost:
    every computed pairs-stage resolution writes an event="pairs_mode"
    metrics row carrying the reason (cold / config drift / hot bucket /
    incremental)."""
    import json as _json
    import os

    import dedup_spark.plans.incremental as incr_mod

    def _mode_rows():
        with open(os.path.join(root, "metrics.jsonl")) as f:
            return [
                r for r in map(_json.loads, f)
                if r.get("event") == "pairs_mode"
            ]

    run_dedup_checkpointed(pages, config, root)
    rows = _mode_rows()
    assert rows[-1]["mode"] == "full"
    assert rows[-1]["reason"] == "cold_no_marker"

    monkeypatch.setattr(incr_mod, "PAIR_CAP_CROSS", 1)
    src = pages.select("source").distinct().orderBy("source").limit(1).collect()[0][0]
    edited = _edit_some_docs(pages, src)
    run_dedup_checkpointed(edited, config, root)
    rows = _mode_rows()
    assert rows[-1]["mode"] == "full(ultra_hot_near_bucket)"
    assert rows[-1]["reason"] == "ultra_hot_near_bucket"
    monkeypatch.undo()

    # a pure replay appends no resolution row
    n = len(rows)
    run_dedup_checkpointed(edited, config, root)
    assert len(_mode_rows()) == n


@pytest.fixture(scope="module")
def featured(spark, pages, config):
    """The pages fixture as a suffix-on prepared stage: ingested rows with
    the stored per-doc features (simhash, bands, sfps) the pairs stage
    reads, keyed by url."""
    from dataclasses import replace

    from dedup_spark.plans.checkpoint import prepare_pages

    cfg = replace(config, suffix_enabled=True)
    prepared = prepare_pages(pages, cfg, source="all").persist()
    prepared.count()
    yield cfg, prepared
    prepared.unpersist()


def _pair_rows(df):
    # (id_a, id_b, channel) is unique per row, so the sort never compares
    # a null jaccard
    return sorted((tuple(r) for r in df.collect()), key=lambda r: r[:3])


def test_bucket_restriction_equals_unrestricted_pair_build(featured):
    """channel_pair_sets restricted to every pair-capable bucket of every
    channel (the bucket fingerprints' keys) emits exactly the unrestricted
    pair set, and restricting to one channel's keys emits only that
    channel's pairs — the same rows as building that channel alone."""
    from dedup_spark.plans.incremental import bucket_fingerprints
    from dedup_spark.plans.pipeline import channel_pair_sets, enabled_channels

    cfg, prepared = featured
    docs = prepared.select(
        F.col("url").alias("id"), "text", "simhash", "bands", "sfps"
    )
    channels = enabled_channels(cfg)
    assert channels == ("exact", "minhash", "simhash", "suffix")
    buckets = bucket_fingerprints(prepared, cfg).select("channel", "bkey")
    buckets.persist().count()

    full = _pair_rows(channel_pair_sets(docs, cfg, channels))
    assert {"exact", "minhash", "suffix"} <= {r[2] for r in full}
    assert _pair_rows(channel_pair_sets(docs, cfg, channels, buckets=buckets)) == full

    only = channel_pair_sets(
        docs, cfg, channels,
        buckets=buckets.filter(F.col("channel") == "simhash"),
    )
    got = _pair_rows(only)
    assert got and {r[2] for r in got} == {"simhash"}
    assert got == _pair_rows(channel_pair_sets(docs, cfg, ("simhash",)))
    buckets.unpersist()
