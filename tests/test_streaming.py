"""Streaming ingest: batch/stream parity + windowed dup monitor + watermark
state semantics (SURVEY.md §2.6 — streaming is an extension, batch is the
reference semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup_spark.operators.scan import ingest_pages
from dedup_spark.streaming.ingest import (
    read_pages_stream,
    run_stream_to_parquet,
    stream_exact_dup_counts,
    stream_ingest,
)


@pytest.fixture(scope="module")
def stream_src(spark, corpus, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    from dedup_spark.testdata import corpus_to_spark

    # two file drops = two micro-batch sets
    df = corpus_to_spark(spark, corpus)
    df.filter(F.dayofyear("warc_ts") % 2 == 0).write.mode("append").parquet(src)
    df.filter(F.dayofyear("warc_ts") % 2 == 1).write.mode("append").parquet(src)
    return src


def test_stream_ingest_matches_batch(spark, config, stream_src, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, stream_src)
    run_stream_to_parquet(stream_ingest(stream, config), out, ckpt)
    got = spark.read.parquet(out)

    batch = ingest_pages(spark.read.parquet(stream_src), config)
    # parity on the ingest invariants: same url set, no empty text
    assert sorted(r.url for r in got.select("url").collect()) == sorted(
        r.url for r in batch.select("url").collect()
    )
    assert got.filter(F.regexp_replace("text", r"\s+", "") == "").count() == 0
    # exactly one row per url (watermarked dropDuplicates)
    assert got.groupBy("url").count().filter("count > 1").count() == 0
    # content_hash attached and non-null
    assert got.filter(F.col("content_hash").isNull()).count() == 0


def test_stream_dup_counts(spark, config, stream_src, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, stream_src)
    dups = stream_exact_dup_counts(stream_ingest(stream, config), window="24 hours")
    run_stream_to_parquet(dups, out, ckpt, mode="append")
    got = spark.read.parquet(out)
    # planted exact-dup groups share warc_ts-adjacent rows -> dup hashes appear
    assert got.count() > 0
    assert got.filter(F.col("n_copies") < 2).count() == 0

    # cross-check against batch: every reported hash really has >= 2 copies
    batch = ingest_pages(spark.read.parquet(stream_src), config).withColumn(
        "content_hash", F.xxhash64(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    )
    batch_counts = {
        r.content_hash: r.n
        for r in batch.groupBy("content_hash").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in got.collect():
        assert batch_counts.get(r.content_hash, 0) >= 2


def test_stream_is_incremental(spark, config, stream_src, tmp_path):
    """Second availableNow run over an unchanged source processes nothing new."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_pages_stream(spark, stream_src)
    run_stream_to_parquet(stream_ingest(stream, config), out, ckpt)
    n1 = spark.read.parquet(out).count()
    run_stream_to_parquet(
        stream_ingest(read_pages_stream(spark, stream_src), config), out, ckpt
    )
    n2 = spark.read.parquet(out).count()
    assert n1 == n2


def test_stateful_first_seen_cross_batch(spark, config, tmp_path):
    """applyInPandasWithState carries per-hash state ACROSS micro-batches:
    a copy arriving in a later batch is labeled duplicate-of the first
    batch's url — the labeling dropDuplicates cannot produce."""
    import datetime
    import time

    from dedup_spark.streaming.stateful import stream_first_seen

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    ts = datetime.datetime(2024, 1, 1)
    b1 = spark.createDataFrame(
        [("u1", ts, None, "hello world one", "en", "s"),
         ("u3", ts, None, "unique text here", "en", "s")], schema
    )
    b2 = spark.createDataFrame(
        [("u2", ts + datetime.timedelta(minutes=10), None, "hello world one",
          "en", "s")], schema
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)  # file-source admission orders by mtime
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_stream_to_parquet(stream_first_seen(stream, config), out, ckpt)
    got = {r.url: r for r in spark.read.parquet(out).collect()}
    assert got["u1"].is_first and got["u1"].n_prior == 0 and got["u1"].dup_of is None
    assert got["u3"].is_first
    assert not got["u2"].is_first
    assert got["u2"].n_prior == 1 and got["u2"].dup_of == "u1"


def test_stateful_first_seen_matches_batch_order(spark, config, stream_src, tmp_path):
    """One-batch drain over the corpus: labeling equals the batch window
    row_number over (content class, warc_ts, url) — every arrival kept,
    n_prior counts earlier copies, dup_of points at the first."""
    from pyspark.sql import Window

    from dedup_spark.streaming.stateful import stream_first_seen

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    run_stream_to_parquet(
        stream_first_seen(read_pages_stream(spark, stream_src), config), out, ckpt
    )
    got = {
        r.url: (r.is_first, r.n_prior, r.dup_of)
        for r in spark.read.parquet(out).collect()
    }

    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    batch = spark.read.parquet(stream_src).filter(
        F.regexp_replace("text", r"\s+", "") != ""
    )
    w = Window.partitionBy(norm).orderBy("warc_ts", "url")
    want = {
        r.url: (r.rn == 1, r.rn - 1, None if r.rn == 1 else r.first_url)
        for r in batch.withColumn("rn", F.row_number().over(w))
        .withColumn("first_url", F.first("url").over(w))
        .collect()
    }
    assert got == want
    assert any(not v[0] for v in got.values())  # planted dups exercised


def test_watermark_drop_is_surfaced_and_sized_watermark_keeps_all(
    spark, config, tmp_path
):
    """Backfill semantics pinned (the 600k measurement in miniature): rows
    behind the advancing watermark are silently filtered before the
    stateful operator, so (a) run_stream_to_parquet must SURFACE the drop
    count, and (b) a watermark sized to the source's event-time span keeps
    every arrival."""
    import datetime
    import time as _time

    from dedup_spark.streaming.ingest import run_stream_to_parquet
    from dedup_spark.streaming.stateful import stream_first_seen

    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    ts = datetime.datetime(2024, 1, 5)
    old_ts = datetime.datetime(2024, 1, 1)  # 4 days earlier
    src = str(tmp_path / "src")
    # the watermark applies with a ONE-BATCH LAG: batch 1's max event time
    # becomes the filter only from batch 3 on, so three batches are needed
    # to observe the drop (the 600k measurement showed the same shape:
    # batches 0/1 dropped 0, batches 2/3 dropped ~149k each)
    batches = [
        [("u1", ts, None, "fresh text", "en", "s")],
        [("u2", ts + datetime.timedelta(minutes=1), None, "more fresh", "en", "s")],
        [("u3", old_ts, None, "stale text", "en", "s"),
         ("u4", old_ts, None, "stale text two", "en", "s")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.2)  # file-source admission orders by mtime

    def drain(watermark, tag):
        out, ckpt = str(tmp_path / f"out{tag}"), str(tmp_path / f"ck{tag}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        dropped = run_stream_to_parquet(
            stream_first_seen(stream, config, watermark=watermark), out, ckpt
        )
        return dropped, spark.read.parquet(out).count()

    dropped_tight, kept_tight = drain("10 minutes", "tight")
    assert dropped_tight == 2 and kept_tight == 2

    dropped_wide, kept_wide = drain("10 days", "wide")
    assert dropped_wide == 0 and kept_wide == 4


def test_foreachbatch_near_dup_matches_batch(spark, config, tmp_path):
    """The foreachBatch incremental-index path over a multi-batch replay
    finds EXACTLY the batch engine's shared-shingle J>=0.7 pairs — within-
    batch, cross-batch, and no duplicates."""
    import datetime
    import time

    from dedup_spark.functions.signatures import shingle_hashes_udf, token_hashes
    from dedup_spark.streaming.neardup import run_stream_near_dups

    src, work = str(tmp_path / "src"), str(tmp_path / "w")
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    ts = datetime.datetime(2024, 1, 1)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = [("u1", ts, None, base, "en", "s"),
          ("u2", ts, None, base + " lambda", "en", "s"),      # within-batch dup
          ("u9", ts, None, "nothing shared here at all qq rr ss tt uu", "en", "s")]
    b2 = [("u3", ts + datetime.timedelta(minutes=5), None, base, "en", "s")]  # cross-batch dup of u1/u2
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_stream_near_dups(stream, work, threshold=0.7, config=config)
    got = sorted(
        (r.url_a, r.url_b)
        for r in spark.read.parquet(f"{work}/pairs").collect()
    )
    # batch truth: all shared-shingle pairs with J >= 0.7 over the 4 docs
    docs = spark.createDataFrame(b1 + b2, schema)
    sh = docs.select("url", shingle_hashes_udf(config)(token_hashes("text")).alias("s"))
    import pyspark.sql.functions as F

    a = sh.select(F.col("url").alias("url_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("url").alias("url_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    truth = sorted(
        (r.url_a, r.url_b)
        for r in a.crossJoin(b)
        .filter(F.col("url_a") < F.col("url_b"))
        .filter(F.size(F.array_intersect("sa", "sb")) > 0)
        .filter((inter.cast("double") / union) >= 0.7)
        .collect()
    )
    assert got == truth and ("u1", "u3") in got and ("u1", "u2") in got
    assert len(got) == len(set(got))  # no pair emitted twice


def test_foreachbatch_replay_is_idempotent(spark, config, tmp_path):
    """foreachBatch is at-least-once: a retried micro-batch must REPLACE its
    own output, not double-append (a doubled index row would multiply the
    verify join and emit duplicate pairs). Pins process_near_dup_batch's
    batch_id=N-overwrite layout + the batch_id < N index filter."""
    import datetime

    from dedup_spark.streaming.neardup import process_near_dup_batch

    work = str(tmp_path / "w")
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    ts = datetime.datetime(2024, 1, 1)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b0 = [("u1", ts, None, base, "en", "s"),
          ("u2", ts, None, base + " lambda", "en", "s")]
    b1 = [("u3", ts, None, base, "en", "s")]
    d0 = spark.createDataFrame(b0, schema)
    d1 = spark.createDataFrame(b1, schema)
    process_near_dup_batch(d0, 0, work, threshold=0.7, config=config)
    process_near_dup_batch(d1, 1, work, threshold=0.7, config=config)

    def snap():
        pairs = sorted(
            (r.url_a, r.url_b, r.jaccard)
            for r in spark.read.parquet(f"{work}/pairs").collect()
        )
        idx = sorted(
            r.url for r in spark.read.parquet(f"{work}/index").collect()
        )
        return pairs, idx

    before = snap()
    assert {(p[0], p[1]) for p in before[0]} == {
        ("u1", "u2"), ("u1", "u3"), ("u2", "u3")
    }
    assert before[1] == ["u1", "u2", "u3"]
    # the at-least-once retry: batch 1 runs again after its outputs already
    # landed — pairs and index must be IDENTICAL afterwards
    process_near_dup_batch(d1, 1, work, threshold=0.7, config=config)
    assert snap() == before


def test_foreachbatch_max_shingle_df_drops_boilerplate(spark, config, tmp_path):
    """With a batch-df cap, a boilerplate shingle shared by many docs stops
    generating candidates, while genuine near-dups still pair."""
    import datetime

    from dedup_spark.streaming.neardup import batch_near_dups_vs_index

    ts = datetime.datetime(2024, 1, 1)
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    nav = "home about contact privacy terms"  # one shared 5-token shingle
    rows = [
        ("u1", ts, None, nav + " aaa bbb ccc ddd eee", "en", "s"),
        ("u2", ts, None, nav + " fff ggg hhh iii jjj", "en", "s"),
        ("u3", ts, None, nav + " kkk lll mmm nnn ooo", "en", "s"),
        ("u4", ts, None, "real dup words one two three four five", "en", "s"),
        ("u5", ts, None, "real dup words one two three four five", "en", "s"),
    ]
    batch = spark.createDataFrame(rows, schema)
    pairs, _ = batch_near_dups_vs_index(
        batch, None, threshold=0.7, config=config, max_shingle_df=2
    )
    got = {tuple(sorted((r.url_a, r.url_b))) for r in pairs.collect()}
    assert got == {("u4", "u5")}


def test_foreachbatch_pairs_invariant_to_batch_split(spark, config, tmp_path):
    """The incremental-index path's correctness model: the union of pairs is
    the SAME set however the corpus is split into micro-batches (1, 2, or 3
    files), and equals the whole-corpus shared-shingle J>=0.7 truth."""
    import time

    from dedup_spark.streaming.neardup import run_stream_near_dups
    from dedup_spark.testdata import corpus_to_spark, make_corpus

    docs = corpus_to_spark(spark, make_corpus(120, 7)).cache()
    docs.count()
    results = {}
    for n_batches in (1, 3):
        src = str(tmp_path / f"src{n_batches}")
        work = str(tmp_path / f"w{n_batches}")
        parts = docs.withColumn(
            "_b", (F.xxhash64("url") % n_batches + n_batches) % n_batches
        )
        for b in range(n_batches):
            parts.filter(F.col("_b") == b).drop("_b").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            time.sleep(1.1)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream_near_dups(stream, work, threshold=0.7, config=config)
        results[n_batches] = {
            tuple(sorted((r.url_a, r.url_b)))
            for r in spark.read.parquet(f"{work}/pairs").collect()
        }
    assert results[1] == results[3]
    assert len(results[1]) > 0  # the corpus plants real near-dups


def test_foreachbatch_recrawl_no_self_pairs_latest_set_wins(spark, config, tmp_path):
    """A url present in the index AND re-crawled in a later batch must not
    pair with itself, must not emit duplicate pair rows, and must be
    verified against its LATEST shingle set (the re-crawl supersedes the
    indexed version)."""
    import datetime

    from dedup_spark.streaming.neardup import process_near_dup_batch

    work = str(tmp_path / "w")
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    ts = datetime.datetime(2024, 1, 1)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # batch 0: u1 (old content), u2 near-dup of old u1
    b0 = [("u1", ts, None, base, "en", "s"),
          ("u2", ts, None, base + " lambda", "en", "s")]
    # batch 1: u1 RE-CRAWLED with changed tail + u3 dup of the NEW u1
    new_text = base + " mu nu xi omicron"
    b1 = [("u1", ts + datetime.timedelta(hours=1), None, new_text, "en", "s"),
          ("u3", ts + datetime.timedelta(hours=1), None, new_text, "en", "s")]
    process_near_dup_batch(spark.createDataFrame(b0, schema), 0, work,
                           threshold=0.5, config=config)
    process_near_dup_batch(spark.createDataFrame(b1, schema), 1, work,
                           threshold=0.5, config=config)
    rows = spark.read.parquet(f"{work}/pairs").collect()
    pairs = [(r.url_a, r.url_b) for r in rows]
    assert all(a != b for a, b in pairs), f"self-pair in {pairs}"
    # per-batch uniqueness; ACROSS batches a re-crawl legitimately
    # re-emits its pairs as updated verdicts (latest batch_id wins)
    for bid in {r.batch_id for r in rows}:
        bp = [(r.url_a, r.url_b) for r in rows if r.batch_id == bid]
        assert len(bp) == len(set(bp)), f"dup rows in batch {bid}: {bp}"
    latest = {}
    for r in sorted(rows, key=lambda r: r.batch_id):
        latest[(r.url_a, r.url_b)] = r.jaccard
    # (u1, u3): identical NEW texts -> jaccard exactly 1.0 only if u1 was
    # verified against its latest set (vs the old set it is < 1)
    assert latest.get(("u1", "u3")) == 1.0
    # (u1, u2)'s latest verdict must reflect the RE-CRAWLED u1 (6 shared
    # shingles, 10 + 7 distinct -> 6/11), superseding batch 0's 6/7
    assert latest.get(("u1", "u2")) == round(6 / 11, 4)


def test_foreachbatch_df_cap_engages_against_index(spark, config, tmp_path):
    """A boilerplate shingle rare within each micro-batch but present in
    many INDEXED pages must stop generating candidates once the combined
    batch+index document frequency exceeds the cap."""
    import datetime

    from dedup_spark.streaming.neardup import process_near_dup_batch

    work = str(tmp_path / "w")
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, source string"
    )
    ts = datetime.datetime(2024, 1, 1)
    nav = "home about contact privacy terms"  # one shared 5-token shingle
    # 6 indexed pages each carrying the nav shingle once, one per batch
    for i in range(6):
        rows = [(f"u{i}", ts, None, nav + f" pad{i}a pad{i}b pad{i}c pad{i}d pad{i}e",
                 "en", "s")]
        process_near_dup_batch(spark.createDataFrame(rows, schema), i, work,
                               threshold=0.1, config=config, max_shingle_df=4)
    rows = [("v1", ts, None, nav + " qa qb qc qd qe", "en", "s")]
    process_near_dup_batch(spark.createDataFrame(rows, schema), 6, work,
                           threshold=0.1, config=config, max_shingle_df=4)
    got = {(r.url_a, r.url_b)
           for r in spark.read.parquet(f"{work}/pairs").collect()}
    # v1 shares ONLY the nav shingle with the 6 indexed pages; combined df
    # (7) > cap (4), so no candidate may survive for batch 6
    assert not any("v1" in p for p in got), f"boilerplate paired: {got}"
