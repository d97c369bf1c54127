"""Training-data curation operators: quality filtering, incremental dedup,
eval-set decontamination, corpus mixing, chunking, and sequence packing.

These extend the reference's dedup surface (SURVEY.md §2) with the operations
a large-scale LLM training-data pipeline runs between ingest and tokenization.
All are pure DataFrame compositions — no Python in the hot path except
the already-fused Arrow signature stage the callers feed in.

Scale notes (100 TB):
- quality_filter: two hash aggregations, both with map-side partial
  aggregation; the (doc, token) key is high-cardinality but each group is
  tiny, so no skew. No window over the whole corpus.
- incremental_near_dups: asymmetric delta-vs-base join on 8-byte shingle
  hashes. Exhaustive per shared shingle — the oracle-equality regime; at
  web scale, boilerplate shingles must first be dropped by document
  frequency (max_shingle_df), the standard curation trade (recall loss is
  explicit, not a silent cap).
- decontaminate: the eval shingle set is broadcast (eval benchmarks are
  MBs, not TBs) — the 100 TB train side never shuffles except the final
  per-doc count, which combines map-side.
- pack_tokens: two-phase distributed prefix sum over a (shard, id) range
  partitioning — local running sums bounded by partition size, tiny
  subtotal table broadcast back — so packing never funnels a shard
  through one task; within-shard order is the semantic contract of packing.
- stratified_sample: one map-side-combining aggregation for shard token
  totals, a broadcast of the tiny rate table back, a stateless filter —
  the corpus is scanned once and never shuffled.
- chunk_documents: pure Generate fan-out, zero exchanges.
- dedup_segments: Generate fan-out, one window keyed (xxhash64(seg), seg)
  for the global first-occurrence decision, one groupBy(doc) to stitch
  survivors — exactly two shuffles of the segment stream, no cliff when
  the duplicate-segment rate grows.
- redact_pii: pure per-row JVM regexp chain, ZERO exchanges — the scrub
  pass rides whatever scan partitioning the corpus already has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedup_spark.functions.text import _STOPWORDS, token_count, tokens


def quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_top_token_frac: float = 0.125,
    min_stopword_ratio: float = 0.01,
) -> DataFrame:
    """Gopher-style repetition/quality gate per document.

    Features: n_tokens, top_token_frac (most frequent token's share — the
    repetition signal), stopword_ratio (natural-language signal). keep is
    the AND of the three thresholds, decided on the unrounded ratios; the
    reported ratio columns are rounded to 4 places for the oracle compare.

    Distributed as explode -> count per (doc, token) -> per-doc aggregate:
    both groupBys combine map-side, and no per-doc data structure ever
    exceeds one token's count. Docs with no tokens survive via the left
    join with n_tokens = 0 (always dropped by min_tokens).
    """
    stops = sorted(_STOPWORDS["en"])
    toks = docs.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("tok"))
    per_tok = toks.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    agg = per_tok.groupBy("_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.max("cnt").alias("top_cnt"),
        F.sum(
            F.when(F.col("tok").isin(stops), F.col("cnt")).otherwise(F.lit(0))
        ).alias("n_stop"),
    )
    top_frac = F.coalesce(
        F.col("top_cnt").cast("double") / F.col("n_tokens"), F.lit(0.0)
    )
    stop_ratio = F.coalesce(
        F.col("n_stop").cast("double") / F.col("n_tokens"), F.lit(0.0)
    )
    n_tokens = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            n_tokens.alias("n_tokens"),
            F.round(top_frac, 4).alias("top_token_frac"),
            F.round(stop_ratio, 4).alias("stopword_ratio"),
            (
                (n_tokens >= F.lit(min_tokens))
                & (top_frac <= F.lit(max_top_token_frac))
                & (stop_ratio >= F.lit(min_stopword_ratio))
            ).alias("keep"),
        )
    )


def incremental_near_dups(
    delta: DataFrame,
    base: DataFrame,
    threshold: float = 0.7,
    id_col: str = "id",
    sh_col: str = "shingle_hashes",
    max_shingle_df: int | None = None,
    bloom: dict | None = None,
) -> DataFrame:
    """Incremental dedup: match a new batch (delta) against an existing
    corpus (base) by shingle-set Jaccard >= threshold.

    Exact text equality is subsumed (identical text => identical shingle
    set => Jaccard 1.0), so one channel covers both. Returns one row per
    delta doc: (id, status 'new'|'dup', canonical_id = min matching base
    id, best_jaccard = max matching Jaccard rounded to 4).

    Candidates are delta-shingle x base-shingle equi-joins on the 8-byte
    hash — recall 1.0 (J > 0 requires a shared shingle). At web scale, set
    max_shingle_df to drop boilerplate shingles whose BASE document
    frequency exceeds it before the join (explicit recall trade; the
    filter is on the base side only so delta-internal repetition cannot
    mask a true base match).

    `bloom` (geometry kwargs for operators/bloom.bloom_sidecar, e.g.
    {"n_slices": 64, "bits_per_slice": 1 << 18, "k": 7} — size to the
    base's DISTINCT shingle count at ~10+ bits/key) pre-filters the delta
    shingle stream through a Bloom sidecar of the base's shingle hashes
    before the candidate join. Mostly-novel batches then ship only the
    shingles that can possibly match: a Bloom miss cannot join (no false
    negatives), a false positive merely adds a joinless row — the result
    is IDENTICAL with or without (property-pinned in test_bloom). Built
    AFTER the max_shingle_df prune so dropped boilerplate shingles don't
    resurrect candidates through the sidecar. The standing-corpus pattern:
    pass a PREBUILT sidecar as bloom={"sidecar": df, **geometry} (same
    geometry it was built with, over the same post-prune shingle stream)
    so the one-time build amortizes across every incoming batch.
    """
    d_sh = delta.select(F.col(id_col).alias("_did"), F.col(sh_col).alias("_dsh"))
    b_sh = base.select(F.col(id_col).alias("_bid"), F.col(sh_col).alias("_bsh"))
    ex_b = b_sh.select("_bid", F.explode("_bsh").alias("_h"))
    if max_shingle_df is not None:
        hot = (
            ex_b.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_h")
        )
        ex_b = ex_b.join(hot, "_h", "left_anti")
    ex_d = d_sh.select("_did", F.explode("_dsh").alias("_h"))
    if bloom is not None:
        from dedup_spark.operators.bloom import bloom_probe, bloom_sidecar

        geo = {k: v for k, v in bloom.items() if k != "sidecar"}
        side = bloom.get("sidecar")
        if side is None:
            side = bloom_sidecar(ex_b.select(F.col("_h").alias("h")), **geo)
        ex_d = (
            bloom_probe(
                ex_d.select("_did", F.col("_h").alias("h")), side, **geo
            )
            .filter(F.col("maybe"))
            .select("_did", F.col("h").alias("_h"))
        )
    cand = ex_d.join(ex_b, "_h").select("_did", "_bid").distinct()
    inter = F.size(F.array_intersect("_dsh", "_bsh"))
    union = F.size("_dsh") + F.size("_bsh") - inter
    hits = (
        cand.join(d_sh, "_did")
        .join(b_sh, "_bid")
        .withColumn("_j", inter.cast("double") / union)
        .filter(F.col("_j") >= F.lit(threshold))
        .groupBy("_did")
        .agg(
            F.min("_bid").alias("canonical_id"),
            F.round(F.max("_j"), 4).alias("best_jaccard"),
        )
    )
    return (
        delta.select(F.col(id_col).alias("_did"))
        .join(hits, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.when(F.col("canonical_id").isNull(), F.lit("new"))
            .otherwise(F.lit("dup"))
            .alias("status"),
            "canonical_id",
            "best_jaccard",
        )
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "id",
    sh_col: str = "shingle_hashes",
) -> DataFrame:
    """Eval-set decontamination: per train doc, count its distinct shingles
    that appear anywhere in the eval set (n-gram overlap contamination,
    the pre-training hygiene check). Returns only contaminated docs
    (id, n_contaminated_shingles).

    The distinct eval shingle-hash set is broadcast: eval benchmarks are
    small by construction, so the train side — the 100 TB side — is a
    broadcast hash join with no shuffle before the final per-doc count
    (map-side combinable). If an eval set ever outgrows broadcast, drop
    the hint and the same plan degrades to a shuffle join.
    """
    ev = (
        eval_docs.select(F.explode(sh_col).alias("_h"))
        .distinct()
    )
    tr = train.select(F.col(id_col).alias("_tid"), F.explode(sh_col).alias("_h"))
    return (
        tr.join(F.broadcast(ev), "_h")
        .groupBy("_tid")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
        .select(F.col("_tid").alias(id_col), "n_contaminated_shingles")
    )


def keyword_extract(
    docs: DataFrame,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinctive-keyword extraction: per doc, the top_k tokens ranked by
    (term frequency desc, corpus document frequency asc, token asc) — the
    tf-idf ordering expressed over INTEGER keys only, so the ranking is
    bit-exact across engines (ln()-based idf differs in the last ulp
    between libm implementations; the integer sort never does).

    Plan: the same (doc, token) count table quality_filter builds, plus a
    token-keyed document-frequency aggregate joined back. The df table has
    one row per vocabulary token; hot tokens (stopwords) are single build
    rows, never a pair explosion. Final per-doc top-k is a window on the
    doc key.
    """
    toks = docs.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("token"))
    tf = toks.groupBy("_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("_id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            "token",
            "tf",
            "df",
        )
    )


def stratified_sample(
    docs: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
) -> DataFrame:
    """Corpus mixing: deterministically subsample each shard (source) to an
    equal share of a global token budget.

    Per shard: rate = min(1, (budget/n_shards) / shard_tokens), applied by a
    multiplicative integer hash of the id — ((id % 65536) * 48271) % 65536 is
    a bijection mod 2^16 (48271 is the MINSTD multiplier, odd), so exactly
    rate*65536/65536 of any id range is kept, spread pseudo-randomly, with
    NO floating point and no RNG state: the same row is kept on every run,
    engine, and partitioning. Over-budget shards are downsampled; under-
    budget shards pass through whole (rate 1).

    Plan: one map-side-combining agg for shard token totals (shard count
    derived in the same plan via an unpartitioned window over the tiny totals
    table — no driver-side count() job), broadcast back (shard cardinality is
    small), then a stateless filter — the 100 TB side is scanned once and
    never shuffled.
    """
    n_tok = F.size(tokens(text_col)).cast("long")
    sized = docs.select(F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens"))
    totals = sized.groupBy(shard_col).agg(
        F.sum("n_tokens").alias("_shard_tokens")
    ).withColumn(
        # single-partition window is fine: totals is post-agg shard
        # cardinality, a handful of rows
        "_n_shards", F.count(F.lit(1)).over(Window.partitionBy())
    )
    # integer `div`, not float division: rates must be bit-exact across
    # engines and partition counts even when budget*65536 exceeds 2^53
    rate64k = F.expr(
        f"least(cast(65536 as bigint), "
        f"((cast({token_budget} as bigint) div _n_shards) * 65536)"
        f" div _shard_tokens)"
    )
    keyed = sized.join(
        F.broadcast(totals.select(shard_col, rate64k.alias("_rate64k"))), shard_col
    )
    prand = (F.pmod(F.col(id_col), F.lit(65536)) * 48271) % 65536
    return (
        keyed.filter(prand < F.col("_rate64k"))
        .select(id_col, shard_col, "n_tokens", F.col("_rate64k").alias("rate64k"))
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token windows (RAG / context-
    window chunking): chunks start at 0, stride, 2*stride, ... and span
    chunk_size tokens (the last chunk is shorter). Empty docs yield no
    chunks; docs with <= chunk_size tokens yield exactly one.

    Pure JVM row fan-out (posexplode over a computed range + array slice):
    no shuffle at all — chunking is embarrassingly parallel and stays in
    whole-stage codegen next to the scan.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    w = tokens(text_col)
    n = F.size(w)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((F.greatest(n - chunk_size, F.lit(0)) + stride - 1) / F.lit(stride))
        + 1
    )
    # sequence(0, -1) would DESCEND in Spark, so gate the empty case to an
    # empty array (posexplode of [] emits no rows — empty docs vanish)
    idxs = F.when(n_chunks <= 0, F.array().cast("array<long>")).otherwise(
        F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long"))
    )
    start = F.col("chunk_idx") * stride  # 0-based token offset
    return (
        docs.select(
            F.col(id_col),
            w.alias("_w"),
            n.alias("_n"),
            F.posexplode(idxs).alias("chunk_idx", "_x"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice("_w", start + 1, F.lit(chunk_size))
            ).alias("chunk_text"),
            F.least(F.lit(chunk_size), F.col("_n") - start)
            .cast("long")
            .alias("chunk_n_tokens"),
        )
    )


def dedup_segments(
    docs: DataFrame,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level exact segment dedup — the CCNet/RefinedWeb-style
    boilerplate-removal pass, re-expressed over ALIGNED fixed-width token
    windows (this corpus model carries flat token streams, not newline-
    delimited paragraphs; aligned windows survive the point edits that
    produce near-dup pages, so shared boilerplate still collides exactly).

    Semantics: every `window`-token aligned segment that appears verbatim
    anywhere else in the corpus survives only at its FIRST occurrence
    (min (doc_id, seg_idx)); later occurrences are dropped and each doc's
    surviving segments are stitched back in order. Output one row per
    non-empty doc: (id, text_clean, n_segs, n_dropped); a doc whose every
    segment was seen earlier comes back with text_clean = ''. Empty docs
    yield no row (chunk_documents' convention).

    Plan (100 TB shape): zero-exchange Generate fan-out into segments (the
    chunk_documents shape), ONE window over (xxhash64(seg), seg) ordered by
    (doc_id, seg_idx) — the 8-byte hash is the cheap comparison prefix and
    the segment string in the partition key makes hash collisions harmless
    (equal key requires equal text; the exact channel's pattern) — then ONE
    groupBy(id) stitches survivors back. Two shuffles of the segment
    stream, both semantically forced: the drop decision is global by
    segment, the output is per-doc. (A three-stage variant — decide drops
    over a 16-byte projected stream, broadcast the (doc_id, seg_idx) drop
    list into an anti-join against a recomputed fan-out — saves shipping
    text through the first exchange but degrades to a THIRD full shuffle
    whenever the drop list outgrows the broadcast budget, which a 100 TB
    crawl's boilerplate rate guarantees; the two-shuffle plan has no such
    cliff.) First-occurrence attribution orders by (doc_id, seg_idx), so
    the result is deterministic under any input partitioning.
    """
    if window <= 0:
        raise ValueError("window must be positive")
    w = tokens(text_col)
    n = F.size(w)
    n_segs = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(window)) + 1
    )
    # sequence(0, -1) would DESCEND in Spark: gate the empty case to an
    # empty array (posexplode of [] emits no rows — empty docs vanish)
    idxs = F.when(n_segs <= 0, F.array().cast("array<long>")).otherwise(
        F.sequence(F.lit(0).cast("long"), (n_segs - 1).cast("long"))
    )
    segs = docs.select(
        F.col(id_col),
        w.alias("_w"),
        F.posexplode(idxs).alias("seg_idx", "_x"),
    ).select(
        id_col,
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.concat_ws(
            " ", F.slice("_w", F.col("seg_idx") * window + 1, F.lit(window))
        ).alias("seg"),
    )
    wspec = Window.partitionBy(F.xxhash64("seg"), "seg").orderBy(
        id_col, "seg_idx"
    )
    ranked = segs.withColumn("_rn", F.row_number().over(wspec))
    # struct field order (seg_idx, seg): sort_array orders by seg_idx, and
    # .getField("seg") is JVM ExtractValue — no interpreted lambda per doc
    kept = F.when(F.col("_rn") == 1, F.struct("seg_idx", "seg"))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(kept)).alias("_ks"),
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.count(F.when(F.col("_rn") > 1, F.lit(1)))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.col("_ks").getField("seg")).alias("text_clean"),
            "n_segs",
            "n_dropped",
        )
    )


# PII patterns shared VERBATIM with the DuckDB oracle (queries.py
# interpolates these constants into the c9 SQL): restricted to the regex
# subset where Java (Spark) and RE2 (DuckDB) agree — char classes, bounded
# repetition, \b, optional groups; no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"(\+\d{1,3}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4/RefinedWeb-style PII scrub: replace emails, IPv4 addresses and
    phone numbers with typed placeholder tokens, reporting per-doc match
    counts. Output: (id, text_redacted, n_emails, n_ips, n_phones).

    Redaction is SEQUENTIAL (email -> ip -> phone) and each count is taken
    on the text the corresponding replace actually sees, so the semantics
    are order-deterministic and reproducible in any engine that applies the
    same three passes (the DuckDB oracle mirrors the chain with
    regexp_replace(..., 'g')). Spark's regexp_replace is global already.

    Plan (100 TB shape): a pure projection — regexp_count/regexp_replace are
    JVM codegen expressions, zero exchanges, zero Python; the scrub streams
    through the scan at parquet-read speed and the scan is pruned to
    (id, text). Pattern dialect is the Java∩RE2 subset (see constants)."""
    after_email = F.regexp_replace(text_col, PII_EMAIL, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    return docs.select(
        F.col(id_col),
        F.regexp_replace(after_ip, PII_PHONE, "<PHONE>").alias(
            "text_redacted"
        ),
        F.regexp_count(F.col(text_col), F.lit(PII_EMAIL))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_IPV4))
        .cast("long")
        .alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PII_PHONE))
        .cast("long")
        .alias("n_phones"),
    )


def split_thresholds(val_pct: int = 10, test_pct: int = 10) -> tuple[int, int]:
    """Integer 64k-residue thresholds for (test, test+val) — computed with
    integer division so Spark and any oracle engine derive the exact same
    cut points (never float rates; the c5 precedent)."""
    t_test = 65536 * test_pct // 100
    return t_test, t_test + 65536 * val_pct // 100


def leakage_safe_split(
    docs: DataFrame,
    members: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "cluster_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Cluster-coherent train/val/test assignment: the split is a
    deterministic integer hash of the doc's DEDUP CLUSTER label (its own id
    when unclustered), so every member of a near-dup cluster lands in the
    same split — the standard guard against eval leakage through
    near-duplicates that a per-doc split cannot give. Output:
    (id, cluster_id, split) for every input doc.

    `members` is the (id, label) output of the dedup pipeline (docs absent
    from it are singletons). The hash is the c5 residue scheme:
    ((label % 65536) * 48271) % 65536 against integer-derived thresholds,
    reproducible verbatim in any engine.

    Plan (100 TB shape): ONE equi-join of the corpus with the members table
    on the 8-byte id (members carries only duplicate docs, typically a
    small fraction — AQE broadcasts it when it fits), then a stateless
    integer projection. No aggregation, no window, no Python.
    """
    t_test, t_val = split_thresholds(val_pct, test_pct)
    m = members.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl")
    )
    lbl = F.coalesce(F.col("_lbl"), F.col(id_col)).cast("long")
    r = ((lbl % 65536) * 48271) % 65536
    return (
        docs.select(id_col)
        .join(m, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            lbl.alias(label_col),
            F.when(r < t_test, F.lit("test"))
            .when(r < t_val, F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fused: bool = True,
) -> DataFrame:
    """Gopher-style within-document repetition signals over word n-grams
    (n = 2, 3): per doc, the n-gram count, the fraction of n-gram
    occurrences that are repeats of an earlier identical n-gram
    (``dup_{n}gram_frac`` = sum(cnt-1)/sum(cnt)), and the most frequent
    n-gram's share (``top_{n}gram_frac``). Complements quality_filter's
    1-gram ``top_token_frac``; Gopher's char-weighted variant is a
    deliberate simplification to occurrence-weighted (documented, exact,
    engine-reproducible). Docs with fewer than n+1 tokens report 0 counts
    and 0.0 fractions.

    Plan (100 TB shape, ``fused=True`` — the default): per-doc statistics
    need NO data movement, so the n-gram counting runs as ONE fused Arrow
    pass (functions/repetition.repetition_batch: rolling window hashes over
    xxhash64 tokens, lexsort + run-length counts — the doc_signature_udf
    pattern) and the only plan nodes are a scan, one ArrowEvalPython and a
    projection: ZERO exchanges, skew bound = longest single doc. Fraction
    and rounding arithmetic stays JVM-side, identical in both paths, so the
    DuckDB oracle is value-exact either way. Measured at 600k docs / 84M
    tokens / pinned local[8]: relational 111.5 s -> fused (see
    BENCH/curation_at_size.json); identity is property-pinned in
    tests/test_curation.py.
    """
    if not fused:
        return repetition_signals_relational(docs, id_col, text_col)
    from dedup_spark.functions.repetition import (
        REPETITION_NS,
        repetition_counts_udf,
    )
    from dedup_spark.functions.signatures import token_hashes

    r = docs.select(
        F.col(id_col),
        repetition_counts_udf()(token_hashes(text_col)).alias("_r"),
    )

    def _frac(n: int, name: str):
        tot = F.col(f"_r.tot{n}")
        return F.round(
            F.when(
                tot > 0, F.col(f"_r.{name}{n}").cast("double") / tot
            ).otherwise(F.lit(0.0)),
            4,
        )

    return r.select(
        F.col(id_col),
        *[
            e
            for n in REPETITION_NS
            for e in (
                F.col(f"_r.tot{n}").alias(f"n_{n}grams"),
                _frac(n, "dup").alias(f"dup_{n}gram_frac"),
                _frac(n, "top").alias(f"top_{n}gram_frac"),
            )
        ],
    )


def repetition_signals_relational(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Relational (oracle-shaped) twin of `repetition_signals` — same
    output, pure DataFrame ops. Kept as the equivalence pin for the fused
    kernel (its n-gram identity is string equality rather than window-hash
    equality) and as the fallback if a deployment must avoid Python workers.

    Plan: posexplode -> per-doc window ``lead`` builds both n-gram columns
    in ONE pass (plain codegen concat_ws, no interpreted higher-order
    lambdas), stack to (n, gram) long form, then groupBy(doc, n, gram) ->
    groupBy(doc, n) -> groupBy(doc). The window's hash partitioning on the
    doc id CLUSTERS every downstream groupBy (subset-key distribution), so
    the token stream crosses the wire ONCE; the only other exchange is the
    8-byte doc-id projection joined back for empty/short docs. Measured
    111.5 s at 600k/local[8] pinned — the fused path replaces it as the
    engine default.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("_id").orderBy("pos")
    led = toks.select(
        "_id",
        "tok",
        F.lead("tok", 1).over(w).alias("_t1"),
        F.lead("tok", 2).over(w).alias("_t2"),
    )
    grams = led.select(
        "_id",
        F.when(
            F.col("_t1").isNotNull(), F.concat_ws(" ", "tok", "_t1")
        ).alias("g2"),
        F.when(
            F.col("_t2").isNotNull(), F.concat_ws(" ", "tok", "_t1", "_t2")
        ).alias("g3"),
    )
    long_form = grams.selectExpr(
        "_id", "stack(2, 2, g2, 3, g3) AS (n, gram)"
    ).filter(F.col("gram").isNotNull())
    per_gram = long_form.groupBy("_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_n = per_gram.groupBy("_id", "n").agg(
        F.sum("cnt").alias("tot"),
        F.max("cnt").alias("top"),
        F.sum(F.col("cnt") - 1).alias("dup"),
    )

    def _pick(n: int, col: str):
        return F.max(F.when(F.col("n") == n, F.col(col)))

    def _frac(n: int, col: str):
        return F.round(
            F.coalesce(
                _pick(n, col).cast("double") / _pick(n, "tot"), F.lit(0.0)
            ),
            4,
        )

    agg = per_n.groupBy("_id").agg(
        *[
            e
            for n in (2, 3)
            for e in (
                F.coalesce(_pick(n, "tot"), F.lit(0))
                .cast("long")
                .alias(f"n_{n}grams"),
                _frac(n, "dup").alias(f"dup_{n}gram_frac"),
                _frac(n, "top").alias(f"top_{n}gram_frac"),
            )
        ]
    )
    out_cols = [c for c in agg.columns if c != "_id"]
    return (
        docs.select(F.col(id_col).alias("_id"))
        .join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            *[
                (
                    F.coalesce(F.col(c), F.lit(0)).cast("long")
                    if c.startswith("n_")
                    else F.coalesce(F.col(c), F.lit(0.0))
                ).alias(c)
                for c in out_cols
            ],
        )
    )


def pack_tokens(
    docs: DataFrame,
    budget: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
) -> DataFrame:
    """Sequence packing: concatenate each shard's docs in id order and chunk
    the token stream into fixed `budget`-token packs (the GPT-style
    concat-then-chunk layout). A doc belongs to the pack where its first
    token lands; pack_pos is that offset within the pack.

    Two-phase distributed prefix sum — the round-2 plan
    (``Window.partitionBy(shard)``) funneled an ENTIRE shard through one
    task, a multi-TB single-partition sort at 100 TB with O(10) sources:

      1. range-partition on (shard, id) — id order within a shard maps to
         partition order — and take local running sums per
         (partition, shard) window, whose group size is bounded by the
         range partition (~maxPartitionBytes), never by the shard;
      2. aggregate per-(partition, shard) subtotals (P x shards tiny rows),
         turn them into cumulative shard offsets with a window over that
         tiny table, and broadcast-join the offsets back.

    start = shard_offset(partition) + local_running_sum - n_tokens, identical
    to the single-window result for every row. pack_id uses integer `div`
    (never float division) so the integer-only bit-exactness contract vs the
    DuckDB `//` oracle is literal, not a <2^53 accident.
    """
    n_tok = F.size(tokens(text_col)).cast("long")
    t = (
        docs.select(F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens"))
        .repartitionByRange(F.col(shard_col), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    wloc = Window.partitionBy("_pid", shard_col).orderBy(id_col)
    t = t.withColumn("_local_end", F.sum("n_tokens").over(wloc))
    # subtotal per (partition, shard) == the group's final running sum; built
    # FROM the windowed stream so both consumers share one exchange and one
    # tokenize pass, and the _pid assignment is structurally identical.
    subs = t.groupBy("_pid", shard_col).agg(F.max("_local_end").alias("_sub"))
    woff = Window.partitionBy(shard_col).orderBy("_pid")
    offs = subs.select(
        "_pid",
        shard_col,
        (F.sum("_sub").over(woff) - F.col("_sub")).alias("_off"),
    )
    start = F.col("_off") + F.col("_local_end") - F.col("n_tokens")
    return (
        t.join(F.broadcast(offs), ["_pid", shard_col])
        .withColumn("_start", start)
        .withColumn("pack_id", F.expr(f"_start div {int(budget)}"))
        .withColumn("pack_pos", F.col("_start") % F.lit(budget))
        .select(id_col, shard_col, "n_tokens", "pack_id", "pack_pos")
    )


def token_rarity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-commonness scoring: for every document, the average DOCUMENT
    FREQUENCY of its distinct tokens — high avg df = template/boilerplate
    vocabulary shared across the crawl, low = rare/specialist text. The
    corpus-statistics quality signal CCNet-class pipelines use where a
    per-doc heuristic (`quality_filter`) cannot see cross-document
    commonness.

    Output: (id, n_distinct_tokens, avg_token_df) with
    avg_token_df = sum(df of each distinct token) / n_distinct_tokens —
    two EXACT integer sums and one final division, so the score is
    bit-reproducible across engines (unlike log-based perplexity, whose
    per-call libm ulp drift accumulates over a doc's tokens). Empty docs
    keep a row with n_distinct_tokens = 0 and a null score.

    Plan (100 TB shape): one distinct-token explode feeding a map-side-
    combining df agg (vocabulary-sized output), one equi-join of the token
    stream back to that table keyed by the token, one per-doc agg. The df
    table is Zipf-bounded (vocabulary grows ~sublinearly with corpus), so
    AQE typically broadcasts it; no window, no driver action, and skew on
    stopword-class tokens is bounded by the join being map-side after the
    broadcast.
    """
    tok = docs.select(
        F.col(id_col).alias("_tid"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    df_tab = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    per_doc = (
        tok.join(df_tab, "tok")
        .groupBy("_tid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            F.sum("_df").alias("_s"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("_tid"))
        .join(per_doc, "_tid", "left")
        .select(
            F.col("_tid").alias(id_col),
            F.coalesce("n_distinct_tokens", F.lit(0)).cast("long").alias(
                "n_distinct_tokens"
            ),
            F.round(
                F.col("_s") / F.col("n_distinct_tokens"), 4
            ).alias("avg_token_df"),
        )
    )


def containment_pairs(
    docs_sh: DataFrame,
    threshold: float = 0.9,
    id_col: str = "id",
    sh_col: str = "shingle_hashes",
    config=None,
) -> DataFrame:
    """Partial-copy detection: pairs whose shingle-set CONTAINMENT
    |A∩B| / min(|A|, |B|) >= threshold — the asymmetric near-dup flavor
    symmetric Jaccard misses (a syndicated article wrapped in a big portal
    page has high containment but low Jaccard because the denominators
    differ), the signal behind quote/wrapper/superset detection in webtext
    curation.

    Input: (id, shingle_hashes) — callers with UDF-computed shingles must
    spill first (the salted generator reads its input multiple times).
    Output: (id_a, id_b, containment) with id_a < id_b; the threshold
    decision compares the UNROUNDED IEEE ratio (the c2/n7 precedent),
    the output column is rounded to 4.

    Plan (100 TB shape): candidates ride the size-aware salted bucket
    generator on shingle-hash keys (containment > 0 requires a shared
    shingle; recall 1 below the star cap, the same surfaced boilerplate
    trade as every shingle channel), then one wide equi-join pins both
    shingle sets for the exact intersect — never a cross join.
    """
    from dedup_spark.config import DEFAULT_CONFIG
    from dedup_spark.operators.lsh import salted_pairs_from_buckets

    cfg = config or DEFAULT_CONFIG
    ex = docs_sh.select(
        F.col(id_col).alias("id"), F.explode(sh_col).alias("band_key")
    )
    cand = salted_pairs_from_buckets(
        ex, channel="containment", nsalt=cfg.bucket_salts
    ).select("id_a", "id_b")
    a = docs_sh.select(F.col(id_col).alias("id_a"), F.col(sh_col).alias("_sa"))
    b = docs_sh.select(F.col(id_col).alias("id_b"), F.col(sh_col).alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    denom = F.least(F.size("_sa"), F.size("_sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("_c", inter.cast("double") / denom)
        .filter(F.col("_c") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("_c", 4).alias("containment"))
    )


def dedup_weights(
    docs: DataFrame,
    members: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "cluster_id",
) -> DataFrame:
    """Soft dedup: keep EVERY document but weight it 1/cluster_size, so a
    page crawled 500 times contributes one page's worth of gradient — the
    duplication-aware sampling weight pipelines use when hard dedup is too
    lossy (boilerplate variants can carry unique tails) or when the mixing
    stage wants to re-decide retention downstream of dedup.

    `members` is the (id, label) output of the dedup pipeline (docs absent
    from it are singletons — the c11/leakage_safe_split convention). Output:
    (id, cluster_id, cluster_size, weight) for every input doc, with
    weight = 1.0 / cluster_size left UNROUNDED — a single IEEE division of
    1.0 by an exact integer is bit-reproducible across engines (the
    n7/c2 unrounded-division precedent; rounding would actually HURT parity
    because 1/32 = 0.03125 ties at the 5th decimal and Spark and DuckDB
    break round-half ties differently).

    Plan (100 TB shape): cluster sizes come from ONE window over the
    members table keyed by the cluster label — members carries only
    duplicate docs, typically a small fraction of the corpus — then ONE
    left equi-join back to the corpus on the 8-byte id (AQE broadcasts the
    weighted members table when it fits). Singleton docs never shuffle;
    no window ever sees the full corpus.
    """
    m = members.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl")
    )
    m = m.select(
        "_id",
        "_lbl",
        F.count(F.lit(1)).over(Window.partitionBy("_lbl")).alias("_n"),
    )
    lbl = F.coalesce(F.col("_lbl"), F.col(id_col)).cast("long")
    n = F.coalesce(F.col("_n"), F.lit(1)).cast("long")
    return (
        docs.select(id_col)
        .join(m, F.col(id_col) == F.col("_id"), "left")
        .select(
            F.col(id_col),
            lbl.alias(label_col),
            n.alias("cluster_size"),
            (F.lit(1.0) / n).alias("weight"),
        )
    )


def source_cap_sample(
    docs: DataFrame,
    cap: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_salts: int = 32,
) -> DataFrame:
    """Per-source quota selection: keep at most `cap` documents per source,
    ranked by (n_tokens DESC, id ASC) — the anti-dominance pass web corpora
    run so one template-heavy host/dump cannot drown the mixture (the
    host-cap rule in Common-Crawl-derived pipelines), with a deterministic
    integer ordering any engine reproduces bit-exactly (no RNG, no floats).

    Output: (id, source, n_tokens, rank) for the kept docs, rank 1..cap
    within source.

    Plan (100 TB shape): a single window keyed by source funnels every doc
    of a hot source through one task (the pack_tokens lesson), so this runs
    two-phase top-K instead: phase 1 ranks within (source, id % n_salts)
    and keeps at most `cap` rows per salt — any global top-cap row is
    preceded in its own salt group by a subset of the rows that precede it
    source-wide, so it survives phase 1 (the ordering is total, making the
    composition EXACT, not approximate) — then phase 2 ranks the
    <= n_salts*cap survivors per source, bounding the final task at
    n_salts*cap rows no matter how hot the source. Identity to the
    single-window plan is property-pinned in tests/test_curation.py.
    """
    ranked = docs.select(
        F.col(id_col),
        F.col(source_col),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    order = [F.col("n_tokens").desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(
        source_col, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).alias("_salt")
    ).orderBy(*order)
    survivors = (
        ranked.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_r1")
    )
    w2 = Window.partitionBy(source_col).orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= cap)
    )


def cross_source_dup_matrix(
    members: DataFrame,
    label_col: str = "cluster_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair (a <= b), how
    many duplicate-document pairs straddle them — the corpus-provenance
    report that answers "which dumps/feeds are copying which" (syndication,
    mirror detection, re-crawl overlap) before deciding what to drop.

    Input: the pipeline members table joined with each doc's source —
    (id, cluster_id, source). Pair counts are derived purely from
    per-(cluster, source) COUNTS, never from an enumerated pair table:
    a cluster with n_a docs from a and n_b from b contributes n_a*n_b
    cross pairs (or n*(n-1)/2 within a source) — integer arithmetic only.
    Output: (source_a, source_b, n_dup_pairs, n_clusters) with
    source_a <= source_b; zero-pair cells are omitted.

    Plan (100 TB shape): ONE map-side-combining groupBy collapses the
    members table to (cluster, source) counts — output bounded by
    clusters x sources, orders of magnitude below the corpus — then a
    self-equi-join keyed by the cluster label and a final |sources|^2-sized
    aggregation. The corpus-sized table is touched once; no windows, no
    pair explosion (a 10^6-copy boilerplate cluster is ONE counts row per
    source, not 10^12 pairs).
    """
    counts = members.groupBy(
        F.col(label_col).alias("_l"), F.col(source_col).alias("_src")
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    a = counts.select(
        "_l", F.col("_src").alias("source_a"), F.col("_n").alias("_na")
    )
    b = counts.select(
        F.col("_l").alias("_l2"),
        F.col("_src").alias("source_b"),
        F.col("_n").alias("_nb"),
    )
    pair_cnt = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("_na * (_na - 1) div 2"),
    ).otherwise(F.col("_na") * F.col("_nb"))
    return (
        a.join(
            b,
            (F.col("_l") == F.col("_l2"))
            & (F.col("source_a") <= F.col("source_b")),
        )
        .withColumn("_pairs", pair_cnt.cast("long"))
        .filter(F.col("_pairs") > 0)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("_pairs").cast("long").alias("n_dup_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
        )
    )


def _global_rank(t: DataFrame, *order) -> DataFrame:
    """Append a 1-based global ``rank`` column ordered by `order` WITHOUT a
    single-task total sort (the pack_tokens two-phase pattern): range-
    partition on the order columns so partition order == rank order, take
    per-partition ``row_number`` windows (group size bounded by the range
    split, ~maxPartitionBytes, never by the corpus), aggregate the tiny
    per-partition counts into prefix offsets with a window over that
    P-row table, and broadcast the offsets back.

    rank = offset(partition) + local row_number — identical to the single-
    window ``row_number() OVER (ORDER BY ...)`` result for every row, which
    is exactly what the SQL oracles compute. `order` must be a total order
    (tie-break on a unique id) or ranks at range-partition boundaries could
    differ from the single-window tie ordering.
    """
    t = t.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    wloc = Window.partitionBy("_pid").orderBy(*order)
    t = t.withColumn("_local_rank", F.row_number().over(wloc).cast("long"))
    subs = t.groupBy("_pid").agg(F.max("_local_rank").alias("_cnt"))
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = subs.select(
        "_pid", (F.sum("_cnt").over(woff) - F.col("_cnt")).alias("_off")
    )
    return (
        t.join(F.broadcast(offs), "_pid")
        .withColumn("rank", F.col("_off") + F.col("_local_rank"))
        .drop("_pid", "_local_rank", "_off")
    )


# MINSTD (Lehmer) parameters: a full-period multiplicative LCG over the
# prime modulus 2^31-1. Chosen over xxhash64 for the shuffle key because the
# mix must be INTEGER-ONLY and engine-portable — any SQL engine reproduces
# ((id + seed) % M) * mult % M bit-for-bit, which is what makes the epoch
# order auditable outside Spark. The multiplier is the SEED-DEPENDENT
# skip-ahead power A^(seed+1) mod M (computed driver-side): an affine mix
# like (id + seed) * A would shift every key by the same constant when the
# seed changes, leaving the ORDER almost unchanged except at the mod
# wraparound (~A/M of rows) — caught by the seed-sensitivity test; distinct
# multiplier powers permute the residues completely differently. (A
# production pipeline free of the cross-engine constraint can swap the key
# expression for xxhash64(id, seed) unchanged.)
_MINSTD_M = 2147483647
_MINSTD_A = 48271


def minstd_shuffle_mult(seed: int) -> int:
    """The seed's skip-ahead multiplier A^(seed+1) mod M — exposed so SQL
    oracles can embed the same constant."""
    return pow(_MINSTD_A, seed + 1, _MINSTD_M)


def seeded_shuffle(
    docs: DataFrame, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic seeded global shuffle — the reproducible training-epoch
    order every dataloader needs: position = global rank of an integer mix
    of (id, seed), so the permutation is a pure function of (corpus, seed),
    stable across cluster sizes, partitioning, and engines.

    Output one row per doc: (id, shuffle_key, position) with position in
    0..n-1 (0-based, dataloader-style). Different seeds give different
    permutations; the same seed always replays the same order, so a resumed
    or re-run training job reads identical batches.

    Scale: the mix is a stateless JVM projection; the rank is the two-phase
    range-partition + broadcast-offsets computation (`_global_rank`) — no
    task ever sorts more than one range split, no matter the corpus size.

    Requires non-negative ids and seed (both engines' `%` is dividend-
    signed; non-negative inputs keep the arithmetic identical everywhere).
    The key space is the MINSTD field (2^31 - 1): at n approaching or
    exceeding ~2 x 10^9 docs, ids congruent mod M share a key and fall
    back to ascending-id order within the collision group — deterministic
    and correct, but the permutation quality degrades; shuffle within
    id-namespace shards (or re-id) past that bound.
    """
    if seed < 0:
        raise ValueError("seed must be non-negative")
    mult = minstd_shuffle_mult(int(seed))
    # cast BEFORE the arithmetic: an IntegerType id would otherwise make
    # the whole mix 32-bit and silently wrap at (id % M) * mult
    key = (
        (F.col(id_col).cast("long") + F.lit(int(seed))) % F.lit(_MINSTD_M)
    ) * F.lit(mult) % F.lit(_MINSTD_M)
    t = docs.select(F.col(id_col), key.cast("long").alias("shuffle_key"))
    r = _global_rank(t, F.col("shuffle_key").asc(), F.col(id_col).asc())
    return r.select(
        id_col, "shuffle_key", (F.col("rank") - 1).alias("position")
    )


def balanced_shards(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-balanced output sharding for training dataloaders: assign every
    doc to one of `n_shards` shards so per-shard token totals come out
    near-equal (each shard's sum within ~one max-doc of the ideal), while
    the assignment stays a pure deterministic function of the corpus —
    reproducible by any SQL engine.

    Method: rank all docs globally by (n_tokens DESC, id ASC) and snake the
    ranking across shards (rank r -> g = (r-1) mod 2S; shard = g if g < S
    else 2S-1-g — the boustrophedon placement: big docs spread first, each
    back-and-forth pass balances the previous one's tail bias). Output one
    row per doc: (id, n_tokens, rank, shard).

    The global rank is computed WITHOUT a single-task total sort (the
    pack_tokens pattern): range-partition on (n_tokens DESC, id) so
    partition order == rank order, take per-partition row_number windows,
    and broadcast the tiny per-partition count prefix back as offsets.
    rank = offset(partition) + local row_number, identical to the
    single-window result for every row; no task ever holds more than a
    range-partition split (~maxPartitionBytes), no matter the corpus.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    n_tok = F.size(tokens(text_col)).cast("long")
    t = docs.select(F.col(id_col), n_tok.alias("n_tokens"))
    r = _global_rank(t, F.col("n_tokens").desc(), F.col(id_col).asc())
    g = (F.col("rank") - 1) % F.lit(2 * n_shards)
    return r.select(
        id_col,
        "n_tokens",
        "rank",
        F.when(g < n_shards, g)
        .otherwise(2 * n_shards - 1 - g)
        .cast("long")
        .alias("shard"),
    )
