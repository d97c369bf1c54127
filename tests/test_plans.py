"""Physical-plan assertions: the scale properties the engine is designed
around, locked in as tests so later changes cannot silently regress them.

Each test captures `df.explain("formatted")` output and asserts a structural
property of the plan — these are the things a 100 TB run lives or dies by:
one exchange where one suffices, column pruning + filter pushdown reaching
the parquet scan, broadcast joins for small dims, and no cartesian product
anywhere on a scale path.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_exact_members_single_exchange(spark, config):
    """Exact dedup resolves hash-prune + content verify/split in ONE shuffle
    (operators/exact.py): both Window nodes share the (hash, vkey) exchange."""
    from dedup_spark.operators.exact import exact_dup_members

    df = spark.createDataFrame(
        [(f"u{i}", f"text {i % 3}") for i in range(12)], ["url", "text"]
    )
    plan = plan_of(exact_dup_members(df, config=config))
    # formatted explain lists each node once in the tree and once in the
    # detail section; count the "(n) NodeName" detail entries
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan


def test_documents_scan_prunes_columns_and_pushes_filters(spark):
    """A 2-column projection + id predicate must reach the parquet scan as
    ReadSchema pruning + PushedFilters — not a full-row scan."""
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 10)
        .select("doc_id", "lang")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan, plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema and "n_chars" not in read_schema, read_schema


def test_star_join_broadcasts_dims(spark):
    """Small dimension tables broadcast; the fact table never shuffles on the
    join key (q_region_revenue: region/nation/customer joins)."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["q_region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_q5_broadcasts_all_dims_no_cartesian(spark):
    """Q5's 6-way join: every dimension is a broadcast join (5 of them) and
    the local-supplier predicate rides the customer join as an equi-key —
    no cartesian / nested-loop anywhere."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["q5_local_supplier_revenue"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "n7_jaccard_pairs",
        "emb_near_dup_lsh",
        "emb_ann_topk",
        "emb_ivf_topk",
        "emb_domain_assign",
        "emb_semantic_dedup",
    ],
)
def test_scale_paths_have_no_cartesian_product(spark, name):
    """Every near-dup / ANN scale path is banded or celled equi-join work;
    a cartesian or nested-loop join anywhere means the plan is quadratic."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pipeline_pairs_have_no_cartesian_product(spark, pages, config):
    """The engine's own candidate+verify plan (all channels) is equi-join
    only — the property that makes run_dedup survive a 100x scale-up."""
    from dedup_spark.operators.ids import assign_dense_ids
    from dedup_spark.plans.pipeline import candidate_and_verified_pairs

    docs = assign_dense_ids(pages.select("url", "text"), "url").select(
        F.col("nid").alias("id"), "text"
    )
    plan = plan_of(
        candidate_and_verified_pairs(docs, config, ("exact", "minhash", "simhash"))
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_simhash_hamming_cut_is_inline_no_pair_joins(spark, config):
    """The SimHash channel's Hamming cut runs INSIDE the pair-generator
    bucket task (payload + pair_predicate): the plan must contain the
    bit_count(xor) expression but NO join keyed on the generated pair ids —
    the old shape's post-generation distinct + two fingerprint equi-joins
    shuffled ~11M block-collision pairs per 600k docs to keep 72k."""
    import re

    from dedup_spark.plans.pipeline import simhash_candidate_pairs

    sims = spark.range(0, 200).select("id", F.xxhash64("id").alias("simhash"))
    plan = plan_of(simhash_candidate_pairs(sims, config))
    assert "bit_count" in plan, plan
    assert not re.search(r"Join.*\bid_a\b", plan), plan
    assert not re.search(r"Join.*\bid_b\b", plan), plan


def test_decontaminate_broadcasts_eval_set(spark):
    """The eval shingle set is the broadcast side: the 100 TB train side must
    never shuffle for the contamination join (only the final per-doc count
    aggregates, map-side combined)."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c3_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name", ["c1_quality_filter", "c2_delta_dedup", "c13_token_rarity"]
)
def test_curation_paths_have_no_cartesian_product(spark, name):
    """Quality gating is pure hash aggregation and delta dedup is shingle-hash
    equi-join work — a cartesian anywhere means a quadratic plan."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_tokens_two_phase_prefix_sum_no_shard_funnel(spark):
    """Packing must never sort a whole shard in one task (the round-2 plan's
    Window.partitionBy(source) funnel): the plan carries a RANGE exchange on
    (source, doc_id) with local windows keyed by (partition, source), the
    tiny offset table comes back as a broadcast join, and no Window node
    partitions by the bare shard column over the full data."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c4_pack_tokens"](spark, SF_DIR))
    assert re.search(r"rangepartitioning\(source#\d+ ASC", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    # the old funnel was windowspecdefinition(source, doc_id ...): a full-data
    # window partitioned by the bare shard. The only windows allowed now are
    # (_pid, source) over the data and (source, _pid) over the tiny subtotal
    # aggregate.
    assert not re.search(r"windowspecdefinition\(source#\d+, doc_id", plan), plan
    specs = re.findall(r"windowspecdefinition\((_\w+|\w+)#\d+, (\w+)#\d+", plan)
    assert specs, plan
    for first, second in specs:
        assert (first, second) in {("_pid", "source"), ("source", "_pid")}, plan


def test_stratified_sample_one_agg_plus_broadcast(spark):
    """Corpus mixing scans the 100 TB side once: one exchange for the shard
    token totals, one SinglePartition exchange over the tiny post-agg totals
    (the in-plan shard count that replaced a driver-side count() job), and a
    broadcast of the rate table back — the data itself never shuffles."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c5_stratified_sample"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert plan.count("Arguments: SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_chunk_documents_no_shuffle(spark):
    """Chunking is pure row fan-out (Generate) — zero exchanges; it stays
    pipelined with the scan."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c6_chunk_documents"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0, plan
    assert "Generate" in plan, plan


def test_salted_pair_generator_bounded_input_reads(spark, tmp_path):
    """The pair generator reads its (often UDF-computed, caller-spilled)
    input at most 4x (counts + exhaustive-tier semi-join + two hot-tier
    consumers), and mid-size buckets are enumerated in one bounded task —
    no nsalt-fold row replication (the old triangulated tier's `sequence`
    fan-out must not reappear)."""
    from dedup_spark.operators.lsh import salted_pairs_from_buckets

    src = str(tmp_path / "exploded_input")
    spark.range(0, 5000).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(700)).alias("band_key")
    ).write.parquet(src)
    exploded = spark.read.parquet(src)
    pairs = salted_pairs_from_buckets(exploded, "x", nsalt=4)
    plan = plan_of(pairs)
    # 6 static scans = 3 tier branches x (input + its counts semi-join build
    # side); the counts exchange is identical across branches and reused at
    # runtime. The old triangulated shape statically scanned it 8x.
    assert plan.count("exploded_input") <= 6, plan
    assert "sequence(" not in plan, plan


def test_suffix_verify_reads_user_repartition_no_aqe_coalesce(spark):
    """The suffix channel verifies every member set (small buckets and
    hot-tier star edges) in ONE grouped-map pandas UDF, fed by the user
    `repartition(<session shuffle partitions>, "bkt")` with no second
    exchange in between. AQE never coalesces a repartition by number, so the
    CPU-heavy SA verify cannot silently fall back onto one task; the
    executed plan must show no AQEShuffleRead above that exchange."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators.suffix import suffix_repeat_pairs

    words = [f"w{i}" for i in range(300)]
    shared = " ".join(words[:80])
    docs = spark.createDataFrame(
        [(i, " ".join(words[100 + 20 * i : 120 + 20 * i]) + " " + shared)
         for i in range(6)],
        "id long, text string",
    )
    out = suffix_repeat_pairs(
        docs, DedupConfig(shuffle_partitions=8), pair_cap_all=4
    )
    nparts = spark.conf.get("spark.sql.shuffle.partitions")
    plan = plan_of(out)
    tree = plan.split("\n\n")[0]
    assert tree.count("FlatMapGroupsInPandas") == 1, plan
    assert "EvalPython" not in plan, plan  # no per-pair verify UDF
    below = []
    for line in tree[tree.index("FlatMapGroupsInPandas"):].splitlines()[1:]:
        name, node = re.search(r"(\w+) \((\d+)\)$", line).groups()
        if name == "Exchange":
            break
        below.append(name)
    assert set(below) <= {"Sort", "Project"}, plan
    detail = plan[plan.index(f"({node}) Exchange"):]
    args = re.search(r"Arguments: (.*)", detail).group(1)
    assert re.match(
        rf"hashpartitioning\(bkt#\d+L, {nparts}\), REPARTITION_BY_NUM", args
    ), args

    rows = out.collect()  # hot-tier star edges, each an exact 2-doc run
    assert rows and all(r.run_tokens == 80 for r in rows), rows
    final = out._jdf.queryExecution().executedPlan().toString()
    above = final[final.index("FlatMapGroupsInPandas"):]
    above = above[: above.index("Exchange")]
    assert "AQEShuffleRead" not in above, final


def test_jsonl_ingest_stays_jvm_side(spark, tmp_path):
    """JSONL ingest is a declarative scan: no Python evaluation node may
    appear in the plan (BatchEvalPython/ArrowEvalPython = a row-at-a-time
    slow path snuck in)."""
    import json

    from dedup_spark.sources.jsonl import read_jsonl_pages

    p = tmp_path / "pages.jsonl"
    p.write_text(json.dumps({"url": "u1", "text": "alpha"}) + "\n")
    plan = plan_of(read_jsonl_pages(spark, str(p)))
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_warc_ingest_one_task_per_archive_no_shuffle(spark, tmp_path):
    """WARC ingest is file-task granular: binaryFile scan straight into
    MapInPandas with no exchange before pages exist."""
    from dedup_spark.sources.warc import read_warc_pages

    (tmp_path / "seg0.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a.example/\r\nContent-Length: 2\r\n\r\n"
        b"xx\r\n\r\n"
    )
    plan = plan_of(read_warc_pages(spark, str(tmp_path)))
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_no_sort_aggregate_in_any_contract_query(spark):
    """Sweep every contract query's physical plan for SortAggregate.

    A SortAggregate means an aggregate whose buffer cannot live in
    HashAggregate's mutable fixed-width row (the classic trigger: a string-
    buffered min_by/max_by) — a full sort of the aggregated stream. The
    engine's pair paths were bitten once (min_by(channel, prio), fixed to a
    primitive min+decode in plans/pipeline.py); this guard keeps the whole
    contract surface free of the bug class. ObjectHashAggregate is allowed:
    it is the standard exec for collect_list/collect_set, which the bucket
    pair generators use by design. Streaming queries run their micro-batch
    harness during construction and are skipped here — their plans are
    pinned by tests/test_streaming.py.
    """
    from dedup_spark.queries import QUERIES

    skip = {"s9_stream_ingest", "s10_stream_first_seen",
            "n9_checkpoint_resume", "pipeline_end_to_end"}
    offenders = {}
    for name, fn in sorted(QUERIES.items()):
        if name in skip:
            continue
        plan = plan_of(fn(spark, SF_DIR))
        n = plan.count("SortAggregate")
        if n:
            offenders[name] = n
    assert not offenders, offenders


def test_segment_dedup_two_exchanges_no_python(spark):
    """dedup_segments (c8) is exactly two shuffles of the segment stream —
    the (hash, seg) window decides global first occurrence, the groupBy(doc)
    stitches survivors — with zero Python in the plan and the scan pruned to
    (doc_id, text)."""
    from dedup_spark.operators.curation import dedup_segments

    df = dedup_segments(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), window=20
    )
    plan = plan_of(df)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    assert "EvalPython" not in plan, plan
    assert "SortAggregate" not in plan, plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_chars" not in read_schema and "lang" not in read_schema


def test_redact_pii_zero_exchange_projection(spark):
    """PII scrub is a pure JVM regexp projection: no Exchange, no Python
    eval — it streams through the scan at parquet-read speed."""
    from dedup_spark.operators.curation import redact_pii
    from dedup_spark.queries import _docs

    plan = plan_of(redact_pii(_docs(spark, SF_DIR)))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_repetition_signals_fused_zero_exchange(spark):
    """Per-doc statistics move no data: the fused engine path is scan ->
    one ArrowEvalPython (the numpy n-gram kernel) -> projection, with NO
    Exchange anywhere and no row-at-a-time Python."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c10_repetition_signals"](spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_repetition_signals_relational_single_token_shuffle(spark):
    """The relational twin's n-gram stream crosses the wire ONCE: the
    per-doc window's hash partitioning clusters every downstream groupBy
    (subset-key distribution), so all three aggregations chain as
    HashAggregates with no further Exchange; the join-back broadcasts the
    per-doc aggregate."""
    from dedup_spark.operators.curation import repetition_signals_relational
    from dedup_spark.queries import _docs

    plan = plan_of(repetition_signals_relational(_docs(spark, SF_DIR)))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "SortAggregate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_source_cap_sample_two_phase_no_hot_source_funnel(spark):
    """source_cap_sample (c15) must never rank a whole hot source in one
    task: phase 1's Window partitions by (source, _salt) — the full-data
    pass — and only the cap-bounded survivors reach the bare-source
    phase-2 Window. Two Windows, two exchanges, nothing else."""
    from dedup_spark.operators.curation import source_cap_sample

    df = spark.createDataFrame(
        [(i, "tok " * (i % 5 + 1), f"s{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )
    plan = plan_of(source_cap_sample(df, cap=5))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan
    # the full-data window is salted (the salt alias is inlined as
    # pmod(xxhash64(id)) in the spec); the bare-source window exists only
    # above the _r1 <= cap filter
    salted = re.search(
        r"windowspecdefinition\(source#\d+, pmod\(xxhash64\(doc_id", plan
    )
    assert salted, plan
    bare = re.search(r"windowspecdefinition\(source#\d+, n_tokens#\d+", plan)
    assert bare, plan
    # Spark additionally pushes the rank filter down as WindowGroupLimit on
    # BOTH phases (partial limit before each exchange): every sort is a
    # bounded per-task top-K heap, never a full partition sort. Keep that.
    assert plan.count("WindowGroupLimit") >= 4, plan


def test_dedup_weights_single_members_window_no_corpus_shuffle(spark):
    """dedup_weights (c14) sizes clusters with ONE Window over the small
    members table; the corpus side contributes only a join (no window, no
    aggregation over the full corpus)."""
    from dedup_spark.operators.curation import dedup_weights

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(40)], "doc_id long, text string"
    )
    members = spark.createDataFrame(
        [(i, i % 4) for i in range(16)], "doc_id long, cluster_id long"
    )
    plan = plan_of(dedup_weights(docs, members))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert re.search(r"windowspecdefinition\(_lbl#\d+", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cross_source_dup_matrix_counts_only_no_pair_fanout(spark):
    """cross_source_dup_matrix (n13) derives pair counts from
    (cluster, source) COUNTS — the plan must contain no Generate (pair
    explosion) and no cartesian; the self-join is keyed on the cluster
    label."""
    from dedup_spark.operators.curation import cross_source_dup_matrix

    members = spark.createDataFrame(
        [(i, i % 3, f"s{i % 2}") for i in range(24)],
        "doc_id long, cluster_id long, source string",
    )
    plan = plan_of(cross_source_dup_matrix(members))
    assert "Generate" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bloom_delta_verify_joins_broadcast_base_never_shuffles(spark):
    """bloom_delta_new (c16): every verify-side join must broadcast the
    bloom-hit subset — the standing corpus is scanned, never shuffled or
    sort-merge-joined (the whole point of the sidecar), and nothing is
    cartesian. The only allowed exchanges move 8-byte (id, hash) rows:
    the slice-partitioned probe and the final union's consumers."""
    from dedup_spark.operators.bloom import bloom_delta_new

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(40)], "doc_id long, text string"
    )
    out = bloom_delta_new(
        docs.filter(F.col("doc_id") % 2 != 0),
        docs.filter(F.col("doc_id") % 2 == 0),
        materialize=lambda df: df,  # keep the full lineage in one plan
    )
    plan = plan_of(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert n_bhj == 3, plan  # hits->texts, verify-vs-base, resolve-left


def test_balanced_shards_two_phase_rank_no_total_sort_funnel(spark):
    """The global rank must ride a RANGE exchange on (n_tokens DESC, id)
    with per-partition windows and a broadcast offset join — never a
    partitionless window over the full data (a single-task total sort).
    Allowed window specs: (_pid, n_tokens DESC ...) over the data and the
    (_pid ASC) running sum over the tiny per-partition count table."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c17_balanced_shards"](spark, SF_DIR))
    assert re.search(r"rangepartitioning\(n_tokens#\d+L DESC", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    specs = re.findall(
        r"windowspecdefinition\((\w+#\d+L?(?:, \w+#\d+L?)?)[ ,]", plan
    )
    assert specs, plan
    for spec in specs:
        assert re.match(r"_pid#\d+(, n_tokens#\d+L)?$", spec), (spec, plan)


def test_seeded_shuffle_two_phase_rank_no_total_sort_funnel(spark):
    """c18 rides the same two-phase global rank as c17: a RANGE exchange on
    (shuffle_key ASC, doc_id ASC), windows only per _pid (data) or over the
    tiny per-partition count table — never a partitionless window over the
    corpus — and the offsets come back via broadcast join. The mix itself
    must stay a JVM projection (no Python)."""
    from dedup_spark.queries import QUERIES

    plan = plan_of(QUERIES["c18_seeded_shuffle"](spark, SF_DIR))
    assert re.search(r"rangepartitioning\(shuffle_key#\d+L ASC", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    specs = re.findall(
        r"windowspecdefinition\((\w+#\d+L?(?:, \w+#\d+L?)?)[ ,]", plan
    )
    assert specs, plan
    for spec in specs:
        assert re.match(r"_pid#\d+(, shuffle_key#\d+L)?$", spec), (spec, plan)
