"""Checkpoint/resume + lineage + metrics (N9 in SURVEY.md §2.7).

The reference re-checks file mtimes before destructive actions
(/root/reference/src/deal_with_duplicates.cpp:69-74,183-189) — its whole
"resume story" is "don't act on stale state". At cluster scale the analogue
is per-partition, per-stage checkpointing: every pipeline stage writes its
output atomically (staging dir + rename; an Iceberg snapshot commit in prod)
together with a marker recording the input lineage fingerprint, row count,
and wall time. A resumed job replays only stages whose marker is missing or
whose recorded lineage no longer matches the current input.

Layout under the checkpoint root:
    stage=<name>/...parquet          stage output
    _markers/<name>.json             {fingerprint, rows, wall_s, ...}
    _markers/<name>/<partition>.json per-partition markers (partitioned stages)
    metrics.jsonl                    one row per completed (stage, partition)

Fingerprints are content-based: bit_xor of xxhash64 over the key columns plus
the row count — cheap (one agg over the input), order-independent, overflow-
free under ANSI mode, and enough to catch the "input advanced underneath me"
case the reference guards against.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig


def lineage_fingerprint(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order-independent content fingerprint of df over `cols` (default all)."""
    cs = cols or df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cs])).alias("h"),
    ).collect()[0]
    return f"n={agg['n']},h={agg['h']}"


@dataclass
class StageRecord:
    stage: str
    partition: str  # "" for unpartitioned stages
    rows: int
    wall_s: float
    fingerprint: str
    finished_ts: float


class CheckpointedRun:
    """Stage-graph checkpointer over a local/posix checkpoint root.

    On Iceberg the same contract holds via snapshot commits + a manifest
    table; this shim keeps identical semantics on plain parquet
    (SURVEY.md §1.3 sandbox constraint).
    """

    def __init__(self, spark: SparkSession, root: str, config: DedupConfig):
        self.spark = spark
        self.root = root
        self.config = config
        os.makedirs(os.path.join(root, "_markers"), exist_ok=True)
        self.replayed: list[str] = []  # stages served from checkpoint
        self.computed: list[str] = []  # stages actually executed
        # how the pairs stage resolved: replay / incremental / full /
        # full(<fallback reason>) — evidence for resume audits
        self.pairs_mode: str = "none"
        self._lock = threading.Lock()  # metrics.jsonl + state lists

    # -- marker plumbing ----------------------------------------------------
    def _stage_path(self, name: str) -> str:
        return os.path.join(self.root, f"stage={name}")

    def _marker_path(self, name: str, partition: str = "") -> str:
        if partition:
            return os.path.join(self.root, "_markers", name, f"{partition}.json")
        return os.path.join(self.root, "_markers", f"{name}.json")

    def _read_marker(self, name: str, partition: str = "") -> dict | None:
        p = self._marker_path(name, partition)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write_marker(self, rec: StageRecord) -> None:
        p = self._marker_path(rec.stage, rec.partition)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            json.dump(asdict(rec), f)
        os.replace(tmp, p)
        # metrics.jsonl is append-shared across concurrently-finishing
        # partitions (row ORDER is completion order; the table is read back
        # order-free as a DataFrame)
        row = asdict(rec)
        row["docs_per_sec"] = round(rec.rows / rec.wall_s, 2) if rec.wall_s else None
        self._append_metrics(row)

    def _append_metrics(self, row: dict) -> None:
        with self._lock, open(os.path.join(self.root, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(row) + "\n")

    def _atomic_write(self, df: DataFrame, path: str, partition_by: str | None = None) -> None:
        # underscore prefix: Spark readers ignore leftover staging dirs from
        # crashed runs, so a resume never mistakes one for a data partition.
        # A crash between the staging write and os.replace leaves an orphan
        # no later read references — reclaim any orphan for THIS target now
        # (same-path writes are single-threaded by the stage contract), so
        # repeated crashes can't accumulate unbounded dead parquet. The match
        # is the EXACT staging shape (base + 8-hex suffix), not a prefix:
        # partitioned_stage writes sibling partitions concurrently, and a
        # partition value that extends this one past an underscore (e.g.
        # part=web vs part=web_2024) must never have its live staging dir
        # reclaimed by this target's sweep.
        parent, base = os.path.dirname(path), os.path.basename(path)
        if os.path.isdir(parent):
            pat = re.compile(re.escape(f"_staging_{base}_") + r"[0-9a-f]{8}\Z")
            for entry in os.listdir(parent):
                if pat.fullmatch(entry):
                    shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        staging = os.path.join(parent, f"_staging_{base}_{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(staging)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(staging, path)

    # -- public API ----------------------------------------------------------
    def stage(
        self,
        name: str,
        build,  # () -> DataFrame
        input_fingerprint: str,
    ) -> DataFrame:
        """Run (or replay) a whole stage. Replays iff a marker exists AND its
        recorded lineage fingerprint equals `input_fingerprint`."""
        marker = self._read_marker(name)
        path = self._stage_path(name)
        if marker and marker["fingerprint"] == input_fingerprint and os.path.exists(path):
            self.replayed.append(name)
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = build()
        self._atomic_write(df, path)
        out = self.spark.read.parquet(path)
        rows = out.count()
        self._write_marker(
            StageRecord(name, "", rows, round(time.perf_counter() - t0, 3),
                        input_fingerprint, time.time())
        )
        self.computed.append(name)
        return out

    def partitioned_stage(
        self,
        name: str,
        partitions: list[str],
        build,  # (partition_value) -> DataFrame
        input_fingerprints: dict[str, str],
        max_parallel: int = 8,
    ) -> DataFrame:
        """Per-partition resumable stage: each partition is computed, written,
        and marked independently; a resumed run replays finished partitions
        and computes only the missing/stale ones (the north rule's
        per-Iceberg-partition checkpoint unit).

        Partitions REMOVED from the input since a previous run are pruned
        (data dir + marker deleted) before the stage root is read — otherwise
        a resumed job would resurrect deleted input rows from the stale
        part= dir ("input advanced underneath me" also covers retreat)."""
        base = self._stage_path(name)
        os.makedirs(base, exist_ok=True)
        keep_dirs = {f"part={p}" for p in partitions}
        for entry in os.listdir(base):
            if entry.startswith("part=") and entry not in keep_dirs:
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
                self.replayed = [
                    r for r in self.replayed if r != f"{name}/{entry[5:]}"
                ]
        marker_dir = os.path.join(self.root, "_markers", name)
        if os.path.isdir(marker_dir):
            keep_markers = {f"{p}.json" for p in partitions}
            for mfile in os.listdir(marker_dir):
                if mfile.endswith(".json") and mfile not in keep_markers:
                    os.remove(os.path.join(marker_dir, mfile))
        todo: list[str] = []
        for part in partitions:
            fp = input_fingerprints[part]
            marker = self._read_marker(name, part)
            part_path = os.path.join(base, f"part={part}")
            if marker and marker["fingerprint"] == fp and os.path.exists(part_path):
                self.replayed.append(f"{name}/{part}")
                continue
            todo.append(part)

        def _compute(part: str) -> None:
            fp = input_fingerprints[part]
            part_path = os.path.join(base, f"part={part}")
            t0 = time.perf_counter()
            df = build(part)
            self._atomic_write(df, part_path)
            rows = self.spark.read.parquet(part_path).count()
            self._write_marker(
                StageRecord(name, part, rows, round(time.perf_counter() - t0, 3),
                            fp, time.time())
            )

        # stale/missing partitions compute CONCURRENTLY (bounded pool): each
        # partition's job is small relative to the cluster, so serial
        # submission leaves executors idle — at O(1000) input partitions this
        # is the difference between a full cluster and a one-job trickle.
        # Spark schedules concurrent actions on one session natively; markers
        # stay per-partition atomic, so a failure still preserves every
        # completed partition for resume. Raises the first failure.
        if todo:
            with ThreadPoolExecutor(
                max_workers=min(max_parallel, len(todo))
            ) as pool:
                list(pool.map(_compute, todo))
            self.computed.extend(f"{name}/{p}" for p in todo)
        # read the stage root: part= dirs are discovered as a partition
        # column, _staging_* leftovers are ignored by the reader
        return self.spark.read.parquet(base).drop("part")

    def assert_stable(self, df: DataFrame, recorded: str, cols: list[str] | None = None) -> None:
        """Reference's pre-destructive-action stability re-check
        (deal_with_duplicates.cpp:69-74): abort if the input moved."""
        now = lineage_fingerprint(df, cols)
        if now != recorded:
            raise RuntimeError(
                f"input advanced since scan (was {recorded}, now {now}); "
                "refusing destructive write"
            )

    def metrics(self) -> DataFrame:
        """The lineage/throughput metrics table (stage, partition, rows,
        wall_s, docs_per_sec, fingerprint, finished_ts)."""
        p = os.path.join(self.root, "metrics.jsonl")
        return self.spark.read.json(p)


def prepare_pages(pages: DataFrame, config: DedupConfig, source: str) -> DataFrame:
    """The prepared stage of one input partition: ingested rows (url,
    warc_ts, text, lang, source, content_hash) plus the stored per-doc
    features the pairs stage reads (simhash, bands, and sfps when the
    suffix channel is on).

    Per-doc signature features are computed HERE, inside the per-partition
    resumable stage, not in the global dedup: the fused signature UDF is
    the single most expensive per-doc stage (~25% of e2e at 600k), and it
    is embarrassingly parallel per document — so a resume after one changed
    Iceberg partition re-signs ONE partition, never the corpus. Docs that
    tokenize to nothing get null features (same set the pipeline's
    size(_tok) > 0 filter drops); the two-step select pins ONE UDF eval.

    Suffix channel on: the stage ALSO computes each doc's winnowed
    fingerprints (the O(tokens) part of the suffix channel), so a resume
    re-winnows only changed partitions and the pairs stage can bucket/diff
    the suffix channel from stored columns — the same re-sign-one-partition
    story the simhash/bands features get. The signature config digest
    covers the winnow knobs (plans/incremental.py) so stale fingerprints can
    never replay under a changed config."""
    from dedup_spark.functions.signatures import doc_signature_udf, token_hashes
    from dedup_spark.functions.text import normalize_text
    from dedup_spark.operators.scan import ingest_pages

    sig_udf = doc_signature_udf(
        config, include_signature=False, include_shingles=False
    )
    ing = ingest_pages(pages, config)
    has_tok = F.size("_tok") > 0
    out = (
        ing.select(
            "url", "warc_ts", "text", "lang",
            F.lit(source).alias("source"),
            F.xxhash64(normalize_text("text")).alias("content_hash"),
            token_hashes("text").alias("_tok"),
        )
        .select(
            "url", "warc_ts", "text", "lang", "source", "content_hash",
            "_tok", sig_udf(F.col("_tok")).alias("_s"),
        )
    )
    cols = [
        "url", "warc_ts", "text", "lang", "source", "content_hash",
        F.when(has_tok, F.col("_s.simhash")).alias("simhash"),
        F.when(has_tok, F.col("_s.bands")).alias("bands"),
    ]
    if config.suffix_enabled:
        from dedup_spark.operators.suffix import fingerprint_udf

        cols.append(
            F.when(has_tok, fingerprint_udf(config)(F.col("_tok"))).alias("sfps")
        )
    return out.select(*cols)


def run_dedup_checkpointed(
    pages: DataFrame,
    config: DedupConfig,
    root: str,
    partition_col: str = "source",
    run: "CheckpointedRun | None" = None,
) -> DataFrame:
    """Checkpoint-resumable end-to-end dedup.

    Stage graph: ingest+signatures are per-`partition_col` resumable (the
    embarrassingly-parallel 90% of the work at 100 TB); pair generation, CC,
    and representative selection are global stages checkpointed whole. Rerun
    with the same root and unchanged input -> every stage replays; change one
    input partition -> that partition's signatures plus the global suffix
    recompute.
    """
    from dedup_spark.plans.incremental import (
        canonical_pages,
        pairs_config_digest,
        signature_config_digest,
    )

    spark = pages.sparkSession
    if run is None:
        run = CheckpointedRun(spark, root, config)
    # pass a pre-built CheckpointedRun to inspect run.replayed/run.computed
    # afterwards (replay-vs-recompute evidence)

    # content-based, as the module docstring promises: include the text so a
    # document edited in place under the same (url, warc_ts) recomputes its
    # partition instead of replaying stale signatures. ALL partition
    # fingerprints come from ONE groupBy scan (same n=/h= formula as
    # lineage_fingerprint, so existing markers stay valid) — the per-partition
    # filtered-agg alternative is P full scans of the input when the source
    # table isn't physically partitioned on partition_col, and P jobs even
    # when it is; at the north rule's scale P is O(1000).
    fp_rows = (
        pages.groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("url", "warc_ts", "text")).alias("h"),
        )
        .collect()
    )
    # sorted at creation: collect() order is nondeterministic across runs,
    # and stage processing / progress-log order should be stable
    parts = sorted(r[0] for r in fp_rows)
    # "v3|": stage-format version — the prepared parquet carries the per-doc
    # signature features (simhash, bands), and the fingerprint embeds a
    # digest of every config knob those features depend on (a changed
    # shingle_k or banding must recompute, not replay stale features).
    # Versioning invalidates pre-v3 checkpoints exactly once instead of
    # replaying a schema the downstream stages can no longer consume.
    sig_cfg = signature_config_digest(config)
    fps = {r[0]: f"v3|cfg={sig_cfg}|n={r['n']},h={r['h']}" for r in fp_rows}

    def _build(p: str) -> DataFrame:
        return prepare_pages(
            pages.filter(F.col(partition_col) == p), config, source=p
        )

    prepared = run.partitioned_stage("prepared", parts, _build, fps)

    # cross-partition url canonicalization (S1: one row per url globally —
    # per-partition ingest can only dedup within its own partition). LAZY
    # memoized: building the view spills its tiny dup/resolved sides (an
    # eager corpus scan), which a pure warm replay must never pay. With a
    # single input partition the per-partition ingest already saw the whole
    # corpus, so the dup-detection agg would scan it for nothing.
    _canon: list[DataFrame] = []

    def canon() -> DataFrame:
        if not _canon:
            _canon.append(
                prepared if len(parts) <= 1
                else canonical_pages(prepared, config)
            )
        return _canon[0]

    # pairs + members fingerprints share one prefix: the pairs-config digest
    # first (so incremental eligibility is a prefix check — see _pairs_stage),
    # then every partition's content fingerprint.
    combined_fp = (
        f"v3|cfg={pairs_config_digest(config)}|"
        + "|".join(f"{p}:{fps[p]}" for p in parts)
    )
    pairs = _pairs_stage(run, canon, combined_fp, config)
    members = run.stage(
        "members",
        lambda: _members_from_pairs(canon(), pairs, config),
        combined_fp,
    )
    return members


def _pairs_version(fp: str) -> str:
    import hashlib

    return hashlib.md5(fp.encode()).hexdigest()[:12]


def _pairs_paths(root: str, fp: str) -> tuple[str, str, str]:
    """Artifact paths for one CONTENT VERSION of the pairs stage: the data
    parquet plus the two incremental sidecars live under a directory named
    by a digest of the stage fingerprint. A new run writes a NEW version and
    only then swings the marker to it (atomic os.replace), so the marker
    always references a complete, mutually consistent artifact set — a crash
    mid-write leaves unreferenced garbage (GC'd on the next success), never
    a marker pointing at mixed state the incremental resume could reuse."""
    v = _pairs_version(fp)
    return (
        os.path.join(root, "stage=pairs", v),
        os.path.join(root, "stage=pairs_meta", v, "buckets"),
        os.path.join(root, "stage=pairs_meta", v, "docsig"),
    )


def _pairs_stage(
    run: CheckpointedRun,
    prepared_fn: Callable[[], DataFrame],
    combined_fp: str,
    config: DedupConfig,
) -> DataFrame:
    """Global pairs stage with INCREMENTAL recompute on resume.

    Replays when nothing changed (marker fingerprint match). When input
    partitions changed but the previous run left a consistent artifact set
    (pairs parquet + bucket-fingerprint and doc-signature sidecars) under the
    SAME pairs-config digest, only the changed buckets regenerate and the
    rest of the cached pair set is reused (plans/incremental.py has the
    correctness model; the suffix channel participates via per-doc stored
    winnow fingerprints). Any violated invariant — config drift, ultra-hot
    near/suffix bucket, missing sidecars — falls back to the full recompute,
    never to a silent approximation. run.pairs_mode records which path ran
    ("replay" / "incremental" / "full" / "full(<reason>)"), and every
    computed resolution also lands in metrics.jsonl as an event="pairs_mode"
    row carrying the reason."""
    from dedup_spark.plans.incremental import (
        bucket_fingerprints,
        doc_signatures,
        full_pairs,
        incremental_pairs,
    )

    name = "pairs"
    marker = run._read_marker(name)
    path, buckets_path, docsig_path = _pairs_paths(run.root, combined_fp)
    if marker and marker["fingerprint"] == combined_fp and os.path.exists(path):
        run.replayed.append(name)
        run.pairs_mode = "replay"
        return run.spark.read.parquet(path)

    prepared = prepared_fn()
    t0 = time.perf_counter()

    # why the stage resolved the way it did — a 100 TB operator reading
    # metrics.jsonl must be able to see WHY a resume went full-cost
    head = combined_fp.split("|", 2)
    prefix = f"{head[0]}|{head[1]}|"  # "v3|cfg=<digest>|"
    old_path = old_buckets = old_docsig = None
    if marker is not None:
        old_path, old_buckets, old_docsig = _pairs_paths(
            run.root, marker["fingerprint"]
        )
    if marker is None:
        reason = "cold_no_marker"
    elif not marker["fingerprint"].startswith(prefix):
        reason = "config_drift"
    elif not (
        os.path.exists(old_path)
        and os.path.exists(old_buckets)
        and os.path.exists(old_docsig)
    ):
        reason = "missing_artifacts"
    else:
        reason = None

    # current-corpus sidecars: written straight to their final versioned
    # location (atomic staging+rename) and read back — one materialization
    # serves the incremental path's multiple reads (guard + diff + regen
    # semi-joins) AND the promotion, instead of the old spill-then-rewrite
    # double write. Writing before the pairs parquet is safe: the marker
    # swing at the end is the consistency point, and a crash in between
    # just leaves an unreferenced version dir the next run overwrites.
    df = None
    mode = "full"
    if reason is None:
        # incremental candidate: the sidecars are INPUTS to the diff, so
        # they must land before the pair build
        run._atomic_write(bucket_fingerprints(prepared, config), buckets_path)
        run._atomic_write(doc_signatures(prepared), docsig_path)
        df, why = incremental_pairs(
            prepared,
            run.spark.read.parquet(old_path),
            run.spark.read.parquet(old_buckets),
            run.spark.read.parquet(old_docsig),
            run.spark.read.parquet(buckets_path),
            run.spark.read.parquet(docsig_path),
            config,
        )
        mode = why if df is not None else f"full({why})"
        reason = why
        if df is None:
            df = full_pairs(prepared, config)
        run._atomic_write(df, path)
    else:
        # cold / config-drift / missing-artifact path: the sidecars only
        # serve FUTURE resumes, so their writes overlap the full pair
        # build+write on the same session (concurrent actions, the
        # partitioned_stage pattern) instead of serializing ahead of it
        with ThreadPoolExecutor(max_workers=2) as side:
            futs = [
                side.submit(
                    run._atomic_write,
                    bucket_fingerprints(prepared, config),
                    buckets_path,
                ),
                side.submit(
                    run._atomic_write, doc_signatures(prepared), docsig_path
                ),
            ]
            run._atomic_write(full_pairs(prepared, config), path)
            for f in futs:
                f.result()
    # the NEW version never touches the old one the plan still lazily
    # reads; the marker swings after, then superseded versions GC
    out = run.spark.read.parquet(path)
    rows = out.count()
    run._write_marker(
        StageRecord(
            name, "", rows, round(time.perf_counter() - t0, 3),
            combined_fp, time.time(),
        )
    )
    keep = _pairs_version(combined_fp)
    for base in (os.path.join(run.root, "stage=pairs"),
                 os.path.join(run.root, "stage=pairs_meta")):
        if os.path.isdir(base):
            for entry in os.listdir(base):
                # superseded versions AND orphaned staging dirs (a crash
                # between staging write and rename for any PRIOR version
                # name; the current version's staging was just renamed
                # away, so every remaining _staging_* here is dead)
                if entry != keep:
                    shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    run.computed.append(name)
    run.pairs_mode = mode
    # the resolution row: how (and why) the pairs stage ran. Written only on
    # the COMPUTED paths — a pure replay appends nothing (pinned by
    # tests/test_checkpoint.py's replay-adds-no-rows assertion).
    run._append_metrics(
        {
            "stage": name,
            "partition": "",
            "event": "pairs_mode",
            "mode": mode,
            "reason": reason,
            "finished_ts": time.time(),
        }
    )
    return out


def _members_from_pairs(
    prepared: DataFrame, pairs: DataFrame, config: DedupConfig
) -> DataFrame:
    """Pairs -> clusters -> members (the cheap global tail: the verified
    pair set is tiny relative to the corpus, so CC + representative
    selection run on urls directly — no id-compaction pass needed, which is
    what keeps a resume from paying a corpus-wide shuffle here)."""
    from dedup_spark.operators.components import connected_components
    from dedup_spark.operators.representatives import select_representatives

    # CC reads only the edges (and distincts them itself): the per-channel
    # rows need no provenance merge here
    labels = connected_components(
        pairs.select(F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b")),
        config,
    )
    idmap = prepared.select(
        "url",
        F.coalesce(
            F.regexp_extract("source", r"(\d+)$", 1).try_cast("int"), F.lit(0)
        ).alias("source_rank"),
        "warc_ts",
        F.length("text").cast("long").alias("doc_bytes"),
    )
    members = labels.select(F.col("id").alias("url"), "cluster_id").join(
        idmap, "url"
    )
    return select_representatives(
        members,
        cluster_col="cluster_id",
        order_cols=[F.col("source_rank").asc(), F.col("warc_ts").asc()],
        id_col="url",
    )
