"""Layer tracing for the benchmark: job-group spans, the event-log reader and
the Python UDF profiler hook.

The traced run composes `run_dedup` from the package's public functions in
the same order and with the same spill points. Around each layer call it
sets a Spark job group named after the layer and forces the layer's output,
so every job the layer runs carries that label. Task metrics come from the
uncompressed event log, read after the session stops; Python time comes from
Spark's UDF profiler (``spark.sql.pyspark.udf.profiler=perf``), cleared
before and read after each layer.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "scan_ids",
    "signatures",
    "exact",
    "lsh",
    "simhash",
    "suffix",
    "cand_merge",
    "verify",
    "pair_merge",
    "components",
    "representatives",
)
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("idle_frac", "frac", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("rows_out", "rows", "lower"),
    ("failed_tasks", "count", "lower"),
)
PYTHON_LAYERS = ("signatures", "verify", "suffix")
EXTRA_METRICS = (
    ("verify.kept_ratio", "frac", "higher"),
    ("total.jobs", "count", "lower"),
    ("total.tracing_overhead_s", "s", "lower"),
    ("total.layer_sum_frac", "frac", "higher"),
    ("checkpoint.prepared.wall_s", "s", "lower"),
    ("checkpoint.prepared.partitions_computed", "count", "lower"),
    ("checkpoint.pairs.wall_s", "s", "lower"),
    ("checkpoint.members.wall_s", "s", "lower"),
    ("checkpoint.pairs_incremental", "count", "higher"),
)
# job groups the benchmark uses for its own bookkeeping (row counts, the
# time between layers); never attributed to a layer
BENCH_GROUP_PREFIX = "bench."


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in report order."""
    out = [(f"{l}.{m}", u, b) for l in LAYERS for m, u, b in LAYER_METRICS]
    out += [(f"{l}.python_s", "s", "lower") for l in PYTHON_LAYERS]
    return out + list(EXTRA_METRICS)


@dataclass
class GroupStats:
    jobs: int = 0
    job_starts_ms: list = field(default_factory=list)  # epoch ms, per job
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Event-log lines (JSON, uncompressed) -> per-job-group task totals.

    A stage's tasks are attributed to the group of the first job that lists
    the stage: later jobs list a reused shuffle stage as skipped, and its
    tasks never run again. Tasks of stages no job lists (none in practice)
    and jobs without a group land under "", as do the jobs of Python threads
    the package starts itself: a plain thread does not inherit the job group
    of the thread that set it."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            st = groups.setdefault(g, GroupStats())
            st.jobs += 1
            st.job_starts_ms.append(ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "")
            st = groups.setdefault(g, GroupStats())
            st.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.task_s += m.get("Executor Run Time", 0) / 1000.0
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return groups


def event_log_files(path: str) -> list[str]:
    """The files of one application's event log: a single file, or (rolling
    layout, Spark's default since 4.0) the ``events_<n>_*`` files of an
    ``eventlog_v2_*`` directory in index order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def jobs_between(groups: dict[str, GroupStats], t0: float, t1: float) -> int:
    """Jobs of any group submitted between the epoch times t0 and t1 (s)."""
    lo, hi = t0 * 1000, t1 * 1000
    return sum(lo <= t <= hi for g in groups.values() for t in g.job_starts_ms)


def read_event_log(path: str) -> dict[str, GroupStats]:
    def lines():
        for p in event_log_files(path):
            with open(p) as f:
                yield from f

    return parse_event_log(lines())


@dataclass
class Span:
    wall_s: float = 0.0
    python_s: float = 0.0
    rows_out: int = 0


@dataclass
class Tracer:
    """Job-group spans around layer calls, with UDF-profiler time."""

    spark: object
    spans: dict = field(default_factory=dict)

    def _python_s(self) -> float:
        # the public spark.profile API only prints or dumps; the collector
        # holds the same per-UDF pstats objects
        stats = self.spark._profiler_collector._perf_profile_results
        return sum(s.total_tt for s in stats.values())

    @contextmanager
    def layer(self, name: str):
        sc = self.spark.sparkContext
        self.spark.profile.clear(type="perf")
        sc.setJobGroup(name, name)
        span = self.spans.setdefault(name, Span())
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s += time.perf_counter() - t0
            span.python_s += self._python_s()
            sc.setJobGroup(BENCH_GROUP_PREFIX + "idle", "")

    def force(self, name: str, build):
        """Build a frame with `build()` and run it under layer `name`:
        persist it and count its rows, so later layers read the cached
        result. Building happens inside the layer too, because several
        operators materialize eagerly (spills, CC's checkpoints)."""
        with self.layer(name) as span:
            df = build().persist()
            span.rows_out += df.count()
        return df

    def rows(self, df) -> int:
        """Row count outside every layer (for spilled, already-forced
        frames, whose count is a cheap parquet scan)."""
        self.spark.sparkContext.setJobGroup(BENCH_GROUP_PREFIX + "rows", "")
        return df.count()


def layer_report(
    spans: dict[str, Span],
    groups: dict[str, GroupStats],
    cores: int,
) -> dict[str, float]:
    """Spans + event-log groups -> {"<layer>.<metric>": value} for every
    layer (a layer the run did not enter reports zeros)."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        sp = spans.get(layer, Span())
        g = groups.get(layer, GroupStats())
        busy = sp.wall_s * cores
        out.update(
            {
                f"{layer}.wall_s": sp.wall_s,
                f"{layer}.task_s": g.task_s,
                f"{layer}.idle_frac": (1.0 - g.task_s / busy) if busy else 0.0,
                f"{layer}.jobs": g.jobs,
                f"{layer}.tasks": g.tasks,
                f"{layer}.shuffle_write_mb": g.shuffle_write_bytes / 1e6,
                f"{layer}.spill_mb": g.spill_bytes / 1e6,
                f"{layer}.rows_out": sp.rows_out,
                f"{layer}.failed_tasks": g.failed_tasks,
            }
        )
    for layer in PYTHON_LAYERS:
        out[f"{layer}.python_s"] = spans.get(layer, Span()).python_s
    cand = out["cand_merge.rows_out"]
    out["verify.kept_ratio"] = out["verify.rows_out"] / cand if cand else 0.0
    return out


# -- the traced pipeline -------------------------------------------------------


def traced_run_dedup(pages, config, tracer: Tracer):
    """`plans.pipeline.run_dedup` with its default channels (exact, minhash,
    simhash, plus suffix when `config.suffix_enabled`), composed from its
    public functions in the same order and with the same spill points, one
    job group per layer. Returns the collected (url, cluster_id,
    is_representative) rows."""
    from pyspark.sql import functions as F

    from dedup_spark.functions.signatures import doc_signature_udf, token_hashes
    from dedup_spark.operators.components import connected_components
    from dedup_spark.operators.exact import exact_dup_members
    from dedup_spark.operators.ids import assign_dense_ids
    from dedup_spark.operators.lsh import PAIR_CAP_ALL, lsh_candidate_pairs
    from dedup_spark.operators.representatives import select_representatives
    from dedup_spark.operators.scan import ingest_pages
    from dedup_spark.operators.suffix import suffix_repeat_pairs
    from dedup_spark.operators.summarize import summarize_clusters
    from dedup_spark.plans.pipeline import (
        merge_channel_pairs,
        merge_near_candidates,
        simhash_candidate_pairs,
        spill,
        verify_near_candidates,
    )

    null_ghash = F.lit(None).cast("long").alias("ghash")

    with tracer.layer("scan_ids"):
        with_ids = assign_dense_ids(
            ingest_pages(pages, config).select(
                "url",
                "text",
                F.coalesce(
                    F.regexp_extract("source", r"(\d+)$", 1).try_cast("int"),
                    F.lit(0),
                ).alias("source_rank"),
                "warc_ts",
                F.length("text").cast("long").alias("doc_bytes"),
            ),
            "url",
            "nid",
        )
        combined = spill(
            with_ids.select(
                "nid", "url", "text", "source_rank", "warc_ts", "doc_bytes"
            ),
            config,
            "docs",
        )
    tracer.spans["scan_ids"].rows_out = tracer.rows(combined)
    docs = combined.select(F.col("nid").alias("id"), "text")
    idmap = combined.select("nid", "url", "source_rank", "warc_ts", "doc_bytes")

    m = exact_dup_members(docs, id_col="id", text_col="text", config=config)
    exact = tracer.force(
        "exact",
        lambda: m.filter(F.col("id") != F.col("exact_cluster_id")).select(
            F.least("exact_cluster_id", "id").alias("id_a"),
            F.greatest("exact_cluster_id", "id").alias("id_b"),
            F.lit("exact").alias("channel"),
            F.lit(1.0).alias("jaccard"),
            F.col("text_hash").alias("ghash"),
        ),
    )

    with tracer.layer("signatures"):
        feats = (
            docs.select("id", token_hashes("text").alias("_tok"))
            .filter(F.size("_tok") > 0)
            .select(
                "id",
                doc_signature_udf(
                    config, include_signature=False, include_shingles=False
                )(F.col("_tok")).alias("s"),
            )
            .select("id", "s.simhash", "s.bands")
        )
        feats = spill(feats, config, "feats")
    tracer.spans["signatures"].rows_out = tracer.rows(feats)
    banded = feats.select("id", F.col("bands").alias("band_keys"))
    near = [
        tracer.force(
            "lsh", lambda: lsh_candidate_pairs(banded, config, channel="minhash")
        ),
        tracer.force(
            "simhash",
            lambda: simhash_candidate_pairs(feats.select("id", "simhash"), config),
        ),
    ]
    cand = tracer.force("cand_merge", lambda: merge_near_candidates(near))
    pairs = exact.unionByName(
        tracer.force(
            "verify",
            lambda: verify_near_candidates(docs, cand, config).withColumn(
                "ghash", null_ghash
            ),
        )
    )
    if config.suffix_enabled:
        pairs = pairs.unionByName(
            tracer.force(
                "suffix",
                lambda: suffix_repeat_pairs(
                    docs, config, pair_cap_all=PAIR_CAP_ALL
                ).select(
                    "id_a",
                    "id_b",
                    "channel",
                    F.lit(None).cast("double").alias("jaccard"),
                    null_ghash,
                ),
            )
        )

    pairs = tracer.force("pair_merge", lambda: merge_channel_pairs(pairs))
    labels = tracer.force("components", lambda: connected_components(pairs, config))

    with tracer.layer("representatives") as span:
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
        rows = members.select("url", "cluster_id", "is_representative").collect()
        summarize_clusters(members, bytes_col="doc_bytes").collect()
        span.rows_out = len(rows)
    return rows
