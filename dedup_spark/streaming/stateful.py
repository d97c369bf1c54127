"""Custom stateful streaming operator: cross-micro-batch first-seen dedup.

`dropDuplicates` (streaming/ingest.py) can only *drop* later copies; a
training-data front door usually wants to KEEP every arrival but label it —
first copy vs duplicate-of-what — so downstream sinks can route originals
and duplicates differently. That labeling needs per-key state that outlives
a micro-batch, which is exactly what `applyInPandasWithState` provides:
per content-hash state (copies seen so far, the first url) carried across
batches, evicted by event-time timeout so state stays O(hashes per TTL
window), not O(corpus) — the boundedness that lets this run forever at
crawl scale.

Scale shape: state is partitioned by content_hash (the same shuffle key the
batch exact channel uses), each key's state is 16 bytes + one url, and the
per-batch work per key is vectorized numpy over that key's arrivals. The
Arrow batch transfer is the same machinery as the signature stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG
from dedup_spark.functions.text import normalize_text

_OUT_SCHEMA = (
    "url string, warc_ts timestamp, content_hash long, "
    "is_first boolean, n_prior long, dup_of string"
)
_STATE_SCHEMA = "n_seen long, first_url string"


def stream_first_seen(
    stream: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
    watermark: str = "1 hour",
    state_ttl_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Label every arriving page first-copy / duplicate across micro-batches.

    Output: one row per arrival — is_first, n_prior (copies of this content
    seen before it), dup_of (the first copy's url, null for firsts). Within
    a batch a key's arrivals are ordered by (warc_ts, url) so the labeling
    is deterministic and independent of partitioning.

    State eviction: event-time timeout at watermark + state_ttl_ms. A copy
    arriving after its key's state was evicted is labeled first again —
    the documented TTL trade every watermarked streaming dedup makes.

    **Late-data drop (size the watermark to the source's disorder)**:
    Structured Streaming silently filters rows whose event time is behind
    the advancing watermark BEFORE they reach the stateful operator
    (applied with a one-batch lag), so "one row per arrival" holds only for
    arrivals within `watermark` of the max event time seen. A live crawl
    feed (arrival order ~ event order) loses only stragglers; a BACKFILL
    replaying historical files in non-event-time order can silently lose
    most of the corpus — measured: replaying 600k pages spanning 7 days of
    event time in 4 micro-batches with the default 1-hour watermark dropped
    298,174 arrivals (~50%; batches 0/1 passed everything — the lag —
    batches 2/3 dropped ~149k each). For backfills either pass a watermark
    >= the corpus's event-time span (state then also lives that long),
    drain in ONE availableNow batch (the watermark only advances between
    batches), or check the drop count `run_stream_to_parquet` returns
    (numRowsDroppedByWatermark) and fail loudly.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def label(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["warc_ts", "url"], ignore_index=True)
        n_seen, first_url = state.get if state.exists else (0, None)
        n = len(pdf)
        n_prior = n_seen + np.arange(n, dtype=np.int64)
        is_first = n_prior == 0
        if first_url is None:
            first_url = str(pdf["url"].iloc[0])
        dup_of = np.where(is_first, None, first_url)
        state.update((int(n_seen + n), first_url))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "content_hash": np.full(n, key[0], dtype=np.int64),
                "is_first": is_first,
                "n_prior": n_prior,
                "dup_of": dup_of,
            }
        )

    hashed = stream
    if config.drop_empty_text:
        hashed = hashed.filter(F.regexp_replace(F.col("text"), r"\s+", "") != "")
    hashed = (
        hashed.withColumn("content_hash", F.xxhash64(normalize_text("text")))
        .select("url", "warc_ts", "content_hash")
        .withWatermark("warc_ts", watermark)
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        label,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

