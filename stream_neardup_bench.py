#!/usr/bin/env python
"""Streaming near-dup front door (s11) at size: replay a corpus in
micro-batches through the foreachBatch path (per-batch JVM shingle
equi-joins vs the accumulated parquet index, streaming/neardup.py) and
report sustained pages/s.

    taskset -c 0-7 python stream_neardup_bench.py [--rows 60000]
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=60_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--batches", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dedup_spark.config import DedupConfig
    from dedup_spark.session import build_session
    from dedup_spark.streaming.neardup import run_stream_near_dups
    from dedup_spark.testdata import synth_pages_spark

    spark = build_session(
        "s11_bench", master=f"local[{args.cores}]",
        shuffle_partitions=2 * args.cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig(shuffle_partitions=2 * args.cores)

    n = args.rows
    base = tempfile.mkdtemp(prefix="s11_bench_")
    docs = synth_pages_spark(spark, n)
    per = n // args.batches
    for b in range(args.batches):
        (
            docs.filter(
                (F.xxhash64("url") % args.batches + args.batches)
                % args.batches == b
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(f"{base}/src")
        )
        time.sleep(1.2)  # file-source admission orders by mtime

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src")
    )
    t0 = time.time()
    run_stream_near_dups(stream, f"{base}/w", threshold=0.7, config=cfg)
    t_stream = time.time() - t0
    n_verified = spark.read.parquet(f"{base}/w/pairs").count()
    print(json.dumps({
        "mode": "foreachbatch", "rows": n, "batches": args.batches,
        "verified_pairs": n_verified, "stream_s": round(t_stream, 1),
        "pages_per_sec": round(n / t_stream, 1), "cores": args.cores,
    }))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
