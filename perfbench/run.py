#!/usr/bin/env python3
"""dedup_spark benchmark: seeded workloads driven through the public API.

    python3 perfbench/run.py --workload neardup_dense --seed 1 --seconds 15 --trace 0

Run from the repository root. Each invocation is one fresh process pinned to
local[4]; it generates (or reuses from its on-disk cache) the workload's
inputs from --seed, sets up, then runs a closed loop with one client for
--seconds: one complete dedup run at a time, each timed until its members are
collected on the driver. Every run is checked against the planted truth.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of a
separately traced run (see perfbench/trace.py). The last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}. Everything the run
writes stays under <repo>/.perfbench_work.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"
MIN_RECALL = 0.99
MIN_PRECISION = 0.99
# the traced run's layer walls must sum to the traced wall within this share
LAYER_SUM_TOLERANCE = 0.10

END_TO_END = (
    ("docs_per_s", "docs/s"),
    ("wall_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("scratch_mb", "MB"),
    ("recall", "frac"),
    ("precision", "frac"),
)


class BenchError(Exception):
    """A set-up step failed; the benchmark prints no result."""


# -- filesystem and /proc helpers ------------------------------------------


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the regular files under `path` (modified at or after the
    epoch time `since`, when given)."""
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(dp, f))
            except FileNotFoundError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def _proc_tree(root_pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name is parenthesised and may hold spaces
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [root_pid], [root_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared by the forked Python
    workers are split between them instead of counted once per worker."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory (summed PSS) of the JVM and its Python workers,
    sampled every 100 ms between start() and stop()."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _pss_bytes(_proc_tree(self.jvm_pid)))
            if self._stop.wait(self.period):
                return

    def start(self) -> None:
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 1e6


# -- correctness -----------------------------------------------------------


def score(rows, golden: dict[str, str]) -> tuple[float, float]:
    """(recall, precision) of duplicate pairs: found clusters vs golden
    clusters, from their contingency table (no pair enumeration)."""
    import pandas as pd

    found = pd.DataFrame([(r[0], r[1]) for r in rows], columns=["url", "f"])
    gold = pd.DataFrame(list(golden.items()), columns=["url", "g"])

    def pairs(sizes) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    tp = pairs(found.merge(gold, on="url").groupby(["f", "g"]).size())
    n_found = pairs(found.groupby("f").size())
    n_gold = pairs(gold.groupby("g").size())
    return (tp / n_gold if n_gold else 1.0), (tp / n_found if n_found else 1.0)


def digest(rows) -> str:
    """sha256 over the sorted (url, cluster_id, is_representative) rows."""
    h = hashlib.sha256()
    for r in sorted((r[0], r[1], bool(r[2])) for r in rows):
        h.update(f"{r[0]}\t{r[1]}\t{int(r[2])}\n".encode())
    return h.hexdigest()


# -- the benchmark process ---------------------------------------------------


class NearDupBench:
    """run_dedup over one generated corpus (neardup_dense)."""

    corpus = "base"  # the input of the timed runs

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.proc_dir = os.path.join(self.work, f"proc-{os.getpid()}")
        self.cache_dir = os.path.join(self.work, "cache")
        self.local_dir = os.path.join(self.proc_dir, "local")
        self.events_dir = os.path.join(self.proc_dir, "events")
        for d in (self.local_dir, self.events_dir, os.path.join(self.proc_dir, "tmp")):
            os.makedirs(d, exist_ok=True)
        self.spark = None
        self.gen_s = 0.0
        self.runs: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0

    # session ----------------------------------------------------------------

    def start_session(self) -> None:
        from dedup_spark.session import build_session

        conf = {
            "spark.local.dir": self.local_dir,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.proc_dir}/tmp -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep a run's shuffle files until the process exits: the
            # ContextCleaner deletes them whenever the driver JVM happens to
            # collect their references, which made both scratch_mb and the
            # run's wall time depend on GC timing
            "spark.cleaner.referenceTracking": "false",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.events_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = build_session(
            "perfbench",
            master=f"local[{CORES}]",
            config=self.config,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the gateway JVM, waiting for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    @property
    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # set-up -------------------------------------------------------------------

    def setup(self) -> float:
        """Session start, input scan and one untimed warm-up run, timed from
        process start. Generating (or loading) the inputs is excluded."""
        # pyarrow is imported here so that set-up pays for it whether or not
        # the input cache is cold (generation, which is excluded, uses it)
        import pyarrow.parquet  # noqa: F401
        from dedup_spark.config import DedupConfig

        from perfbench import gen

        self.shape = gen.SHAPES[self.workload]
        self.config = DedupConfig(
            shuffle_partitions=SHUFFLE_PARTITIONS, suffix_enabled=self.shape.suffix
        )
        tg = time.perf_counter()
        self.corpora = gen.corpora(self.workload, self.args.seed, self.cache_dir)
        self.gen_s = time.perf_counter() - tg
        self.start_session()
        self.scan()
        self.warm_up()
        setup_s = time.perf_counter() - T_START - self.gen_s
        print(
            f"# setup {setup_s:.2f}s; input generation {self.gen_s:.2f}s (excluded)",
            file=sys.stderr,
        )
        return setup_s

    def scan(self) -> None:
        read = self.spark.read.parquet
        self.pages = {k: read(c.pages) for k, c in self.corpora.items()}
        for k, df in self.pages.items():
            n = df.count()
            if n != self.corpora[k].n_docs:
                raise BenchError(f"{k} input has {n} rows, expected {self.corpora[k].n_docs}")

    # timed runs -----------------------------------------------------------------

    def new_spill_dir(self, i) -> str:
        d = os.path.join(self.proc_dir, "spill", str(i))
        os.makedirs(d, exist_ok=True)
        return d

    def isolate(self, spill_dir: str) -> None:
        """Drop what a run leaves behind so the next run measures the same
        program: run_dedup persists its pairs, connected components keeps
        its local checkpoints (never cleaned, as reference tracking is off)
        and spill dirs live until interpreter exit."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        shutil.rmtree(spill_dir, ignore_errors=True)

    def check(self, run: dict, rows, golden: dict, want_digest: str | None) -> None:
        rec, prec = score(rows, golden)
        run.update(recall=rec, precision=prec, digest=digest(rows))
        if rec < MIN_RECALL:
            self.fail(run, f"recall {rec:.4f} < {MIN_RECALL}")
        if prec < MIN_PRECISION:
            self.fail(run, f"precision {prec:.4f} < {MIN_PRECISION}")
        if want_digest is not None and run["digest"] != want_digest:
            self.fail(run, f"members digest {run['digest'][:12]} != {want_digest[:12]}")

    def fail(self, run: dict, why: str) -> None:
        run["ok"] = False
        msg = f"run {run.get('i')}: {why}"
        self.failures.append(msg)
        print(f"# CORRECTNESS FAILURE {msg}", file=sys.stderr)

    def timed_loop(self, one_run) -> None:
        """Closed loop, one client: start the next run when the previous one
        has finished, until --seconds have elapsed (at least one run)."""
        sampler = RssSampler(self.jvm_pid)
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            run = {"i": i, "ok": True}
            self.attempted += 1
            try:
                one_run(run, sampler)
            except Exception as e:  # a failed run counts, the loop goes on
                run["ok"] = False
                self.failures.append(f"run {i}: {type(e).__name__}: {e}")
                print(f"# RUN FAILED {i}: {type(e).__name__}: {e}", file=sys.stderr)
            self.runs.append(run)
            print(
                f"# run {i}: wall {run.get('wall_s', float('nan')):.3f}s "
                f"peak_rss {run.get('peak_rss_mb', 0):.0f}MB "
                f"scratch {run.get('scratch_mb', 0):.2f}MB "
                f"recall {run.get('recall', float('nan')):.4f} "
                f"digest {run.get('digest', '-')[:12]} ok={run['ok']}",
                file=sys.stderr,
            )
            i += 1

    def end_to_end(self, setup_s: float) -> dict:
        good = [r for r in self.runs if r["ok"]]
        walls = [r["wall_s"] for r in good]
        wall = statistics.median(walls)
        q = statistics.quantiles(walls, n=4) if len(walls) > 1 else [wall] * 3
        # slope of wall time over run index: a leak across runs shows here
        trend = (walls[-1] - walls[0]) / (len(walls) - 1) if len(walls) > 1 else 0.0
        print(
            f"# wall_s median {wall:.3f} q1 {q[0]:.3f} q3 {q[2]:.3f} n={len(walls)}; "
            f"by run index {[round(w, 3) for w in walls]} (trend {trend:+.3f}s/run)",
            file=sys.stderr,
        )

        def med(k):
            return statistics.median(r[k] for r in good)

        return {
            "docs_per_s": self.n_docs / wall,
            "wall_s": wall,
            "setup_s": setup_s,
            "peak_rss_mb": med("peak_rss_mb"),
            "scratch_mb": med("scratch_mb"),
            "recall": min(r["recall"] for r in good),
            "precision": min(r["precision"] for r in good),
        }

    # one dedup run -------------------------------------------------------------

    @property
    def n_docs(self) -> int:
        return self.corpora[self.corpus].n_docs

    def warm_up(self) -> None:
        run = {"i": "warm-up", "ok": True}
        self.dedup_once(self.corpus, run)
        if not run["ok"]:
            raise BenchError("warm-up run failed its correctness check")
        self.want_digest = run["digest"]

    def one_run(self, run: dict, sampler: RssSampler | None) -> None:
        self.dedup_once(self.corpus, run, sampler, self.want_digest)

    def timed(self, run: dict, sampler: RssSampler | None, body):
        """Run `body()`, timing it into run["wall_s"] (and its epoch bounds
        into run["t0"], run["t1"]) and sampling memory into
        run["peak_rss_mb"]; returns its result."""
        if sampler:
            sampler.start()
        run["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            out = body()
            run["wall_s"] = time.perf_counter() - t0
            run["t1"] = time.time()
        finally:
            if sampler:
                run["peak_rss_mb"] = sampler.stop()
        return out

    def dedup_once(
        self,
        corpus: str,
        run: dict,
        sampler: RssSampler | None = None,
        want_digest: str | None = None,
    ) -> None:
        """One run_dedup over `corpus`, timed until its members are
        collected (the summary too), then checked."""
        from dedup_spark.plans.pipeline import run_dedup

        spill_dir = self.new_spill_dir(run["i"])

        def body():
            res = run_dedup(self.pages[corpus], self.config.with_(spill_dir=spill_dir))
            rows = res.members.select("url", "cluster_id", "is_representative").collect()
            res.summary.collect()
            return rows

        since = time.time()
        rows = self.timed(run, sampler, body)
        run["scratch_mb"] = (
            dir_bytes(spill_dir) + dir_bytes(self.local_dir, since)
        ) / 1e6
        self.isolate(spill_dir)
        self.check(run, rows, self.corpora[corpus].golden, want_digest)

    # the traced run -------------------------------------------------------------

    def traced(self) -> dict:
        """After the untraced loop: one traced run over the same input, which
        must reproduce the untraced digest, then the per-layer metrics."""
        good = [r for r in self.runs if r["ok"]]
        tracer, run = self.traced_pipeline()
        out = self.layer_metrics(tracer, run, good)
        out.update(self.checkpoint_metrics(good))
        return out

    def untraced_wall(self, good: list[dict]) -> float:
        """The wall time the traced run's overhead is measured against."""
        return statistics.median(r["wall_s"] for r in good)

    def checkpoint_metrics(self, good: list[dict]) -> dict:
        """run_dedup has no checkpoint stages: not applicable, reported 0."""
        from perfbench.trace import EXTRA_METRICS

        return {n: 0 for n, _, _ in EXTRA_METRICS if n.startswith("checkpoint.")}

    def traced_pipeline(self):
        """trace.traced_run_dedup over the timed runs' input with the UDF
        profiler on; its members must reproduce the untraced digest."""
        from perfbench import trace

        run = {"i": "traced", "ok": True}
        self.attempted += 1
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer = trace.Tracer(self.spark)
        spill_dir = self.new_spill_dir("traced")
        cfg = self.config.with_(spill_dir=spill_dir)
        rows = self.timed(
            run, None, lambda: trace.traced_run_dedup(self.pages[self.corpus], cfg, tracer)
        )
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.isolate(spill_dir)
        self.check(run, rows, self.corpora[self.corpus].golden, self.want_digest)
        self.runs.append(run)
        return tracer, run

    def layer_metrics(self, tracer, run: dict, good: list[dict]) -> dict:
        """Per-layer metrics from the traced run's spans and the event log.
        The traced run fails when its layer walls do not sum to its wall
        within LAYER_SUM_TOLERANCE: the layers would then miss part of the
        run and could not say where a change lands."""
        from perfbench import trace

        self.stop_session()
        groups = trace.read_event_log(self.event_log())
        out = trace.layer_report(tracer.spans, groups, CORES)
        traced_wall = run["wall_s"]
        untraced = self.untraced_wall(good)
        layer_sum = sum(out[f"{l}.wall_s"] for l in trace.LAYERS)
        out.update(
            {
                # by submission time, not job group: the package's own
                # worker threads do not inherit the group
                "total.jobs": statistics.median(
                    trace.jobs_between(groups, r["t0"], r["t1"]) for r in good
                ),
                "total.tracing_overhead_s": traced_wall - untraced,
                "total.layer_sum_frac": layer_sum / traced_wall,
            }
        )
        print(
            f"# traced wall {traced_wall:.3f}s vs untraced {untraced:.3f}s; "
            f"layer walls cover {out['total.layer_sum_frac']:.3f} of the traced wall",
            file=sys.stderr,
        )
        if abs(out["total.layer_sum_frac"] - 1) > LAYER_SUM_TOLERANCE:
            self.fail(
                run,
                f"layer walls cover {out['total.layer_sum_frac']:.3f} of the traced "
                f"wall, off by more than {LAYER_SUM_TOLERANCE:.0%}",
            )
        return out

    def event_log(self) -> str:
        logs = sorted(os.listdir(self.events_dir))
        if len(logs) != 1:
            raise BenchError(f"expected one event log, found {logs}")
        return os.path.join(self.events_dir, logs[0])


class ResumeBench(NearDupBench):
    """run_dedup_checkpointed: a cold run over `base` in set-up, then timed
    reruns over `touch` (one source partition edited), each from a restored
    copy of the cold checkpoint root."""

    corpus = "touch"

    def warm_up(self) -> None:
        self.ckpt = os.path.join(self.proc_dir, "ckpt")
        self.snap = os.path.join(self.proc_dir, "snap")
        shutil.rmtree(self.ckpt, ignore_errors=True)
        run = {"i": "cold", "ok": True}
        self.checkpointed_once("base", run)
        if not run["ok"]:
            raise BenchError("cold checkpointed run failed its correctness check")
        shutil.rmtree(self.snap, ignore_errors=True)
        shutil.copytree(self.ckpt, self.snap)
        self.reference()

    def reference(self) -> None:
        """Members of a from-scratch run_dedup over `touch`: every timed
        resume must reproduce them exactly."""
        run = {"i": "reference", "ok": True}
        self.dedup_once("touch", run)
        if not run["ok"]:
            raise BenchError("from-scratch reference run failed its correctness check")
        self.reference_wall = run["wall_s"]
        self.want_digest = run["digest"]

    def one_run(self, run: dict, sampler: RssSampler | None) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.copytree(self.snap, self.ckpt)
        self.checkpointed_once("touch", run, sampler, self.want_digest)
        if run["pairs_mode"] != "incremental":
            self.fail(run, f"pairs_mode {run['pairs_mode']!r}, expected 'incremental'")

    def checkpointed_once(
        self,
        corpus: str,
        run: dict,
        sampler: RssSampler | None = None,
        want_digest: str | None = None,
    ) -> None:
        """One run_dedup_checkpointed over `corpus` into the checkpoint root,
        timed until its members are collected, then checked. Keeps the
        metrics.jsonl rows the run appended and its pairs_mode."""
        from dedup_spark.plans.checkpoint import CheckpointedRun, run_dedup_checkpointed

        metrics_path = os.path.join(self.ckpt, "metrics.jsonl")
        n_before = 0
        if os.path.exists(metrics_path):
            with open(metrics_path) as f:
                n_before = sum(1 for _ in f)
        spill_dir = self.new_spill_dir(run["i"])
        cfg = self.config.with_(spill_dir=spill_dir)
        ck = CheckpointedRun(self.spark, self.ckpt, cfg)
        since = time.time()
        rows = self.timed(
            run,
            sampler,
            lambda: run_dedup_checkpointed(self.pages[corpus], cfg, self.ckpt, run=ck)
            .select("url", "cluster_id", "is_representative")
            .collect(),
        )
        run["scratch_mb"] = (
            dir_bytes(self.ckpt, since) + dir_bytes(spill_dir) + dir_bytes(self.local_dir, since)
        ) / 1e6
        with open(metrics_path) as f:
            run["ckpt_rows"] = [json.loads(l) for l in list(f)[n_before:]]
        run["pairs_mode"] = ck.pairs_mode
        self.isolate(spill_dir)
        self.check(run, rows, self.corpora[corpus].golden, want_digest)

    def untraced_wall(self, good: list[dict]) -> float:
        # the traced run is a from-scratch run_dedup over `touch`, like the
        # reference run, not a resume
        return self.reference_wall

    def checkpoint_metrics(self, good: list[dict]) -> dict:
        """Medians over the timed resumes of their own metrics.jsonl rows
        and CheckpointedRun state."""

        def per_run(r):
            rows = r["ckpt_rows"]

            def wall(stage):
                return sum(x.get("wall_s", 0.0) for x in rows if x["stage"] == stage)

            return {
                "checkpoint.prepared.wall_s": wall("prepared"),
                "checkpoint.prepared.partitions_computed": sum(
                    1 for x in rows if x["stage"] == "prepared"
                ),
                "checkpoint.pairs.wall_s": wall("pairs"),
                "checkpoint.members.wall_s": wall("members"),
                "checkpoint.pairs_incremental": int(r["pairs_mode"] == "incremental"),
            }

        runs = [per_run(r) for r in good]
        return {k: statistics.median(x[k] for x in runs) for k in runs[0]}


WORKLOADS = {"neardup_dense": NearDupBench, "resume_touch1": ResumeBench}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dedup_spark", "__init__.py")):
        print(f"error: no dedup_spark package under {ROOT}", file=sys.stderr)
        return 2
    bench = WORKLOADS[args.workload](args)
    tmp = os.path.join(bench.proc_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None

    try:
        setup_s = bench.setup()
        bench.timed_loop(bench.one_run)
        if not any(r["ok"] for r in bench.runs):
            print("error: no run succeeded", file=sys.stderr)
            return 1
        if args.trace:
            from perfbench.trace import per_layer_metrics

            metrics = bench.traced()
            units = {n: u for n, u, _ in per_layer_metrics()}
        else:
            metrics = bench.end_to_end(setup_s)
            units = dict(END_TO_END)
    except BenchError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        bench.shutdown()
        shutil.rmtree(bench.proc_dir, ignore_errors=True)

    failed = sum(1 for r in bench.runs if not r["ok"])
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    for k, m in result["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 3


if __name__ == "__main__":
    sys.exit(main())
