"""Self-tests of the benchmark: generators, planted truth, the event-log
reader, scoring and the pinned metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, trace  # noqa: E402

SMALL = gen.Shape(
    n_docs=400, n_sources=4, suffix=True, template_copies=30, ladders=12,
    chains=3, substr_pairs=6, exact_frac=0.05, touch_source="src1",
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dedup_spark.session import build_session

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    local = tmp_path_factory.mktemp("spark-local")
    s = build_session(
        "perfbench_tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.local.dir": str(local), "spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _texts(plan, seed):
    return {d.url: gen.render_text(d, seed) for d in plan.docs}


# -- generators -------------------------------------------------------------


def test_pages_identical_for_seed_and_differ_across_seeds():
    a = gen.pages_table(gen.make_plan(SMALL, 5), 5)
    b = gen.pages_table(gen.make_plan(SMALL, 5), 5)
    c = gen.pages_table(gen.make_plan(SMALL, 6), 6)
    assert a.equals(b)
    assert a.num_rows == SMALL.n_docs
    assert set(a["text"].to_pylist()).isdisjoint(c["text"].to_pylist())
    assert a["url"].to_pylist() != c["url"].to_pylist()


def test_cached_corpus_reads_back_in_spark(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SHAPES, "small", SMALL)
    cs = gen.corpora("small", 5, str(tmp_path))
    assert set(cs) == {"base", "touch"}
    df = spark.read.parquet(cs["base"].pages)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang", "source"]
    assert dict(df.dtypes)["warc_ts"] == "timestamp"
    assert df.count() == cs["base"].n_docs == SMALL.n_docs
    # a second call loads the cache instead of regenerating
    assert gen.corpora("small", 5, str(tmp_path))["touch"].golden == cs["touch"].golden


def test_template_copies_are_distinct_bytes_but_equal_after_normalization():
    plan = gen.make_plan(SMALL, 5)
    texts = _texts(plan, 5)
    fam = [f for f, k in plan.families.items() if k == "template"][0]
    tmpl = [texts[d.url] for d in plan.docs if d.family == fam]
    assert len(tmpl) == SMALL.template_copies
    assert len(set(tmpl)) == len(tmpl)
    assert len({" ".join(t.split()) for t in tmpl}) == 1


@pytest.mark.parametrize("suffix", [True, False])
def test_golden_truth_matches_brute_force(suffix):
    """Golden clusters from the segment model == components of brute-force
    links over the rendered text (Python-set Jaccard on normalized 5-word
    shingles, longest common token run), for the base and touched corpus."""
    shape = gen.Shape(**{**SMALL.__dict__, "suffix": suffix})
    base = gen.make_plan(shape, 7)
    for plan in (base, gen.touch_plan(base, shape, 7)):
        texts = _texts(plan, 7)
        urls = sorted(texts)
        toks = [texts[u].lower().split() for u in urls]
        ids = {}
        tok_ids = [[ids.setdefault(w, len(ids)) for w in t] for t in toks]
        shs = [gen.shingle_set(t) for t in toks]
        parent = list(range(len(urls)))

        def find(i):
            while parent[i] != i:
                i = parent[i]
            return i

        for a, b in itertools.combinations(range(len(urls)), 2):
            j = gen.jaccard(shs[a], shs[b])
            link = j >= gen.THETA or (
                suffix and gen.longest_common_run(tok_ids[a], tok_ids[b]) >= gen.SUFFIX_MIN_RUN
            )
            if link:
                parent[find(a)] = find(b)
        comps = {}
        for i, u in enumerate(urls):
            comps.setdefault(find(i), []).append(u)
        brute = {u: min(c) for c in comps.values() if len(c) > 1 for u in c}
        assert brute == gen.golden_clusters(plan, suffix)
        assert brute  # the small corpus does plant duplicates


def test_touch_edits_one_partition_only():
    base = gen.make_plan(SMALL, 3)
    touched = gen.touch_plan(base, SMALL, 3)
    changed = {d.source for d, e in zip(base.docs, touched.docs) if d.segs != e.segs}
    assert changed == {SMALL.touch_source}
    assert gen.golden_clusters(base, True) != gen.golden_clusters(touched, True)


def test_longest_common_run():
    assert gen.longest_common_run([1, 2, 3, 9, 4, 5], [0, 1, 2, 3, 4, 5]) == 3
    assert gen.longest_common_run([1, 2], [3, 4]) == 0


# -- event log ------------------------------------------------------------------


def test_event_log_parser_on_canned_log():
    path = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
    g = trace.read_event_log(path)
    assert set(g) == {"lsh", "verify", ""}
    assert (g["lsh"].jobs, g["lsh"].tasks, g["lsh"].failed_tasks) == (1, 3, 0)
    assert g["lsh"].task_s == pytest.approx(2.4)
    assert g["lsh"].shuffle_write_bytes == 1_500_000
    # stage 1 was listed again by the verify job, but ran under lsh
    assert (g["verify"].jobs, g["verify"].tasks, g["verify"].failed_tasks) == (1, 2, 1)
    assert g["verify"].spill_bytes == 2_000_000
    assert (g[""].jobs, g[""].tasks) == (1, 1)


def test_jobs_between_counts_every_group_by_submission_time():
    path = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
    g = trace.read_event_log(path)
    t0 = 1_700_000_000.0  # the canned jobs start at t0, t0 + 1 s, t0 + 2 s
    assert trace.jobs_between(g, t0, t0 + 2) == 3
    # the ungrouped job (as from a worker thread) counts like the others
    assert trace.jobs_between(g, t0 + 0.5, t0 + 2.5) == 2
    assert trace.jobs_between(g, t0 + 2.5, t0 + 9) == 0


def test_event_log_rolling_directory(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    src = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
    lines = open(src).read().splitlines(keepends=True)
    (d / "events_10_app").write_text("".join(lines[6:]))
    (d / "events_2_app").write_text("".join(lines[:6]))
    (d / "appstatus_app").write_text("")
    assert trace.read_event_log(str(d)) == trace.read_event_log(src)


def test_layer_report_fills_every_layer():
    spans = {"verify": trace.Span(wall_s=2.0, rows_out=5), "cand_merge": trace.Span(rows_out=10)}
    groups = {"verify": trace.GroupStats(jobs=2, tasks=8, task_s=4.0)}
    out = trace.layer_report(spans, groups, cores=4)
    assert out["verify.idle_frac"] == pytest.approx(0.5)
    assert out["verify.kept_ratio"] == pytest.approx(0.5)
    assert out["lsh.wall_s"] == 0 and out["lsh.idle_frac"] == 0
    names = {n for n, _, _ in trace.per_layer_metrics()}
    assert set(out) <= names


# -- scoring --------------------------------------------------------------------


def test_score_from_contingency_table():
    golden = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    found = [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")]
    rec, prec = run.score(found, golden)
    # golden pairs: ab ac bc de = 4; found pairs: ab cd = 2; true: ab
    assert (rec, prec) == (0.25, 0.5)
    assert run.score([("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")], golden) == (1.0, 1.0)


def test_digest_ignores_row_order():
    rows = [("u1", "u1", True), ("u2", "u1", False)]
    assert run.digest(rows) == run.digest(rows[::-1])
    assert run.digest(rows) != run.digest([("u1", "u1", False), ("u2", "u1", True)])


# -- pinned names -----------------------------------------------------------


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_layer_names_are_pinned():
    assert trace.LAYERS == (
        "scan_ids", "signatures", "exact", "lsh", "simhash", "suffix",
        "cand_merge", "verify", "pair_merge", "components", "representatives",
    )
    assert [m for m, _, _ in trace.LAYER_METRICS] == [
        "wall_s", "task_s", "idle_frac", "jobs", "tasks", "shuffle_write_mb",
        "spill_mb", "rows_out", "failed_tasks",
    ]


def test_benchmark_json_matches_the_code():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == sorted(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        tuple(m) for m in trace.per_layer_metrics()
    ]
