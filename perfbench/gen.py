"""Seeded corpus generators with planted, exactly computed truth.

A document is a list of segments ``(src, start, length)``: the tokens
``start .. start+length-1`` of a token *source*. Every (source, position)
pair renders to its own word (``w<src>x<pos>`` in base 36), so two documents
share a token exactly when they share a segment position of one source.
That makes every shingle set, Jaccard value and longest common run a
function of the segment lists alone: the truth is computed from them in
Python, never estimated, and never depends on hash luck.

The plan is built from ``numpy.random.default_rng(seed)``, rendered and
written as one parquet file with the pipeline's input schema, without Spark:
generating inside the benchmark's session would warm its JVM before set-up,
so ``setup_s`` would depend on whether the input cache was cold.

Planted families (golden clusters are the components of planted links):

- ``ladder``   five shared 40-token blocks separated by per-document fresh
               gaps. Short gaps (1-3 tokens) give Jaccard 0.76-0.82, long
               gaps (13/16) give pairs at 0.50-0.67 whose longest shared
               run is 40 tokens: below-theta controls that fail every
               channel, suffix included.
- ``chain``    drift chains: member i is a 200-token window of one long
               source shifted by 20 tokens per step. Neighbours sit at
               J=0.815, two steps apart at J=0.661, so CC must walk the
               chain (or, with the suffix channel, hops of up to 7).
- ``template`` more than 1,024 copies of one 40-token boilerplate page, each
               with its own run of extra spaces after one word: identical
               after normalization (J=1) but never byte-equal, so the exact
               channel misses them, and every MinHash band and SimHash block
               of the template is one ultra-hot bucket (the operators/lsh
               salted star tier). 40 tokens is below the suffix channel's
               fingerprint gram, so that channel never sees the template.
- ``substr``   two docs sharing one 60-80 token run inside ~300 fresh
               tokens: duplicates only when the suffix channel is on.
- ``exact``    2-4 identical copies.
Everything else is a singleton of fresh tokens (80-200 tokens).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone
from itertools import combinations

import numpy as np

GEN_VERSION = 4
THETA = 0.7
SHINGLE_K = 5
SUFFIX_MIN_RUN = 50
# planted pairs this close to theta would make the truth depend on float
# rounding in the verifier; the generator refuses to emit one
THETA_MARGIN = 0.005

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
POS_BITS = 20

LADDER_BLOCK = 40
LADDER_BLOCKS = 5
LADDER_HIGH_GAPS = (1, 2, 3)
LADDER_LOW_GAPS = (13, 16)
LADDER_HIGH_SHARE = 0.6
CHAIN_WIDTH = 200
CHAIN_STEP = 20
TEMPLATE_LEN = 40


@dataclass(frozen=True)
class Shape:
    """Size and family mix of one generated corpus."""

    n_docs: int
    n_sources: int
    suffix: bool
    template_copies: int = 0
    ladders: int = 0
    ladder_size: int = 6
    chains: int = 0
    chain_len: int = 16
    substr_pairs: int = 0
    exact_frac: float = 0.0
    # name of the source partition whose text is edited (touch corpus)
    touch_source: str | None = None


SHAPES = {
    "neardup_dense": Shape(
        n_docs=3500, n_sources=4, suffix=True, template_copies=1100,
        ladders=30, chains=8, substr_pairs=20, exact_frac=0.03,
    ),
    "resume_touch1": Shape(
        n_docs=2000, n_sources=8, suffix=True, ladders=50, chains=8,
        substr_pairs=15, exact_frac=0.05, touch_source="src3",
    ),
}


@dataclass
class Doc:
    url: str
    source: str
    ts: int
    segs: list  # [(src, start, length)]
    family: int = -1  # -1: singleton by construction
    member: int = 0  # index within the family (singletons: their ordinal)
    # (token index, n): n extra spaces follow that token (-1: none)
    pad: tuple = (-1, 0)


@dataclass
class Plan:
    docs: list
    # family id -> kind (ladder / chain / template / substr / exact); links
    # are computed pairwise except inside "template", whose copies share
    # one normalized token list
    families: dict = field(default_factory=dict)


class _Planner:
    def __init__(self, shape: Shape, seed: int):
        self.shape = shape
        self.rng = np.random.default_rng([GEN_VERSION, seed])
        self.docs: list[Doc] = []
        self.families: dict[int, str] = {}
        self.next_src = 1

    def src(self) -> int:
        s = self.next_src
        self.next_src += 1
        return s

    def fresh(self, n: int) -> tuple:
        return (self.src(), 0, int(n))

    def add(self, segs: list, slot: int, family: int = -1, member: int = 0,
            pad: tuple = (-1, 0)) -> None:
        self.docs.append(
            Doc(
                url="",
                source=f"src{slot % self.shape.n_sources}",
                ts=int(self.rng.integers(0, 10_000_000)),
                segs=segs,
                family=family,
                member=member,
                pad=pad,
            )
        )

    def family(self, kind: str) -> int:
        f = len(self.families)
        self.families[f] = kind
        return f

    def ladder_segs(self, base: int, high: bool) -> list:
        gaps = LADDER_HIGH_GAPS if high else LADDER_LOW_GAPS
        segs = []
        for b in range(LADDER_BLOCKS):
            segs.append((base, b * LADDER_BLOCK, LADDER_BLOCK))
            if b < LADDER_BLOCKS - 1:
                segs.append(self.fresh(gaps[int(self.rng.integers(0, len(gaps)))]))
        return segs


def make_plan(shape: Shape, seed: int) -> Plan:
    """The corpus plan. Its structure (family sizes, which member sits in
    which source partition, how many links each family plants) is the same
    for every seed, so seeds differ in words, lengths, timestamps and url
    order but not in how much work the pipeline does; member m of family f
    sits in partition (f + m) mod n_sources, singletons round-robin."""
    p = _Planner(shape, seed)
    if shape.template_copies:
        f = p.family("template")
        segs = [p.fresh(TEMPLATE_LEN)]
        for j in range(shape.template_copies):
            pad = (j % (TEMPLATE_LEN - 1), 1 + j // (TEMPLATE_LEN - 1))
            p.add(list(segs), j, f, j, pad)
    n_high = round(LADDER_HIGH_SHARE * shape.ladder_size)
    for _ in range(shape.ladders):
        f = p.family("ladder")
        base = p.src()
        for m in range(shape.ladder_size):
            p.add(p.ladder_segs(base, m < n_high), f + m, f, m)
    for _ in range(shape.chains):
        f = p.family("chain")
        base = p.src()
        for m in range(shape.chain_len):
            p.add([(base, m * CHAIN_STEP, CHAIN_WIDTH)], f + m, f, m)
    for _ in range(shape.substr_pairs):
        f = p.family("substr")
        shared = (p.src(), 0, int(p.rng.integers(60, 81)))
        for m in range(2):
            head = int(p.rng.integers(100, 200))
            p.add([p.fresh(head), shared, p.fresh(300 - head)], f + m, f, m)
    n_exact = int(shape.n_docs * shape.exact_frac)
    while n_exact > 1:
        size = min(2 + len(p.families) % 3, n_exact)
        n_exact -= size
        f = p.family("exact")
        segs = [p.fresh(int(p.rng.integers(80, 201)))]
        for m in range(size):
            p.add(list(segs), f + m, f, m)
    k = 0
    while len(p.docs) < shape.n_docs:
        p.add([p.fresh(int(p.rng.integers(80, 201)))], k, member=k)
        k += 1
    # urls (and so ids, hubs and range partitions) in random order, so family
    # members are scattered over the url space
    for d, u in zip(p.docs, p.rng.permutation(len(p.docs))):
        d.url = f"https://site{u % 97}.example/p{u:07d}"
    return Plan(p.docs, p.families)


def touch_plan(plan: Plan, shape: Shape, seed: int) -> Plan:
    """The same corpus with one source partition's text edited. In
    `shape.touch_source`: every third singleton gets fresh text, every
    ladder member swaps its gap class (high <-> low, so its links change),
    and each chain's member among the chain's first n_sources is replaced by
    fresh text (splitting the chain). Urls, sources and timestamps are
    unchanged."""
    rng = np.random.default_rng([GEN_VERSION, seed, 1])
    next_src = 1 + max(s for d in plan.docs for s, _, _ in d.segs)
    docs = []
    for d in plan.docs:
        segs = d.segs
        kind = plan.families.get(d.family)
        if d.source == shape.touch_source:
            if kind is None and (d.member // shape.n_sources) % 3 == 0:
                segs = [(next_src, 0, int(rng.integers(80, 201)))]
                next_src += 1
            elif kind == "ladder":
                was_low = sum(n for _, _, n in d.segs[1::2]) >= min(LADDER_LOW_GAPS)
                gaps = LADDER_HIGH_GAPS if was_low else LADDER_LOW_GAPS
                segs = []
                for j, seg in enumerate(d.segs):
                    if j % 2:
                        seg = (next_src, 0, gaps[int(rng.integers(0, len(gaps)))])
                        next_src += 1
                    segs.append(seg)
            elif kind == "chain" and d.member < shape.n_sources:
                segs = [(next_src, 0, CHAIN_WIDTH)]
                next_src += 1
        docs.append(replace(d, segs=segs))
    return Plan(docs, plan.families)


# -- truth ---------------------------------------------------------------


def doc_tokens(segs: list) -> list[int]:
    """Token ids of a segment list (src << POS_BITS | pos)."""
    out = []
    for src, start, n in segs:
        base = src << POS_BITS
        out.extend(range(base + start, base + start + n))
    return out


def shingle_set(tok: list[int], k: int = SHINGLE_K) -> set:
    if len(tok) < k:
        return {tuple(tok)} if tok else set()
    return {tuple(tok[i : i + k]) for i in range(len(tok) - k + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def longest_common_run(a: list[int], b: list[int]) -> int:
    """Longest common contiguous token run. Tokens are unique within a
    planted document, so a run is a chain of equal successors."""
    pos_b = {t: j for j, t in enumerate(b)}
    best = run = 0
    prev = None
    for t in a:
        j = pos_b.get(t)
        if j is None:
            run = 0
        elif run and j == prev + 1:
            run += 1
        else:
            run = 1
        prev = j
        best = max(best, run)
    return best


def is_link(ta: list[int], tb: list[int], sa: set, sb: set, suffix: bool) -> bool:
    """Would the enabled channels call this pair a duplicate?"""
    if ta == tb:
        return True
    j = jaccard(sa, sb)
    if abs(j - THETA) < THETA_MARGIN:
        raise ValueError(f"planted pair at J={j:.4f} is within the theta margin")
    if j >= THETA:
        return True
    return suffix and longest_common_run(ta, tb) >= SUFFIX_MIN_RUN


def golden_clusters(plan: Plan, suffix: bool) -> dict[str, str]:
    """url -> golden cluster id (min url of its component) for every url in
    a planted duplicate cluster; singletons are absent."""
    members: dict[int, list[Doc]] = {}
    for d in plan.docs:
        if d.family >= 0:
            members.setdefault(d.family, []).append(d)
    out: dict[str, str] = {}
    for f, docs in members.items():
        if plan.families[f] == "template":
            if any(d.segs != docs[0].segs for d in docs):
                raise ValueError("template copies differ after normalization")
            comps = [[d.url for d in docs]]
        else:
            comps = _components(docs, suffix)
        for comp in comps:
            if len(comp) >= 2:
                cid = min(comp)
                for u in comp:
                    out[u] = cid
    return out


def _components(docs: list[Doc], suffix: bool) -> list[list[str]]:
    toks = [doc_tokens(d.segs) for d in docs]
    shs = [shingle_set(t) for t in toks]
    parent = list(range(len(docs)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in combinations(range(len(docs)), 2):
        if is_link(toks[a], toks[b], shs[a], shs[b], suffix):
            parent[find(a)] = find(b)
    comps: dict[int, list[str]] = {}
    for i, d in enumerate(docs):
        comps.setdefault(find(i), []).append(d.url)
    return list(comps.values())


# -- rendering -----------------------------------------------------------------


def _b36(n: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if not n:
            return out


def render_text(d: Doc, seed: int) -> str:
    """The document's text: word ``w<src>x<pos>`` per token, with the source
    id mixed with the seed so words differ across seeds."""
    salt = seed % 1_000_003
    words = []
    for src, start, n in d.segs:
        prefix = f"w{_b36(src * 1_000_003 + salt)}x"
        words.extend(prefix + _b36(j) for j in range(start, start + n))
    pos, spaces = d.pad
    if pos >= 0:
        words[pos] += " " * spaces
    return " ".join(words)


def pages_table(plan: Plan, seed: int):
    """The plan as a pyarrow table with the pipeline's input schema
    (url, warc_ts, html, text, lang, source)."""
    import pyarrow as pa

    epoch = int(EPOCH.timestamp())
    n = len(plan.docs)
    return pa.table(
        {
            "url": pa.array([d.url for d in plan.docs], pa.string()),
            "warc_ts": pa.array(
                [(epoch + d.ts) * 1_000_000 for d in plan.docs],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.nulls(n, pa.binary()),
            "text": pa.array([render_text(d, seed) for d in plan.docs], pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([d.source for d in plan.docs], pa.string()),
        }
    )


# -- cache -----------------------------------------------------------------


@dataclass
class Corpus:
    """A generated corpus on disk: pages parquet + golden clusters."""

    path: str
    n_docs: int
    golden: dict  # url -> golden cluster id

    @property
    def pages(self) -> str:
        return os.path.join(self.path, "pages")


def _write(plan: Plan, seed: int, suffix: bool, path: str) -> Corpus:
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    golden = golden_clusters(plan, suffix)
    pq.write_table(pages_table(plan, seed), os.path.join(tmp, "pages", "part-0.parquet"))
    with open(os.path.join(tmp, "golden.json"), "w") as f:
        json.dump({"n_docs": len(plan.docs), "golden": golden}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return Corpus(path, len(plan.docs), golden)


def _load(path: str) -> Corpus | None:
    meta = os.path.join(path, "golden.json")
    if not os.path.exists(meta):
        return None
    with open(meta) as f:
        m = json.load(f)
    return Corpus(path, m["n_docs"], m["golden"])


def corpora(workload: str, seed: int, cache_dir: str) -> dict[str, Corpus]:
    """{"base": Corpus[, "touch": Corpus]} for (workload, seed), generated on
    first use and cached under cache_dir by (workload, seed, size)."""
    shape = SHAPES[workload]
    key = f"{workload}-s{seed}-n{shape.n_docs}-v{GEN_VERSION}"
    out = {}
    plan = None
    names = ["base"] + (["touch"] if shape.touch_source else [])
    for name in names:
        path = os.path.join(cache_dir, key, name)
        c = _load(path)
        if c is None:
            if plan is None:
                plan = make_plan(shape, seed)
            p = plan if name == "base" else touch_plan(plan, shape, seed)
            c = _write(p, seed, shape.suffix, path)
        out[name] = c
    return out
