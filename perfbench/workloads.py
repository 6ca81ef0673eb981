"""The benchmark's workloads: build and serve.

Each workload cuts its inputs from one seeded fixture of
``searchengine_spark/sources/transcripts.py``, so all inputs of a run share
one Zipf vocabulary. It then sets up, measures (serve for ``--seconds``,
build one cold build), and checks every answer against the pandas oracle or
against the markers it wrote. Layers are timed only from outside, by calling
their public functions inside a tracer span.

Both workloads print the same metrics: the end-to-end ones in untraced runs,
and in traced runs the per-layer ones, which the same probes measure on
each workload's own index (``Workload.probe``).

Phases of a run (see ``run.py``): ``prepare`` (inputs and oracle, no Spark,
not timed) → ``setup`` (counted in ``setup_s``) → ``measure`` →
``check_index`` → ``probe`` (traced runs only) → ``verify`` →
``overhead_pair`` (traced runs only) → ``end_to_end`` / ``per_layer`` after
Spark has stopped.
"""

from __future__ import annotations

import dataclasses
import os
import re
import shutil
import statistics
import threading
import time
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd

from perfbench.tracing import GroupStats, busy_seconds, snapshot, tree_bytes, written
from searchengine_spark.config import BM25Params, EngineConfig
from searchengine_spark.engine import SearchEngine
from searchengine_spark.functions.codec import decode_postings, encode_postings
from searchengine_spark.functions.lemmatize import query_lemmas
from searchengine_spark.operators.doc_ids import assign_doc_ids
from searchengine_spark.operators.postings import lemmatize_transcripts
from searchengine_spark.operators.search import (
    DOCLEN_TERM,
    SITE_TERM,
    make_shard_kernel,
)
from searchengine_spark.oracle.oracle import OracleEngine
from searchengine_spark.sources.transcripts import (
    HOT_TERMS,
    TRANSCRIPTS_SCHEMA,
    generate_transcripts,
)

#: EngineConfig(parallelism=8) is the config of __spark_entry__._engine
PARALLELISM = 8
#: tables whose size and file count are reported after a build
TABLES = ("documents", "postings", "postings_flat", "terms", "terms_global")
#: timed repeats of a short single-layer call; its median is reported
REPEATS = 3
#: queries per mode in the latency phase of a traced run
LATENCY_SAMPLES = 3
#: statistics() fields that change with wall-clock time, not with content
STATUS_FIELDS = ("status", "statusTime", "error")


@dataclass(frozen=True)
class Profile:
    """Input sizes. ``full`` is what the benchmark measures; ``tiny`` is the
    smoke test's, cut from the ``tiny`` fixture."""

    fixture: str  # fixture every workload's corpus is a prefix of
    build_turns: int  # build: the built corpus
    serve_turns: int  # serve: the queried index
    serve_shard_docs: int  # serve: docs per doc-range shard
    batch_turns: int  # traced runs: turns appended to the workload's index


#: Sizes are bounded by the run's time: a cold build costs 30 s or more on a
#: 4-CPU box at any size (see README.md). build: 6k turns give ~5.8k docs,
#: 22 term buckets and 2 doc-range shards. serve: 5k turns give ~4.85k docs;
#: 512-doc shards make that 10 shards, enough for the two-pass cross-shard
#: WAND path, which needs at least 8 (29k docs at the default 4,096 floor)
PROFILES = {
    "full": Profile("small", 6_000, 5_000, 512, 200),
    "tiny": Profile("tiny", 700, 900, 256, 40),
}


def ms(seconds: float) -> float:
    return seconds * 1000.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would lie at or
    under the median, so the maximum is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].dropna().map(lambda t: len(t.encode("utf-8"))).sum())


def stats_counts(stats: dict) -> dict:
    """statistics() without the fields that depend on when it was read."""
    out = {"total": dict(stats["statistics"]["total"]), "detailed": []}
    for d in stats["statistics"]["detailed"]:
        out["detailed"].append({k: v for k, v in d.items() if k not in STATUS_FIELDS})
    return {"result": stats["result"], "statistics": out}


class Oracle:
    """``OracleEngine`` on a corpus, with a term → posting rows index. A
    search runs the oracle's own code on the rows of the query's lemmas,
    which are the only rows it reads, so it answers the same without
    scanning every posting of the corpus."""

    def __init__(self, corpus: pd.DataFrame):
        self.engine = OracleEngine().build(corpus)
        self.rows = self.engine.postings.groupby("term").indices

    def __getattr__(self, name):  # built state and statistics(), unchanged
        return getattr(self.engine, name)

    def search(self, query: str, **kw) -> tuple[pd.DataFrame, int]:
        lemmas = query_lemmas(query)
        e = self.engine
        rows = [self.rows[t] for t in lemmas if t in self.rows]
        rows = np.sort(np.concatenate(rows)) if rows else np.empty(0, np.int64)
        sub = dataclasses.replace(e, postings=e.postings.iloc[rows],
                                  terms=e.terms[e.terms["term"].isin(lemmas)])
        return sub.search(query, **kw)


# =============================================================================
# queries: a seeded pool and the stream that asks it
# =============================================================================
@dataclass(frozen=True)
class Query:
    text: str
    site: str | None
    offset: int
    limit: int = 20


MODES = ("reference", "bm25")
_CYRILLIC_WORD = re.compile(r"[А-ЯЁа-яё]+")


#: term classes of the pool's specs: the same mix for every seed, so a
#: seed changes which words are asked, not how much work they are
PATTERNS = (
    ("hot",), ("mid",), ("rare",), ("ru",), ("hot", "mid"), ("hot", "rare"),
    ("hot", "ru"), ("mid", "ru"), ("hot", "hot", "mid"), ("hot", "hot", "rare"),
    ("mid", "mid"), ("hot", "ru", "mid"),
)
SITE_SCOPED = (1, 6)  # pattern indexes asked within one site
#: queries per pattern; opening the index warms the term-stats memo with
#: the first only
ROUNDS = 2


def query_pool(corpus: pd.DataFrame, oracle: Oracle, rng) -> list[Query]:
    """``ROUNDS`` seeded queries per pattern, one round after the other:
    terms drawn by df class (the hot near-stopwords, mid-df and rare terms,
    Russian words), English terms in inflected forms, offsets 0, 20 and 40.
    Each has reference-mode matches, so every query runs the shard kernel in
    both modes, and no two are the same."""
    df = oracle.terms.groupby("term")["df"].sum()
    n = oracle.n_docs
    latin = df[df.index.str.fullmatch(r"[a-z]+") & ~df.index.isin(HOT_TERMS)]
    words = sorted(set(_CYRILLIC_WORD.findall(" ".join(corpus["text"].dropna()))))
    classes = {
        "hot": list(HOT_TERMS),
        "mid": list(latin[(latin >= 0.02 * n) & (latin <= 0.08 * n)].index),
        "rare": list(latin[(latin >= 2) & (latin <= max(3, 0.002 * n))].index),
        "ru": [w for w in words if query_lemmas(w)],
    }
    sites = sorted(oracle.documents["site"].unique())
    pool: list[Query] = []
    for _ in range(ROUNDS):
        for j, pattern in enumerate(PATTERNS):
            for _ in range(1000):
                terms = []
                for cls in pattern:
                    w = classes[cls][int(rng.integers(len(classes[cls])))]
                    form = w + ("", "s", "ed", "ing")[int(rng.integers(4))] if w.isascii() else w
                    terms.append(form if query_lemmas(form) == {w} else w)
                site = sites[int(rng.integers(len(sites)))] if j in SITE_SCOPED else None
                q = Query(" ".join(terms), site, (0, 20, 40)[j % 3])
                if q not in pool and oracle.search(q.text, site=q.site, mode="reference")[1] > 0:
                    pool.append(q)
                    break
            else:
                raise RuntimeError(f"no query with matches for pattern {pattern}")
    return pool


def marker(kind: str, seed: int) -> str:
    """A token that occurs nowhere in the corpus and lemmatizes to itself:
    corpus stems alternate consonant-vowel, and this has a 'zq' cluster."""
    digits = "bcdfghjklm"
    word = "zq" + kind + "".join(digits[int(c)] for c in str(abs(seed)))
    if query_lemmas(word) != {word}:
        raise ValueError(f"marker {word!r} does not lemmatize to itself")
    return word


def pages(stats: dict) -> int:
    return stats["statistics"]["total"]["pages"]


class Workload:
    """What both workloads share: the corpus and its oracle, the index
    build, the query stream and its answer checks, and the traced probes.

    A workload builds one index of its corpus: ``build`` as its measured
    operation, ``serve`` in setup. A traced run then measures every layer
    on that index with the same probes (``probe``), so both workloads print
    the same per-layer metrics."""

    name = ""

    def __init__(self, profile: Profile, seed: int, seconds: float, work: str, cores: int):
        self.p = profile
        self.cores = cores
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.cfg = EngineConfig(parallelism=PARALLELISM)
        self.attempted = 0
        self.failed = 0
        self.checks = 0
        self.problems: list[str] = []
        self.detail: dict = {}
        self.load_s: list[float] = []  # searcher reloads after writes
        self.fresh_s: list[float] = []  # reload plus the query after a write
        self.spark = None
        self.tracer = None
        self.eng = None
        # the stream's answers: the first per (query, mode) is checked
        # against the oracle, later ones against the first
        self.pos = 0
        self.first: dict[tuple[int, str], tuple[pd.DataFrame, int]] = {}
        self.uses: dict[tuple[int, str], int] = {}
        self.diverged: dict[tuple[int, str], int] = {}
        self.lock = threading.Lock()

    # ---- bookkeeping -------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.checks += 1
        if not ok:
            self.problems.append(what)
        return ok

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation; a failed answer check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.problems.append(what)

    def table(self, pdf: pd.DataFrame, name: str) -> str:
        path = os.path.join(self.work, f"in-{name}.parquet")
        # microsecond UTC timestamps: Spark reads nanosecond ones as INT64
        ts = pdf["ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
        pdf.assign(ts=ts).to_parquet(path, index=False)
        return path

    def read(self, path: str):
        return self.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)

    def warehouse(self, name: str) -> str:
        path = os.path.join(self.work, f"wh-{name}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def mean_over_spans(self, groups, name: str, attr: str) -> float:
        """Mean of one GroupStats field over the spans called ``name``."""
        gs = [groups.get(s.gid, GroupStats()) for s in self.tracer.named(name)]
        return float(np.mean([getattr(g, attr) for g in gs])) if gs else 0.0

    # ---- inputs ----------------------------------------------------------------
    def prepare(self, turns: int) -> None:
        """The first ``turns`` turns of the fixture are the corpus; the
        turns after them are held out for appends."""
        full = generate_transcripts(self.p.fixture, seed=self.seed)
        self.corpus = full.iloc[:turns]
        self.held = full.iloc[turns:].reset_index(drop=True)
        self.src_path = self.table(self.corpus, self.name)
        self.text_bytes = text_bytes(self.corpus)
        self.oracle = Oracle(self.corpus)

    @cached_property
    def pool(self) -> list[Query]:
        return query_pool(self.corpus, self.oracle, self.rng)

    @cached_property
    def stream(self) -> list[tuple[int, str]]:
        """(pool index, mode) per position. Each block of the stream asks
        every query once: of each pattern's two queries one in reference
        mode, the other in bm25 mode, and the next block swaps them. Within
        a block the modes alternate and each mode's queries come in a
        seeded order. So a short run asks about one block, the same mix of
        patterns and modes for every seed; a mode drawn by chance would
        make a bm25 query costing twice its reference twin weigh on one
        seed and not another."""
        n = len(PATTERNS)
        out = []
        for b in range(1000):
            by_mode = ([], [])
            for qi in range(len(self.pool)):
                by_mode[(qi // n + qi % n + b) % 2].append(qi)
            ref, bm25 = (self.rng.permutation(q) for q in by_mode)
            out += [(int(qi), m) for pair in zip(ref, bm25) for qi, m in zip(pair, MODES)]
        return out

    @cached_property
    def warm_terms(self) -> str:
        """The first round's terms: the second round's queries are cold on
        first use and pay one term-stats lookup job each."""
        return " ".join(q.text for q in self.pool[: len(PATTERNS)])

    # ---- the index ---------------------------------------------------------------
    def build_index(self) -> None:
        """``SearchEngine.build(resume=False)`` of the corpus into a fresh
        warehouse, timed; then the sizes of what it wrote."""
        self.src = self.read(self.src_path)
        self.eng = SearchEngine(self.spark, self.warehouse(self.name), self.cfg)
        with self.tracer.span("build_index") as self.build_span:
            t0 = time.time()
            res = self.eng.build(self.src, resume=False)
            self.build_s = time.time() - t0
        self.build_n_docs = res.n_docs
        self.build_metrics = dict(res.metrics)
        self.index_bytes = tree_bytes(self.eng.warehouse)[0]
        self.catalog_sizes = {t: tree_bytes(self.eng.catalog.path(t)) for t in TABLES}

    def check_index(self) -> None:
        """The built index against the oracle, before any write to it."""
        ok = self.check(self.build_n_docs == self.oracle.n_docs,
                        f"build: n_docs {self.build_n_docs}")
        st = self.eng.statistics()
        ok &= self.check(stats_counts(st) == self.oracle.statistics(),
                         "build: statistics differ from oracle")
        self.op(ok)

    def open(self) -> None:
        """Load the searcher, start the kernel's Python workers and warm the
        term-stats memo with one query over the first round's terms."""
        self.eng.search(self.warm_terms, mode="bm25", exact_count=False)

    # ---- the query stream ----------------------------------------------------------
    def key(self, pos: int) -> tuple[int, str]:
        return self.stream[pos]

    def take(self) -> int:
        """The next stream position."""
        with self.lock:
            self.pos += 1
            return self.pos - 1

    def run_query(self, pos: int, exact_count: bool = False):
        qi, mode = self.key(pos)
        q = self.pool[qi]
        t0 = time.time()
        page, count = self.eng.search(
            q.text, site=q.site, offset=q.offset, limit=q.limit, mode=mode,
            exact_count=exact_count,
        )
        return time.time() - t0, page, count

    def record(self, pos: int, page: pd.DataFrame, count: int) -> None:
        """Keep the first answer per (query, mode) for the oracle check and
        count later answers that differ from it."""
        k = self.key(pos)
        with self.lock:
            self.uses[k] = self.uses.get(k, 0) + 1
            if k not in self.first:
                self.first[k] = (page, count)
            elif list(self.first[k][0]["doc_id"]) != list(page["doc_id"]) or (
                k[1] == "reference" and self.first[k][1] != count
            ):
                self.diverged[k] = self.diverged.get(k, 0) + 1

    def warm_share(self) -> float:
        """Share of the queries asked so far whose terms all appeared
        earlier in the stream or in the warm-up query."""
        seen = query_lemmas(self.warm_terms)
        warm = 0
        for pos in range(self.pos):
            lem = query_lemmas(self.pool[self.key(pos)[0]].text)
            warm += lem <= seen
            seen |= lem
        return warm / self.pos

    def verify(self) -> None:
        """Every distinct (query, mode) answer against the oracle. A pruned
        bm25 count is a lower bound, so only its range is checked."""
        for k, (page, count) in self.first.items():
            q = self.pool[k[0]]
            opage, ocount = self.oracle.search(q.text, site=q.site, offset=q.offset,
                                               limit=q.limit, mode=k[1])
            ok = list(page["doc_id"]) == list(opage["doc_id"])
            ok = ok and np.allclose(page["score"].to_numpy(float), opage["score"].to_numpy(float), rtol=1e-6)
            if k[1] == "reference":
                ok = ok and count == ocount
            else:
                ok = ok and len(page) <= count <= ocount
            self.check(ok, f"{q} [{k[1]}] differs from oracle")
            bad = self.uses[k] if not ok else self.diverged.get(k, 0)
            for j in range(self.uses[k]):
                self.op(j >= bad)

    # ---- phases --------------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def headline(self) -> float:
        """The measured phase's gated figure, ``ops_per_s``."""
        raise NotImplementedError

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        self.detail.update(build_s=self.build_s,
                           n_docs=self.oracle.n_docs, text_bytes=self.text_bytes)
        return {
            "ops_per_s": (self.headline(), "ops/s"),
            "index_bytes_per_text_byte": (self.index_bytes / self.text_bytes, "ratio"),
        }

    # ---- traced runs: single layers on the workload's index ------------------------
    def probe(self) -> None:
        """Time single layers through their public functions, after the
        measured phase. Queries run before the writes, and the upsert before
        the append, so the oracle of the corpus still answers for both."""
        self.probe_lemmatize()
        self.probe_doc_ids()
        self.probe_codec()
        self.probe_queries()
        self.upsert()
        self.append()
        self.compact()

    def lemmatize(self) -> float:
        """Seconds of the lemmatize layer alone: the pandas UDF over every
        turn, forced through a sink that writes nothing."""
        src = self.src.repartition(self.cfg.parallelism)
        t0 = time.time()
        lemmatize_transcripts(src).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def probe_lemmatize(self) -> None:
        with self.tracer.span("lemmatize"):
            self.lemmatize_s = statistics.median(self.lemmatize() for _ in range(REPEATS))

    def probe_doc_ids(self) -> None:
        src = self.src.repartition(self.cfg.parallelism)
        keys = src.filter("text is not null and length(text) > 0").select("conv_id", "turn_idx")
        with self.tracer.span("doc_ids"):
            t0 = time.time()
            ids = assign_doc_ids(keys, parallelism=self.cfg.parallelism, expect_unique=True)
            n = ids.count()
            self.doc_ids_s = time.time() - t0
        ids.unpersist()
        self.check(n == self.oracle.n_docs, f"assign_doc_ids gave {n} ids")

    def probe_codec(self) -> None:
        """Encode and decode the built index's doc-id lists, cut into blocks
        of the index's block size as the postings table stores them."""
        cat = self.eng.catalog
        bs = int(cat.read_meta()["block_size"])
        flat = (
            cat.read("postings_flat").filter("bucket >= 0").select("term", "doc_id").toPandas()
        )
        flat = flat.sort_values(["term", "doc_id"], kind="mergesort")
        ids = flat["doc_id"].to_numpy(np.int64)
        starts = np.flatnonzero(np.r_[True, flat["term"].to_numpy()[1:] != flat["term"].to_numpy()[:-1]])
        ends = np.r_[starts[1:], len(ids)]
        blocks = [ids[a:b][k : k + bs] for a, b in zip(starts, ends) for k in range(0, b - a, bs)]
        t0 = time.time()
        enc = [encode_postings(b) for b in blocks]
        self.encode_s = time.time() - t0
        t0 = time.time()
        dec = [decode_postings(e) for e in enc]
        self.decode_s = time.time() - t0
        self.codec_postings = len(ids)
        self.check(all(np.array_equal(a, b) for a, b in zip(blocks, dec)), "codec round trip")

    def probe_queries(self) -> None:
        """The next ``LATENCY_SAMPLES`` queries of each mode, asked once to
        warm up, then again by one client with each query in a span; then
        the bm25 ones with exact counts, and the shard kernel alone on each
        one's collected blocks."""
        self.open()
        positions = [self.take() for _ in range(2 * LATENCY_SAMPLES)]
        for pos in positions:
            self.record(pos, *self.run_query(pos)[1:])
        self.lat = []
        for pos in positions:
            with self.tracer.span(f"search.{self.key(pos)[1]}") as sp:
                wall, page, count = self.run_query(pos)
            self.record(pos, page, count)
            self.lat.append((pos, wall, sp))
        self.memo_warm_frac = self.warm_share()
        self.exact = []
        for pos in positions:
            qi, mode = self.key(pos)
            if mode != "bm25":
                continue
            wall, page, _ = self.run_query(pos, exact_count=True)
            self.exact.append(wall)
            self.check(list(page["doc_id"]) == list(self.first[(qi, mode)][0]["doc_id"]),
                       f"exact bm25 page differs for {self.pool[qi]}")
        cat = self.eng.catalog
        meta = cat.read_meta()
        blocks = cat.read("postings")
        sites = {r["site"]: r for r in cat.read("sites").collect()}
        self.kernel = {
            k: self.time_kernel(self.pool[k[0]], k[1], meta, blocks, sites)
            for k in sorted({self.key(pos) for pos in positions})
        }

    def time_kernel(self, q: Query, mode: str, meta, blocks, sites) -> tuple[float, int]:
        """(ms, block rows) of make_shard_kernel over the query's blocks,
        collected first, without Spark in the timed part."""
        lemmas = sorted(query_lemmas(q.text))
        terms = list(lemmas) + ([DOCLEN_TERM] if mode == "bm25" else [])
        scan = blocks.filter(blocks["term"].isin(terms + ([SITE_TERM] if q.site else [])))
        allowed = None
        if q.site:
            s = sites[q.site]
            shard = int(meta["shard_size"])
            scan = scan.filter(blocks["shard"].between(int(s["lo"]) // shard, int(s["hi"]) // shard))
            allowed = [int(s["sid"])]
        pdf = scan.toPandas()
        df = self.oracle.terms[self.oracle.terms["term"].isin(lemmas)].groupby("term")["df"].sum()
        n_docs = int(meta["n_docs"])
        idf = {t: BM25Params.idf(n_docs, int(d)) for t, d in df.items()}
        kernel = make_shard_kernel(
            lemmas, mode, q.offset + q.limit, idf, self.cfg.bm25.k1, self.cfg.bm25.b,
            meta["sum_doc_len"] / n_docs, allowed, exact_count=False,
        )
        t0 = time.time()
        for _, g in pdf.groupby("shard"):
            kernel(g.reset_index(drop=True))
        return ms(time.time() - t0), len(pdf)

    # ---- writes, in traced runs ------------------------------------------------
    def marker_query(self, mk: str, expect: set, label: str) -> float:
        t0 = time.time()
        page, count = self.eng.search(mk, mode="reference", limit=len(expect) + 10)
        wall = time.time() - t0
        got = set(zip(page["conv_id"], page["turn_idx"].astype(int)))
        self.op(self.check(count == len(expect) and got == expect,
                           f"{label}: marker {mk} returned {count}, expected {len(expect)}"))
        return wall

    def fresh_query(self, mk: str, expect: set, label: str) -> None:
        """The searcher reload that a write forces, timed alone, then the
        marker query; a user's first query after a write pays both."""
        t0 = time.time()
        self.eng.searcher
        self.load_s.append(time.time() - t0)
        self.fresh_s.append(self.load_s[-1] + self.marker_query(mk, expect, label))

    def upsert(self) -> None:
        """Reindex one turn with a marker for its text, query the marker,
        then the rarest term of the old text, which must no longer find it."""
        text = self.corpus["text"].fillna("")
        df = self.oracle.terms.groupby("term")["df"].sum()
        while True:
            j = int(self.rng.integers(len(text)))
            lemmas = query_lemmas(text.iloc[j]) & set(df.index)
            if lemmas:
                break
        key = (self.corpus["conv_id"].iloc[j], int(self.corpus["turn_idx"].iloc[j]))
        rare = min(lemmas, key=lambda t: (df[t], t))
        _, had = self.oracle.search(rare, mode="reference")
        up = marker("up", self.seed)
        wh = self.eng.warehouse
        before = snapshot(wh)
        with self.tracer.span("upsert") as self.upsert_span:
            t0 = time.time()
            self.eng.reindex_turn(*key, up)
            self.upsert_s = time.time() - t0
        self.upsert_written = written(before, snapshot(wh))
        self.fresh_query(up, {key}, "upserted turn")
        page, count = self.eng.search(rare, mode="reference", limit=had + 10)
        got = set(zip(page["conv_id"], page["turn_idx"].astype(int)))
        self.op(self.check(count == had - 1 and key not in got,
                           f"old text of the upserted turn: {rare} found {count} of {had}"))

    def append(self) -> None:
        """Append a batch whose turns all carry a marker and query it, then
        read statistics() three times."""
        eng, wh = self.eng, self.eng.warehouse
        pages_before = pages(eng.statistics())
        pdf = self.held.iloc[: self.p.batch_turns].copy()
        self.mk = marker("mark", self.seed)
        pdf["text"] = pdf["text"].fillna("") + " " + self.mk
        batch = self.read(self.table(pdf, "batch"))
        before = snapshot(wh)
        with self.tracer.span("append") as self.append_span:
            t0 = time.time()
            n = eng.append_turns(batch)
            self.append_s = time.time() - t0
        self.append_written = written(before, snapshot(wh))
        self.batch_bytes = text_bytes(pdf)
        self.op(self.check(n == len(pdf), f"append wrote {n} of {len(pdf)} turns"))
        self.marked = set(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)))
        self.fresh_query(self.mk, self.marked, "after append")
        self.stats_s: list[float] = []
        for _ in range(3):
            with self.tracer.span("stats"):
                t0 = time.time()
                got = pages(eng.statistics())
                self.stats_s.append(time.time() - t0)
            self.op(self.check(got == pages_before + n, f"statistics pages {got} != {pages_before} + {n}"))

    def compact(self) -> None:
        wh = self.eng.warehouse
        post = self.eng.catalog.path("postings")
        self.post_files_before = sum(1 for f in snapshot(post) if f.endswith(".parquet"))
        before = snapshot(wh)
        with self.tracer.span("compact") as self.compact_span:
            t0 = time.time()
            self.eng.compact_appended()
            self.compact_s = time.time() - t0
        self.compact_written = written(before, snapshot(wh))
        self.post_files_after = sum(1 for f in snapshot(post) if f.endswith(".parquet"))
        self.fresh_query(self.mk, self.marked, "after compaction")

    def overhead_pair(self, restart) -> tuple[float, float]:
        """(untraced, traced) seconds of the lemmatize layer, medians of
        ``REPEATS``: traced in the probe, untraced here in a new session
        without the event log. ``restart(with_log)`` stops the current
        session and returns a new one in the same JVM."""
        self.spark = restart(False)
        self.src = self.read(self.src_path)
        self.lemmatize()  # starts the new session's Python workers
        return statistics.median(self.lemmatize() for _ in range(REPEATS)), self.lemmatize_s

    def per_layer(self, groups: dict[str, GroupStats]) -> dict[str, tuple[float, str]]:
        g = groups.get(self.build_span.gid, GroupStats())
        m = self.build_metrics
        staged = sum(m.get(f"{s}.seconds", 0.0) for s in ("documents", "terms", "postings"))
        out = {
            "build_index.documents_s": (m.get("documents.seconds", 0.0), "s"),
            "build_index.terms_s": (m.get("terms.seconds", 0.0), "s"),
            "build_index.postings_s": (m.get("postings.seconds", 0.0), "s"),
            "build_index.unstaged_s": (self.build_s - staged, "s"),
            "build_index.jobs": (g.jobs, "count"),
            "build_index.tasks": (g.tasks, "count"),
            "build_index.core_busy_frac": (g.executor_ms / 1000.0 / (self.build_s * self.cores), "ratio"),
            "build_index.shuffle_bytes": (g.shuffle_write_bytes, "B"),
            "build_index.spill_bytes": (g.spill_bytes, "B"),
            "build_index.gc_s": (g.gc_ms / 1000.0, "s"),
            "lemmatize.turns_per_s": (len(self.corpus) / self.lemmatize_s, "turns/s"),
            "lemmatize.gc_s": (self.mean_over_spans(groups, "lemmatize", "gc_ms") / 1000.0 / REPEATS, "s"),
            "doc_ids.s": (self.doc_ids_s, "s"),
            "doc_ids.jobs": (self.mean_over_spans(groups, "doc_ids", "jobs"), "count"),
            "codec.encode_mpostings_per_s": (self.codec_postings / 1e6 / self.encode_s, "Mpostings/s"),
            "codec.decode_mpostings_per_s": (self.codec_postings / 1e6 / self.decode_s, "Mpostings/s"),
        }
        for t, (size, files) in self.catalog_sizes.items():
            out[f"catalog.{t}.bytes"] = (size, "B")
            out[f"catalog.{t}.files"] = (files, "count")
        out.update(self.latency())
        for mode in MODES:
            lat = [(pos, sp) for pos, _, sp in self.lat if self.key(pos)[1] == mode]
            gs = [groups.get(sp.gid, GroupStats()) for _, sp in lat]
            driver = [
                ms(sp.seconds - busy_seconds(g.job_intervals, sp.start, sp.end))
                for (_, sp), g in zip(lat, gs)
            ]
            kern = [self.kernel[self.key(pos)] for pos, _ in lat]
            out[f"search.{mode}.jobs_per_query"] = (float(np.mean([g.jobs for g in gs])), "count")
            out[f"search.{mode}.tasks_per_query"] = (float(np.mean([g.tasks for g in gs])), "count")
            out[f"search.{mode}.executor_ms_per_query"] = (float(np.mean([g.executor_ms for g in gs])), "ms")
            out[f"search.{mode}.driver_ms_per_query"] = (float(np.mean(driver)), "ms")
            out[f"search.{mode}.blocks_per_query"] = (float(np.mean([b for _, b in kern])), "count")
            out[f"search.{mode}.kernel_ms_per_query"] = (float(np.mean([t for t, _ in kern])), "ms")
        out["search.memo_warm_frac"] = (self.memo_warm_frac, "ratio")
        out["search.bm25_exact_p50_ms"] = (ms(statistics.median(self.exact)), "ms")

        def jobs(name: str) -> float:
            return self.mean_over_spans(groups, name, "jobs")
        out.update({
            "append_turns_per_s": (self.p.batch_turns / self.append_s, "turns/s"),
            "upsert_p50_ms": (ms(self.upsert_s), "ms"),
            "fresh_query_p50_ms": (ms(statistics.median(self.fresh_s)), "ms"),
            "stats_p50_ms": (ms(statistics.median(self.stats_s)), "ms"),
            "compact_s": (self.compact_s, "s"),
            "engine.searcher_load_ms": (ms(statistics.median(self.load_s)), "ms"),
            "append.jobs": (jobs("append"), "count"),
            "append.bytes_written_per_text_byte": (self.append_written[0] / self.batch_bytes, "ratio"),
            "append.files_written": (self.append_written[1], "count"),
            "upsert.jobs": (jobs("upsert"), "count"),
            "upsert.bytes_written": (self.upsert_written[0], "B"),
            "upsert.files_written": (self.upsert_written[1], "count"),
            "compact.jobs": (jobs("compact"), "count"),
            "compact.bytes_rewritten": (self.compact_written[0], "B"),
            "compact.postings_files_before": (self.post_files_before, "count"),
            "compact.postings_files_after": (self.post_files_after, "count"),
            "stats.jobs": (jobs("stats"), "count"),
        })
        return out

    def latency(self) -> dict[str, tuple[float, str]]:
        """p50 and tail per mode of the traced latency phase; the tail's
        percentile and sample count go to the detail line."""
        out = {}
        for m, short in (("reference", "ref"), ("bm25", "bm25")):
            lat = [wall for pos, wall, _ in self.lat if self.key(pos)[1] == m]
            v, pct, n = tail(lat)
            self.detail[f"{short}_query_tail"] = {"percentile": round(pct, 1), "samples": n}
            out[f"{short}_query_p50_ms"] = (ms(statistics.median(lat)), "ms")
            out[f"{short}_query_tail_ms"] = (ms(v), "ms")
        return out


# =============================================================================
# build: a cold build into a fresh warehouse
# =============================================================================
class Build(Workload):
    """One ``SearchEngine.build(resume=False)`` into a fresh warehouse, as
    the first Spark work of the process.

    The build layers do all of the work and the query layers none. The
    build is cold, as a batch build job in its own process is: a warm-up
    build in setup would cost as much again and the run's time budget
    cannot hold it. ``ops_per_s`` is indexed turns per second."""

    name = "build"

    def prepare(self) -> None:
        super().prepare(self.p.build_turns)

    def setup(self) -> None:
        pass

    def measure(self) -> None:
        self.build_index()

    def headline(self) -> float:
        return self.oracle.n_docs / self.build_s


# =============================================================================
# serve: a warm closed loop of queries over an index built in setup
# =============================================================================
class Serve(Workload):
    """A closed loop of seeded queries, ``CLIENTS`` clients, on an index
    built in setup. operators/search and the codec decode do all of the
    work and the build layers none. The bm25 queries take the pruned path
    (``exact_count=False``): block-max WAND skips blocks inside the kernel,
    and with 8 or more doc-range shards the two-pass path can skip whole
    shards. ``ops_per_s`` is queries answered per second."""

    name = "serve"
    CLIENTS = 4

    def prepare(self) -> None:
        super().prepare(self.p.serve_turns)
        self.cfg = EngineConfig(parallelism=PARALLELISM, docs_per_shard=self.p.serve_shard_docs)
        self.stream  # draws the pool and the order before anything else

    def setup(self) -> None:
        self.build_index()
        self.open()

    def measure(self) -> None:
        """``CLIENTS`` closed-loop clients for ``--seconds``, each taking the
        next position of the stream. The rate is the sum over clients of
        each one's completed queries over the time from its start to its
        last completion, so a client that ends early is not charged for
        the time the others take to finish their last query."""
        start = self.pos
        stop = time.time() + self.seconds
        errors: list[Exception] = []
        rates: list[float] = []

        def client():
            n, t0 = 0, time.time()
            try:
                while time.time() < stop:
                    i = self.take()
                    _, page, count = self.run_query(i)
                    self.record(i, page, count)
                    n += 1
            except Exception as e:  # counted as a failed query below
                errors.append(e)
            rates.append(n / (time.time() - t0))

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        for e in errors:
            self.op(False, f"throughput query raised {e!r}")
        self.check(not any(t.is_alive() for t in threads), "a throughput client did not stop")
        self.throughput_queries = self.pos - start - len(errors)
        self.qps = sum(rates)

    def headline(self) -> float:
        return self.qps

    def end_to_end(self):
        self.detail.update(throughput_queries=self.throughput_queries,
                           distinct_checked=len(self.first), clients=self.CLIENTS)
        return super().end_to_end()


WORKLOADS = {w.name: w for w in (Build, Serve)}
