"""The two crawl workloads: inputs, the timed crawl + serve window, and
the output checks.

A run is one closed loop driven by a single client thread:

1. set-up (``setup_s``): Spark session, input build, bootstrap commit of
   the seed list;
2. crawl phase: ``Size.rounds`` crawl rounds;
3. serve phase: one untimed op of each kind, then cycles of user
   operations on the same store until ``--seconds`` have passed since
   the crawl phase began, at least one cycle.  A cycle is, in a
   seed-shuffled order, ``Size.lookups``
   ``lookup_url(u).collect()`` point reads of seed urls,
   ``Size.statuses`` ``status_counts()`` + ``top_pages()`` pages and
   ``Size.searches`` ``postings_delta`` + ``search.and_search`` reads;
4. a traced run then also runs one ``enqueue(force=True)`` of half
   unseen and half INDEXED urls and one pass over the query panel (five
   ``bench.HEADLINE`` queries, one per query module, over the
   testdata-shaped tables);
5. checks, after the window: the frontier (``id``, ``status``,
   ``last_change``), crawl log and postings must equal an
   ``OracleCrawler`` run on the same inputs with the enqueue replayed,
   forced urls must read back ``QUEUED``, and each op checks its own
   result (see ``Serve``).
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections.abc import Mapping
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs

QUERY_PANEL = {  # HEADLINE name -> query module
    "topk_per_host": "crawl_ops",
    "term_doc_stats": "text",
    "dedup_exact": "dedup",
    "link_degrees": "graph",
    "ann_bruteforce": "similarity",
}
SEARCH_TERMS = {
    "bench_crawl": ("spark", "window", "merge", "table", "column", "vector",
                    "stream", "value", "data", "small", "join", "filter"),
    "scale_crawl": ("hello", "world", "crawl", "spider", "index",
                    "frontier", "search", "engine", "document", "network"),
}


@dataclass(frozen=True)
class Size:
    """Workload sizes; ``FULL`` is what the benchmark measures, ``TINY``
    what its smoke test runs."""
    rounds: int
    budget: int
    host_quota: int
    # bench_crawl: testdata-shaped documents (sf0.1: 5000) and seeds
    flag_docs: int
    flag_embeddings: int
    flag_seed_hosts: int
    flag_seeds_per_host: int
    # scale_crawl: bench corpus and dense seed list
    scale_docs: int
    scale_tokens: int
    scale_seeds: int
    scale_budget: int
    scale_filter_min_keys: int
    # serve cycle
    lookups: int = 24
    statuses: int = 3
    searches: int = 5
    enqueue_half: int = 16


FULL = Size(rounds=1, budget=1024, host_quota=128,
            flag_docs=5000, flag_embeddings=2000,
            flag_seed_hosts=20, flag_seeds_per_host=16,
            scale_docs=8000, scale_tokens=32, scale_seeds=4000,
            scale_budget=500, scale_filter_min_keys=2048)
TINY = Size(rounds=1, budget=64, host_quota=16,
            flag_docs=500, flag_embeddings=500,
            flag_seed_hosts=5, flag_seeds_per_host=4,
            scale_docs=2000, scale_tokens=12, scale_seeds=1000,
            scale_budget=200, scale_filter_min_keys=512,
            lookups=4, statuses=1, searches=1, enqueue_half=4)


class LazyDocs(Mapping):
    """``doc_id -> spans`` over a parquet corpus that loads only the docs
    asked for: ``prefetch`` reads a batch in one filtered scan, and a
    miss falls back to a one-url read."""

    def __init__(self, path: str):
        self.path = path
        self.cache: dict[str, list | None] = {}

    def prefetch(self, urls) -> None:
        want = sorted(set(urls) - set(self.cache))
        if not want:
            return
        t = pq.read_table(self.path, columns=["doc_id", "spans"],
                          filters=[("doc_id", "in", want)])
        for r in t.to_pylist():
            self.cache[r["doc_id"]] = r["spans"]
        for u in want:
            self.cache.setdefault(u, None)

    def __getitem__(self, url):
        if url not in self.cache:
            self.prefetch([url])
        spans = self.cache[url]
        if spans is None:
            raise KeyError(url)
        return spans

    def __iter__(self):
        return (u for u, s in self.cache.items() if s is not None)

    def __len__(self):
        return sum(1 for s in self.cache.values() if s is not None)


@dataclass
class Ledger:
    """Attempted / failed operations and checks, with failure notes."""
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


@dataclass
class Crawl:
    """Inputs and engine of one workload run."""
    name: str
    seed: int
    size: Size
    work: str
    tables: str = ""
    corpus: str = ""
    seeds: list[str] = field(default_factory=list)
    hosts: list[str] = field(default_factory=list)
    config: object = None
    engine: object = None
    rounds: list[dict] = field(default_factory=list)
    enqueued: list[list[str]] = field(default_factory=list)
    forced: list[str] = field(default_factory=list)

    @property
    def budget(self) -> int:
        return (self.size.budget if self.name == "bench_crawl"
                else self.size.scale_budget)


def crawl_config(budget: int, quota: int, filter_min_keys: int | None):
    """CrawlConfig for a workload; ``filter_min_keys`` is passed only if
    the program still has that knob."""
    from spider_spark.config import CrawlConfig
    kw = dict(max_parallel_working=budget, max_parallel_non_working=budget,
              default_host_quota=quota)
    if (filter_min_keys is not None
            and "filter_min_keys" in CrawlConfig.__dataclass_fields__):
        kw["filter_min_keys"] = filter_min_keys
    return CrawlConfig(**kw)


def build_inputs(spark, c: Crawl) -> None:
    """Input build: testdata-shaped tables (both workloads run the query
    panel over them) and the workload's crawl corpus and seed list."""
    c.tables = os.path.join(c.work, "tables")
    inputs.write_tables(c.tables, c.size.flag_docs, c.size.flag_embeddings)
    c.corpus = os.path.join(c.work, "corpus")
    s = c.size
    if c.name == "bench_crawl":
        c.corpus += ".parquet"
        inputs.write_flagship_corpus(c.tables, c.corpus)
        c.seeds = inputs.flagship_seeds(c.seed, s.flag_docs,
                                        s.flag_seed_hosts,
                                        s.flag_seeds_per_host)
        c.hosts = [f"src{h}.example" for h in range(inputs.N_SOURCES)]
        c.config = crawl_config(s.budget, s.host_quota, None)
    else:
        from spider_spark.sources.bench_corpus import build_bench_corpus
        n_hosts = max(4, int(s.scale_docs ** 0.5) // 4)
        build_bench_corpus(spark, s.scale_docs, c.corpus,
                           tokens_per_span=s.scale_tokens,
                           n_hosts=n_hosts, multilingual_pct=2)
        c.seeds = inputs.scale_seeds(c.seed, s.scale_docs, n_hosts,
                                     s.scale_seeds)
        c.hosts = [f"bench{h}.example" for h in range(n_hosts)]
        c.config = crawl_config(s.scale_budget, s.scale_budget,
                                s.scale_filter_min_keys)


def bootstrap(spark, c: Crawl, store_dir: str):
    from spider_spark.engine import CrawlEngine
    from spider_spark.state.store import SnapshotStore
    eng = CrawlEngine(spark, SnapshotStore(store_dir), c.corpus, c.config)
    eng.bootstrap(c.seeds)
    return eng


def run_rounds(c: Crawl, ledger: Ledger) -> None:
    """The crawl phase.  Each round records its url count and wall
    time, and (from the catalog, outside the timing) the QUEUED rows it
    selected from and the urls it admitted."""
    eng = c.engine
    for _ in range(c.size.rounds):
        cat = eng.store.read_catalog()
        queued = (cat["lineage"][-1]["metrics"]["next_id"]
                  - cat["totals"].get("fetched", 0))
        t0 = time.time()
        try:
            k = eng.run_round()
        except Exception as e:  # a failed round counts, the run goes on
            ledger.check(False, f"round failed: {e!r}"[:300])
            continue
        t1 = time.time()
        ledger.check(k > 0, "round fetched nothing")
        admitted = eng.store.read_catalog()["lineage"][-1]["metrics"][
            "admitted"]
        c.rounds.append({"k": k, "t0": t0, "t1": t1, "wall": t1 - t0,
                         "queued": queued,
                         "admitted": admitted})


class Serve:
    """The serve-phase closed loop.  Each op checks its own result:
    a lookup of a seed url returns exactly that row; the status page
    sums to every admitted url; a search returns at most ``k`` rows;
    an enqueue admits exactly its unseen urls; each panel query returns
    the row count pinned for the generated tables."""

    def __init__(self, spark, c: Crawl, ledger: Ledger, pinned: dict):
        self.spark, self.c, self.ledger = spark, c, ledger
        self.pinned = pinned
        self.rng = random.Random(c.seed * 1_000_003 + 17)
        ops = ("lookup", "status", "search", "enqueue", "queries")
        self.walls: dict[str, list[float]] = {op: [] for op in ops}
        self.indexed: list[str] = []

    def prepare(self) -> None:
        """Untimed: the INDEXED urls the enqueues will force back."""
        fr = self.c.engine.frontier()
        rows = (fr.filter(fr.status == "INDEXED").select("url")
                .orderBy("url").limit(2000).collect())
        self.indexed = [r.url for r in rows]
        self.rng.shuffle(self.indexed)

    def warm_up(self) -> None:
        """One untimed op of each kind, so the timed ones do not pay the
        first-use plan compilation."""
        self.run_ops(["lookup", "status", "search"], timed=False)

    def cycle(self) -> None:
        """One timed serve cycle: lookups, status pages and searches in a
        seed-shuffled order."""
        s = self.c.size
        ops = (["lookup"] * s.lookups + ["status"] * s.statuses
               + ["search"] * s.searches)
        self.rng.shuffle(ops)
        self.run_ops(ops)

    def extras(self) -> None:
        """The traced run's ops after the timed window: one forced
        enqueue (it commits a round of its own, which would move the
        snapshot window later searches read) and one pass over the
        query panel."""
        self.prepare()
        self.run_ops(["enqueue", "queries"])

    def run_ops(self, ops: list[str], timed: bool = True) -> None:
        for op in ops:
            t0 = time.time()
            try:
                ok = getattr(self, op)()
            except Exception as e:
                self.ledger.check(False, f"{op} raised {e!r}"[:300])
                continue
            if timed:
                self.walls[op].append(time.time() - t0)
            self.ledger.check(ok, f"{op} check failed")

    def lookup(self) -> bool:
        url = self.rng.choice(self.c.seeds)
        rows = self.c.engine.lookup_url(url).collect()
        return len(rows) == 1 and rows[0].url == url

    def status(self) -> bool:
        eng = self.c.engine
        counts = eng.status_counts().collect()
        eng.top_pages().collect()
        cat = eng.store.read_catalog()
        return sum(r.n for r in counts) == cat["lineage"][-1]["metrics"][
            "next_id"]

    def search(self) -> bool:
        from spider_spark.operators import search
        eng = self.c.engine
        delta = eng.postings_delta(min(eng.store.snapshots()))
        if delta is None:  # nothing new since that round: an empty read
            return True
        terms = self.rng.sample(SEARCH_TERMS[self.c.name], 2)
        return len(search.and_search(delta, terms, k=10).collect()) <= 10

    def enqueue(self) -> bool:
        half = self.c.size.enqueue_half
        batch = len(self.c.enqueued)
        fresh = inputs.unseen_urls(self.c.seed, batch, self.c.hosts, half)
        forced, self.indexed = self.indexed[:half], self.indexed[half:]
        urls = fresh + forced
        self.rng.shuffle(urls)
        n_new = self.c.engine.enqueue(urls, force=True)
        self.c.enqueued.append(urls)
        self.c.forced.extend(forced[:2])
        return n_new == len(fresh) and len(forced) == half

    def queries(self) -> bool:
        from spider_spark import queries as Q
        registry = Q.queries()
        names = list(QUERY_PANEL)
        self.rng.shuffle(names)
        ok = True
        for name in names:
            n = registry[name](self.spark, self.c.tables).count()
            want = self.pinned.get(name)
            ok &= self.ledger.check(want is None or n == want,
                                    f"query {name}: {n} rows, pinned {want}")
        return ok


def oracle_check(c: Crawl, ledger: Ledger) -> dict:
    """Replay the crawl (and the serve-phase enqueues) in OracleCrawler
    and compare frontier, crawl log and postings.  Returns the oracle's
    per-round counts for the per-layer report."""
    from spider_spark.oracle.simulator import OracleCrawler
    eng = c.engine
    log = eng.crawl_log().toPandas().sort_values(["round", "rank"])
    engine_log = [tuple(r) for r in
                  log[["round", "rank", "url"]].itertuples(index=False)]
    if c.name == "bench_crawl":
        docs = {r["doc_id"]: r["spans"] for r in
                pq.read_table(c.corpus).to_pylist()}
    else:
        docs = LazyDocs(c.corpus)
        docs.prefetch(u for _, _, u in engine_log)
    oc = OracleCrawler(docs, c.seeds, c.config)
    for _ in range(c.size.rounds):
        oc.run_round()
    crawl = {
        "indexed": sum(p.status == "INDEXED"
                       for p in oc.state.pages.values()),
        "postings": len(oc.state.postings),
        "tokens": sum(len(p.positions) for p in oc.state.postings),
    }
    for urls in c.enqueued:  # CrawlEngine.enqueue is its own round
        oc.state.round += 1
        oc._admit([(-1, 0, i, u, "manually", True)
                   for i, u in enumerate(urls)],
                  rnd=oc.state.round, seq_start=0)

    ledger.check(engine_log == oc.state.crawl_log, "crawl log != oracle")
    fr = eng.frontier().select("url", "id", "status", "last_change")
    engine_fr = {r.url: (r.id, r.status, r.last_change)
                 for r in fr.collect()}
    oracle_fr = {u: (p.id, p.status, p.last_change)
                 for u, p in oc.state.pages.items()}
    ledger.check(engine_fr == oracle_fr, "frontier != oracle")
    ep = eng.postings().select("term", "doc_id", "rel", "title",
                               "positions").toPandas()
    engine_p = sorted(
        (t, d, float(r), ti if isinstance(ti, str) else "",
         tuple(int(x) for x in pos))
        for t, d, r, ti, pos in ep.itertuples(index=False))
    oracle_p = sorted(
        (p.term, p.doc_id, float(p.rel), p.title or "", tuple(p.positions))
        for p in oc.state.postings)
    ledger.check(engine_p == oracle_p, "postings != oracle")
    for url in c.forced:
        rows = eng.lookup_url(url).collect()
        ledger.check(len(rows) == 1 and rows[0].status == "QUEUED",
                     f"forced url not QUEUED: {url}")
    return crawl


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")
