"""The crawl engine — batched DataFrame rounds (SURVEY.md §3 lifecycle).

One round (≈ startSomeRequests → fetch → onSuccess/onFailure → maybeSend,
Spider.java:206-255,415-541):

  1. budget    — max_parallel(hour), hour := round % 24 (deterministic)
  2. select    — per-host politeness quota + global top-K over a
                 STATUS-PRUNED frontier read: the store lists only
                 ``_pstatus=QUEUED`` leaf files (PerstRoot's per-status
                 B-trees, db/PerstRoot.java:33-37), so the select never
                 scans non-queued rows
  3. fetch     — broadcast-join the ≤K selected URLs against the
                 documents table (A4; the sandbox "network")
  4. parse     — operators.parse (D1-D6), one Arrow tokenize hop
  5. postings  — operators.postings (E1-E6) → append
  6. statuses  — INDEXED / SUCCEEDED(redirect) / FAILED merges (F2-F4)
  7. admit     — outlinks + redirect targets (operators.admission, B1-B5,
                 F1) → frontier union.  Dedup is one exact left_anti
                 join against the frontier at every frontier size
                 (Spider's URL-seen set is an exact unique index,
                 db/PerstRoot.java:46-67)
  8. commit    — one atomic catalog swap for all tables (F5); a crashed
                 round commits nothing and is replayed (NOT_PUSHED→QUEUED
                 analog, LibraryBuffer.java:97-102).  The frontier is
                 BUCKETED by pmod(xxhash64(url), frontier_buckets) and
                 sub-partitioned by status: only buckets containing this
                 round's status updates or new admissions are rewritten

Per-round job discipline (the driver-bench lesson from round 2: fixed
per-round overhead, not data volume, dominated k≤1024 rounds): a round
runs  (a) one select collect,  (b) one span-feed materialization, then
(c) the tokenize materialization CONCURRENT with the admission jobs
(canonicalize + anti-join, two-pass id assignment, one fused
admissions+touched-buckets aggregation) on two driver threads, and
(d) the concurrent commit writes — with commit outputs coalesced to one
task when the working set is tiny.  (Round-4 N-vs-4N phase tables drove
the overlap: the serialized admission+commit prelude was ~25s of
core-count-independent wall per round; overlapped, every phase but the
~2s select collect scales 3.2-4.8x from 4→16 cores.)

Every source of nondeterminism is pinned (SURVEY §7.3): ids are
admission sequence numbers, last_change is (round<<32)|seq in 64-bit
(config.SEQ_SHIFT; a round overflowing 2^32 sequences fails loudly
rather than silently carrying into the round field), ranking ties
break on id, the "hour" is round%24.  Resume = re-open the store and
continue from the last committed catalog — bit-identical by
construction, verified by tests/test_resume.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os
import sys
import time

from .config import SEQ_SHIFT, CrawlConfig
from .operators import admission, parse, postings, scheduling
from .state.store import SnapshotStore

_TIMING = os.environ.get("SPIDER_TIMING", "") == "1"


def _tick(label: str, t0: float) -> float:
    if _TIMING:
        t = time.time()
        print(f"## {label}: {t - t0:.2f}s", file=sys.stderr)
        return t
    return t0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        documents_path: str,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        hosts: DataFrame | None = None,
    ):
        self.spark = spark
        self.store = store
        self.documents_path = documents_path
        self.config = config or CrawlConfig()
        self.robots = robots
        self.hosts = hosts
        # one retention policy: archived as_of catalogs pin their dirs
        # through gc, so the store's snapshot window must equal the
        # engine's gc grace window or expiry could never reclaim space
        self.store.snapshot_keep = self.config.gc_retain_rounds
        self._docs_df: DataFrame | None = None

    # -- frontier bucketing (Iceberg partition-overwrite analog) -----------

    def _n_buckets(self) -> int:
        return (self.store.bucket_count("frontier")
                or self.config.frontier_buckets)

    @staticmethod
    def _bucket_expr(nb: int):
        """Bucket id of a row's url — THE bucket formula, delegated to
        admission.bucket_of so frontier bucketing and the bucket-pruned
        confirm join can never desynchronize."""
        return admission.bucket_of(F.col("url"), nb)

    def _documents(self) -> DataFrame:
        if self._docs_df is None:
            self._docs_df = self.spark.read.parquet(self.documents_path)
        return self._docs_df

    def _maybe_compact(self) -> None:
        cat = self.store.read_catalog()
        compacted = False
        for table, segs in cat["appends"].items():
            if len(segs) >= self.config.max_append_segments:
                self.store.compact_appends(
                    self.spark, table, self.config.max_append_segments)
                compacted = True
        # snapshot expiry rides the compaction cadence (Iceberg
        # expire_snapshots): every touched-bucket rewrite strands the
        # superseded bucket=N dirs, so without this a 10^4-round crawl
        # leaks disk proportional to cumulative rewrite volume.  The
        # keep-last-N grace window protects concurrent readers of the
        # previous catalog (gc_retain_rounds=0 disables expiry).
        if compacted and self.config.gc_retain_rounds:
            self.store.gc_orphans(keep_recent=self.config.gc_retain_rounds)

    def rebucket(self, new_nb: int) -> None:
        """Migrate the frontier to a new bucket count — the growth path
        for a frontier that outgrew its bootstrap-time sizing (VERDICT
        r3 missing #3).

        Sizing rule (config.frontier_buckets docstring has the
        arithmetic): nb = ceil(expected_keys / target_keys_per_bucket)
        with ~4M keys/bucket as the target — at 10^10 URLs that is
        ~2500 buckets.  When the frontier outgrows that, this one-shot
        job reads ALL buckets, re-hashes to the new modulus, and
        commits everything in one atomic swap (its own round, like
        enqueue).  Nothing in the
        reference corresponds — Perst B-trees grow node-by-node
        (org/garret/perst/impl/Btree.java); on Iceberg this is a
        partition-spec evolution + full rewrite.

        O(frontier) — run it like a compaction, not per round."""
        cat = self.store.read_catalog()
        nb_old = self._n_buckets()
        if new_nb == nb_old or not self.store.exists("frontier"):
            return
        rnd = cat["round"]
        next_id = cat["lineage"][-1]["metrics"]["next_id"] if cat["lineage"] else 0
        frontier = self.store.read(self.spark, "frontier")
        if frontier is None:
            return
        b = self._bucket_expr(new_nb)
        final = (
            frontier.select(*admission.FRONTIER_COLUMNS)
            .withColumn("bucket", b)
            .withColumn("_pstatus", F.col("status"))
            .repartition(new_nb, F.col("bucket"))
        )
        self.store.commit_round(
            rnd + 1, rewrites={}, appends={},
            bucket_updates={"frontier": (final, new_nb)},
            rebucket={"frontier"},
            metrics={"next_id": next_id, "fetched": 0, "admitted": 0,
                     "rebucketed": {"from": nb_old, "to": new_nb}},
        )

    # -- bootstrap (A1 seed source) ---------------------------------------

    def bootstrap(self, seed_urls: list[str], comment: str = "bookmark") -> None:
        """Admit the seed list as round 0 (Spider.java:605-608).  No-op
        if the store already has a frontier (resume path)."""
        if self.store.exists("frontier"):
            return
        cand = self.spark.createDataFrame(
            [(-1, 0, i, u, comment, False) for i, u in enumerate(seed_urls)],
            admission.CANDIDATE_SCHEMA,
        )
        # small seed lists: one partition + single-window id assignment
        # (same k<=4096 shortcut as run_round) — a driver-local list
        # parallelized to defaultParallelism otherwise drags 32 near-
        # empty tasks through every admission stage.  repartition, NOT
        # coalesce: a LocalTableScan feeding ArrowEvalPython directly
        # pays a measured ~4 s/job pathology on this Spark build (UDS
        # and TCP alike); the exchange breaks the adjacency and the
        # admission canonicalize hop runs in ~0.3 s
        small = len(seed_urls) <= 4096
        if small:
            cand = cand.repartition(1)
        cleanup: list = []
        new_rows, _ = admission.admit(
            self.spark, cand, None, self.config, self.robots,
            rnd=0, seq_start=0, next_id=0, cleanup=cleanup,
            seq_partitions=1 if small else None,
            with_force=False,
        )
        new_rows = new_rows.coalesce(1).cache()
        n = new_rows.count()
        nb = self.config.frontier_buckets
        final = (
            new_rows.withColumn("bucket", self._bucket_expr(nb))
            .withColumn("_pstatus", F.col("status"))
        )
        self.store.commit_round(
            0, rewrites={}, appends={},
            bucket_updates={"frontier": (final, nb)},
            metrics={"next_id": n, "fetched": 0, "admitted": n},
        )
        for df in (new_rows, *cleanup):
            df.unpersist()

    # -- API: manual enqueue (A2) and edition force-requeue (A3/B5) -------

    def enqueue(self, urls: list[str], comment: str = "manually",
                force: bool = True) -> int:
        """Out-of-band admission (web/MainPage.java:53-70 analog).  Runs
        as its own mini-round commit.  Force-requeue moves existing
        non-QUEUED pages back to QUEUED (Spider.java:185-188); a store
        that was never bootstrapped gets its frontier created here."""
        cat = self.store.read_catalog()
        rnd = cat["round"]
        next_id = cat["lineage"][-1]["metrics"]["next_id"] if cat["lineage"] else 0
        nb = self._n_buckets()
        b = self._bucket_expr(nb)

        cand = self.spark.createDataFrame(
            [(-1, 0, i, u, comment, force) for i, u in enumerate(urls)],
            admission.CANDIDATE_SCHEMA,
        )
        # same small-list shortcut as bootstrap: one partition, single
        # id-assignment window (ids are identical either way —
        # tests/test_admission_plan.py); repartition for the same
        # LocalTableScan→ArrowEvalPython reason as bootstrap
        small_list = len(urls) <= 4096
        if small_list:
            cand = cand.repartition(1)
        # the enqueue commit IS its own round (rnd+1), so its sequence
        # space starts fresh — no overlap with crawl-round sequences.
        # The confirm join reads ONLY the buckets the batch hashes into
        # (an enqueue batch touches a handful of buckets; the full
        # multi-TB frontier never enters the join at 10^10 scale)
        cleanup: list = []
        new_rows, forced = admission.admit(
            self.spark, cand, None, self.config, self.robots,
            rnd=rnd + 1, seq_start=0, next_id=next_id,
            n_buckets=nb,
            frontier_for_buckets=lambda bks: self.store.read_buckets(
                self.spark, "frontier", bks),
            cleanup=cleanup, seq_partitions=1 if small_list else None,
            with_force=True,
        )
        new_rows = new_rows.cache()
        if forced is not None:
            forced = forced.cache()

        # one fused job: per-bucket admission counts + forced buckets
        sides = new_rows.select(b.alias("_b"), F.lit(1).alias("_n"))
        if forced is not None:
            sides = sides.unionByName(
                forced.select(b.alias("_b"), F.lit(0).alias("_n")))
        stats = sides.groupBy("_b").agg(F.sum("_n").alias("_nn")).collect()
        n_new = int(sum(r["_nn"] for r in stats))
        touched = sorted(r["_b"] for r in stats)

        base = self.store.read_buckets(self.spark, "frontier", touched)
        if base is None:
            base = new_rows.limit(0)
        updated = self._apply_updates(base, None, forced)
        frontier_final = (
            updated.unionByName(new_rows)
            .withColumn("bucket", b)
            .withColumn("_pstatus", F.col("status"))
        )
        small = (next_id + n_new) <= self.config.small_round_rows
        if small:
            frontier_final = frontier_final.coalesce(1)
        else:
            frontier_final = frontier_final.repartition(
                max(1, len(touched)), F.col("bucket"))

        self.store.commit_round(
            rnd + 1, rewrites={}, appends={},
            bucket_updates={"frontier": (frontier_final, nb)},
            metrics={"next_id": next_id + n_new, "fetched": 0,
                     "admitted": n_new},
        )
        new_rows.unpersist()
        for df in cleanup:
            df.unpersist()
        if forced is not None:
            forced.unpersist()
        return n_new

    # -- status merge helper (F2-F4) --------------------------------------

    @staticmethod
    def _apply_updates(
        frontier: DataFrame,
        updates: DataFrame | None,
        forced: DataFrame | None,
    ) -> DataFrame:
        """MERGE analog: fetched-status updates and force-requeues folded
        into the frontier (Iceberg MERGE WHEN MATCHED at scale).  Both
        update sides are ≤K rows — broadcast explicitly rather than
        relying on AQE to notice."""
        out = frontier
        if updates is not None:
            u = F.broadcast(updates.select(
                "url",
                F.col("status").alias("_u_status"),
                F.col("last_change").alias("_u_lc"),
                F.col("title").alias("_u_title"),
                F.col("set_title").alias("_u_set_title"),
            ))
            out = (
                out.join(u, "url", "left")
                .withColumn("status", F.coalesce("_u_status", "status"))
                .withColumn("last_change", F.coalesce("_u_lc", "last_change"))
                .withColumn(
                    "title",
                    F.when(F.coalesce("_u_set_title", F.lit(False)), F.col("_u_title"))
                    .otherwise(F.col("title")),
                )
                .drop("_u_status", "_u_lc", "_u_title", "_u_set_title")
            )
        if forced is not None:
            f = F.broadcast(forced.select(
                "url",
                F.col("comment").alias("_f_comment"),
                F.col("last_change").alias("_f_lc"),
            ))
            out = (
                out.join(f, "url", "left")
                .withColumn(
                    "status",
                    F.when(F.col("_f_lc").isNotNull(), F.lit("QUEUED"))
                    .otherwise(F.col("status")),
                )
                .withColumn("last_change", F.coalesce("_f_lc", "last_change"))
                .withColumn("comment", F.coalesce("_f_comment", "comment"))
                .drop("_f_comment", "_f_lc")
            )
        return out.select(*admission.FRONTIER_COLUMNS)

    # -- one crawl round ---------------------------------------------------

    def run_round(self) -> int:
        _t = time.time()
        cat = self.store.read_catalog()
        rnd = cat["round"] + 1
        next_id = cat["lineage"][-1]["metrics"]["next_id"] if cat["lineage"] else 0
        cfg = self.config
        nb = self._n_buckets()
        b = self._bucket_expr(nb)

        # status-pruned QUEUED read
        queued = self.store.read_status(self.spark, "frontier", "QUEUED")
        if queued is None:
            self.store.commit_round(
                rnd, rewrites={}, appends={},
                metrics={"next_id": next_id, "fetched": 0, "admitted": 0},
            )
            return 0

        budget = cfg.max_parallel(rnd % 24)
        selected = scheduling.select_batch(
            queued, self.hosts, cfg, budget
        ).cache()
        # fused select materialization: for driver-bounded budgets the
        # url list doubles as the count AND the fetch IN-pushdown list.
        # A large-budget round that SELECTED few urls (crawl tail)
        # still earns the point-read pushdown — the extra collect is
        # over the already-cached ≤1024-row selection (ADVICE r3)
        url_list = None
        if budget <= 1024:
            url_list = [r.url for r in selected.select("url").collect()]
            k = len(url_list)
        else:
            k = selected.count()
            if k <= 1024:
                url_list = [r.url for r in selected.select("url").collect()]
        _t = _tick(f"select k={k}", _t)

        if k == 0:
            self.store.commit_round(
                rnd, rewrites={}, appends={},
                metrics={"next_id": next_id, "fetched": 0, "admitted": 0},
            )
            selected.unpersist()
            return 0

        # A4 fetch: broadcast the ≤K selected urls against the documents
        # table.  For driver-bounded K we additionally push the url list
        # into the scan as an IN filter — at 100 TB that turns the fetch
        # into row-group-pruned point reads (PushedFilters: In(doc_id))
        # instead of a full scan feeding a broadcast join.  (The
        # K-literal IN expression is embedded in every derived plan, so
        # it is only worth it for small point-read rounds; at cluster
        # scale the same effect comes from runtime row-group filtering /
        # DPP instead.)
        docs = self._documents()
        sel = selected.select("id", "url")
        if url_list is not None:
            docs = docs.filter(F.col("doc_id").isin(url_list))
        matched = docs.join(
            F.broadcast(sel), docs["doc_id"] == sel["url"], "inner"
        ).select(sel["id"], sel["url"], docs["spans"])

        # one cached pass over the fetch join; normal / redirect / unsafe
        # (B6 MIME gate) outcomes are cheap filters over it
        flagged = parse.flag_docs(matched, cfg.safe_mime_types).cache()
        normal, redirects, unsafe = parse.split_flagged(flagged)
        if _TIMING:
            normal.count()
            _t = _tick("fetch+cache", _t)

        # cache the exploded+repartitioned spans: BOTH the link-extraction
        # path (admission) and the tokenize path (postings) consume them,
        # and they materialize in different actions — uncached, the
        # fetch join + explode + repartition shuffle would run twice.
        # Materialized HERE, once, because two threads are about to
        # consume it concurrently (tokenize and admission below).
        spans = parse.exploded_spans(normal).cache()
        spans.count()
        _t = _tick("spans", _t)
        # cache the tokenized spans: both the doc metadata aggregate and
        # the postings build consume them — uncached, the Arrow tokenize
        # hop (the round's single biggest CPU cost) would run twice
        tok = parse.tokenized_spans(spans).cache()
        meta = parse.doc_meta(tok, normal).cache()
        idx = parse.indexable_tokens(parse.token_positions(tok))
        postings_delta = postings.build_postings(idx, meta)
        links = parse.outlinks(spans)
        redirect_cands = redirects.select(
            F.col("id").alias("discoverer_id"),
            F.lit(0).alias("span_offset"),
            F.lit(0).alias("ordinal"),
            F.col("target").alias("raw_url"),
            F.concat(F.lit("redirect from "), F.col("url")).alias("comment"),
            F.lit(False).alias("force"),
        )
        candidates = links.unionByName(redirect_cands)

        # statuses: INDEXED (parsed) / SUCCEEDED (redirect or unsafe
        # content type, B6: fetched but never indexed) / FAILED (no doc)
        outcome = (
            normal.select("url", F.lit("INDEXED").alias("_out"))
            .unionByName(redirects.select("url", F.lit("SUCCEEDED").alias("_out")))
            .unionByName(unsafe.select("url", F.lit("SUCCEEDED").alias("_out")))
        )
        updates = (
            selected.join(outcome, "url", "left")
            .join(meta.select("url", F.col("title").alias("_m_title")), "url", "left")
            .select(
                "url",
                F.coalesce("_out", F.lit("FAILED")).alias("status"),
                (F.lit(rnd).cast("long") * F.lit(1 << SEQ_SHIFT)
                 + F.col("rank").cast("long")).alias("last_change"),
                F.col("_m_title").alias("title"),
                (F.coalesce("_out", F.lit("FAILED")) == "INDEXED").alias("set_title"),
            )
        )

        # admission dedup: one exact anti-join against the frontier
        frontier = self.store.read(self.spark, "frontier")
        cleanup: list = []
        # small rounds skip the two-pass machinery: its extra jobs
        # (range sample + stats collect) cost more than a one-partition
        # window over a few thousand candidates; the two paths assign
        # IDENTICAL ids (tests/test_admission_plan.py)
        seq_parts = cfg.seq_partitions if k > 4096 else 1

        # ---- overlapped parse ∥ admission -------------------------------
        # The tokenize materialization (the round's dominant CPU) and the
        # admission pipeline (several driver-blocking jobs: cand cache,
        # range-partitioned id assignment, the fused stats agg) consume DISJOINT inputs once ``spans`` is
        # materialized: tokenize reads the span text, admission reads the
        # span links.  Serialized, admission's ~12-15s of mostly-latency
        # jobs sit on the round's critical path at EVERY core count (the
        # round-4 N-vs-4N phase table: admission scaled 1.33x of 4x);
        # overlapped, its jobs fill the task slots the tokenize stages
        # leave idle and the phase disappears into the tokenize wall.
        def _parse_side():
            t0 = time.time()
            # materialize the parse caches before the (concurrent) commit
            # writes — two writer threads racing on an unmaterialized
            # cache would each compute the tokenize hop
            meta.count()
            _tick("meta(tokenize)", t0)

        def _admit_side():
            t0 = time.time()
            rows, _ = admission.admit(
                self.spark, candidates, frontier, cfg, self.robots,
                rnd=rnd, seq_start=k + 1, next_id=next_id,
                cleanup=cleanup, seq_partitions=seq_parts, with_force=False,
            )
            rows = rows.cache()
            # ONE fused job: admission count + the full touched-bucket
            # set (admissions ∪ status updates) — replaces round 2's
            # separate new-count and touched-buckets actions
            st = (
                rows.select(b.alias("_b"), F.lit(1).alias("_n"))
                .unionByName(
                    selected.select(b.alias("_b"), F.lit(0).alias("_n")))
                .groupBy("_b").agg(F.sum("_n").alias("_nn"))
                .collect()
            )
            _tick(f"admission n={int(sum(r['_nn'] for r in st))}", t0)
            return rows, st

        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as _pool:
            _meta_fut = _pool.submit(_parse_side)
            _admit_fut = _pool.submit(_admit_side)
            new_rows, stats = _admit_fut.result()
            _meta_fut.result()
        _t = _tick("parse∥admit", _t)
        n_new = int(sum(r["_nn"] for r in stats))
        touched = sorted(r["_b"] for r in stats)
        if k + 1 + n_new >= (1 << SEQ_SHIFT):
            raise OverflowError(
                f"round {rnd} sequence space overflow: {k + 1 + n_new} "
                f">= 2^{SEQ_SHIFT}; widen config.SEQ_SHIFT"
            )

        # bucketed frontier MERGE: only buckets holding this round's
        # status updates (⊆ selected) or new admissions are re-read,
        # merged, and rewritten — untouched buckets stay immutable
        base = self.store.read_buckets(self.spark, "frontier", touched)
        if base is None:
            base = new_rows.limit(0)
        updated = self._apply_updates(base, updates, None)
        frontier_final = (
            updated.unionByName(new_rows)
            .withColumn("bucket", b)
            .withColumn("_pstatus", F.col("status"))
        )
        # tiny working sets write in ONE task (a 32-way partitioned
        # write of 15 rows cost ~8s in round 2); big rounds spread one
        # shuffle partition per touched bucket
        small = (next_id + k + n_new) <= cfg.small_round_rows
        if small:
            frontier_final = frontier_final.coalesce(1)
        else:
            frontier_final = frontier_final.repartition(
                max(1, len(touched)), F.col("bucket"))

        crawl_log = selected.select(
            F.lit(rnd).alias("round"), "rank", "url"
        )
        if small:
            postings_delta = postings_delta.coalesce(1)
            crawl_log = crawl_log.coalesce(1)

        self.store.commit_round(
            rnd,
            rewrites={},
            appends={"postings": postings_delta, "crawl_log": crawl_log},
            bucket_updates={"frontier": (frontier_final, nb)},
            metrics={"next_id": next_id + n_new, "fetched": k,
                     "admitted": n_new},
        )
        _t = _tick("commit", _t)
        self._maybe_compact()
        for df in (selected, flagged, spans, tok, meta,
                   new_rows, *cleanup):
            df.unpersist()
        return k

    def run(self, n_rounds: int) -> int:
        total = 0
        for _ in range(n_rounds):
            total += self.run_round()
        return total

    # -- inspection --------------------------------------------------------

    def frontier(self) -> DataFrame:
        return self.store.read(self.spark, "frontier")

    def postings(self) -> DataFrame | None:
        return self.store.read(self.spark, "postings")

    def crawl_log(self) -> DataFrame | None:
        return self.store.read(self.spark, "crawl_log")

    def lookup_url(self, url: str) -> DataFrame | None:
        """Point read of one frontier row (the reference's per-URI page
        lookup: Perst unique-index get, web/MainPage.java /
        db/PerstRoot.java:39-44) with bucket pruning: canonicalize,
        recompute the JVM ``xxhash64`` driver-side via the faithful
        XXH64 twin, and open ONLY the bucket dir
        ``pmod(url_hash, nb)`` names — at any frontier size the scan
        is one bucket (~1/nb of the table) with the URL equality
        filter pushed to parquet row groups.  Returns None for a URL
        that does not canonicalize or when the frontier is empty."""
        from spider_spark.analytics.text import _xxh64
        from spider_spark.functions.urlnorm import canonicalize
        canon = canonicalize(url)
        if canon is None:
            return None
        h = _xxh64(canon.encode("utf-8"), seed=42)
        if h >= 1 << 63:
            h -= 1 << 64  # Spark's xxhash64 is a signed long
        nb = self.store.bucket_count("frontier")
        df = (self.frontier() if nb is None else
              self.store.read_buckets(self.spark, "frontier", [h % nb]))
        if df is None:
            # the URL's bucket holds no dir (sparse frontier): a miss,
            # not an error — empty frame with the frontier's schema so
            # callers can chain .count()/.collect() uniformly
            full = self.frontier()
            if full is None:
                return None
            return self.spark.createDataFrame([], full.schema)
        return df.filter(F.col("url") == canon)

    def rollback(self, to_round: int) -> None:
        """Restore the crawl to a retained earlier round (poisoned-round
        recovery; Iceberg rollback_to_snapshot analog).  Frontier,
        postings and crawl log all live in the one catalog, so they
        roll back together — the engine's
        determinism then replays the abandoned rounds bit-identically
        under an unchanged config/corpus, or diverges intentionally
        under the fixed config that motivated the rollback."""
        self.store.rollback(to_round)

    def postings_delta(self, since_round: int) -> DataFrame | None:
        """Postings accumulated after ``since_round`` — the reference's
        push loop (LibraryBuffer.java:160-188 sends only the buffer
        gathered since the last successful push; a consumer here calls
        this with the round of its last push).  Pure segment pruning
        via the store's incremental scan: no full-table read at any
        frontier size.  ``since_round`` must be within the retained
        snapshot window (``store.snapshots()``)."""
        return self.store.read_changes(self.spark, "postings",
                                       since=since_round)

    def status_counts(self, include_not_pushed: bool = True) -> DataFrame:
        """UI status summary (web/MainPage.java:122-131 analog).

        NOT_PUSHED fidelity (db/Status.java:7-11): pages fetched by a
        TORN round — outputs durably written, catalog not yet swapped
        (store.pending_round()) — are the reference's NOT_PUSHED set.
        They still read QUEUED in the committed frontier, so the view
        moves them to a NOT_PUSHED row; replaying the round (the
        NOT_PUSHED→QUEUED recovery rule, LibraryBuffer.java:97-102)
        closes the window and the row disappears."""
        fr = self.frontier()
        if fr is None:  # fresh/empty store: empty counts, not a crash
            return self.spark.createDataFrame([], "status string, n long")
        counts = scheduling.status_counts(fr)
        pending = self.store.pending_round() if include_not_pushed else None
        if not pending:
            return counts
        # the torn round's fetch count is already in the marker metrics
        # (written by commit_round phase 1) — no Spark job needed to
        # size the NOT_PUSHED row
        n_np = int(pending.get("metrics", {}).get("fetched", 0))
        if n_np == 0:
            return counts
        rows = [(r["status"], r["n"]) for r in counts.collect()]
        queued = dict(rows).get("QUEUED", 0)
        if n_np > queued:
            # NOT_PUSHED ⊆ committed QUEUED by construction (the torn
            # round selected from the committed frontier); a marker
            # claiming more is corrupt and must surface, not be absorbed
            raise ValueError(
                f"inconsistent pending marker: NOT_PUSHED={n_np} exceeds "
                f"committed QUEUED={queued}")
        adjusted = [
            (s, n - n_np if s == "QUEUED" else n) for s, n in rows
        ]
        adjusted = [(s, n) for s, n in adjusted if n > 0]
        adjusted.append(("NOT_PUSHED", n_np))
        return self.spark.createDataFrame(
            sorted(adjusted), "status string, n long")

    def top_pages(self, n: int | None = None) -> DataFrame:
        """UI top-N per status in lastChange order, default
        max_shown_uris (web/MainPage.java:197-211, db/Config.java:41)."""
        fr = self.frontier()
        if fr is None:  # fresh/empty store: empty page, not a crash
            return self.spark.createDataFrame(
                [], "id long, url string, url_hash long, host string, "
                    "status string, priority int, edition long, "
                    "last_change long, title string, comment string")
        return scheduling.top_n_per_status(
            fr, n or self.config.max_shown_uris)
