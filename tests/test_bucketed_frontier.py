"""Bucketed frontier commits (SURVEY.md §7 / VERDICT r1 item 1).

The frontier is stored as pmod(url_hash, n_buckets) bucket dirs; a
round's commit rewrites ONLY buckets containing that round's status
updates or admissions (Iceberg partition-overwrite analog).  These
tests pin the scale property directly: untouched bucket dirs are
byte-identical (same immutable path) across commits, so commit cost
tracks the round's update volume, not frontier size.

Also here: the status-pruned QUEUED scan, force-requeue, bucket-count
migration, append compaction, snapshot expiry, and the empty-seed and
zero-budget edges.
"""

import os

from pyspark.sql import functions as F

from spider_spark.config import CrawlConfig
from spider_spark.engine import CrawlEngine
from spider_spark.state.store import SnapshotStore


def _mk_engine(spark, corpus_dir, crawl_config, root):
    return CrawlEngine(
        spark, SnapshotStore(root), corpus_dir + "/documents.parquet",
        crawl_config,
        robots=spark.read.parquet(corpus_dir + "/robots.parquet"),
        hosts=spark.read.parquet(corpus_dir + "/hosts.parquet"),
    )


def _bucket_dirs(store):
    return dict(store.read_catalog()["buckets"]["frontier"]["dirs"])


def test_frontier_is_bucketed(spark, corpus_dir, corpus, crawl_config, tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b1"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    store = eng.store
    assert store.is_bucketed("frontier")
    assert store.bucket_count("frontier") == crawl_config.frontier_buckets
    # every row lands in the bucket dir matching pmod(url_hash, nb)
    nb = crawl_config.frontier_buckets
    dirs = _bucket_dirs(store)
    for b, rel in dirs.items():
        df = spark.read.parquet(os.path.join(store.root, rel))
        bad = df.filter(
            F.pmod(F.xxhash64("url"), F.lit(nb)).cast("int") != int(b)
        ).count()
        assert bad == 0, f"bucket {b} holds foreign rows"


def test_untouched_buckets_stay_immutable(spark, corpus_dir, corpus,
                                          crawl_config, tmp_path):
    """An enqueue of a single URL must re-point at most the few buckets
    that URL (and nothing else) hashes into — everything else keeps its
    previous immutable dir."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b2"))
    eng.bootstrap(corpus["seeds"])
    eng.run(3)
    before = _bucket_dirs(eng.store)
    assert len(before) > 2  # the crawl populated several buckets

    n = eng.enqueue(["http://bucket-probe.example/only-one"], force=False)
    assert n == 1
    after = _bucket_dirs(eng.store)
    changed = {b for b in after if before.get(b) != after[b]}
    assert len(changed) <= 1, f"single-URL enqueue rewrote buckets {changed}"
    # the untouched dirs are the SAME paths (no rewrite happened)
    for b in after:
        if b not in changed:
            assert after[b] == before[b]


def test_round_commits_only_touched_buckets(spark, corpus_dir, corpus,
                                            crawl_config, tmp_path):
    """Across consecutive rounds the set of live bucket dirs spans
    multiple snapshot generations — proof that rounds do not rewrite
    the whole frontier."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b3"))
    eng.bootstrap(corpus["seeds"])
    eng.run(4)
    dirs = _bucket_dirs(eng.store).values()
    generations = {p.split("/")[1] for p in dirs}  # snap-00000N
    assert len(generations) >= 2, (
        f"all buckets point at one snapshot generation {generations} — "
        "rounds are rewriting the full frontier")


def test_gc_preserves_live_buckets(spark, corpus_dir, corpus, crawl_config,
                                   tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "b4"))
    eng.bootstrap(corpus["seeds"])
    eng.run(3)
    frontier_before = sorted(
        map(tuple, eng.frontier().toPandas().fillna(-1).values.tolist()))
    removed = eng.store.gc_orphans()
    # dead bucket generations are collected, live ones survive
    live = set(_bucket_dirs(eng.store).values())
    assert not live & set(removed)
    frontier_after = sorted(
        map(tuple, eng.frontier().toPandas().fillna(-1).values.tolist()))
    assert frontier_before == frontier_after


def test_additive_schema_evolution(spark, tmp_path):
    """Schema-on-catalog (Iceberg analog): a commit that adds a
    nullable column rewrites ONLY its touched buckets; every read path
    applies the committed schema, so untouched old-schema buckets
    project with nulls instead of whatever name-based inference sampled.
    as_of keeps each round's own schema; read_changes diffs across the
    boundary under the to-side schema."""
    store = SnapshotStore(str(tmp_path / "evo"))
    df1 = spark.createDataFrame(
        [(i, f"u{i}", i % 4) for i in range(16)],
        "id long, url string, bucket int")
    store.commit_round(1, {}, {}, bucket_updates={"t": (df1, 4)})
    # evolution commit: adds `score`, touches only buckets 0 and 1
    df2 = spark.createDataFrame(
        [(i, f"u{i}", i % 4, float(i)) for i in range(16) if i % 4 < 2],
        "id long, url string, bucket int, score double")
    store.commit_round(2, {}, {}, bucket_updates={"t": (df2, 4)})

    cur = store.read(spark, "t")
    assert set(cur.columns) == {"id", "url", "score"}
    got = {r["id"]: r["score"] for r in cur.collect()}
    assert len(got) == 16
    for i in range(16):
        assert got[i] == (float(i) if i % 4 < 2 else None)

    # time travel resolves the PRE-evolution schema
    assert set(store.read(spark, "t", as_of=1).columns) == {"id", "url"}

    # incremental scan across the boundary: old side projected into the
    # new schema, so the delta is exactly the rewritten buckets' rows
    delta = store.read_changes(spark, "t", since=1, as_of=2)
    assert set(delta.columns) == {"id", "url", "score"}
    assert sorted(r["id"] for r in delta.collect()) == \
        [i for i in range(16) if i % 4 < 2]


def test_lookup_url_point_read(spark, corpus_dir, corpus, crawl_config,
                               tmp_path):
    """engine.lookup_url prunes to the ONE bucket dir the driver-side
    hash twin names (Perst unique-index get analog): the row comes back
    exactly, and every file the query opened lives under that bucket."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "pt"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    nb = crawl_config.frontier_buckets
    rows = eng.frontier().select("url", "url_hash", "status").collect()
    assert rows
    for r in rows[:5]:
        got = eng.lookup_url(r["url"])
        hit = got.collect()
        assert len(hit) == 1 and hit[0]["url"] == r["url"] \
            and hit[0]["status"] == r["status"]
        # the driver-side twin reproduced the JVM hash → right bucket
        b = r["url_hash"] % nb
        assert all(f"bucket={b}/" in f or f.endswith(f"bucket={b}")
                   for f in got.inputFiles()), got.inputFiles()
    # a URL that was never admitted: empty, still one-bucket scan
    assert eng.lookup_url(rows[0]["url"] + "/nonexistent").count() == 0
    # a URL that does not canonicalize
    assert eng.lookup_url("not a url ::") is None


def test_queued_scan_lists_only_queued_files(spark, corpus_dir, corpus,
                                             crawl_config, tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "sp"))
    eng.bootstrap(corpus["seeds"])
    eng.run(3)
    store = eng.store
    assert store.bucket_sub("frontier") == "_pstatus"

    queued = store.read_status(spark, "frontier", "QUEUED")
    assert queued is not None
    # every file feeding the scan sits under a _pstatus=QUEUED dir
    files = [r[0] for r in queued.select(
        F.input_file_name()).distinct().collect()]
    assert files and all("_pstatus=QUEUED" in f for f in files)
    # and the pruned read equals the filtered full read
    full = store.read(spark, "frontier").filter(F.col("status") == "QUEUED")
    assert sorted(r.url for r in queued.select("url").collect()) == \
        sorted(r.url for r in full.select("url").collect())
    # non-queued statuses exist on disk, in their own leaves
    indexed = store.read_status(spark, "frontier", "INDEXED")
    assert indexed is not None and indexed.count() > 0


def test_force_requeue_then_refetch(spark, corpus_dir, corpus,
                                    crawl_config, tmp_path):
    """B5 force-requeue (Spider.java:185-188): enqueue(force=True) of a
    fetched page creates no row, moves exactly that page back to
    QUEUED, and a later round fetches it again."""
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "d"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)

    done_urls = lambda: {
        r.url for r in eng.frontier()
        .filter(F.col("status") != "QUEUED").select("url").collect()
    }
    before = done_urls()
    assert before, "crawl fetched nothing"

    target = sorted(before)[0]
    n = eng.enqueue([target], force=True)
    assert n == 0  # existing page: requeued, not re-created
    row = eng.frontier().filter(F.col("url") == target).first()
    assert row["status"] == "QUEUED"
    assert before - done_urls() == {target}  # only the target moved

    # readmit: the requeued page is selected and fetched again (it
    # ranks behind older QUEUED pages, so allow a few rounds)
    for _ in range(12):
        eng.run(1)
        row2 = eng.frontier().filter(F.col("url") == target).first()
        if row2["status"] != "QUEUED":
            break
    assert row2["status"] != "QUEUED"
    assert target in done_urls()


def test_append_compaction_bounds_segments(spark, corpus_dir, corpus,
                                           crawl_config, tmp_path):
    import dataclasses
    cfg = dataclasses.replace(crawl_config, max_append_segments=3)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "f"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    before = eng.postings().toPandas()
    eng.run(3)  # crosses the 3-segment threshold at least once
    cat = eng.store.read_catalog()
    assert len(cat["appends"]["postings"]) < 5
    assert len(cat["appends"]["crawl_log"]) < 5
    assert any(s.startswith("postings/rollup-")
               for s in cat["appends"]["postings"])
    # compaction changed no data: early rows all survive
    after = eng.postings().toPandas()
    key = lambda df: sorted(
        (r["term"], r["doc_id"], r["rel"]) for r in df.to_dict("records"))
    assert set(key(before)) <= set(key(after))
    # gc removes the merged-away segment dirs, reads still work
    eng.store.gc_orphans()
    assert eng.postings().count() == len(after)


def test_rebucket_migration_parity(spark, corpus_dir, corpus,
                                   crawl_config, tmp_path):
    """Bucket-count evolution (VERDICT r3 missing #3): a frontier
    bootstrapped at nb=8 migrates to nb=32 mid-crawl and the crawl
    proceeds identically to an engine that ran nb=32 from the start —
    same ids, urls, statuses, titles, and same per-round fetch sets.
    (last_change is excluded: the migration commit occupies a round
    number, shifting the round field of later stamps by design.)"""
    import dataclasses
    cfg8 = dataclasses.replace(crawl_config, frontier_buckets=8)
    cfg32 = dataclasses.replace(crawl_config, frontier_buckets=32)

    a = _mk_engine(spark, corpus_dir, cfg32, str(tmp_path / "rb_a"))
    a.bootstrap(corpus["seeds"])
    a.run(4)

    b = _mk_engine(spark, corpus_dir, cfg8, str(tmp_path / "rb_b"))
    b.bootstrap(corpus["seeds"])
    b.run(2)
    assert b.store.bucket_count("frontier") == 8
    b.rebucket(32)
    assert b.store.bucket_count("frontier") == 32
    b.run(2)

    def sig(eng):
        return sorted(
            (r["id"], r["url"], r["status"], r["title"], r["comment"])
            for r in eng.frontier().collect())
    assert sig(a) == sig(b)
    # fetch sets per crawl round align (b's log rounds shift by the
    # migration commit)
    def rounds(eng):
        log = eng.crawl_log().collect()
        by_round = {}
        for r in log:
            by_round.setdefault(r["round"], set()).add(r["url"])
        return [by_round[k] for k in sorted(by_round)]
    assert rounds(a) == rounds(b)
    # every row lives in the bucket dir its hash says (new modulus)
    import re as _re
    bucketed = (
        b.frontier()
        .withColumn("_f", F.input_file_name())
        .withColumn("_b", F.pmod(F.xxhash64("url"), F.lit(32)).cast("int"))
        .collect())
    assert bucketed
    for r in bucketed:
        assert int(_re.search(r"bucket=(\d+)", r["_f"]).group(1)) == r["_b"]


def test_snapshot_expiry_bounds_store_dirs(spark, corpus_dir, corpus,
                                           crawl_config, tmp_path):
    """The crawl loop's wired-in expiry (VERDICT r3 #2): a long run —
    ≥3× the compaction cadence — keeps the store's on-disk snapshot-dir
    count bounded instead of stranding every superseded bucket rewrite
    forever.  The keep-last-N grace window retains the most recent
    superseded dirs for concurrent readers of the previous catalog."""
    import dataclasses
    cfg = dataclasses.replace(crawl_config, max_append_segments=2,
                              gc_retain_rounds=2)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "gc"))
    eng.bootstrap(corpus["seeds"])

    def n_dirs():
        root = eng.store.root
        return sum(
            len(os.listdir(os.path.join(root, t)))
            for t in os.listdir(root)
            if os.path.isdir(os.path.join(root, t))
        )

    counts = []
    for _ in range(8):  # 4x the 2-segment compaction cadence
        eng.run_round()
        counts.append(n_dirs())
    # bounded: the dir count stops growing once expiry engages —
    # without gc it grows by >= 2 dirs (frontier snap + postings seg)
    # every round, i.e. the last 4 rounds would add >= 8
    assert counts[-1] - counts[-5] < 8
    # absolute cap: the base working set plus what the time-travel
    # retention window pins — each retained archived catalog keeps one
    # round's superseded dirs alive for as_of readers (store.gc_orphans
    # unions live sets over the snapshot window)
    assert max(counts) < counts[0] + 14 + 6 * (cfg.gc_retain_rounds - 1)
    # the grace window holds: every dir the CURRENT catalog references
    # exists, and reads work
    cat = eng.store.read_catalog()
    live = list(cat["tables"].values())
    for segs in cat["appends"].values():
        live += segs
    for b in cat.get("buckets", {}).values():
        live += list(b["dirs"].values())
    assert all(os.path.exists(os.path.join(eng.store.root, d)) for d in live)
    assert eng.postings().count() > 0
    assert eng.frontier().count() > 0


def test_empty_seed_bootstrap(spark, corpus_dir, corpus, crawl_config,
                              tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "g"))
    eng.bootstrap([])
    assert eng.store.exists("frontier")
    assert eng.frontier() is None  # empty table reads as None, no crash
    assert eng.run(2) == 0  # rounds over an empty frontier are no-ops
    assert eng.enqueue(corpus["seeds"][:1], force=False) == 1
    assert eng.run(1) == 1  # and the engine recovers once seeded
    # enqueue on a store that was never bootstrapped creates the
    # frontier, in the status-sub-partitioned layout rounds read
    fresh = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "g2"))
    assert not fresh.store.exists("frontier")
    assert fresh.enqueue(corpus["seeds"][:1], force=False) == 1
    assert fresh.store.bucket_sub("frontier") == "_pstatus"
    assert [r["status"] for r in fresh.frontier().collect()] == ["QUEUED"]
    assert fresh.run(1) == 1


def test_zero_budget_round_is_noop(spark, corpus_dir, corpus, tmp_path):
    """C1/C2 edge: max_parallel 0/0 (the reference's DEFAULT config —
    crawl disabled until configured, db/Config.java:43-44).  A round
    must fetch nothing, change nothing, and not crash."""
    cfg = CrawlConfig(max_parallel_working=0, max_parallel_non_working=0,
                      default_host_quota=3)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "zb"))
    eng.bootstrap(corpus["seeds"])
    before = {r["status"]: r["count"] for r in
              eng.frontier().groupBy("status").count().collect()}
    assert eng.run(2) == 0
    after = {r["status"]: r["count"] for r in
             eng.frontier().groupBy("status").count().collect()}
    assert before == after
    # seeds include non-canonical twins + badlisted urls; admission
    # collapses them, but everything admitted must still be QUEUED
    assert set(before) == {"QUEUED"} and before["QUEUED"] > 0
