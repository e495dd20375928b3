"""Admission pipeline — SURVEY.md §2.B (queueURI, Spider.java:155-201).

Candidates flow through, in reference order:
  B1 extension badlist (suffix, on the lowercased RAW url — pre-canonical,
     exactly as Spider.java:156-162)
  B2 keyword badlist (substring)
  B3 canonicalization (USK-rule graft; vectorized Arrow UDF)
  robots gating (graft axis B; prefix test on the canonical path)
  B4 dedup against the frontier (exact left_anti join; an enqueue batch
     reads only the frontier buckets its candidates hash into)
  B5 force-requeue of existing non-QUEUED pages (exact status join)
  F1 get-or-create: new rows enter QUEUED with deterministic id/seq

Deterministic admission order: candidates sorted by
(discoverer_id, span_offset, ordinal, raw_url); the first occurrence of
a URL wins (get-or-create semantics of db/PerstRoot.java:46-67).

Scale notes (10^10 frontier):
  * id/seq assignment is a TWO-PASS range-partitioned sequence
    (config.seq_partitions > 1, the default): repartitionByRange on the
    admission order key, per-partition (count, new-count) collected (≤P
    tiny rows), cumulative offsets broadcast back, partition-local
    row_number — the same total order as a global window with NO
    single-partition exchange, so a 10^7-candidate round fans across
    the cluster instead of funnelling through one task.
  * the bucket-pruned confirm join (``frontier_for_buckets``) reads
    ONLY the frontier buckets the candidates hash into — for an enqueue
    batch that is a handful of buckets, not the whole frontier.  The
    frontier is bucketed by ``bucket_of``, so the exact anti-join is
    bucket-local either way.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..config import SEQ_SHIFT, CrawlConfig
from ..functions.udfs import (
    badlist_extension_regex,
    canon_parts_udf,
    url_path,
)

CANDIDATE_SCHEMA = (
    "discoverer_id long, span_offset int, ordinal int, "
    "raw_url string, comment string, force boolean"
)

FRONTIER_COLUMNS = [
    "id", "url", "url_hash", "host", "status", "priority",
    "edition", "last_change", "title", "comment",
]


def bucket_of(col, nb: int):
    """Bucket id of a url — THE bucket formula, pmod(xxhash64(url), nb).
    Frontier bucketing and the bucket-pruned confirm join call it, and
    ``CrawlEngine.lookup_url``'s driver-side XXH64 twin mirrors it; a
    split formula drifting would admit URLs twice."""
    return F.pmod(F.xxhash64(col), F.lit(nb)).cast("int")


def empty_candidates(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], CANDIDATE_SCHEMA)


def filter_and_canonicalize(
    candidates: DataFrame,
    config: CrawlConfig,
    robots: DataFrame | None,
) -> DataFrame:
    """B1-B3 + robots: returns candidates with canonical ``url``, ``host``,
    ``edition`` columns added; inadmissible rows dropped."""
    low = F.lower(F.col("raw_url"))
    out = candidates
    if config.badlisted_extensions:
        # guard like the keywords below: an empty tuple must mean "no
        # extension badlist", not the match-everything regex "()$"
        out = out.filter(
            ~low.rlike(badlist_extension_regex(config.badlisted_extensions)))
    if config.badlisted_keywords:
        import re as _re
        kw = "(" + "|".join(_re.escape(k.lower()) for k in config.badlisted_keywords) + ")"
        out = out.filter(~low.rlike(kw))
    # ONE Arrow round-trip + ONE urlsplit per URL: the fused UDF emits
    # (url, host, edition) together (was three chained pandas UDFs =
    # three Python hops over the same column)
    out = (
        out.withColumn("_c", canon_parts_udf("raw_url"))
        .withColumn("url", F.col("_c.url"))
        .withColumn("host", F.col("_c.host"))
        .withColumn("edition", F.col("_c.edition"))
        .drop("_c")
        .filter(F.col("url").isNotNull())
    )
    if robots is not None and config.respect_robots:
        out = (
            out.join(F.broadcast(robots), "host", "left")
            .withColumn("_path", url_path(F.col("url")))
            .filter(
                F.col("disallow_prefixes").isNull()
                | ~F.exists(
                    "disallow_prefixes",
                    lambda p: F.col("_path").startswith(p),
                )
            )
            .drop("disallow_prefixes", "_path")
        )
    return out


def admit(
    spark: SparkSession,
    candidates: DataFrame,
    frontier: DataFrame | None,
    config: CrawlConfig,
    robots: DataFrame | None,
    rnd: int,
    seq_start: int,
    next_id: int,
    n_buckets: int | None = None,
    frontier_for_buckets: Callable[[list[int]], DataFrame | None] | None = None,
    cleanup: list | None = None,
    seq_partitions: int | None = None,
    with_force: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Run the full admission pipeline.

    Dedup is one exact ``left_anti`` join against the frontier: either
    ``frontier`` itself or, when ``frontier_for_buckets`` is given, only
    the ``n_buckets``-modulus buckets the candidates hash into (one tiny
    distinct-buckets job picks them).  ``with_force=False`` (crawl
    rounds: outlinks never carry force) skips the force-requeue
    machinery — its hit-join and union would otherwise run per round
    just to produce zero rows.

    Returns (new_frontier_rows, forced_updates) where forced_updates has
    columns (url, comment, last_change) for existing non-QUEUED pages
    being force-requeued (Spider.java:185-188)."""
    cand = filter_and_canonicalize(candidates, config, robots)
    ordkey = F.struct("discoverer_id", "span_offset", "ordinal", "raw_url")
    # cache: the admission DAG fans out into several branches
    # (bucket list, anti-join, forced, new_urls) — without this the
    # expensive upstream (link extraction + canonicalize UDFs) would
    # recompute once per branch
    cand = cand.withColumn("_ord", ordkey).cache()
    if cleanup is not None:
        cleanup.append(cand)  # caller unpersists after materializing

    if frontier_for_buckets is not None:
        # bucket-pruned confirm join: list the buckets the candidates
        # hash into (tiny job — ≤ n_buckets ints), read only those
        # frontier dirs
        bks = [
            r["b"] for r in cand.select(
                bucket_of(F.col("url"), n_buckets).alias("b")
            ).distinct().collect()
        ]
        existing_src = frontier_for_buckets(bks) if bks else None
    else:
        existing_src = frontier
    forced = None
    if existing_src is not None:
        existing = existing_src.select(
            "url", F.col("status").alias("_ex_status"))
        new_cand = cand.join(existing, "url", "left_anti")
        if with_force:
            hit = cand.filter("force").join(existing, "url", "inner")
            forced = (
                hit.filter(F.col("_ex_status") != "QUEUED")
                .groupBy("url")
                .agg(F.min("_ord").alias("_ord"),
                     F.min_by("comment", "_ord").alias("comment"))
            )
    else:
        new_cand = cand

    # first occurrence per canonical URL wins (get-or-create)
    new_urls = (
        new_cand.groupBy("url")
        .agg(
            F.min("_ord").alias("_ord"),
            F.min_by("comment", "_ord").alias("comment"),
            F.first("host").alias("host"),
            F.first("edition").alias("edition"),
        )
    )

    # deterministic sequence over (creates ∪ forces) in _ord order
    if forced is not None:
        tagged = new_urls.withColumn("_new", F.lit(True)).unionByName(
            forced.select("url", "_ord", "comment")
            .withColumn("host", F.lit(None).cast("string"))
            .withColumn("edition", F.lit(None).cast("long"))
            .withColumn("_new", F.lit(False)),
            allowMissingColumns=True,
        )
    else:
        tagged = new_urls.withColumn("_new", F.lit(True))

    is_new_int = F.when(F.col("_new"), 1).otherwise(0)
    if seq_partitions is None:
        seq_partitions = config.seq_partitions
    if seq_partitions > 1:
        # two-pass distributed assignment (module scale note): range
        # boundaries only decide WHERE a row sits; the (offset +
        # partition-local rank) total is invariant to them, so the ids
        # are deterministic regardless of sampling.
        t = (
            tagged.repartitionByRange(seq_partitions, F.col("_ord"))
            .withColumn("_pid", F.spark_partition_id())
            .cache()
        )
        if cleanup is not None:
            cleanup.append(t)
        stats = sorted(
            t.groupBy("_pid").agg(
                F.count("*").alias("_n"), F.sum(is_new_int).alias("_nn")
            ).collect(),
            key=lambda r: r["_pid"],
        )
        offsets, acc, cacc = [], 0, 0
        for r in stats:
            offsets.append((r["_pid"], acc, cacc))
            acc += r["_n"]
            cacc += r["_nn"]
        off_df = F.broadcast(spark.createDataFrame(
            offsets, "_pid int, _off long, _coff long"))
        wl = Window.partitionBy("_pid").orderBy("_ord")
        tagged = (
            t.join(off_df, "_pid")
            .withColumn(
                "_seq",
                F.row_number().over(wl) - 1 + F.col("_off") + F.lit(seq_start))
            .withColumn(
                "_create_rank",
                F.sum(is_new_int).over(
                    wl.rowsBetween(Window.unboundedPreceding, 0))
                + F.col("_coff"),
            )
        )
    else:
        # single global window: tiny rounds / oracle-shaped tests only
        w = Window.orderBy("_ord")
        tagged = tagged.withColumn(
            "_seq", F.row_number().over(w) - 1 + seq_start
        ).withColumn(
            "_create_rank",
            F.sum(is_new_int).over(
                w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    # 64-bit last_change: cast BEFORE the multiply — int32 literal
    # arithmetic would silently wrap once rnd >= 2^(32-SEQ_SHIFT)
    last_change = (
        F.lit(rnd).cast("long") * F.lit(1 << SEQ_SHIFT)
        + F.col("_seq").cast("long")
    )

    new_rows = (
        tagged.filter("_new")
        .select(
            (F.lit(next_id) + F.col("_create_rank") - 1).cast("long").alias("id"),
            "url",
            F.xxhash64("url").alias("url_hash"),
            "host",
            F.lit("QUEUED").alias("status"),
            F.when(F.col("edition").isNotNull(),
                   F.lit(config.edition_priority))
            .otherwise(F.lit(config.default_priority))
            .cast("int").alias("priority"),
            F.col("edition").cast("long").alias("edition"),
            last_change.alias("last_change"),
            F.lit(None).cast("string").alias("title"),
            "comment",
        )
    )
    forced_updates = (
        tagged.filter(~F.col("_new")).select(
            "url", "comment", last_change.alias("last_change"))
        if forced is not None
        else None
    )
    return new_rows, forced_updates
