"""Streaming crawl frontier — the wave engine's loop run through
Structured Streaming's stateful machinery (the T7 axis taken from
"windows + sessions + stateful seen" to a full self-feeding crawl).

Design: the frontier is a DIRECTORY of parquet files. Each *drain* is
one ``Trigger.AvailableNow`` pass over the files appended since the
last checkpoint:

    readStream(frontier_dir)
      → stateful seen filter (Bloom bitmap or cuckoo table per bucket,
        in the state store — streaming/stateful.py; extra columns like
        depth ride through)
      → foreachBatch:
          robots allow gate + PER-HOST BUDGET rank (the
          same politeness dim, predicate and crawl-delay budget the
          batch engine enforces; over-budget urls are REQUEUED to the
          next drain, not dropped) → static pages join → ONE Arrow
          extract pass (which also canonicalizes the out-links) →
          results + discovered links (depth+1, bounded) + requeued
          urls written BACK into the frontier dir

The files foreachBatch writes during drain N are exactly what drain
N+1 picks up — the self-feeding loop a crawl is — and the loop
terminates when a drain schedules nothing new.

Exactly-once: foreachBatch is an at-least-once hook, so every batch
write is made IDEMPOTENT by batch id — each batch overwrites a
deterministic per-batch subdirectory (``b<batchId>``) and stamps a
commit marker after both writes land; a crash between the writes and
the streaming checkpoint's own commit replays the batch, which either
skips (marker present) or rewrites the same subdirectories with the
same rows (marker absent → the partial output is overwritten, never
appended next to). Together with the checkpointed seen state this
restores the exactly-once RESULTS contract the restart tests pin.

Scale notes: the frontier stream carries only (url, host, depth,
requeued) rows, canonical when written, so a drain runs no
canonicalize pass; the 100 TB pages corpus is on the STATIC side of a
stream-static join (never shuffled by the stream); the seen state is one
bitmap/table row per bucket — bounded, not per-URL; and each drain is
one incremental micro-batch, so cost is O(new frontier), the same
invariant the batch wave engine holds. The per-host budget rank is the
batch engine's two-phase salted window (plans/politeness.top_per_host)
— hot-host skew is capped before the exact rank. The batch engine
remains the production path (exact wave semantics, overlapped commit
chains, resume-from-snapshot); this demonstrates the same crawl
expressed through checkpointed streaming state, and its fetched set +
texts are pinned against the simulator in tests/test_streaming_crawl.py.

No reference counterpart (the reference crawls per-request in asyncio,
batch.py:274-355 is its closest batch notion); the streaming shape is
the public Structured Streaming file-source + foreachBatch pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import canonical_urls, make_crawl_extract_udf
from ..plans.crawlconfig import CrawlConfig
from ..plans.politeness import build_robots_dim, top_per_host, with_politeness
from ..plans.seenfilter import geometry
from ..session import local_frame

FRONTIER_SCHEMA = "url string, host string, depth int, requeued boolean"


def streaming_crawl(
    spark: SparkSession,
    work_dir: str,
    pages: DataFrame,
    seeds: list[str],
    max_depth: int = 2,
    seen_filter: str = "bloom",
    capacity: int = 100_000,
    max_links_per_page: int = 20,
    max_drains: int = 64,
    cfg: CrawlConfig | None = None,
) -> dict:
    """Run the self-feeding drain loop to frontier exhaustion; returns
    ``{"drains": n, "n_fetched": n, "results_dir": path}`` where
    ``n_fetched`` counts pages fetched BY THIS CALL (a resumed call
    does not re-count batches a previous process completed). Results
    are parquet rows (url, depth, text, n_links) under per-batch
    subdirectories — read them with
    ``spark.read.option("recursiveFileLookup", "true")``.

    ``capacity`` is the number of distinct urls the seen state is sized
    for (plans/seenfilter.geometry); a drain that fills a state bucket
    past it fails rather than dropping new urls as false positives.
    Keep it fixed across resumes of one ``work_dir``. Frontier files
    carry ``host``; a ``work_dir`` whose frontier files predate that
    column (url, depth, requeued only) cannot be resumed."""
    geo = geometry(seen_filter, capacity)  # validates seen_filter
    from ..operators.dedup import _ckpt_tracked, _drop_ckpt
    from .stateful import streaming_seen_filter, streaming_seen_filter_cuckoo

    seen_stream = streaming_seen_filter if seen_filter == "bloom" else streaming_seen_filter_cuckoo

    frontier_dir = os.path.join(work_dir, "frontier")
    results_dir = os.path.join(work_dir, "results")
    ckpt_dir = os.path.join(work_dir, "ckpt")
    commits_dir = os.path.join(work_dir, "commits")
    os.makedirs(frontier_dir, exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    os.makedirs(commits_dir, exist_ok=True)

    cfg = cfg or CrawlConfig()  # politeness dim/budgets + broadcast flags
    robots = build_robots_dim(pages).cache()
    pages_side = pages.select(
        "url", "html", F.col("content_type").alias("_ct")
    ).cache()
    extract = make_crawl_extract_udf(max_links_per_page)

    # seed table: a local_frame of the seeds, canonicalized once (depth 0)
    seeds_df = (
        canonical_urls(local_frame(spark, [(s,) for s in seeds], "raw string"), "raw")
        .select(
            F.col("url_canonical").alias("url"),
            "host",
            F.lit(0).alias("depth"),
            F.lit(False).alias("requeued"),
        )
        .distinct()
    )

    stats = {"drains": 0, "n_fetched": 0}
    drain_fetch = {"n": 0}

    def handle(batch_df: DataFrame, bid: int) -> None:
        marker = os.path.join(commits_dir, f"{bid}")
        if os.path.exists(marker):
            # replay of a batch whose writes fully landed before a
            # crash: skip the writes — the idempotence half of
            # exactly-once. The batch must still be CONSUMED in full so
            # the stateful seen filter commits its state stores (Spark
            # validates per-partition state commits in foreachBatch).
            batch_df.count()
            return
        # requeued rows are over-budget deferrals from an earlier drain:
        # already in the seen state (first_seen=false) but never fetched,
        # so they bypass the first-seen gate exactly once per requeue
        fresh = (
            batch_df.filter("first_seen OR requeued")
            .groupBy("url")
            .agg(F.first("host").alias("host"), F.min("depth").alias("depth"))
        )
        # robots allow gate + per-host crawl-delay budget — the SAME
        # politeness surface the batch engine enforces; pol feeds two
        # branches (take + defer), so materialize it once
        pol, pol_ids = _ckpt_tracked(with_politeness(fresh, robots, cfg))
        try:
            allowed = pol.filter("allowed")
            # the batch engine's two-phase salted per-host rank. The
            # streaming frontier carries no score column; score is
            # depth-monotone (cfg.score_for_depth), so (depth asc, url
            # asc) is the batch ordering restricted to this schema.
            order = [F.asc("depth"), F.asc("url")]
            take = top_per_host(allowed, order, cfg.salt_buckets).select("url", "depth")
            deferred = allowed.join(take.select("url"), "url", "left_anti").select(
                "url", "host", "depth", F.lit(True).alias("requeued")
            )
            fetched = take.join(pages_side, "url").withColumn(
                "ex", extract("url", "html", "_ct")
            )
            # ONE extract pass feeds both writes; TRACKED checkpoint so
            # the blocks are freed after the writes — a long crawl runs
            # many drains, and untracked localCheckpoints would
            # accumulate executor storage for the loop's lifetime
            out, ckpt_ids = _ckpt_tracked(
                fetched.select(
                    "url", "depth",
                    F.col("ex.text").alias("text"),
                    F.col("ex.n_links").alias("n_links"),
                    F.col("ex.links").alias("_links"),
                )
            )
            try:
                n = out.count()
                out.drop("_links").write.mode("overwrite").parquet(
                    os.path.join(results_dir, f"b{bid}")
                )
                if max_depth > 0:
                    # the extract pass already canonicalized the links
                    disc = out.filter(F.col("depth") < F.lit(max_depth)).select(
                        F.explode("_links").alias("link"),
                        (F.col("depth") + 1).alias("depth"),
                    ).select("link.url_canonical", "link.host", "depth")
                    if cfg.url_filter:
                        # same pre-frontier URL gate as the wave engine
                        from ..functions.urlquality import url_keep_col

                        disc = disc.filter(
                            url_keep_col(
                                F.col("url_canonical"), F.col("host"), *cfg.resolved_url_filter()
                            )
                        )
                    discovered = (
                        disc.groupBy(F.col("url_canonical").alias("url"))
                        .agg(F.first("host").alias("host"), F.min("depth").alias("depth"))
                        .withColumn("requeued", F.lit(False))
                    )
                else:
                    discovered = None
                # the seen filter dedups discovered urls against
                # history — known urls cost one probe each next drain
                next_front = (
                    deferred.unionByName(discovered)
                    if discovered is not None
                    else deferred
                )
                next_front.write.mode("overwrite").parquet(
                    os.path.join(frontier_dir, f"b{bid}")
                )
                # both writes landed → stamp the commit marker; only a
                # fully-committed batch is ever skipped on replay
                with open(marker, "w"):
                    pass
                drain_fetch["n"] += n
                stats["n_fetched"] += n
            finally:
                _drop_ckpt(out, ckpt_ids)
        finally:
            _drop_ckpt(pol, pol_ids)

    try:
        seeds_df.write.mode("append").parquet(frontier_dir)
        for _ in range(max_drains):
            stream = (
                spark.readStream.schema(FRONTIER_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(frontier_dir)
            )
            filtered = seen_stream(stream, **geo)
            drain_fetch["n"] = 0
            q = (
                filtered.writeStream.foreachBatch(handle)
                .outputMode("append")
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
            stats["drains"] += 1
            if drain_fetch["n"] == 0:
                break
    finally:
        # a failed micro-batch must not leak the session-lifetime
        # caches (ADVICE r4: unpersist ran only on the success path)
        robots.unpersist()
        pages_side.unpersist()
    stats["results_dir"] = results_dir
    return stats
