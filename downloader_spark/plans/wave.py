"""Crawl-wave engine: frontier → politeness plan → fetch-join →
extract → discover → snapshot commits (SURVEY §3 "rebuild equivalent").

One wave ≙ one reference batch job (routes/batch.py:274-355): the
frontier is scheduled under per-host politeness budgets, "fetched" by
joining the pages table (S1 — the sandbox's deterministic stand-in for
the network), converted by the vectorized extract UDF (C1-C4), and the
discovered out-links are merged back into the frontier. Every wave
commits immutable snapshots (results, seen, frontier, metrics) — the
engine resumes mid-crawl from any snapshot (north rule).

Scale notes (the parts that matter at 10^10 URLs):
- priority selection is a per-host window rank, computed TWO-PHASE:
  a salted partial rank caps any single partition's rows at
  budget×salt_buckets for hot hosts, then the exact rank runs on the
  survivors (skew defense; SURVEY §4.1);
- the URL-seen check runs once per url, on the wave's discovered
  links, and is Bloom-prefiltered: definitely-unseen rows skip the
  exact anti-join shuffle entirely (SURVEY §4.2). Every committed
  frontier is disjoint from seen (deferred and retried urls are never
  terminal, discovered urls are filtered against seen ∪ terminal, and
  init() filters the seeds), so a wave reads its frontier unprobed;
- out-links are canonicalized inside the extract UDF, in the same
  Python call as the parse; discovery and the PageRank edges explode
  them with native Spark only;
- the pages join shuffles on url; Spark's runtime Bloom filter + AQE
  handle the rest (session defaults in session.py);
- statuses/retries are DATA (attempt column, T3), never task retries.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import canonical_urls, make_crawl_extract_udf
from ..session import local_frame
from ..sources.snapshots import SnapshotWarehouse
from . import seenfilter
from .bloom import bloom_maybe_seen, bloom_maybe_seen_cogroup, build_bloom, merge_blooms
from .crawlconfig import CrawlConfig
from .cuckoo import build_cuckoo, cuckoo_maybe_seen, cuckoo_maybe_seen_cogroup, merge_cuckoos
from .politeness import build_robots_dim, top_per_host, with_politeness

# custom_headers: per-URL request headers (reference
# BatchURLRequest.custom_headers, models/responses.py:37) — carried
# frontier → fetch → results; discovered links get NULL (headers are a
# per-request input, not inherited across links)
FRONTIER_SCHEMA = (
    "url string, host string, depth int, score int, attempt int, "
    "custom_headers map<string,string>"
)
SEEN_SCHEMA = "url string"


@dataclass
class WaveMetrics:
    wave: int
    n_frontier_in: int
    n_unseen: int
    n_denied: int
    n_scheduled: int
    n_ok: int
    n_missing_retry: int
    n_failed: int
    n_too_large: int
    n_discovered: int
    n_frontier_out: int
    n_seen_out: int


def _union(dfs: list[DataFrame]) -> DataFrame:
    """unionByName of a non-empty list of snapshot reads."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _merge_frontier(n: int, *parts: DataFrame) -> DataFrame:
    """One frontier row per url over ``parts`` (each FRONTIER_SCHEMA):
    min depth, max score, max attempt, and the headers of the first
    part, in argument order, whose row for the url carries any.
    Written hash-partitioned by url into ``n`` partitions: a url key
    fills every partition, where a bounded bucket key would cap the
    file count at the bucket count. (The dedupe keeps its own shuffle:
    with the layout shuffle under the aggregate, AQE drops a union
    branch whose cached input is empty together with the Observation
    on it.)"""
    tagged = _union([p.withColumn("_part", F.lit(i)) for i, p in enumerate(parts)])
    return tagged.groupBy("url").agg(
        F.first("host").alias("host"),
        F.min("depth").alias("depth"),
        F.max("score").alias("score"),
        F.max("attempt").alias("attempt"),
        F.min_by(
            "custom_headers",
            F.when(F.col("custom_headers").isNotNull(), F.col("_part")),
        ).alias("custom_headers"),
    ).repartition(n, "url")


def _metrics_row(spark: SparkSession, row: dict) -> DataFrame:
    """The one-row metrics marker, a ``local_frame`` (no Python worker).
    The schema is the one ``createDataFrame([row])`` infers: columns in
    sorted key order, every value a nullable bigint (lists an
    ``array<bigint>``), so the Parquet footer matches too."""
    keys = sorted(row)
    schema = ", ".join(
        f"`{k}` {'array<bigint>' if isinstance(row[k], list) else 'bigint'}" for k in keys
    )
    return local_frame(spark, [tuple(row[k] for k in keys)], schema)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        pages: DataFrame,
        cfg: CrawlConfig | None = None,
    ) -> None:
        self.spark = spark
        self.wh = SnapshotWarehouse(warehouse_dir)
        self.cfg = cfg or CrawlConfig()
        if "content_type" not in pages.columns:
            pages = pages.withColumn("content_type", F.lit("text/html"))
        if self.cfg.dedupe_pages:
            # duplicate captures of a url would fan out the fetch join
            # (duplicate results, double-counted metrics); keep the
            # latest capture with a deterministic tie-break. Deduped
            # ONCE and persisted — the window is a full-table shuffle
            # and must not re-run inside every wave's fetch join
            # (measured 2× wave wall-clock). At warehouse scale,
            # pre-deduplicate the pages table instead and construct
            # with dedupe_pages=False.
            from pyspark import StorageLevel

            order = (
                [F.desc("warc_ts")] if "warc_ts" in pages.columns else []
            ) + [F.desc(F.xxhash64("html"))]
            w = Window.partitionBy("url").orderBy(*order)
            pages = (
                pages.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        # keep the handle the persist() was taken on — unpersisting a
        # derived select() would not release the cached parent
        self._pages_base = pages
        self.pages = pages.select("url", "html", "content_type")
        self._pages_persisted = self.cfg.dedupe_pages
        self._extract_udf = make_crawl_extract_udf(self.cfg.max_links_per_page)
        self._filter_bc: tuple[int, object] | None = None
        # wall-clock of the LAST wave's PageRank refresh (0.0 when the
        # wave skipped it) — evidence instrumentation only, no
        # semantics: scripts/evidence_crawl_10x.py splits the refresh
        # cost out of the per-wave wall (VERDICT r5 #8)
        self.last_rank_refresh_sec = 0.0

    def close(self) -> None:
        """Release engine-held executor state: the deduped-pages cache
        and the current seen-filter broadcast. Without this, a driver
        that builds several engines (tests, bench, notebook loops)
        accumulates one cached pages table + one filter copy per
        engine for the session's lifetime. Idempotent."""
        if self._pages_persisted:
            try:
                self._pages_base.unpersist(blocking=False)
            except Exception:
                pass
            self._pages_persisted = False
        self._release_filter_bc()

    def __enter__(self) -> "CrawlEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- bootstrap -----------------------------------------------------------
    def init(self, seeds: list) -> None:
        """Seed the frontier (wave 0 state). Seeds are urls or
        (url, custom_headers dict) pairs (reference
        BatchURLRequest.custom_headers, models/responses.py:37).
        Invalid seeds are recorded as results rows with status
        'invalid' (reference validate→400 analog, download.py:137-148).

        On a crawled warehouse (re-init) the live frontier is kept: it
        is first rolled back to the last complete wave, then the seeds
        not yet seen are merged into it by frontier_out's rule
        (_merge_frontier, the live row's headers first) and committed
        at that wave. Seeds already in the seen set are dropped, so
        every committed frontier stays disjoint from seen, which
        run_wave relies on. The empty seen snapshot is committed on a
        fresh warehouse only."""
        rows = [
            (i, s, None)
            if isinstance(s, str)
            else (i, s[0], dict(s[1]) if s[1] else None)
            for i, s in enumerate(seeds)
        ]
        seed_df = local_frame(
            self.spark, rows, "seed_idx long, url string, custom_headers map<string,string>"
        )
        self.recover()
        # valid seeds, canonicalized once: the frontier write and the
        # invalid-seed anti-join both read this cache
        canon = canonical_urls(seed_df, "url").persist()
        try:
            self._commit_seeds(seed_df, canon, len(seeds))
        finally:
            canon.unpersist()

    def _commit_seeds(self, seed_df: DataFrame, canon: DataFrame, n_seeds: int) -> None:
        cfg = self.cfg
        # seeds that canonicalize to the same url dedupe FIRST-WINS by
        # original seed order (min_by seed_idx) — the simulator's rule;
        # dropDuplicates would keep an arbitrary row and diverge on
        # same-url seeds that differ in custom_headers
        seeds = self._filter_unseen(
            canon.groupBy(F.col("url_canonical").alias("url"))
            .agg(
                F.min_by("host", "seed_idx").alias("host"),
                F.min_by("custom_headers", "seed_idx").alias("custom_headers"),
            )
            .select(
                "url",
                "host",
                F.lit(0).alias("depth"),
                F.lit(cfg.score_base).alias("score"),
                F.lit(0).alias("attempt"),
                "custom_headers",
            )
        )
        invalid = seed_df.join(canon.select("seed_idx"), "seed_idx", "left_anti").select(
            F.lit(0).alias("wave"),
            F.col("url"),
            F.lit("").alias("host"),
            F.lit(0).alias("depth"),
            F.lit(None).cast("int").alias("rank"),
            F.lit("invalid").alias("status"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("markdown"),
            F.lit(False).alias("needs_render"),
            F.lit(False).alias("needs_js_render"),
            F.lit(0).alias("n_links"),
            F.col("custom_headers"),
        )
        live = self.wh.snapshots("frontier")
        parts = [self.wh.read(self.spark, "frontier"), seeds] if live else [seeds]
        n_rows = n_seeds + (live[-1]["n_rows"] if live else 0)
        wave = self.next_wave - 1
        self.wh.commit(_merge_frontier(self._n_shuffle(n_rows), *parts), "frontier", wave=wave)
        if not self.wh.snapshots("seen"):
            self.wh.commit(local_frame(self.spark, [], SEEN_SCHEMA), "seen", wave=0)
        robots = build_robots_dim(self.pages)
        self.wh.commit(robots, "robots", wave=0)
        if invalid.isEmpty():
            return
        self.wh.commit(invalid, "results", wave=0, extra={"kind": "seed_invalid"})

    def _n_shuffle(self, n_rows: int | None = None) -> int:
        """Shuffle width; sized to the data when a row estimate is
        available (target ≥~2k rows/partition) so toy-scale waves don't
        pay 32 near-empty tasks+files per commit — capped at the session
        conf, which is the operative value at cluster scale."""
        conf = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        if n_rows is None:
            return conf
        return max(1, min(conf, n_rows // 2000 + 1))

    @property
    def next_wave(self) -> int:
        """Resume point: one past the last committed metrics wave."""
        snaps = self.wh.snapshots("metrics")
        return (snaps[-1]["wave"] + 1) if snaps else 1

    def recover(self) -> dict[str, list[int]]:
        """Roll back orphan snapshots from a partially-committed wave.

        A wave commits results → seen → bloom → frontier → metrics;
        metrics is the COMMIT MARKER (written last). After a mid-wave
        crash, tables committed before the crash carry wave=k snapshots
        while metrics stops at k-1 — re-running wave k against that
        state would treat the wave's fetches as already-seen and DROP
        their discovered links. Rolling every table back to the last
        metrics wave restores exactly the pre-wave state (snapshots are
        immutable, so rollback is just pointer surgery)."""
        last_complete = self.next_wave - 1
        dropped = {}
        for table in ("results", "seen", "bloom", "cuckoo", "frontier", "links", "ranks"):
            d = self.wh.rollback_above(table, last_complete)
            if d:
                dropped[table] = d
        if dropped:
            self._release_filter_bc()  # may hold a dropped filter snapshot
        return dropped

    # -- seen-set helpers (incremental; never rewrite history) ---------------
    def _live_seen_snaps(self) -> list[dict]:
        """Snapshots that make up the CURRENT seen set: a compaction
        snapshot supersedes everything before it, so reads start at the
        latest one. Superseded snapshots may still exist on disk — they
        are kept until the wave's metrics commit marker lands (crash
        recovery rolls the compaction back and must find them) and
        expired afterwards by _gc_seen."""
        snaps = self.wh.snapshots("seen")
        for i in range(len(snaps) - 1, -1, -1):
            if snaps[i].get("kind") == "compaction":
                return snaps[i:]
        return snaps

    def _seen_total(self) -> int:
        return sum(s["n_rows"] for s in self._live_seen_snaps())

    def read_seen(self) -> DataFrame:
        """Union of the live seen snapshots (append-only table,
        compacted every cfg.seen_compact_every waves so the union stays
        shallow)."""
        return _union([self.wh.read(self.spark, "seen", s["id"]) for s in self._live_seen_snaps()])

    def _gc_seen(self) -> None:
        """Expire seen snapshots superseded by a compaction — called
        ONLY after a metrics commit marker covers the compaction. A
        crash before the marker rolls the compaction back (recover),
        so the superseded history must survive until then (expiring
        inside _append_seen would physically delete the pre-wave seen
        set that recovery needs — the entire crawl's seen state)."""
        snaps = self.wh.snapshots("seen")
        live = self._live_seen_snaps()
        if len(live) < len(snaps):
            self.wh.expire_snapshots("seen", keep_last=len(live))

    # -- rank-informed frontier priority (VERDICT r4 #3) ----------------------
    def _read_union(self, table: str) -> DataFrame:
        """Union of every snapshot of an append-only table."""
        return _union([self.wh.read(self.spark, table, s["id"]) for s in self.wh.snapshots(table)])

    def _refresh_ranks(self, wave: int) -> None:
        """Run integer fixed-point PageRank (operators/graph.py) over
        the accumulated link graph and commit a 'ranks' snapshot — the
        crawl-prioritization signal the frontier rank consumes below.
        Called every cfg.pagerank_every waves; between refreshes the
        latest snapshot is read (deliberately stale — rank freshness is
        a cost knob, not a correctness surface, and the simulator
        mirrors the same refresh schedule). Skipped until any links
        exist. Cost: one join+agg per iteration over (url, long) rows —
        O(edges), never O(pages)."""
        from ..operators.dedup import release_result
        from ..operators.graph import pagerank_fixedpoint

        snaps = self.wh.snapshots("links")
        if not snaps or sum(s["n_rows"] for s in snaps) == 0:
            return
        ranks = pagerank_fixedpoint(
            self._read_union("links"), src="src", dst="dst",
            iters=self.cfg.pagerank_iters,
        )
        self.wh.commit(
            ranks.select(F.col("node").alias("url"), "rank_micro"),
            "ranks", wave=wave,
        )
        release_result(ranks)

    def _with_rank_score(self, frontier: DataFrame) -> DataFrame:
        """Left-join the latest ranks snapshot onto the frontier as
        ``_pr`` (0 for unranked urls). The join shuffles on url; the
        ranks payload is (url, long)."""
        snaps = self.wh.snapshots("ranks")
        if not snaps:
            return frontier.withColumn("_pr", F.lit(0).cast("long"))
        ranks = self.wh.read(self.spark, "ranks")
        return (
            frontier.join(ranks, "url", "left")
            .withColumn("_pr", F.coalesce(F.col("rank_micro"), F.lit(0).cast("long")))
            .drop("rank_micro")
        )

    def _filter_ops(self) -> tuple:
        """The seen-filter kind's (build, merge, broadcast probe, cogroup
        probe), each taking the kind's geometry keywords. Looked up per
        call, so wrappers installed on the public names (perfbench's
        traced pass) apply."""
        if self.cfg.seen_filter == "cuckoo":
            return build_cuckoo, merge_cuckoos, cuckoo_maybe_seen, cuckoo_maybe_seen_cogroup
        return build_bloom, merge_blooms, bloom_maybe_seen, bloom_maybe_seen_cogroup

    def _filter_snapshot(self) -> dict:
        """Metadata of the CURRENT filter snapshot ({} before the first):
        ``covered`` (seen urls it holds), ``capacity`` and ``geometry``."""
        snaps = self.wh.snapshots(self.cfg.seen_filter)
        return snaps[-1] if snaps else {}

    def _release_filter_bc(self) -> None:
        # unpersist (NOT destroy): frees executor copies but keeps the
        # broadcast usable if a lazy plan from earlier in the wave
        # recomputes a cached partition that references it
        if self._filter_bc is not None:
            try:
                self._filter_bc[1].unpersist(blocking=False)
            except Exception:
                pass
            self._filter_bc = None

    def _filter_broadcast(self):
        """Broadcast handle for the CURRENT filter snapshot, collected and
        broadcast once per snapshot and released when superseded —
        probes run twice per wave and a per-call broadcast would leak
        one filter copy per probe for the crawl's lifetime."""
        snap = self.wh.current_id(self.cfg.seen_filter)
        if self._filter_bc is None or self._filter_bc[0] != snap:
            self._release_filter_bc()
            filt = seenfilter.collect(self.wh.read(self.spark, self.cfg.seen_filter))
            self._filter_bc = (snap, self.spark.sparkContext.broadcast(filt))
        return self._filter_bc[1]

    def _filter_unseen(self, df: DataFrame, keep=None) -> DataFrame:
        """Drop rows whose url is in the seen set: approximate-filter
        probe (definitely-unseen rows skip the shuffle), exact anti-join
        only for the maybe-seen residue. The probe reads the snapshot's
        own geometry and is broadcast while the filter fits
        cfg.bloom_broadcast_max, bucket-local (cogroup, no driver
        collect) above it. ``keep`` (a wave's cache hook) persists the
        probed rows so both branches read one probe pass. Called for a
        wave's discovered links and for init()'s seeds; a wave's
        frontier is already disjoint from seen and is never probed."""
        total = self._seen_total()
        if total == 0:
            return df
        cfg = self.cfg
        seen = self.read_seen()
        snap = self._filter_snapshot()
        if total >= cfg.bloom_min_seen and snap.get("covered") == total and "geometry" in snap:
            geo = snap["geometry"]
            _build, _merge, probe_broadcast, probe_cogroup = self._filter_ops()
            if seenfilter.nbytes(cfg.seen_filter, geo) > cfg.bloom_broadcast_max:
                probed = probe_cogroup(df, self.wh.read(self.spark, cfg.seen_filter), **geo)
            else:
                probed = probe_broadcast(df, None, bitmap_bc=self._filter_broadcast(), **geo)
            if keep is not None:
                probed = keep(probed)
            definite = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybes = probed.filter("maybe_seen").drop("maybe_seen")
            return definite.unionByName(maybes.join(seen, "url", "left_anti"))
        return df.join(seen, "url", "left_anti")

    def _append_seen(self, terminal: DataFrame, wave: int) -> int:
        """Append this wave's terminal urls as a NEW seen snapshot; once
        the seen set crosses bloom_min_seen, maintain the filter by
        merging the wave's own filter into it — O(wave output). The
        filter is sized for HEADROOM × the seen total (the geometry is
        stored with the snapshot); when the seen total outgrows that
        capacity, or the snapshot is stale or has no stored geometry,
        ONE full build runs at the new size, so full builds cost
        O(total seen) amortized. This is the design that survives 10^10
        URLs. Returns the new seen total."""
        cfg, wh, spark = self.cfg, self.wh, self.spark
        total_before = self._seen_total()
        wh.commit(terminal, "seen", wave=wave)
        total_after = self._seen_total()
        if total_after >= cfg.bloom_min_seen:
            build, merge, _probe_broadcast, _probe_cogroup = self._filter_ops()
            snap = self._filter_snapshot()
            if snap.get("covered") == total_before and snap.get("capacity", 0) >= total_after:
                capacity, geo = snap["capacity"], snap["geometry"]
                new_filt = merge(
                    wh.read(spark, cfg.seen_filter), build(terminal, **geo), **geo
                )
            else:
                capacity = math.ceil(seenfilter.HEADROOM * total_after)
                geo = seenfilter.geometry(cfg.seen_filter, capacity)
                new_filt = build(self.read_seen(), **geo)
            wh.commit(
                new_filt, cfg.seen_filter, wave=wave,
                extra={"covered": total_after, "capacity": capacity, "geometry": geo},
            )
        # periodic compaction keeps the snapshot union shallow; the
        # superseded snapshots are expired by _gc_seen AFTER this
        # wave's metrics commit marker (never here — see _gc_seen)
        if len(self._live_seen_snaps()) >= cfg.seen_compact_every:
            compacted = self.read_seen().repartition(self._n_shuffle(), "url")
            wh.commit(compacted, "seen", wave=wave, extra={"kind": "compaction"})
        return self._seen_total()

    # -- one wave --------------------------------------------------------------
    def run_wave(self, wave: int) -> WaveMetrics:
        """Run one wave and commit results → seen → filter → frontier →
        metrics (the marker, strictly last).

        The frontier is read as committed: every frontier snapshot is
        disjoint from the seen set (see _filter_unseen), so the wave
        runs no seen probe before politeness.

        Wave-scoped caches — each relation is built once and every
        branch that needs it reads the cache: ``pol`` (frontier +
        politeness), ``selected`` (this wave's fetch set),
        ``extracted`` (the one fetch+extract pass), ``terminal`` (the
        urls the wave appends to seen), ``discovered`` (the deduped
        out-links) and, when the Bloom filter is live, the probed
        discovered rows (one probe pass for both branches of the seen
        split). All are released when the wave returns or raises;
        nothing frontier-sized beyond ``pol`` is cached."""
        cached: list[DataFrame] = []
        try:
            return self._run_wave(wave, cached)
        finally:
            for df in cached:
                df.unpersist()

    def _run_wave(self, wave: int, cached: list[DataFrame]) -> WaveMetrics:
        from pyspark.sql import Observation

        cfg, spark, wh = self.cfg, self.spark, self.wh

        def keep(df: DataFrame) -> DataFrame:
            cached.append(df.persist())
            return df

        frontier = wh.read(spark, "frontier")
        n_frontier_in = wh.snapshots("frontier")[-1]["n_rows"]
        robots = wh.read(spark, "robots")

        # 0. (opt-in) refresh the PageRank signal every k waves from the
        #    accumulated link graph; committed BEFORE any other wave-k
        #    commit so recovery rolls it back with the rest
        self.last_rank_refresh_sec = 0.0
        if cfg.pagerank_every and wave > 1 and (wave - 1) % cfg.pagerank_every == 0:
            import time as _time

            _t0 = _time.monotonic()
            self._refresh_ranks(wave)
            self.last_rank_refresh_sec = round(_time.monotonic() - _t0, 2)

        # 1+2. politeness (robots allow/deny + per-host budget) over the
        #    frontier, which is disjoint from seen by construction (no
        #    probe), persisted and materialized as ONE relation: every
        #    later branch (denied results, terminal seen, deferred
        #    frontier) reads this cache instead of re-running the
        #    robots join — lazy persists under a multi-branch union
        #    otherwise recompute the whole chain per branch (measured
        #    ~6× wave wall-clock).
        #    n_unseen is OBSERVED during the extract job below instead
        #    of a separate count() — the pol cache is populated by the
        #    first job that runs through it (extracted.count), saving
        #    one full Spark job per wave of pure fixed overhead.
        if cfg.pagerank_every:
            frontier = self._with_rank_score(frontier)
        obs_unseen = Observation(f"unseen-{wave}")
        pol = keep(
            with_politeness(frontier, robots, cfg)
            .observe(obs_unseen, F.count(F.lit(1)).alias("n"))
        )
        denied = pol.filter(~F.col("allowed"))
        allowed = pol.filter("allowed")

        # 3. two-phase priority rank (salt caps hot-host partitions);
        #    with pagerank enabled the link-graph rank leads the order —
        #    the simulator applies the identical integer ranks
        order = ([F.desc("_pr")] if cfg.pagerank_every else []) + [
            F.desc("score"), F.asc("depth"), F.asc("url")
        ]
        selected = top_per_host(allowed, order, cfg.salt_buckets).drop("budget", "allowed")
        if cfg.max_urls_per_wave is not None:
            # P6 global wave budget: deterministic top-N over the
            # politeness-selected set (TakeOrdered — no full sort);
            # cut rows fall into `deferred` automatically
            selected = selected.orderBy(*order).limit(cfg.max_urls_per_wave)
        # _pr is consumed by the ordering above; drop is a no-op when absent
        selected = keep(selected.drop("_pr"))

        # 4. fetch = join pages ONCE (S1 stand-in); oversized payloads
        #    are MARKED as data and the extract UDF receives NULL html
        #    for them — the size guard still keeps oversized bytes out
        #    of Python (reference 50 MB DoS guard, config.py:208-213)
        #    while every outcome reads ONE persisted relation.
        fetched = selected.join(self.pages, "url", "left").withColumn(
            "_too_large",
            F.col("html").isNotNull() & (F.length("html") > cfg.max_content_bytes),
        )
        extract_in = (
            F.when(F.col("_too_large"), F.lit(None).cast("binary"))
            .otherwise(F.col("html"))
        )
        extracted = keep(
            fetched.withColumn("ex", self._extract_udf("url", extract_in, "content_type"))
        )
        extracted.count()  # materialize: ONE extract pass feeds all branches
        n_unseen = int(obs_unseen.get["n"])  # observed by the job above
        # width of the wave's outputs — estimate: deferred bounded by
        # frontier_in; discovery bounded by ok-pages × links/page
        n_out = self._n_shuffle(n_frontier_in + n_frontier_in // 2 + 64)

        # 5. one outcome pass: each fetched row's status is a CASE over
        #    the extracted relation — too_large, then a missing page
        #    (retried while attempt + 1 < max_attempts, else failed),
        #    then ok. Only ok rows carry text, render flags and links.
        outcome = extracted.withColumn(
            "status",
            F.when(F.col("_too_large"), "too_large")
            .when(
                F.col("html").isNull() & (F.col("attempt") + 1 < cfg.max_attempts),
                "missing_retry",
            )
            .when(F.col("html").isNull(), "failed")
            .otherwise("ok"),
        )
        is_ok = F.col("status") == "ok"
        results = outcome.select(
            F.lit(wave).alias("wave"),
            "url",
            "host",
            "depth",
            "rank",
            "status",
            F.when(is_ok, F.col("ex.text")).alias("text"),
            F.when(is_ok, F.col("ex.markdown")).alias("markdown"),
            F.when(is_ok, F.col("ex.needs_render")).otherwise(False).alias("needs_render"),
            F.when(is_ok, F.col("ex.needs_js_render")).otherwise(False).alias("needs_js_render"),
            F.when(is_ok, F.col("ex.n_links")).otherwise(0).alias("n_links"),
            "custom_headers",
        ).unionByName(
            denied.select(
                F.lit(wave).alias("wave"),
                "url",
                "host",
                "depth",
                F.lit(None).cast("int").alias("rank"),
                F.lit("robots_denied").alias("status"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("markdown"),
                F.lit(False).alias("needs_render"),
                F.lit(False).alias("needs_js_render"),
                F.lit(0).alias("n_links"),
                "custom_headers",
            )
        )
        # per-status counts observed DURING the write (one pass — the
        # reference's per-job progress counters A2, with no read-back)
        obs_status = Observation(f"status-{wave}")
        results = results.observe(
            obs_status,
            F.sum((F.col("status") == "ok").cast("int")).alias("n_ok"),
            F.sum((F.col("status") == "robots_denied").cast("int")).alias("n_denied"),
            F.sum((F.col("status") == "missing_retry").cast("int")).alias("n_retry"),
            F.sum((F.col("status") == "failed").cast("int")).alias("n_failed"),
            F.sum((F.col("status") == "too_large").cast("int")).alias("n_too_large"),
        )
        ok_links = outcome.filter(is_ok).select("url", "depth", F.col("ex.links").alias("links"))
        retry = outcome.filter(F.col("status") == "missing_retry")
        # seen ∪= terminal outcomes (ok, denied, failed, too_large)
        terminal = keep(
            outcome.filter(F.col("status") != "missing_retry")
            .select("url")
            .unionByName(denied.select("url"))
        )

        # 6. discover links → depth-bounded (the extract UDF already
        #    canonicalized them and dropped the invalid ones); dedupe
        #    within the wave by url (min depth → max score, same rule as
        #    the simulator's in-wave merge)
        discovered = (
            ok_links.filter(F.col("depth") + 1 <= cfg.max_depth)
            .select("depth", F.explode("links").alias("link"))
            .select("link.url_canonical", "link.host", "depth")
        )
        if cfg.url_filter:
            # RefinedWeb-style pre-frontier URL gate (native columns;
            # simulator mirror: urlquality.url_keep_py — invariant 2)
            from ..functions.urlquality import url_keep_col

            discovered = discovered.filter(
                url_keep_col(F.col("url_canonical"), F.col("host"), *cfg.resolved_url_filter())
            )
        # read by the frontier chain and by the HLL register agg. A
        # cached plan keeps its final shuffle's width (AQE may not
        # coalesce it), so the dedupe shuffle is sized to the data here
        discovered = keep(
            discovered.select(
                F.col("url_canonical").alias("url"),
                "host",
                (F.col("depth") + 1).alias("depth"),
            )
            .repartition(n_out, "url")
            .groupBy("url")
            .agg(F.first("host").alias("host"), F.min("depth").alias("depth"))
            .withColumn(
                "score",
                F.greatest(
                    F.lit(0), F.lit(cfg.score_base) - F.lit(cfg.score_decay) * F.col("depth")
                ).cast("int"),
            )
            .withColumn("attempt", F.lit(0))
            .withColumn(
                "custom_headers", F.lit(None).cast("map<string,string>")
            )
        )

        # results commit OVERLAPS the seen→bloom→frontier chain below:
        # the two job trees are independent (both read only the wave's
        # caches and write different tables), so submitting them from
        # separate threads lets the scheduler interleave their stages —
        # measured ~1 s/wave of pure fixed cost back. The metrics commit
        # (the wave's COMMIT MARKER) joins the thread first and stays
        # strictly last; a failure on either side aborts the wave before
        # the marker, so recovery semantics are unchanged regardless of
        # which commits landed.
        import threading

        results_err: list[BaseException] = []

        def _commit_results() -> None:
            try:
                wh.commit(results, "results", wave=wave)
            except BaseException as e:  # re-raised on the main thread
                results_err.append(e)

        results_thread = threading.Thread(
            target=_commit_results, name=f"results-commit-{wave}", daemon=True
        )
        results_thread.start()
        try:
            return self._finish_wave(
                wave, keep, results_thread, results_err, obs_status, ok_links,
                retry, allowed, selected, terminal, discovered,
                n_frontier_in, n_unseen, n_out,
            )
        finally:
            # the results commit must never be left in flight when the
            # wave propagates an exception: a caller that immediately
            # runs recover() in the same process would race the commit
            # and miss rolling it back (join is idempotent — the success
            # path already joined before the metrics marker)
            results_thread.join()

    def _finish_wave(
        self, wave, keep, results_thread, results_err, obs_status, ok_links,
        retry, allowed, selected, terminal, discovered,
        n_frontier_in, n_unseen, n_out,
    ) -> "WaveMetrics":
        import threading

        from pyspark.sql import Observation

        cfg, spark, wh = self.cfg, self.spark, self.wh

        # 7. seen ∪= terminal — APPENDED as a new snapshot + incremental
        #    filter merge (never a rewrite), OVERLAPPED with the frontier
        #    computation below: the discovered-link filter is
        #    constructed against the PRE-WAVE seen/filter snapshots
        #    (wh.read resolves snapshot paths at plan construction, so
        #    the concurrent append can't shift it) and this wave's
        #    terminals are excluded by an explicit anti-join —
        #    set-identical to filtering against the updated seen table:
        #    (discovered − seen_pre) − terminal ≡
        #    discovered − (seen_pre ∪ terminal). Both threads write
        #    DISJOINT tables (seen/bloom/cuckoo vs frontier); the wave's
        #    metrics commit marker still joins every thread first, so a
        #    crash anywhere keeps recovery semantics unchanged (rollback
        #    is per-table above the marker, order-independent).

        # (opt-in) append this wave's link edges — the PageRank input.
        # DISTINCT (src, dst): a url is fetched once ever (seen set), so
        # per-wave distinct ⇒ globally distinct; edges carry NO payload
        # beyond two urls and the table is only read every
        # cfg.pagerank_every waves.
        if cfg.pagerank_every:
            links_df = ok_links.select(
                F.col("url").alias("src"), F.explode("links.url_canonical").alias("dst")
            ).distinct()
            wh.commit(links_df, "links", wave=wave)
        obs_disc = Observation(f"disc-{wave}")
        discovered_new = (
            self._filter_unseen(discovered, keep)  # pre-wave snapshots
            .join(terminal, "url", "left_anti")
            .observe(obs_disc, F.count(F.lit(1)).alias("n"))
        )

        seen_out: list[int] = []
        seen_err: list[BaseException] = []

        def _commit_seen() -> None:
            try:
                seen_out.append(self._append_seen(terminal, wave))
            except BaseException as e:  # re-raised on the main thread
                seen_err.append(e)

        seen_thread = threading.Thread(
            target=_commit_seen, name=f"seen-commit-{wave}", daemon=True
        )
        seen_thread.start()

        # 8. next frontier = deferred ∪ retries ∪ (discovered − seen),
        #    deduped by url (min depth → max score; max attempt wins).
        #    n_discovered observed during the frontier write.
        # deferred ≡ frontier − selected − denied ≡ allowed − selected
        # (denied ∩ allowed = ∅, selected ⊆ allowed) — reads the pol cache
        try:
            deferred = allowed.join(
                selected.select("url"), "url", "left_anti"
            ).select("url", "host", "depth", "score", "attempt", "custom_headers")
            retry_front = retry.select(
                "url", "host", "depth", "score",
                (F.col("attempt") + 1).alias("attempt"), "custom_headers",
            )
            # only one source row per url can carry headers (the
            # deferred/retry row); discovered rows are always NULL
            frontier_out = _merge_frontier(n_out, deferred, retry_front, discovered_new)
            wh.commit(frontier_out, "frontier", wave=wave)
        finally:
            # the seen chain must never be left in flight when the wave
            # propagates (same recover()-race rule as results_thread)
            seen_thread.join()
        if seen_err:
            raise seen_err[0]
        n_seen_out = seen_out[0]
        n_discovered = int(obs_disc.get["n"])
        n_frontier_out = wh.snapshots("frontier")[-1]["n_rows"]

        # rejoin the overlapped results commit BEFORE the marker
        results_thread.join()
        if results_err:
            raise results_err[0]
        sc = obs_status.get
        status_counts = {
            "ok": int(sc["n_ok"] or 0),
            "robots_denied": int(sc["n_denied"] or 0),
            "missing_retry": int(sc["n_retry"] or 0),
            "failed": int(sc["n_failed"] or 0),
            "too_large": int(sc["n_too_large"] or 0),
        }

        # per-wave HLL registers over this wave's discovered urls (the
        # wave's contribution to the running distinct-discovered
        # estimate — see distinct_discovered_estimate). m ints ride in
        # the metrics row; the collect is m rows of two ints.
        hll_regs: list[int] | None = None
        if cfg.hll_metrics_m:
            from ..functions.sketch import hll_registers

            hll_regs = [0] * cfg.hll_metrics_m
            for r in hll_registers(
                discovered, F.col("url"), m=cfg.hll_metrics_m
            ).collect():
                hll_regs[int(r["register_id"])] = int(r["max_rho"])

        metrics = WaveMetrics(
            wave=wave,
            n_frontier_in=n_frontier_in,
            n_unseen=n_unseen,
            n_denied=status_counts.get("robots_denied", 0),
            n_scheduled=status_counts.get("ok", 0)
            + status_counts.get("missing_retry", 0)
            + status_counts.get("failed", 0)
            + status_counts.get("too_large", 0),
            n_ok=status_counts.get("ok", 0),
            n_missing_retry=status_counts.get("missing_retry", 0),
            n_failed=status_counts.get("failed", 0),
            n_too_large=status_counts.get("too_large", 0),
            n_discovered=n_discovered,
            n_frontier_out=n_frontier_out,
            n_seen_out=n_seen_out,
        )
        row = dict(vars(metrics))
        if hll_regs is not None:
            row["hll_regs"] = hll_regs
        wh.commit(_metrics_row(spark, row), "metrics", wave=wave)

        # the metrics commit marker is durable: NOW superseded seen
        # history can be reclaimed (also sweeps leftovers if an earlier
        # run crashed between its marker and its gc)
        self._gc_seen()

        # T8 retention: only the latest frontier/bloom snapshots matter
        # for forward progress; history beyond keep_last is expired
        if cfg.snapshot_keep_last:
            wh.expire_snapshots("frontier", cfg.snapshot_keep_last)
            wh.expire_snapshots(cfg.seen_filter, cfg.snapshot_keep_last)
        return metrics

    # -- loop ----------------------------------------------------------------
    def run(self, max_waves: int = 10) -> list[WaveMetrics]:
        self.recover()  # roll back any partially-committed wave first
        out = []
        wave = self.next_wave
        for w in range(wave, wave + max_waves):
            if self.wh.snapshots("frontier")[-1]["n_rows"] == 0:
                break
            out.append(self.run_wave(w))
        return out

    # -- status (T4 job-lifecycle surface) ------------------------------------
    def status(self) -> dict:
        """JobInfo analog (reference job_manager.py:28-44): crawl-level
        progress derived from snapshot metadata only — no Spark jobs."""
        metrics = self.wh.snapshots("metrics")
        frontier = self.wh.snapshots("frontier")
        waves = len(metrics)
        remaining = frontier[-1]["n_rows"] if frontier else 0
        seen = self._seen_total()
        state = (
            "pending"
            if not frontier
            else ("completed" if waves and remaining == 0 else ("running" if waves else "pending"))
        )
        return {
            "status": state,
            "waves_completed": waves,
            "frontier_remaining": remaining,
            "urls_seen": seen,
            "results_snapshots": len(self.wh.snapshots("results")),
        }

    def distinct_discovered_estimate(self) -> dict:
        """Running distinct-DISCOVERED-URL estimate from the per-wave
        HLL registers stored in metrics (cfg.hll_metrics_m), merged via
        the lossless elementwise register max — the number the crawl
        cannot otherwise report without keeping (and COUNT(DISTINCT)ing)
        every discovered url ever, most of which are never fetched.
        Merged-sketch ≡ sketch-of-union by construction (pinned in
        tests/test_hll_metrics.py). Returns
        {registers, harmonic_s, n_zero_registers, est_distinct}."""
        from ..functions.sketch import hll_estimate

        m = self.cfg.hll_metrics_m
        if not m:
            raise ValueError("hll_metrics_m is 0 — the sketch is disabled")
        merged = [0] * m
        for s in self.wh.snapshots("metrics"):
            df = self.wh.read(self.spark, "metrics", s["id"])
            if "hll_regs" not in df.columns:
                continue  # wave recorded before the sketch was enabled
            regs = df.select("hll_regs").collect()[0][0]
            for i, v in enumerate(regs):
                if v > merged[i]:
                    merged[i] = int(v)
        regs_df = local_frame(
            self.spark, list(enumerate(merged)), "register_id int, max_rho int"
        )
        out = hll_estimate(regs_df, m=m).collect()[0].asDict()
        out["registers"] = merged
        return out

    # -- reads ------------------------------------------------------------------
    def all_results(self) -> DataFrame:
        """Union of every results snapshot (the full crawl log)."""
        return self._read_union("results")
