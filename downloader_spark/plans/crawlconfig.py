"""Engine configuration (reference config.py analogs, SURVEY §2.9)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    """All values deterministic — the simulator consumes the same object.

    - max_attempts/retry semantics: reference scheduler/executor.py:29-30
      (3 attempts; delays become wave re-enqueues, not sleeps — T3).
    - politeness: per-host token budget per wave derived from robots
      Crawl-delay (reference documents the spec in
      docs/features/downloader-core.md:39-50; rate-limit tiers
      config.py:453-506 are the service-side analog).
    - score/priority: seed of reference RequestPriority
      (http_client.py:34-39) extended to (score desc, depth, url).
    """

    wave_seconds: int = 30  # politeness budget window per wave
    default_crawl_delay: int = 1  # hosts without robots Crawl-delay
    max_per_host_per_wave: int = 30  # cap even for delay-0 hosts
    # P6 analog (reference ≤50-URL batch guard, batch.py:379-387): a
    # GLOBAL per-wave budget — at 10^10 scale waves are resource-sized,
    # not unbounded. None = no global cap (per-host budgets still apply).
    max_urls_per_wave: int | None = None
    max_attempts: int = 3  # executor.py:29-30
    max_depth: int = 3  # frontier expansion bound
    score_base: int = 100
    score_decay: int = 10  # score = max(0, base - decay*depth)
    max_links_per_page: int = 64
    # DoS guard (reference config.py:208-213: 50 MB max download);
    # oversized pages become terminal 'too_large' rows, counted in metrics
    max_content_bytes: int = 50 * 1024 * 1024
    salt_buckets: int = 8  # two-phase top-k salt for hot hosts
    # seen-filter probe path, chosen by the filter snapshot's size (its
    # geometry comes from plans/seenfilter.py's sizing rule, either
    # kind): while the filter fits this budget it is collected once per
    # snapshot and broadcast to executors; above it the probe is
    # bucket-local (cogroup) with no driver collect — the only path at
    # 10^10-URL scale, where the filter is multi-GB. Same probe
    # arithmetic, identical outputs.
    bloom_broadcast_max: int = 256 * 1024 * 1024
    # which approximate seen-filter accelerates the anti-join (north
    # rule: "bloom/cuckoo"). 'bloom': OR-mergeable bitmaps — the
    # default (cheapest maintenance). 'cuckoo': 16-bit-fingerprint
    # tables (plans/cuckoo.py) — supports DELETION, the right choice
    # when seen entries expire (re-crawl after TTL) or hosts are
    # retracted. Both are accelerators only: the exact seen table
    # stays the source of truth, so crawl semantics are identical.
    seen_filter: str = "bloom"
    broadcast_robots: bool = True  # flip off beyond ~10^7 hosts
    dedupe_pages: bool = True  # drop duplicate url captures (latest wins)
    # below this seen-set size the exact broadcast anti-join beats the
    # filter probe's extra Python pass; at crawl scale (≫ this) the
    # filter path is the only one that avoids shuffling the whole
    # frontier. Above the seen size no approximate filter is built or
    # probed.
    bloom_min_seen: int = 100_000
    seen_compact_every: int = 16  # compact the append-only seen table
    snapshot_keep_last: int = 1000  # TTL analog (T8)
    # rank-informed frontier priority (VERDICT r4 #3): every k waves,
    # run integer fixed-point PageRank (operators/graph.py) over the
    # accumulated link graph and rank the frontier by
    # (rank_micro desc, score desc, depth asc, url asc). 0 = off (pure
    # (score, depth, url) ordering — the default, and the reference's
    # RequestPriority analog). The simulator mirrors the same integer
    # ranks (pagerank_fixedpoint_py), so parity holds by construction.
    pagerank_every: int = 0
    pagerank_iters: int = 3
    # per-wave HyperLogLog registers over the wave's DISCOVERED urls,
    # stored in the metrics table (VERDICT r4 #6). Cross-wave merge is
    # an elementwise register max — a running distinct-discovered-URL
    # estimate with NO COUNT(DISTINCT) over crawl history (the seen
    # table counts fetched terminals; discovered urls are never stored
    # as a set anywhere). 0 = off; else a power of two >= 16
    # (functions/sketch.py geometry).
    hll_metrics_m: int = 0
    # RefinedWeb-style URL quality gate (functions/urlquality.py) on
    # DISCOVERED links — the published recipes apply the domain
    # blocklist + weighted URL keyword score BEFORE a URL ever enters
    # the frontier (pre-fetch, §3.1), which is exactly this hook. Off
    # by default; when on, a discovered link is dropped unless no
    # blocklist domain covers its host AND its keyword score stays
    # under url_score_block. Seeds are NOT filtered (the operator
    # chose them); the PageRank links table is NOT filtered either
    # (rank flows through low-quality nodes, as on the real web graph).
    # The simulator mirrors via urlquality.url_keep_py — bit-equal
    # string ops, so parity holds by construction.
    url_filter: bool = False
    url_blocklist: tuple = ()  # () → urlquality.BLOCK_DOMAINS
    url_word_weights: tuple = ()  # () → urlquality.URL_WORD_WEIGHTS
    url_score_block: int = 0  # 0 → urlquality.URL_SCORE_BLOCK

    def resolved_url_filter(self) -> tuple[list, dict, int]:
        """(blocklist, word_weights, block_at) with module defaults
        filled in — the ONE resolution point both engines call."""
        from ..functions.urlquality import (
            BLOCK_DOMAINS,
            URL_SCORE_BLOCK,
            URL_WORD_WEIGHTS,
        )

        domains = list(self.url_blocklist) or list(BLOCK_DOMAINS)
        weights = dict(self.url_word_weights) or dict(URL_WORD_WEIGHTS)
        block_at = self.url_score_block or URL_SCORE_BLOCK
        return domains, weights, block_at

    def __post_init__(self) -> None:
        if self.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(
                f"seen_filter={self.seen_filter!r} — must be 'bloom' or 'cuckoo'"
            )
        if self.pagerank_every < 0 or self.pagerank_iters < 1:
            raise ValueError(
                "pagerank_every must be >= 0 (0 disables) and "
                "pagerank_iters >= 1"
            )
        if self.hll_metrics_m and (
            self.hll_metrics_m < 16 or self.hll_metrics_m & (self.hll_metrics_m - 1)
        ):
            raise ValueError("hll_metrics_m must be 0 (off) or a power of two >= 16")
        if self.url_score_block < 0:
            raise ValueError(
                "url_score_block must be >= 0 (0 = urlquality module default)"
            )

    def score_for_depth(self, depth: int) -> int:
        return max(0, self.score_base - self.score_decay * depth)

    def budget_for_delay(self, crawl_delay: int | None) -> int:
        """URLs per host per wave. delay=0 → cap; delay>wave → still 1
        (a wave at 10^10 scale lasts ≥ any sane crawl-delay; guarantees
        progress and keeps the plan deterministic)."""
        d = self.default_crawl_delay if crawl_delay is None else crawl_delay
        if d <= 0:
            return self.max_per_host_per_wave
        return max(1, min(self.max_per_host_per_wave, self.wave_seconds // d))
