"""Robots.txt parsing + per-host politeness budgets (T5 rebuild).

The reference documents (but does not implement) robots handling:
docs/features/downloader-core.md:39-50 + PLAN.md:108-127 — robots.txt
parse, per-domain Crawl-delay, cached per host. Here robots bodies are
ordinary rows of the pages table under ``http://<host>/robots.txt``
(fetched by the same machinery), parsed into a small robots dimension
broadcast against the frontier.

``parse_robots`` is pure Python, shared verbatim by the Spark path
(mapInPandas) and the single-node simulator — identical politeness
decisions by construction.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .crawlconfig import CrawlConfig

ROBOTS_SCHEMA = (
    "host string, crawl_delay int, disallow array<string>, has_robots boolean"
)


def parse_robots(body: str) -> tuple[int | None, list[str]]:
    """Minimal deterministic robots.txt parser: the ``User-agent: *``
    group's Disallow prefixes and Crawl-delay (integer seconds).

    Group semantics: consecutive User-agent lines open a group; rules
    apply to the most recent group; only groups containing ``*`` bind
    us. Unparseable delay → None. Empty Disallow (allow-all) ignored.
    """
    delay: int | None = None
    disallow: list[str] = []
    active = False  # current group includes '*'
    in_agent_run = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not in_agent_run:
                active = False
                in_agent_run = True
            if value == "*":
                active = True
        else:
            in_agent_run = False
            if not active:
                continue
            if key == "disallow" and value:
                disallow.append(value)
            elif key == "crawl-delay":
                try:
                    # OverflowError: 'inf'; clamp to one day — a robots
                    # body is attacker-controlled content and the value
                    # must fit the int32 Arrow schema
                    delay = max(0, min(int(float(value)), 86400))
                except (ValueError, OverflowError):
                    pass
    return delay, disallow


def build_robots_dim(pages: DataFrame) -> DataFrame:
    """pages rows whose url is ``http://<host>/robots.txt`` → robots dim
    (host, crawl_delay, disallow, has_robots)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                host = url.split("://", 1)[1].split("/", 1)[0]
                body = (bytes(html) if html is not None else b"").decode(
                    "utf-8", errors="ignore"
                )
                delay, disallow = parse_robots(body)
                rows.append((host, delay, disallow, True))
            yield pd.DataFrame(
                rows, columns=["host", "crawl_delay", "disallow", "has_robots"]
            )

    robots_pages = pages.filter(F.col("url").endswith("/robots.txt")).select(
        "url", "html"
    )
    return robots_pages.mapInPandas(gen, schema=ROBOTS_SCHEMA)


def is_path_allowed(path: str, disallow: list[str] | None) -> bool:
    """Prefix-match Disallow semantics (shared with the simulator)."""
    if not disallow:
        return True
    return not any(path.startswith(p) for p in disallow)


def with_politeness(
    frontier: DataFrame, robots_dim: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """Join the robots dim onto the frontier; adds ``allowed`` and
    per-host ``budget`` columns. Missing robots row → default-allow with
    the default crawl delay.

    The dim is broadcast while it fits (cfg.broadcast_robots); at
    10^8-host scale flip it off and the join shuffles both sides on
    host (a Parquet snapshot read carries no partitioning, so neither
    side arrives partitioned)."""
    dim = F.broadcast(robots_dim) if cfg.broadcast_robots else robots_dim
    joined = frontier.join(dim, "host", "left")
    path = F.regexp_extract("url", r"^[a-z]+://[^/]*(/.*)$", 1)
    path = F.when(path == "", "/").otherwise(path)
    allowed = F.when(
        F.col("disallow").isNull(), F.lit(True)
    ).otherwise(
        ~F.exists("disallow", lambda p: F.startswith(path, p))
    )
    delay = F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay))
    budget = F.when(
        delay <= 0, F.lit(cfg.max_per_host_per_wave)
    ).otherwise(
        F.greatest(
            F.lit(1),
            F.least(
                F.lit(cfg.max_per_host_per_wave),
                (F.lit(cfg.wave_seconds) / delay).cast("int"),
            ),
        )
    )
    return joined.withColumn("allowed", allowed).withColumn("budget", budget).drop(
        "crawl_delay", "disallow", "has_robots"
    )


def top_per_host(allowed: DataFrame, order: list[Column], salt_buckets: int) -> DataFrame:
    """Rows of ``allowed`` whose per-host ``rank`` under ``order`` is
    within the row's ``budget``; adds ``rank``. TWO-PHASE: a partial
    rank per (host, pmod(xxhash64(url), salt_buckets)) first caps any
    single window partition at budget × salt_buckets rows for hot
    hosts, then the exact rank runs on the survivors (skew defense;
    SURVEY §4.1). Both crawl engines schedule through it."""
    salted = allowed.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets)))
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_prank", F.row_number().over(w1))
        .filter(F.col("_prank") <= F.col("budget"))
        .drop("_salt", "_prank")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = survivors.withColumn("rank", F.row_number().over(w2))
    return ranked.filter(F.col("rank") <= F.col("budget"))
