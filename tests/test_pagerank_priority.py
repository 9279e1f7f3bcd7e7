"""Rank-informed frontier priority (VERDICT r4 #3): with
cfg.pagerank_every the engine computes integer fixed-point PageRank
over the accumulated link graph every k waves and ranks the frontier
by (rank_micro desc, score desc, depth asc, url asc). The simulator
applies pagerank_fixedpoint_py — the bit-exact Python mirror — so the
full parity gate (schedule, seen set, statuses, texts) must still hold
with the feature ON, and a high-in-degree url must overtake the plain
lexicographic ordering under a tight per-host budget."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.crawl.simulator import simulate_crawl
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine
from downloader_spark.sources.pagegen import generate_web_graph

CFG_PR = CrawlConfig(
    wave_seconds=10,
    max_per_host_per_wave=4,
    max_depth=2,
    salt_buckets=4,
    bloom_min_seen=1,
    pagerank_every=1,  # refresh before every wave > 1
)
N_WAVES = 4


@pytest.fixture(scope="module")
def web(spark):
    pages_df = generate_web_graph(spark, n_hosts=6, pages_per_host=10, seed=13)
    rows = pages_df.collect()
    pages = {r["url"]: (bytes(r["html"]), r["content_type"]) for r in rows}
    seeds = sorted(u for u in pages if not u.endswith("robots.txt"))[:8]
    return pages_df, pages, seeds


@pytest.fixture(scope="module")
def engine_run(spark, web, tmp_path_factory):
    pages_df, _pages, seeds = web
    wh_dir = str(tmp_path_factory.mktemp("pr_warehouse"))
    with CrawlEngine(spark, wh_dir, pages_df, CFG_PR) as eng:
        eng.init(seeds)
        metrics = eng.run(max_waves=N_WAVES)
        schedule = {
            (r["wave"], r["host"], r["rank"], r["url"])
            for r in eng.all_results().filter(F.col("rank").isNotNull()).collect()
        }
        seen = {r["url"] for r in eng.read_seen().collect()}
        texts = {
            r["url"]: r["text"]
            for r in eng.all_results().filter("status = 'ok'").collect()
        }
    return metrics, schedule, seen, texts


@pytest.fixture(scope="module")
def sim_run(web):
    _pdf, pages, seeds = web
    return simulate_crawl(pages, seeds, CFG_PR, max_waves=N_WAVES)


def test_pagerank_schedule_identical(engine_run, sim_run):
    _m, schedule, _s, _t = engine_run
    assert schedule == set(sim_run.schedule)


def test_pagerank_seen_and_texts_identical(engine_run, sim_run):
    _m, _sch, seen, texts = engine_run
    assert seen == sim_run.seen
    assert texts == sim_run.texts


def test_pagerank_wave_metrics_match(engine_run, sim_run):
    metrics, _sch, _s, _t = engine_run
    assert len(metrics) == len(sim_run.wave_counts)
    for m, s in zip(metrics, sim_run.wave_counts):
        for key in ("n_frontier_in", "n_unseen", "n_ok", "n_discovered",
                    "n_frontier_out", "n_seen_out"):
            assert getattr(m, key) == s[key], f"wave {m.wave}: {key}"


def _two_host_web(spark):
    """Two seed pages on a.example each linking into b.example; /p/zzz
    is linked from BOTH (in-degree 2), the rest from one. b.example has
    Crawl-delay 10 → budget 1/wave, so wave-2 selection order is the
    whole test."""

    def page(links=(), body="plain page body words here"):
        anchors = "".join(f'<a href="{u}">x</a>' for u in links)
        return f"<html><body><p>{body}</p>{anchors}</body></html>".encode()

    b = [f"http://b.example/p/{s}" for s in ("aa", "bb", "cc", "dd", "zzz")]
    rows = [
        ("http://b.example/robots.txt", b"User-agent: *\nCrawl-delay: 10\n", "text/plain"),
        ("http://a.example/s/1", page([b[0], b[1], b[2], b[4]]), "text/html"),
        ("http://a.example/s/2", page([b[3], b[4]]), "text/html"),
    ] + [(u, page(), "text/html") for u in b]
    pages_df = spark.createDataFrame(rows, "url string, html binary, content_type string")
    page_map = {r[0]: (r[1], r[2]) for r in rows}
    seeds = ["http://a.example/s/1", "http://a.example/s/2"]
    return pages_df, page_map, seeds


def test_high_indegree_overtakes_lexicographic(spark, tmp_path_factory):
    """The integration promise (operators/graph.py docstring): with
    pagerank ON, the doubly-linked /p/zzz is fetched FIRST from the
    throttled host despite sorting last lexicographically; with
    pagerank OFF it would be fetched last. Both engines stay
    simulator-identical."""
    pages_df, page_map, seeds = _two_host_web(spark)
    base = dict(
        wave_seconds=10, max_depth=2, salt_buckets=4,
        bloom_min_seen=1,
    )

    def first_b_fetch(cfg):
        wh = str(tmp_path_factory.mktemp("pr_two_host"))
        with CrawlEngine(spark, wh, pages_df, cfg) as eng:
            eng.init(seeds)
            eng.run(max_waves=2)
            rows = eng.all_results().filter(
                (F.col("host") == "b.example") & (F.col("rank") == 1)
            ).collect()
            sim = simulate_crawl(page_map, seeds, cfg, max_waves=2)
            sched = {
                (r["wave"], r["host"], r["rank"], r["url"])
                for r in eng.all_results().filter(F.col("rank").isNotNull()).collect()
            }
            assert sched == set(sim.schedule)
        assert len(rows) == 1  # budget 1 → exactly one b fetch in wave 2
        return rows[0]["url"]

    on = first_b_fetch(CrawlConfig(**base, pagerank_every=1))
    off = first_b_fetch(CrawlConfig(**base))
    assert on == "http://b.example/p/zzz"
    assert off == "http://b.example/p/aa"


def test_pagerank_spark_equals_python_mirror(spark):
    """pagerank_fixedpoint (Spark) and pagerank_fixedpoint_py (the
    simulator's mirror) are bit-identical on an irregular graph."""
    from downloader_spark.operators.graph import (
        pagerank_fixedpoint,
        pagerank_fixedpoint_py,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"),
        ("d", "a"), ("e", "c"), ("e", "f"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank_micro"] for r in pagerank_fixedpoint(df, iters=4).collect()
    }
    assert got == pagerank_fixedpoint_py(set(edges), iters=4)
