"""Pre-frontier URL quality gate in the crawl engine (CrawlConfig.
url_filter — the RefinedWeb §3.1 placement: filter discovered links
BEFORE they enter the frontier): engine ≡ simulator parity with the
gate ON and actually firing (blocklist names real generated hosts;
keyword weights hit real generated paths), plus the
gate-changes-the-crawl sanity check and the Python-mirror unit
contract."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from downloader_spark.crawl.simulator import simulate_crawl
from downloader_spark.functions.urlquality import url_keep_py
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine
from downloader_spark.sources.pagegen import generate_web_graph

# the generated graph uses host names like site0003.example and paths
# like /p/17 — the blocklist and weights below fire on real links
CFG = CrawlConfig(
    wave_seconds=10,
    max_per_host_per_wave=5,
    max_depth=2,
    salt_buckets=4,
    bloom_min_seen=1,
    url_filter=True,
    url_blocklist=("site0002.example", "site0005.example"),
    url_word_weights=(("/p/1", 3), ("/p/2", 2), ("/p/3", 2)),
    url_score_block=3,
)
N_WAVES = 3


@pytest.fixture(scope="module")
def web(spark):
    pages_df = generate_web_graph(spark, n_hosts=8, pages_per_host=12, seed=11)
    rows = pages_df.collect()
    pages = {r["url"]: (bytes(r["html"]), r["content_type"]) for r in rows}
    # include a SEED on a blocked host: seeds are not filtered (the
    # operator chose them), only discovered links are
    seeds = sorted(pages)[:6] + ["http://site0002.example/p/0"]
    return pages_df, pages, seeds


@pytest.fixture(scope="module")
def engine_run(spark, web, tmp_path_factory):
    pages_df, pages, seeds = web
    wh_dir = str(tmp_path_factory.mktemp("wh_urlf"))
    eng = CrawlEngine(spark, wh_dir, pages_df, CFG)
    eng.init(seeds)
    metrics = eng.run(max_waves=N_WAVES)
    return eng, metrics


@pytest.fixture(scope="module")
def sim_run(web):
    _, pages, seeds = web
    return simulate_crawl(pages, seeds, CFG, max_waves=N_WAVES)


def test_metrics_match_with_gate(engine_run, sim_run):
    _, metrics = engine_run
    assert len(metrics) == len(sim_run.wave_counts)
    for m, s in zip(metrics, sim_run.wave_counts):
        for key in (
            "n_frontier_in", "n_unseen", "n_denied", "n_ok",
            "n_missing_retry", "n_failed", "n_too_large",
            "n_discovered", "n_frontier_out", "n_seen_out",
        ):
            assert getattr(m, key) == s[key], f"wave {m.wave}: {key}"


def test_ordering_seen_statuses_match(spark, engine_run, sim_run):
    eng, _ = engine_run
    res = eng.all_results()
    got = {
        (r["wave"], r["host"], r["rank"], r["url"])
        for r in res.filter(F.col("rank").isNotNull()).collect()
    }
    assert got == set(sim_run.schedule)
    seen = {r["url"] for r in eng.read_seen().collect()}
    assert seen == sim_run.seen


def test_gate_actually_fires(spark, engine_run, sim_run, web):
    """The gate must CHANGE the crawl (otherwise this parity test
    proves nothing): no DISCOVERED url on a blocked host or with a
    blocking score may appear in the frontier — but the blocked-host
    SEED must still have been fetched (seeds bypass the gate)."""
    eng, _ = engine_run
    res = eng.all_results().collect()
    domains, weights, block_at = CFG.resolved_url_filter()
    fetched = {r["url"] for r in res if r["status"] == "ok"}
    assert "http://site0002.example/p/0" in fetched  # the seeded one
    for r in res:
        if r["url"].startswith("http://site0002.example") and r["depth"] > 0:
            raise AssertionError(f"blocked-host link entered frontier: {r['url']}")
    # and the keyword score dropped at least one real link: the
    # unfiltered run discovers more urls than the gated one
    pages_df, pages, seeds = web
    base_cfg = CrawlConfig(**{**CFG.__dict__, "url_filter": False})
    base = simulate_crawl(pages, seeds, base_cfg, max_waves=N_WAVES)
    gated_disc = sum(c["n_discovered"] for c in sim_run.wave_counts)
    base_disc = sum(c["n_discovered"] for c in base.wave_counts)
    assert gated_disc < base_disc, (gated_disc, base_disc)


def test_url_keep_py_contract():
    domains = ["bad.example"]
    weights = {"spamword": 3, "mild": 1}
    assert not url_keep_py("http://x.bad.example/a", "x.bad.example", domains, weights, 3)
    assert not url_keep_py("http://bad.example/a", "bad.example", domains, weights, 3)
    assert url_keep_py("http://notbad.example/a", "notbad.example", domains, weights, 3)
    assert not url_keep_py("http://ok.example/spamword", "ok.example", domains, weights, 3)
    assert url_keep_py("http://ok.example/mild", "ok.example", domains, weights, 3)
    assert url_keep_py("http://ok.example/", "ok.example", domains, weights, 3)
