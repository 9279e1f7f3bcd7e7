"""Regression tests for the code-review findings: hostile-input
crashes, duplicate-page fan-out, mid-wave crash recovery, LSH geometry
validation."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.functions.urlnorm import canonicalize_url, validate_url
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.politeness import parse_robots
from downloader_spark.plans.wave import CrawlEngine
from downloader_spark.sources.pagegen import generate_web_graph


class TestHostileUrls:
    def test_out_of_range_port_rejected_not_crash(self):
        c = canonicalize_url("http://host:99999/")
        assert not c.valid and c.reason == "bad_port"
        c = canonicalize_url("http://host:8a/x")
        assert not c.valid

    def test_ipv6_stays_bracketed_and_roundtrips(self):
        c = canonicalize_url("http://[2606:4700::1111]/x")
        assert c.valid is False or c.url.startswith("http://[")
        # public IPv6 is valid and must re-canonicalize to itself
        if c.valid:
            again = canonicalize_url(c.url)
            assert again.valid and again.url == c.url

    def test_validate_survives_port_garbage(self):
        assert isinstance(validate_url("http://host:99999/").valid, bool)


class TestHostileRobots:
    def test_inf_crawl_delay(self):
        delay, dis = parse_robots("User-agent: *\nCrawl-delay: inf\n")
        assert delay is None or isinstance(delay, int)

    def test_huge_crawl_delay_clamped_to_int32(self):
        delay, _ = parse_robots("User-agent: *\nCrawl-delay: 9999999999\n")
        assert delay == 86400  # one-day clamp, fits int32

    def test_negative_clamped(self):
        delay, _ = parse_robots("User-agent: *\nCrawl-delay: -5\n")
        assert delay == 0

    def test_nan(self):
        # int(float('nan')) raises ValueError → unparseable, delay None
        delay, _ = parse_robots("User-agent: *\nCrawl-delay: nan\n")
        assert delay is None


class TestMinhashGeometry:
    def test_bands_must_divide(self, spark):
        from downloader_spark.operators.dedup import minhash_band_candidates

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            minhash_band_candidates(df, "doc_id", F.col("text"), num_hashes=64, bands=10)
        with pytest.raises(ValueError):
            minhash_band_candidates(df, "doc_id", F.col("text"), num_hashes=8, bands=16)


class TestDuplicatePages:
    def test_duplicate_url_captures_do_not_fan_out(self, spark, tmp_path):
        pages = generate_web_graph(spark, n_hosts=3, pages_per_host=5, seed=5)
        dup_pages = pages.unionByName(pages)  # every url captured twice
        cfg = CrawlConfig(wave_seconds=10, max_per_host_per_wave=5, max_depth=1)
        eng = CrawlEngine(spark, str(tmp_path / "wh"), dup_pages, cfg)
        seeds = [f"http://site{h:04d}.example/p/0" for h in range(3)]
        eng.init(seeds)
        m = eng.run_wave(1)
        assert m.n_ok == 3  # one result per url, not two
        res = eng.all_results()
        dups = res.groupBy("url", "wave").count().filter("count > 1").count()
        assert dups == 0


class TestCrashRecovery:
    def test_partial_wave_rolled_back(self, spark, tmp_path):
        """Orphan snapshots (wave committed results/seen but died before
        metrics) must be rolled back so the re-run equals a straight run."""
        pages = generate_web_graph(spark, n_hosts=4, pages_per_host=6, seed=9)
        cfg = CrawlConfig(wave_seconds=10, max_per_host_per_wave=3, max_depth=2)
        seeds = [f"http://site{h:04d}.example/p/0" for h in range(4)]

        # straight 2-wave run (ground truth)
        e1 = CrawlEngine(spark, str(tmp_path / "a"), pages, cfg)
        e1.init(seeds)
        e1.run(max_waves=2)

        # crashed run: wave 1 completes; wave 2 commits results+seen
        # then "dies" (no frontier/metrics commit)
        e2 = CrawlEngine(spark, str(tmp_path / "b"), pages, cfg)
        e2.init(seeds)
        e2.run(max_waves=1)
        fake = spark.createDataFrame([("http://poison.example/x",)], "url string")
        e2.wh.commit(fake, "seen", wave=2)
        fake_res = e2.wh.read(spark, "results").limit(1).withColumn(
            "wave", F.lit(2)
        )
        e2.wh.commit(fake_res, "results", wave=2)

        # recovery inside run(): orphans dropped, wave 2 re-runs cleanly
        e3 = CrawlEngine(spark, str(tmp_path / "b"), pages, cfg)
        dropped = e3.recover()
        assert set(dropped) == {"results", "seen"}
        e3.run(max_waves=1)

        seen_a = {r["url"] for r in e1.read_seen().collect()}
        seen_b = {r["url"] for r in e3.read_seen().collect()}
        assert seen_a == seen_b
        assert "http://poison.example/x" not in seen_b
        fa = {tuple(r) for r in e1.wh.read(spark, "frontier").collect()}
        fb = {tuple(r) for r in e3.wh.read(spark, "frontier").collect()}
        assert fa == fb
        sa = {
            (r["wave"], r["rank"], r["url"])
            for r in e1.all_results().filter(F.col("rank").isNotNull()).collect()
        }
        sb = {
            (r["wave"], r["rank"], r["url"])
            for r in e3.all_results().filter(F.col("rank").isNotNull()).collect()
        }
        assert sa == sb


def test_huge_wave_cap_does_not_kill_the_jvm(spark, tmp_path):
    """max_urls_per_wave=10^9 (an 'effectively uncapped' budget) used
    to compile to TakeOrderedAndProject with a 10^9-slot top-K
    allocation and crash the JVM outright; the session's
    topKSortFallbackThreshold must route huge caps to sort+limit."""
    from downloader_spark.plans.crawlconfig import CrawlConfig
    from downloader_spark.plans.wave import CrawlEngine
    from downloader_spark.sources.pagegen import generate_web_graph

    pages = generate_web_graph(spark, n_hosts=6, pages_per_host=6, seed=2)
    seeds = [f"http://site{h:04d}.example/p/0" for h in range(6)]
    cfg = CrawlConfig(
        wave_seconds=3600, max_per_host_per_wave=100,
        max_urls_per_wave=10**9, max_depth=1,
    )
    eng = CrawlEngine(spark, str(tmp_path / "wh_hugecap"), pages, cfg)
    eng.init(seeds)
    eng.run(max_waves=2)
    assert eng.all_results().count() > 0
    eng.close()
