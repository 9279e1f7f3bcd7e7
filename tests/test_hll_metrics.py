"""Per-wave HLL registers in wave metrics (VERDICT r4 #6): each wave
stores the sketch of ITS discovered urls; the engine's running
estimate merges them by elementwise register max, which must equal the
sketch of the union of every wave's discovered set — the lossless-merge
property, checked register-exact against an independent reconstruction
of the discovered union."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.functions.sketch import hll_registers
from downloader_spark.functions.urlnorm import canonicalize_url
from downloader_spark.htmlx.convert import extract_page
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine
from downloader_spark.sources.pagegen import generate_web_graph

M = 256
CFG = CrawlConfig(
    wave_seconds=10**6, max_per_host_per_wave=10**6,
    max_depth=10,  # deeper than the crawl → every ok page's links count
    bloom_min_seen=1,
    hll_metrics_m=M,
)


def test_merged_sketch_equals_sketch_of_union(spark, tmp_path):
    pages_df = generate_web_graph(spark, n_hosts=6, pages_per_host=10, seed=23)
    rows = pages_df.collect()
    page_map = {r["url"]: (bytes(r["html"]), r["content_type"]) for r in rows}
    seeds = [f"http://site{h:04d}.example/p/0" for h in range(6)]

    with CrawlEngine(spark, str(tmp_path / "wh"), pages_df, CFG) as eng:
        eng.init(seeds)
        metrics = eng.run(max_waves=3)
        assert len(metrics) == 3
        est = eng.distinct_discovered_estimate()

        # every wave's metrics row carries a full register vector
        per_wave = []
        for s in eng.wh.snapshots("metrics"):
            regs = eng.wh.read(spark, "metrics", s["id"]).select("hll_regs").collect()[0][0]
            assert len(regs) == M
            per_wave.append(list(regs))

        # independent truth: union of valid canonical links over every
        # ok-fetched page (max_depth never bites at this crawl depth)
        ok_urls = {
            r["url"] for r in eng.all_results().filter("status = 'ok'").collect()
        }

    union = set()
    for u in ok_urls:
        html, ct = page_map[u]
        ex = extract_page(html, ct, u, with_links=True,
                          link_cap=CFG.max_links_per_page)
        for link in ex.links:
            c = canonicalize_url(link)
            if c.valid:
                union.add(c.url)
    assert union, "test corpus produced no links"

    truth_df = spark.createDataFrame([(u,) for u in sorted(union)], "url string")
    truth_regs = [0] * M
    for r in hll_registers(truth_df, F.col("url"), m=M).collect():
        truth_regs[int(r["register_id"])] = int(r["max_rho"])

    # lossless merge: engine's elementwise max over per-wave sketches
    # == direct sketch of the union, register for register
    assert est["registers"] == truth_regs
    merged = [max(col) for col in zip(*per_wave)]
    assert merged == truth_regs

    # and the estimate lands where a 256-register HLL should
    assert est["est_distinct"] == pytest.approx(len(union), rel=0.25)


def test_hll_metrics_validation():
    with pytest.raises(ValueError, match="hll_metrics_m"):
        CrawlConfig(hll_metrics_m=100)
    with pytest.raises(ValueError, match="disabled"):
        # engine-side accessor refuses when the sketch is off
        from downloader_spark.plans.wave import CrawlEngine as _E

        class _FakeWh:
            pass

        eng = _E.__new__(_E)
        eng.cfg = CrawlConfig()
        eng.distinct_discovered_estimate()
