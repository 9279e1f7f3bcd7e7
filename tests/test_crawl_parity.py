"""North-rule parity gate: Spark crawl engine ≡ single-node simulator.

Same seed list + politeness budget ⇒ identical crawl ordering
(wave, host, rank, url), URL-seen set, final statuses, and
byte-identical extracted text per url (BASELINE.json).
"""

import pytest
from pyspark.sql import functions as F

from downloader_spark.crawl.simulator import simulate_crawl
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine
from downloader_spark.sources.pagegen import generate_web_graph

CFG = CrawlConfig(
    wave_seconds=10,
    max_per_host_per_wave=5,
    max_depth=2,
    salt_buckets=4,
    bloom_min_seen=1,  # exercise the Bloom path even at test scale
    max_content_bytes=6000,  # small cap so some pages hit 'too_large'
    max_urls_per_wave=15,  # exercise the global wave budget (P6)
)
N_WAVES = 4


@pytest.fixture(scope="module")
def web(spark):
    pages_df = generate_web_graph(spark, n_hosts=8, pages_per_host=12, seed=11)
    rows = pages_df.collect()
    pages = {r["url"]: (bytes(r["html"]), r["content_type"]) for r in rows}
    seeds = sorted(pages)[:6] + [
        "http://site0000.example/p/0",
        "http://missing-host.example/nope",  # never fetchable → retry → failed
        "file:///etc/passwd",  # invalid seed
    ]
    return pages_df, pages, seeds


@pytest.fixture(scope="module")
def engine_run(spark, web, tmp_path_factory):
    pages_df, pages, seeds = web
    wh_dir = str(tmp_path_factory.mktemp("warehouse"))
    eng = CrawlEngine(spark, wh_dir, pages_df, CFG)
    eng.init(seeds)
    metrics = eng.run(max_waves=N_WAVES)
    return eng, metrics


@pytest.fixture(scope="module")
def sim_run(web):
    _, pages, seeds = web
    return simulate_crawl(pages, seeds, CFG, max_waves=N_WAVES)


def test_wave_metrics_match(engine_run, sim_run):
    _, metrics = engine_run
    assert len(metrics) == len(sim_run.wave_counts)
    for m, s in zip(metrics, sim_run.wave_counts):
        for key in (
            "n_frontier_in",
            "n_unseen",
            "n_denied",
            "n_ok",
            "n_missing_retry",
            "n_failed",
            "n_too_large",
            "n_discovered",
            "n_frontier_out",
            "n_seen_out",
        ):
            assert getattr(m, key) == s[key], f"wave {m.wave}: {key}"


def test_crawl_ordering_identical(spark, engine_run, sim_run):
    eng, _ = engine_run
    res = eng.all_results()
    got = {
        (r["wave"], r["host"], r["rank"], r["url"])
        for r in res.filter(F.col("rank").isNotNull()).collect()
    }
    assert got == set(sim_run.schedule)


def test_seen_set_identical(spark, engine_run, sim_run):
    eng, _ = engine_run
    seen = {r["url"] for r in eng.read_seen().collect()}
    assert seen == sim_run.seen


def test_final_statuses_identical(spark, engine_run, sim_run):
    eng, _ = engine_run
    rows = eng.all_results().collect()
    final = {}
    for r in sorted(rows, key=lambda r: r["wave"]):
        final[r["url"]] = r["status"]
    sim_final = {
        u: s for u, s in sim_run.statuses.items() if s != "invalid"
    }
    # engine records invalid seeds under the RAW url; compare separately
    assert {u: s for u, s in final.items() if s != "invalid"} == sim_final
    assert any(s == "invalid" for s in final.values()) == any(
        s == "invalid" for s in sim_run.statuses.values()
    )


def test_extracted_text_byte_identical(spark, engine_run, sim_run):
    eng, _ = engine_run
    rows = eng.all_results().filter("status = 'ok'").select("url", "text").collect()
    assert len(rows) == len(sim_run.texts)
    for r in rows:
        assert r["text"] == sim_run.texts[r["url"]], r["url"]


def test_resume_from_snapshot(spark, web, tmp_path_factory):
    """Kill after wave k, resume, final state identical to a straight run."""
    pages_df, pages, seeds = web
    d1 = str(tmp_path_factory.mktemp("wh_straight"))
    d2 = str(tmp_path_factory.mktemp("wh_resumed"))

    e1 = CrawlEngine(spark, d1, pages_df, CFG)
    e1.init(seeds)
    e1.run(max_waves=3)

    e2 = CrawlEngine(spark, d2, pages_df, CFG)
    e2.init(seeds)
    e2.run(max_waves=2)
    # "restart": fresh engine object over the same warehouse
    e3 = CrawlEngine(spark, d2, pages_df, CFG)
    assert e3.next_wave == 3
    e3.run(max_waves=1)

    seen1 = {r["url"] for r in e1.read_seen().collect()}
    seen2 = {r["url"] for r in e3.read_seen().collect()}
    assert seen1 == seen2
    f1 = {tuple(r) for r in e1.wh.read(spark, "frontier").collect()}
    f2 = {tuple(r) for r in e3.wh.read(spark, "frontier").collect()}
    assert f1 == f2
    s1 = {
        (r["wave"], r["rank"], r["url"])
        for r in e1.all_results().filter(F.col("rank").isNotNull()).collect()
    }
    s2 = {
        (r["wave"], r["rank"], r["url"])
        for r in e3.all_results().filter(F.col("rank").isNotNull()).collect()
    }
    assert s1 == s2


def test_custom_headers_carried_through(spark, web, tmp_path_factory):
    """§1.1 custom_headers (reference models/responses.py:37): per-seed
    headers ride frontier → fetch → results (including through a retry
    re-enqueue); discovered links get NULL. Engine ≡ simulator."""
    from downloader_spark.crawl.simulator import simulate_crawl

    pages, page_map, _seeds = web
    hdrs = {"X-Auth": "tok-1", "Accept-Language": "de"}
    seeds = [
        ("http://site0000.example/p/0", hdrs),
        "http://site0001.example/p/0",
        ("http://site0000.example/p/999", {"X-Retry": "yes"}),  # missing → retry
    ]
    cfg = CrawlConfig(wave_seconds=10, max_per_host_per_wave=5, max_depth=1)
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("wh_hdr")), pages, cfg)
    eng.init(seeds)
    eng.run(max_waves=4)
    sim = simulate_crawl(page_map, seeds, cfg, max_waves=4)

    rows = {
        r["url"]: (r["status"], r["custom_headers"], r["wave"])
        for r in eng.all_results().collect()
    }
    st, got_hdrs, _ = rows["http://site0000.example/p/0"]
    assert st == "ok" and got_hdrs == hdrs
    assert rows["http://site0001.example/p/0"][1] is None
    # the missing seed retries max_attempts times, keeping its headers
    st, got_hdrs, wave = rows["http://site0000.example/p/999"]
    assert st == "failed" and got_hdrs == {"X-Retry": "yes"} and wave >= cfg.max_attempts
    # engine ≡ simulator on headers observed at fetch time
    for url, h in sim.headers.items():
        assert rows[url][1] == h, url
    # discovered (non-seed) results carry NULL headers
    seed_urls = {"http://site0000.example/p/0", "http://site0001.example/p/0",
                 "http://site0000.example/p/999"}
    for url, (st_, h, _) in rows.items():
        if url not in seed_urls:
            assert h is None, url
    eng.close()


def test_duplicate_seed_headers_first_wins(spark, web, tmp_path_factory):
    """Seeds canonicalizing to the SAME url but carrying different
    custom_headers dedupe deterministically first-wins by seed order
    (ADVICE r2: dropDuplicates kept an arbitrary row) — engine ≡
    simulator for this input class."""
    from downloader_spark.crawl.simulator import simulate_crawl

    pages, page_map, _seeds = web
    seeds = [
        ("http://site0000.example/p/0", {"X-Tag": "first"}),
        ("http://site0000.example/p/0", {"X-Tag": "second"}),
        ("http://SITE0000.example/p/0#frag", {"X-Tag": "third"}),  # same canonical
        "http://site0001.example/p/0",
        ("http://site0001.example/p/0", {"X-Tag": "late"}),  # headerless seed came first
    ]
    cfg = CrawlConfig(wave_seconds=10, max_per_host_per_wave=5, max_depth=0)
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("wh_dupseed")), pages, cfg)
    eng.init(seeds)
    eng.run(max_waves=2)
    sim = simulate_crawl(page_map, seeds, cfg, max_waves=2)
    rows = {r["url"]: r["custom_headers"] for r in eng.all_results().collect()}
    assert rows["http://site0000.example/p/0"] == {"X-Tag": "first"}
    assert rows["http://site0001.example/p/0"] is None
    for url, h in sim.headers.items():
        assert rows[url] == h, url
    eng.close()


def test_accelerator_flags_never_change_semantics(spark, tmp_path_factory):
    """No approximate filter (bloom_min_seen above any seen size: pure
    exact anti-join) and broadcast_robots=False
    (shuffle robots join) must crawl EXACTLY like the defaults: these
    flags pick physical strategies, never semantics — the same contract
    the bloom-probe-mode and cuckoo-mode tests pin for their axes."""
    pages = generate_web_graph(spark, n_hosts=6, pages_per_host=10, seed=9)
    seeds = [f"http://site{h:04d}.example/p/0" for h in range(6)]
    variants = {
        "default": {},
        "no_filter": {"bloom_min_seen": 10**12},
        "shuffle_robots": {"broadcast_robots": False},
    }
    runs = {}
    for name, overrides in variants.items():
        cfg = CrawlConfig(**{
            "wave_seconds": 10, "max_per_host_per_wave": 4, "max_depth": 2,
            "bloom_min_seen": 1, **overrides,
        })
        eng = CrawlEngine(
            spark, str(tmp_path_factory.mktemp(f"wh_{name}")), pages, cfg
        )
        eng.init(seeds)
        metrics = eng.run(max_waves=3)
        # the variant is real: only no_filter builds no Bloom table
        assert bool(eng.wh.snapshots("bloom")) == (name != "no_filter"), name
        runs[name] = (
            {r["url"]: (r["status"], r["wave"]) for r in eng.all_results().collect()},
            {r["url"] for r in eng.read_seen().collect()},
            [vars(m) for m in metrics],
        )
        eng.close()
    assert runs["default"] == runs["no_filter"] == runs["shuffle_robots"]


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_resized_from_seen_set(spark, web, sim_run, tmp_path, monkeypatch, kind):
    """The seen filter is sized from the seen total: with no headroom
    and a 16-byte bucket budget it spans several buckets and is rebuilt
    at a new geometry as the seen set grows, and the crawl still equals
    the simulator (cuckoo through the cogroup probe). A filter snapshot
    with no stored geometry (the layout before geometry was stored)
    takes the full-build path even where a merge would otherwise run."""
    import dataclasses

    from downloader_spark.plans import seenfilter
    from downloader_spark.plans import wave as wave_mod

    pages_df, _pages, seeds = web
    cfg = dataclasses.replace(
        CFG, seen_filter=kind, bloom_broadcast_max=0 if kind == "cuckoo" else CFG.bloom_broadcast_max
    )
    monkeypatch.setattr(seenfilter, "HEADROOM", 1)
    monkeypatch.setattr(seenfilter, "BUCKET_BYTES", 16)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), pages_df, cfg)
    eng.init(seeds)
    metrics = [eng.run_wave(w) for w in (1, 2)]
    monkeypatch.setattr(seenfilter, "HEADROOM", 10)
    metrics.append(eng.run_wave(3))
    snaps = eng.wh.snapshots(kind)
    geos = {tuple(sorted(s["geometry"].items())) for s in snaps}
    assert len(geos) >= 2, snaps
    assert max(s["geometry"]["num_buckets"] for s in snaps) >= 2
    # without its geometry, the wave-3 filter would be merged into
    assert snaps[-1]["capacity"] >= metrics[-1].n_seen_out * 2
    eng.wh.commit(
        eng.wh.read(spark, kind), kind, wave=3, extra={"covered": snaps[-1]["covered"]}
    )
    merged = []
    for name in ("merge_blooms", "merge_cuckoos"):
        orig = getattr(wave_mod, name)
        monkeypatch.setattr(
            wave_mod, name, lambda *a, _orig=orig, **kw: merged.append(1) or _orig(*a, **kw)
        )
    metrics.append(eng.run_wave(4))
    assert not merged
    assert "geometry" in eng.wh.snapshots(kind)[-1]

    for m, s in zip(metrics, sim_run.wave_counts, strict=True):
        assert {k: vars(m)[k] for k in s} == s
    assert {r["url"] for r in eng.read_seen().collect()} == sim_run.seen
    eng.close()
