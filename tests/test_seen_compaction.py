"""Seen-table compaction: the append-only union must stay semantically
identical through a compaction cycle, and the crawl must keep working."""

from pyspark.sql import functions as F

from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine
from downloader_spark.sources.pagegen import generate_web_graph


def test_compaction_preserves_seen_and_crawl(spark, tmp_path):
    cfg = CrawlConfig(
        wave_seconds=10,
        max_per_host_per_wave=3,
        max_depth=2,
        seen_compact_every=2,  # force compaction nearly every wave
        bloom_min_seen=1,
    )
    pages = generate_web_graph(spark, n_hosts=5, pages_per_host=8, seed=3)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), pages, cfg)
    seeds = [f"http://site{h:04d}.example/p/0" for h in range(5)]
    eng.init(seeds)

    seen_progression = []
    for w in range(1, 5):
        m = eng.run_wave(w)
        urls = {r["url"] for r in eng.read_seen().collect()}
        # metadata total must equal the actual distinct union
        assert len(urls) == m.n_seen_out
        # monotone growth, no losses through compaction
        if seen_progression:
            assert seen_progression[-1] <= urls
        seen_progression.append(urls)

    # compaction actually happened (snapshot history was collapsed)
    assert len(eng.wh.snapshots("seen")) <= 3
    # a crawled url is never re-scheduled after compaction
    res = eng.all_results().filter(F.col("rank").isNotNull())
    per_url = res.groupBy("url").count().filter("count > 1")
    rescheduled = per_url.join(
        res.filter("status = 'ok'").select("url").distinct(), "url", "inner"
    )
    assert rescheduled.count() == 0


def test_crash_between_compaction_and_metrics_recovers(spark, tmp_path, monkeypatch):
    """ADVICE r1 (medium): compaction used to expire the pre-wave seen
    snapshots BEFORE the wave's metrics commit marker — a crash in that
    window made recover() roll back the compaction while its inputs
    were already deleted, silently losing the entire seen set. The fix
    defers expiry to _gc_seen (post-metrics); recovery must restore the
    exact pre-wave seen set."""
    import pytest

    from downloader_spark.sources.snapshots import SnapshotWarehouse

    cfg = CrawlConfig(
        wave_seconds=10,
        max_per_host_per_wave=3,
        max_depth=2,
        seen_compact_every=2,  # every wave triggers a compaction
        bloom_min_seen=1,
    )
    pages = generate_web_graph(spark, n_hosts=5, pages_per_host=8, seed=3)
    eng = CrawlEngine(spark, str(tmp_path / "wh"), pages, cfg)
    eng.init([f"http://site{h:04d}.example/p/0" for h in range(5)])
    eng.run_wave(1)
    pre_seen = {r["url"] for r in eng.read_seen().collect()}
    assert pre_seen  # wave 1 produced terminal urls

    orig = SnapshotWarehouse.commit

    def crash_on_marker(self, df, table, **kw):
        if table == "metrics":
            raise RuntimeError("simulated crash before commit marker")
        return orig(self, df, table, **kw)

    monkeypatch.setattr(SnapshotWarehouse, "commit", crash_on_marker)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.run_wave(2)  # compacts seen mid-wave, dies before metrics
    monkeypatch.undo()

    dropped = eng.recover()
    assert dropped.get("seen"), "wave-2 seen snapshots must roll back"
    post_seen = {r["url"] for r in eng.read_seen().collect()}
    assert post_seen == pre_seen  # nothing lost, nothing extra
    # and the crawl continues: re-running wave 2 completes normally
    m2 = eng.run_wave(2)
    assert m2.n_seen_out >= len(pre_seen)
    eng.close()


def test_compaction_layout_is_keyed_by_url(spark, tmp_path):
    """The compaction snapshot is hash-partitioned by url at the
    shuffle width, so every partition of a 128-wide shuffle over 600
    urls holds rows and the write is one file per partition. A bounded
    bucket key (pmod(xxhash64(url), 64)) would cap it at 64 files."""
    cfg = CrawlConfig(seen_compact_every=2, bloom_min_seen=10**9, dedupe_pages=False)
    pages = spark.createDataFrame([], "url string, html binary")
    eng = CrawlEngine(spark, str(tmp_path / "wh"), pages, cfg)
    eng._n_shuffle = lambda n_rows=None: 128
    urls = [f"http://site{i % 7:04d}.example/p/{i}" for i in range(600)]
    for wave, part in ((1, urls[:300]), (2, urls[300:])):
        eng._append_seen(spark.createDataFrame([(u,) for u in part], "url string"), wave)
    snap = eng.wh.snapshots("seen")[-1]
    assert snap.get("kind") == "compaction" and snap["n_rows"] == 600
    assert snap["n_partitions"] > 64
