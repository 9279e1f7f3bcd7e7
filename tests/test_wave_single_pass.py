"""A crawl wave computes each per-wave relation once: snapshot reads
carry their schema, out-links are canonicalized inside the extract
pass, the seen probe runs on discovered links only (the frontier is
disjoint from seen by construction), the metrics marker is built
without Python, and the wave-scoped caches are released whether the
wave returns or raises."""

import re
import sys

import pytest
from pyspark import StorageLevel

from downloader_spark.functions.udfs import canonical_urls, make_crawl_extract_udf
from downloader_spark.functions.urlnorm import canonicalize_url
from downloader_spark.htmlx.convert import extract_page
from downloader_spark.plans import wave
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine, _metrics_row
from downloader_spark.sources.pagegen import generate_web_graph

SEEDS = [f"http://site{h:04d}.example/p/0" for h in range(4)]


def _engine(spark, path, **cfg):
    pages = generate_web_graph(spark, n_hosts=4, pages_per_host=6, seed=9)
    base = dict(wave_seconds=10, max_per_host_per_wave=3, max_depth=2)
    return CrawlEngine(spark, path, pages, CrawlConfig(**{**base, **cfg}))


def _persistent_ids(spark):
    """Ids of the session's persistent RDDs. A leak shows as a new id
    (ids are never reused); the count alone is not a stable baseline,
    because RDDs left unreachable by earlier work can drop out of the
    map at any GC, including one during the wave being measured."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    out = set()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def test_wave_snapshot_reads_match_parquet_schema(spark, tmp_path):
    eng = _engine(
        spark, str(tmp_path / "wh"),
        bloom_min_seen=1, pagerank_every=1, hll_metrics_m=16,
    )
    seeds = SEEDS + ["ftp://not-a-crawl-url/"]  # one invalid seed → results
    with eng:
        eng.init(seeds)
        eng.run(max_waves=3)
        tables = {"results", "seen", "bloom", "frontier", "metrics", "links", "ranks", "robots"}
        for table in sorted(tables):
            snaps = eng.wh.snapshots(table)
            assert snaps, table
            for s in snaps:
                assert "schema" in s, table
                got = eng.wh.read(spark, table, s["id"]).schema
                want = spark.read.parquet(eng.wh._snap_dir(table, s["id"])).schema
                assert got == want, (table, s["id"])


def test_run_wave_releases_its_caches(spark, tmp_path):
    eng = _engine(spark, str(tmp_path / "wh"), bloom_min_seen=1)
    with eng:
        eng.init(SEEDS)
        eng.run_wave(1)  # materializes the engine's deduped-pages cache
        before = _persistent_ids(spark)
        eng.run_wave(2)
        assert _persistent_ids(spark) - before == set()
        # the engine-owned pages cache outlives the wave
        assert eng._pages_base.storageLevel != StorageLevel.NONE

        # a wave that raises (here: at the metrics marker) releases too
        commit = eng.wh.commit

        def failing_commit(df, table, *a, **kw):
            if table == "metrics":
                raise RuntimeError("injected failure before the marker")
            return commit(df, table, *a, **kw)

        eng.wh.commit = failing_commit
        with pytest.raises(RuntimeError, match="injected"):
            eng.run_wave(3)
        assert _persistent_ids(spark) - before == set()
        assert eng._pages_base.storageLevel != StorageLevel.NONE


def test_canonical_urls_is_one_python_node(spark):
    raw = [
        "http://EXAMPLE.com:80/a?b=2&a=1#frag",
        "file:///etc/passwd",
        "http://127.0.0.1/x",
        None,
        "https://example.org",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(raw)], "i int, raw string")
    out = canonical_urls(df, "raw")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # "formatted" lists every node twice; count the numbered details
    python_nodes = re.findall(
        r"\(\d+\) (ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow)",
        plan,
    )
    assert len(python_nodes) == 1, python_nodes
    assert out.columns == ["i", "raw", "url_canonical", "host"]
    want = set()
    for i, u in enumerate(raw):
        c = canonicalize_url(u)
        if c.valid:
            want.add((i, u, c.url, c.host))
    assert {tuple(r) for r in out.collect()} == want
    assert len(want) == 2


LINK_PAGE = b"""<html><body><main><p>Links page with enough words to count as body.</p>
<a href="mailto:someone@example.com">mail</a>
<a href="javascript:void(0)">js</a>
<a href="ftp://files.example.com/x">ftp</a>
<a href="http://127.0.0.1/admin">loopback</a>
<a href="/relative/path?b=2&a=1">relative</a>
<a href="../up">up</a>
<a href="http://UPPER.Example.COM/Path">upper</a>
<a href="https://example.org/page#section">fragment</a>
<a href="http://example.net:80/port">default port</a>
<a href="http://upper.example.com/Path">same canonical url as upper</a>
<a href="#top">top</a>
</main></body></html>"""


def test_crawl_extract_canonicalizes_links_in_the_extract_pass(spark):
    base = "http://Site.example/dir/page.html"
    df = spark.createDataFrame(
        [(0, base, LINK_PAGE, "text/html"), (1, base, None, "text/html")],
        "i int, url string, html binary, content_type string",
    )
    ex = make_crawl_extract_udf(max_links=64)
    rows = {
        r["i"]: r["ex"]
        for r in df.select("i", ex("url", "html", "content_type").alias("ex")).collect()
    }
    raw = extract_page(LINK_PAGE, "text/html", base, with_links=True, link_cap=64).links
    want = [c for link in raw if (c := canonicalize_url(link)).valid]
    assert [(x["url_canonical"], x["host"]) for x in rows[0]["links"]] == [
        (c.url, c.host) for c in want
    ]
    assert rows[0]["n_links"] == len(raw)
    # the battery exercises both drops: links extract_page never emits
    # (mailto/javascript/ftp/fragment-only) and links canonicalize_url
    # rejects (loopback)
    assert 0 < len(want) < len(raw) < 11
    assert rows[1]["links"] == [] and rows[1]["n_links"] == 0


def test_wave_probes_only_discovered_links_and_frontier_stays_disjoint(
    spark, tmp_path, monkeypatch
):
    eng = _engine(spark, str(tmp_path / "wh"), bloom_min_seen=1, pagerank_every=1)
    with eng:
        eng.init(SEEDS)

        def no_canonical_pass(*a, **kw):
            raise AssertionError("a wave ran the canonical_urls pass")

        monkeypatch.setattr(wave, "canonical_urls", no_canonical_pass)
        callers = []
        probe = eng._filter_unseen

        def recording_probe(df, keep=None):
            callers.append(sys._getframe(1).f_code.co_name)
            return probe(df, keep)

        monkeypatch.setattr(eng, "_filter_unseen", recording_probe)
        for w in (1, 2, 3):
            m = eng.run_wave(w)
            assert m.n_unseen == m.n_frontier_in > 0, w
            frontier = eng.wh.read(spark, "frontier")
            assert frontier.join(eng.read_seen(), "url", "left_semi").isEmpty(), w
        # one probe per wave, of the discovered links (in _finish_wave);
        # the Bloom filter is live from wave 2 on, so the probe ran
        assert callers == ["_finish_wave"] * 3
        assert eng.wh.snapshots("bloom")


def test_reinit_drops_seeds_already_seen(spark, tmp_path):
    """Re-init keeps the live frontier, adds only unseen seeds, and
    commits no second empty seen snapshot."""
    eng = _engine(spark, str(tmp_path / "wh"))
    with eng:
        eng.init(SEEDS)
        eng.run_wave(1)
        seen = {r.url for r in eng.read_seen().collect()}
        seeds = SEEDS + [f"http://site{h:04d}.example/p/5" for h in range(2)]
        canon = {canonicalize_url(s).url for s in seeds}
        assert {canonicalize_url(s).url for s in SEEDS} <= seen
        assert canon - seen
        live = {r.url for r in eng.wh.read(spark, "frontier").collect()}
        n_seen_snaps = len(eng.wh.snapshots("seen"))
        eng.init(seeds)
        frontier = {r.url for r in eng.wh.read(spark, "frontier").collect()}
        assert frontier == live | (canon - seen)
        assert len(eng.wh.snapshots("seen")) == n_seen_snaps


def test_metrics_marker_schema_is_the_inferred_one(spark):
    row = {"wave": 2, "n_ok": 5, "n_seen_out": 9, "hll_regs": [0, 3, 1, 7]}
    got = _metrics_row(spark, row)
    assert got.schema == spark.createDataFrame([row]).schema
    assert got.collect()[0].asDict() == row
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Scan ExistingRDD" not in plan, plan
