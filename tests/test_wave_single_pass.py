"""A crawl wave computes each per-wave relation once: snapshot reads
carry their schema, canonicalization is one Python node, and the
wave-scoped caches are released whether the wave returns or raises."""

import re

import pytest
from pyspark import StorageLevel

from downloader_spark.functions.udfs import canonical_urls
from downloader_spark.functions.urlnorm import canonicalize_url
from downloader_spark.plans.crawlconfig import CrawlConfig
from downloader_spark.plans.wave import CrawlEngine
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
