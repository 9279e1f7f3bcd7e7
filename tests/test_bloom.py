"""Partitioned Bloom filter: no false negatives, bounded FPs, OR-merge,
and Spark-probe ≡ Python-oracle-probe."""

from downloader_spark.plans.bloom import (
    bloom_contains_py,
    bloom_maybe_seen,
    build_bloom,
    merge_blooms,
)

GEO = dict(num_buckets=8, bits_per_bucket=1 << 14, num_hashes=5)


def test_no_false_negatives_and_fp_bound(spark):
    seen_urls = [f"http://h{i % 20}.example/p/{i}" for i in range(2000)]
    other_urls = [f"http://h{i % 20}.example/q/{i}" for i in range(2000)]
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    bloom = build_bloom(seen, **GEO)
    cand = spark.createDataFrame(
        [(u,) for u in seen_urls + other_urls], "url string"
    )
    probed = bloom_maybe_seen(cand, bloom, **GEO)
    rows = {r["url"]: r["maybe_seen"] for r in probed.collect()}
    # every member must probe positive
    assert all(rows[u] for u in seen_urls)
    # false positives bounded (m=16Ki bits/bucket, n≈250/bucket, k=5 → ≪1%)
    fp = sum(rows[u] for u in other_urls)
    assert fp / len(other_urls) < 0.02, fp


def test_python_probe_matches_spark(spark):
    urls = [f"http://h{i}.example/x/{i}" for i in range(500)]
    seen = spark.createDataFrame([(u,) for u in urls], "url string")
    bloom = build_bloom(seen, **GEO)
    bits = {r["bucket"]: bytes(r["bits"]) for r in bloom.collect()}
    cand = urls[:50] + [f"http://h{i}.example/y/{i}" for i in range(50)]
    cdf = spark.createDataFrame([(u,) for u in cand], "url string")
    spark_res = {
        r["url"]: r["maybe_seen"]
        for r in bloom_maybe_seen(cdf, bloom, **GEO).collect()
    }
    for u in cand:
        assert bloom_contains_py(bits, u, **GEO) == spark_res[u], u


def test_merge_is_union(spark):
    a_urls = [f"http://a.example/{i}" for i in range(300)]
    b_urls = [f"http://b.example/{i}" for i in range(300)]
    a = build_bloom(spark.createDataFrame([(u,) for u in a_urls], "url string"), **GEO)
    b = build_bloom(spark.createDataFrame([(u,) for u in b_urls], "url string"), **GEO)
    merged = merge_blooms(a, b)
    bits = {r["bucket"]: bytes(r["bits"]) for r in merged.collect()}
    for u in a_urls + b_urls:
        assert bloom_contains_py(bits, u, **GEO), u


def test_cogroup_probe_equals_broadcast_probe(spark):
    """The bucket-local (cogroup) probe and the broadcast probe are the
    same filter: identical maybe_seen for every row on a multi-bucket
    geometry, including buckets with no candidates and candidates whose
    bucket has no bitmap row."""
    from downloader_spark.plans.bloom import bloom_maybe_seen_cogroup

    geo = dict(num_buckets=8, bits_per_bucket=1 << 12, num_hashes=4)
    seen = spark.createDataFrame(
        [(f"http://h{i % 13}.example/s/{i}",) for i in range(400)], "url string"
    )
    cands = spark.createDataFrame(
        [(f"http://h{i % 13}.example/s/{i}",) for i in range(0, 800, 2)]
        + [(f"http://new{i}.example/x",) for i in range(100)],
        "url string",
    )
    bloom = build_bloom(seen, **geo).cache()
    # drop one bucket's bitmap row entirely: candidates hashed there
    # must come back definitely-unseen on BOTH paths
    bloom_partial = bloom.filter("bucket <> 3")

    for b in (bloom, bloom_partial):
        bc = {(r["url"]): r["maybe_seen"] for r in bloom_maybe_seen(cands, b, **geo).collect()}
        cg = {(r["url"]): r["maybe_seen"] for r in bloom_maybe_seen_cogroup(cands, b, **geo).collect()}
        assert bc == cg
        # no false negatives on the full bitmap
        if b is bloom:
            for i in range(0, 400, 2):
                assert bc[f"http://h{i % 13}.example/s/{i}"] is True
    bloom.unpersist()


def test_engine_cogroup_probe_mode_equals_broadcast_mode(spark, tmp_path):
    """The cogroup probe (forced with a zero broadcast budget) must crawl
    EXACTLY like the default broadcast probe: same statuses, same seen
    set, same wave metrics — the probe path is an implementation detail
    of the seen filter."""
    from downloader_spark.plans.crawlconfig import CrawlConfig
    from downloader_spark.plans.wave import CrawlEngine
    from downloader_spark.sources.pagegen import generate_web_graph

    pages = generate_web_graph(spark, n_hosts=6, pages_per_host=10, seed=5)
    seeds = [f"http://site{h:04d}.example/p/0" for h in range(6)]
    runs = {}
    budgets = {"broadcast": {}, "cogroup": {"bloom_broadcast_max": 0}}
    for mode, budget in budgets.items():
        cfg = CrawlConfig(
            wave_seconds=10, max_per_host_per_wave=4, max_depth=2,
            bloom_min_seen=1, **budget,
        )
        eng = CrawlEngine(spark, str(tmp_path / f"wh_{mode}"), pages, cfg)
        eng.init(seeds)
        metrics = eng.run(max_waves=3)
        res = {
            (r["url"],): (r["status"], r["wave"])
            for r in eng.all_results().collect()
        }
        seen = {r["url"] for r in eng.read_seen().collect()}
        runs[mode] = (res, seen, [vars(m) for m in metrics])
        # which probe ran: only the broadcast path collects the bitmap
        assert (eng._filter_bc is None) == (mode == "cogroup"), mode
        eng.close()
    assert runs["broadcast"] == runs["cogroup"]


def test_bloom_probe_validation_and_auto_geometry():
    """The probe path is chosen by the filter's size under the sizing
    rule: a test-scale filter fits the broadcast budget, and a 10^10-url
    filter exceeds it, so the engine must never collect it to the
    driver (cogroup)."""
    from downloader_spark.plans.crawlconfig import CrawlConfig
    from downloader_spark.plans.seenfilter import geometry, nbytes

    budget = CrawlConfig().bloom_broadcast_max
    for kind in ("bloom", "cuckoo"):
        assert nbytes(kind, geometry(kind, 10_000)) <= budget
        assert nbytes(kind, geometry(kind, 10**10)) > budget
