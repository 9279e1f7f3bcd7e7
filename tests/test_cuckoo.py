"""Cuckoo filter: no false negatives, bounded FP rate, DELETION
(the capability Bloom lacks — why the north rule says "bloom/cuckoo"),
and Spark-path ≡ pure-Python-oracle parity."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.plans.cuckoo import (
    build_cuckoo,
    cuckoo_contains_py,
    cuckoo_maybe_seen_cogroup,
    cuckoo_remove,
)

GEO = dict(num_buckets=4, table_rows=1 << 10, slots_per_row=4)
PROBE_GEO = {k: GEO[k] for k in ("num_buckets", "table_rows", "slots_per_row")}


def _urls(spark, lo, hi, tag="p"):
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("http://site"), (F.col("id") % 50).cast("string"),
            F.lit(f".example/{tag}/"), F.col("id").cast("string"),
        ).alias("url")
    )


@pytest.fixture(scope="module")
def built(spark):
    seen = _urls(spark, 0, 5000)
    filt = build_cuckoo(seen, **GEO).cache()
    filt.count()
    return filt


def test_no_false_negatives(spark, built):
    probed = cuckoo_maybe_seen_cogroup(_urls(spark, 0, 5000), built, **PROBE_GEO)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_false_positive_rate_bounded(spark, built):
    unseen = _urls(spark, 100_000, 120_000)
    n_fp = cuckoo_maybe_seen_cogroup(unseen, built, **PROBE_GEO).filter(
        "maybe_seen"
    ).count()
    # 16-bit fingerprints, 2 rows x 4 slots: theoretical FP ~ 8/2^16
    # ~ 0.012%; assert a loose 0.5% so the test never flakes
    assert n_fp / 20_000 < 0.005, n_fp


def test_deletion_restores_unseen(spark, built):
    """Delete members → they probe false again (Bloom cannot do this);
    non-deleted members keep the no-false-negative guarantee."""
    removed = cuckoo_remove(built, _urls(spark, 0, 1000), **PROBE_GEO)
    gone = cuckoo_maybe_seen_cogroup(_urls(spark, 0, 1000), removed, **PROBE_GEO)
    # a deleted url can still collide with a REMAINING member's
    # fingerprint in a shared row — bounded by the FP rate, not exact 0
    assert gone.filter("maybe_seen").count() <= 5
    kept = cuckoo_maybe_seen_cogroup(_urls(spark, 1000, 5000), removed, **PROBE_GEO)
    assert kept.filter(~F.col("maybe_seen")).count() == 0


def test_python_oracle_parity(spark, built):
    filt = {
        int(r["bucket"]): (bytes(r["table"]), bytes(r["stash"]))
        for r in built.collect()
    }
    sample = _urls(spark, 4900, 5100).collect()  # straddles seen/unseen
    probed = {
        r["url"]: r["maybe_seen"]
        for r in cuckoo_maybe_seen_cogroup(
            _urls(spark, 4900, 5100), built, **PROBE_GEO
        ).collect()
    }
    for r in sample:
        assert cuckoo_contains_py(filt, r["url"], **PROBE_GEO) == probed[r["url"]], r["url"]


def test_stash_overflow_keeps_no_false_negatives(spark):
    """Overfill a tiny table (capacity 32 x 2 = 64 slots, 300 inserts):
    the overflow lands in the stash and lookups still never miss."""
    geo = dict(num_buckets=1, table_rows=32, slots_per_row=2)
    seen = _urls(spark, 0, 300, tag="s")
    filt = build_cuckoo(seen, **geo)
    pg = {k: geo[k] for k in geo}
    probed = cuckoo_maybe_seen_cogroup(_urls(spark, 0, 300, tag="s"), filt, **pg)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    stash_len = len(bytes(filt.collect()[0]["stash"])) // 2
    assert stash_len >= 300 - 64  # everything homeless went to the stash


def test_fp_row_collision_survives_deletion(spark):
    """ADVICE r3 (medium): distinct urls that collide on (fingerprint,
    primary row) must keep SEPARATE slot copies — deduping inserts on
    (fp, i1) let cuckoo_remove of one such url delete the other's ONLY
    copy, a false negative after a valid deletion. Construct a real
    collision with the oracle arithmetic and pin the contract."""
    from downloader_spark.functions.hashing import xxh64_str
    from downloader_spark.plans.cuckoo import _MASK64

    rows = 2  # tiny row space → birthday collision within a few hundred urls
    by_key: dict[tuple[int, int], list[str]] = {}
    pair = None
    for i in range(20_000):
        url = f"http://c.example/x/{i}"
        hi = xxh64_str(url + "\x02") & _MASK64
        hf = xxh64_str(url + "\x03") & _MASK64
        key = (hf % 65535 + 1, hi % rows)
        by_key.setdefault(key, []).append(url)
        if len(by_key[key]) == 2:
            pair = by_key[key]
            break
    assert pair is not None, "no (fp, i1) collision found in 20k urls"
    a, b = pair
    geo = dict(num_buckets=1, table_rows=rows, slots_per_row=4)
    seen = spark.createDataFrame([(a,), (b,)], "url string")
    filt = build_cuckoo(seen, **geo)
    # both stored: two copies of the same fingerprint in the same row
    removed = cuckoo_remove(filt, spark.createDataFrame([(a,)], "url string"), **geo)
    kept = cuckoo_maybe_seen_cogroup(
        spark.createDataFrame([(b,)], "url string"), removed, **geo
    )
    assert kept.filter(~F.col("maybe_seen")).count() == 0, (
        "deleting one of two (fp,i1)-colliding urls false-negatived the other"
    )
    # the SAME url duplicated still inserts once (set semantics)
    dup = build_cuckoo(
        spark.createDataFrame([(a,), (a,)], "url string"), **geo
    ).collect()[0]
    import numpy as np
    stored = np.frombuffer(bytes(dup["table"]), dtype=np.uint16)
    assert int((stored != 0).sum()) + len(bytes(dup["stash"])) // 2 == 1


def test_duplicated_removal_rows_delete_once(spark):
    """A url listed TWICE in the removals must delete exactly one
    stored copy — the second row would otherwise clear a colliding
    member's copy (deleting a non-member). Uses the constructed
    (fp, i1) collision so the hazard is real, not probabilistic."""
    from downloader_spark.functions.hashing import xxh64_str
    from downloader_spark.plans.cuckoo import _MASK64

    rows = 2
    by_key: dict[tuple[int, int], list[str]] = {}
    pair = None
    for i in range(20_000):
        url = f"http://c.example/x/{i}"
        hi = xxh64_str(url + "\x02") & _MASK64
        hf = xxh64_str(url + "\x03") & _MASK64
        key = (hf % 65535 + 1, hi % rows)
        by_key.setdefault(key, []).append(url)
        if len(by_key[key]) == 2:
            pair = by_key[key]
            break
    assert pair is not None
    a, b = pair
    geo = dict(num_buckets=1, table_rows=rows, slots_per_row=4)
    filt = build_cuckoo(spark.createDataFrame([(a,), (b,)], "url string"), **geo)
    removed = cuckoo_remove(
        filt, spark.createDataFrame([(a,), (a,)], "url string"), **geo
    )
    kept = cuckoo_maybe_seen_cogroup(
        spark.createDataFrame([(b,)], "url string"), removed, **geo
    )
    assert kept.filter(~F.col("maybe_seen")).count() == 0


def test_randomized_delete_workload_no_false_negatives(spark):
    """Seeded random churn: build over U, delete three random disjoint
    member batches in sequence, probe the survivors after EVERY
    deletion — zero false negatives each time (the contract the
    (hi,hf)-pair dedup fix protects under fingerprint collisions,
    which a 2-row table makes frequent)."""
    import random

    rng = random.Random(99)
    urls = [f"http://r{rng.randint(0, 9)}.example/d/{i}" for i in range(3000)]
    urls = sorted(set(urls))
    geo = dict(num_buckets=2, table_rows=1 << 2, slots_per_row=4)  # tiny rows
    # tiny table → heavy (fp, i1) collision pressure; stash absorbs
    filt = build_cuckoo(spark.createDataFrame([(u,) for u in urls], "url string"), **geo)
    remaining = set(urls)
    for _ in range(3):
        batch = set(rng.sample(sorted(remaining), len(remaining) // 3))
        filt = cuckoo_remove(
            filt, spark.createDataFrame([(u,) for u in sorted(batch)], "url string"),
            **geo,
        )
        remaining -= batch
        probed = cuckoo_maybe_seen_cogroup(
            spark.createDataFrame([(u,) for u in sorted(remaining)], "url string"),
            filt, **geo,
        )
        n_fn = probed.filter(~F.col("maybe_seen")).count()
        assert n_fn == 0, f"{n_fn} false negatives among {len(remaining)} members"


def test_power_of_two_enforced(spark):
    with pytest.raises(ValueError, match="power of two"):
        build_cuckoo(_urls(spark, 0, 10), num_buckets=1, table_rows=1000)


def test_engine_cuckoo_seen_filter_equals_bloom(spark, tmp_path):
    """CrawlConfig.seen_filter='cuckoo' must crawl EXACTLY like the
    bloom filter (and like no filter at all): the approximate filter is
    an anti-join accelerator, never a semantics change — same statuses,
    same seen set, same wave metrics."""
    from downloader_spark.plans.crawlconfig import CrawlConfig
    from downloader_spark.plans.wave import CrawlEngine
    from downloader_spark.sources.pagegen import generate_web_graph

    pages = generate_web_graph(spark, n_hosts=6, pages_per_host=10, seed=5)
    seeds = [f"http://site{h:04d}.example/p/0" for h in range(6)]
    runs = {}
    for mode in ("bloom", "cuckoo"):
        cfg = CrawlConfig(
            wave_seconds=10, max_per_host_per_wave=4, max_depth=2,
            bloom_min_seen=1, seen_filter=mode,
        )
        eng = CrawlEngine(spark, str(tmp_path / f"wh_{mode}"), pages, cfg)
        eng.init(seeds)
        metrics = eng.run(max_waves=3)
        res = {
            r["url"]: (r["status"], r["wave"])
            for r in eng.all_results().collect()
        }
        seen = {r["url"] for r in eng.read_seen().collect()}
        # the cuckoo mode must actually have built+used its filter
        if mode == "cuckoo":
            assert eng.wh.snapshots("cuckoo"), "cuckoo table never committed"
            assert not eng.wh.snapshots("bloom"), "bloom built in cuckoo mode"
        runs[mode] = (res, seen, [vars(m) for m in metrics])
        eng.close()
    assert runs["bloom"] == runs["cuckoo"]


def test_seen_filter_validation():
    import pytest as _pytest

    from downloader_spark.plans.crawlconfig import CrawlConfig

    with _pytest.raises(ValueError, match="seen_filter"):
        CrawlConfig(seen_filter="cuckooo")
