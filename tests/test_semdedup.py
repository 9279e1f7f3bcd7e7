"""SemDeDup semantic dedup (operators/semdedup.py): exact-integer
assignment parity (Spark UDF ≡ Python mirror), determinism of the
build-time centroid fit, the keep-the-outlier keeper rule, and
end-to-end dedup behavior on a seeded clone corpus. The driver-oracle
parity itself is covered by tests/test_driver_contract.py
(semantic_dedup)."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from downloader_spark.operators.semdedup import (
    MICRO,
    assign_py,
    default_semdedup_centroids,
    fit_semdedup_centroids,
    make_nearest_centroid_exact_udf,
    micro_col,
    quantize_centroids,
    semantic_dedup,
)

EMB = "/root/testdata/sf0.01/embeddings.parquet"


def _micro(v):
    return [int(math.floor(float(x) * MICRO + 0.5)) for x in v]


def test_quantize_round_half_up():
    # floor(x+0.5), NOT banker's round: 0.5 micro goes UP, also for
    # the negative side (-0.0000005 -> 0 after +0.5 floor is 0? no:
    # floor(-0.5+0.5)=0, floor(-1.5+0.5)=-1) — pin the exact rule
    assert quantize_centroids([[0.0000005]]) == [[1]]
    assert quantize_centroids([[0.0000015]]) == [[2]]
    assert quantize_centroids([[-0.0000005]]) == [[0]]
    assert quantize_centroids([[-0.0000015]]) == [[-1]]


def test_fit_deterministic_and_cached():
    ids = list(range(12))
    vecs = [[(i * 7 + j * 3) % 5 - 2.0 for j in range(4)] for i in ids]
    a = fit_semdedup_centroids(ids, vecs, k=3, iters=3)
    b = fit_semdedup_centroids(ids, vecs, k=3, iters=3)
    assert a == b
    assert len(a) == 3 and all(len(c) == 4 for c in a)
    # the cached default fit returns the same object both times
    assert default_semdedup_centroids() is default_semdedup_centroids()


def test_assignment_parity_spark_vs_python(spark):
    emb = spark.read.parquet(EMB).limit(200)
    cents = default_semdedup_centroids()
    nearest = make_nearest_centroid_exact_udf(cents)
    got = {
        r["vec_id"]: r["cl"]
        for r in emb.select(
            "vec_id", nearest(micro_col(F.col("embedding"))).alias("cl")
        ).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows:
        assert got[r["vec_id"]] == assign_py(_micro(r["embedding"]), cents), r[
            "vec_id"
        ]


def test_assignment_tie_breaks_low_index():
    # two identical centroids: argmin must pick the lower index
    cents = [[5, 5], [5, 5], [0, 0]]
    assert assign_py([5, 5], cents) == 0
    assert assign_py([1, 1], cents) == 2


def test_semantic_dedup_drops_clones_keeps_outlier(spark):
    # 3 exact-duplicate groups + 2 singletons in one obvious cluster
    # geometry: centroids at +axis/-axis, docs hugging them
    base = [1.0, 0.0, 0.0, 0.0]
    rows = []
    for i in range(3):  # group A: ids 0,1,2 — near-identical
        v = list(base)
        v[1] = 0.001 * i  # id 2 is FARTHEST from the centroid
        rows.append((i, v))
    rows.append((10, [0.0, 1.0, 0.0, 0.0]))  # singleton
    rows.append((11, [0.0, 0.0, 1.0, 0.0]))  # singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = quantize_centroids(
        [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    )
    out = semantic_dedup(spark, df, cents, threshold=0.99).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 5
    # the clone group forms one component labelled by its min id
    assert {by_id[i]["component"] for i in (0, 1, 2)} == {0}
    # keeper = LOWEST cos_centroid (farthest from centroid) = id 2
    kept = [i for i in (0, 1, 2) if by_id[i]["keep"]]
    assert kept == [2]
    # singletons keep themselves
    assert by_id[10]["keep"] and by_id[10]["component"] == 10
    assert by_id[11]["keep"] and by_id[11]["component"] == 11
    # exactly one keeper per component
    comps = {}
    for r in out:
        comps.setdefault(r["component"], 0)
        comps[r["component"]] += int(r["keep"])
    assert all(v == 1 for v in comps.values())


def test_semantic_dedup_seeded_corpus_recall(spark):
    # the seeded sf0.01 corpus: every 50th vector has a +0.25 clone at
    # cosine ~0.99; with build-time centroids most clone pairs land in
    # the same cluster and must dedup (keep exactly one of the pair)
    emb = spark.read.parquet(EMB).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x + F.lit(0.25)).otherwise(x)
        ).alias("embedding"),
    )
    seeded = emb.unionByName(pert)
    cents = default_semdedup_centroids()
    out = semantic_dedup(spark, seeded, cents, threshold=0.9)
    rows = {r["vec_id"]: r for r in out.collect()}
    clone_src = [i for i in rows if i >= 1000000]
    assert clone_src, "seeded corpus must contain clones"
    same_cluster = [
        i for i in clone_src if rows[i]["cluster"] == rows[i - 1000000]["cluster"]
    ]
    # co-clustered clone pairs MUST merge into one component with one keeper
    for i in same_cluster:
        assert rows[i]["component"] == rows[i - 1000000]["component"]
        assert int(rows[i]["keep"]) + int(rows[i - 1000000]["keep"]) == 1
    # and co-clustering itself should catch most pairs at this scale
    assert len(same_cluster) >= 0.6 * len(clone_src), (
        len(same_cluster),
        len(clone_src),
    )


def test_semantic_dedup_string_ids_and_zero_norm(spark):
    """String ids run end to end (the edge kernel keeps the id type),
    and a zero-norm vector has no edges: it is its own kept component,
    with a null cosine to its centroid."""
    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0]),
        ("b", [1.0, 0.01, 0.0, 0.0]),  # farther from the centroid
        ("y", [0.0, 0.0, 0.0, 0.0]),
        ("z", [0.0, 0.0, 0.0, 0.0]),
        ("w", [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cents = quantize_centroids([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    by_id = {
        r["vec_id"]: r
        for r in semantic_dedup(spark, df, cents, threshold=0.99).collect()
    }
    assert set(by_id) == {"a", "b", "y", "z", "w"}
    assert by_id["a"]["component"] == by_id["b"]["component"] == "a"
    assert [i for i in "ab" if by_id[i]["keep"]] == ["b"]
    for i in "yzw":
        assert by_id[i]["component"] == i and by_id[i]["keep"]
    assert by_id["y"]["cos_centroid"] is None
