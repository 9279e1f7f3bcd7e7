"""SQ8-quantized IVF list payload (operators/similarity.py, VERDICT r5
#3): codebook fit, exact round-trip bounds, Python ≡ Spark encode
parity, and recall of the quantized+reranked probe vs the float path
on the seeded corpus. embedding_knn_ivf2's exact-oracle config is
untouched (CLAUDE.md invariant 5)."""

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from downloader_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    fit_sq8,
    ivf_probe,
    sq8_decode_col,
    sq8_decode_py,
    sq8_encode_col,
    sq8_encode_py,
)

EMB = "/root/testdata/sf0.01/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(EMB).cache()
    df.count()
    yield df
    df.unpersist()


def test_fit_sq8_bounds(spark, emb):
    params = fit_sq8(emb)
    dim = len(emb.select(F.size("embedding")).first()[0] * [0])
    assert len(params["vmin"]) == len(params["span"])
    assert all(s > 0 for s in params["span"])
    # every corpus value encodes inside [-128, 127] without clamping
    codes = emb.select(
        sq8_encode_col(F.col("embedding"), params).alias("c")
    ).select(
        F.array_min("c").alias("lo"), F.array_max("c").alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).first()
    assert -128 <= codes["lo"] and codes["hi"] <= 127


def test_roundtrip_error_bounded_and_pinned(emb):
    params = fit_sq8(emb)
    import pyarrow.parquet as pq

    vecs = pq.read_table(EMB, columns=["embedding"]).column(
        "embedding"
    ).to_pylist()[:50]
    for v in vecs:
        codes = sq8_encode_py(v, params)
        assert all(-128 <= c <= 127 for c in codes)
        back = sq8_decode_py(codes, params)
        for x, xb, sp in zip(v, back, params["span"]):
            # half-up rounding: reconstruction within half a code step
            assert abs(float(x) - xb) <= sp / 255.0 / 2.0 + 1e-9
    # pin the affine map on a hand vector: vmin -> code -128 -> vmin
    hand = {"vmin": [0.0, -1.0], "span": [2.0, 2.0]}
    assert sq8_encode_py([0.0, -1.0], hand) == [-128, -128]
    assert sq8_encode_py([2.0, 1.0], hand) == [127, 127]
    assert sq8_decode_py([-128, -128], hand) == [0.0, -1.0]
    # midpoint: (1-0)*255/2 + 0.5 = 128.0 -> floor 128 -> shifted 0
    assert sq8_encode_py([1.0, 0.0], hand) == [0, 0]


def test_spark_encode_decode_matches_python(spark, emb):
    params = fit_sq8(emb)
    rows = (
        emb.limit(20)
        .select(
            "vec_id",
            "embedding",
            sq8_encode_col(F.col("embedding"), params).alias("codes"),
        )
        .withColumn("back", sq8_decode_col(F.col("codes"), params))
        .collect()
    )
    for r in rows:
        assert list(r["codes"]) == sq8_encode_py(r["embedding"], params), r[
            "vec_id"
        ]
        py_back = sq8_decode_py(r["codes"], params)
        for a, b in zip(r["back"], py_back):
            assert a == pytest.approx(b, abs=1e-12)


def test_quantized_index_stores_int8_and_sidecar(spark, emb, tmp_path):
    path = str(tmp_path / "ivf_sq8")
    index = build_ivf_index(
        emb, n_centroids=8, iters=2, path=path, quantize="sq8"
    )
    assert index.sq8 is not None
    schema = dict(index.assigned.dtypes)
    assert schema["ccode"] == "array<tinyint>"
    assert "cvec" not in schema
    with open(os.path.join(path, "_sq8.json")) as fh:
        side = json.load(fh)
    assert side["vmin"] == index.sq8["vmin"]
    assert side["span"] == index.sq8["span"]


def test_quantized_probe_recall_vs_float_path(spark, emb, tmp_path):
    qry = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(emb, qry, k=5).collect()
    }
    index = build_ivf_index(
        emb,
        n_centroids=8,
        iters=2,
        path=str(tmp_path / "ivf_sq8"),
        quantize="sq8",
    )
    # nprobe = all lists isolates the QUANTIZATION effect from the
    # partial-probe effect; rerank against full precision
    got_rerank = {
        (r["query_id"], r["cand_id"])
        for r in ivf_probe(
            index, qry, k=5, nprobe=8, rerank_from=emb
        ).collect()
    }
    recall = len(exact & got_rerank) / len(exact)
    assert recall >= 0.97, f"reranked recall {recall}"
    # reconstruction-only (no rerank) must already be close — the
    # re-rank is a refinement, not a rescue
    got_raw = {
        (r["query_id"], r["cand_id"])
        for r in ivf_probe(index, qry, k=5, nprobe=8).collect()
    }
    raw_recall = len(exact & got_raw) / len(exact)
    assert raw_recall >= 0.85, f"reconstruction-only recall {raw_recall}"


def test_float_path_unchanged_without_quantize(spark, emb, tmp_path):
    index = build_ivf_index(
        emb, n_centroids=8, iters=2, path=str(tmp_path / "ivf_f")
    )
    assert index.sq8 is None
    assert "cvec" in dict(index.assigned.dtypes)


def test_load_ivf_index_roundtrip(spark, emb, tmp_path):
    from downloader_spark.operators.similarity import load_ivf_index

    qry = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for name, quant in (("f", None), ("q", "sq8")):
        path = str(tmp_path / f"ivf_{name}")
        built = build_ivf_index(
            emb, n_centroids=8, iters=2, path=path, quantize=quant
        )
        loaded = load_ivf_index(spark, path)
        assert loaded.centroids == built.centroids
        assert loaded.sq8 == built.sq8
        a = sorted(
            map(tuple, ivf_probe(
                built, qry, k=3, nprobe=8, rerank_from=emb
            ).collect())
        )
        b = sorted(
            map(tuple, ivf_probe(
                loaded, qry, k=3, nprobe=8, rerank_from=emb
            ).collect())
        )
        assert a == b


# ---------------------------------------------------------------------------
# SQ8 on the TWO-LEVEL index (round-6): same codebook, tree layout
# ---------------------------------------------------------------------------


def test_ivf2_quantized_build_load_probe(spark, emb, tmp_path):
    from downloader_spark.operators.similarity import (
        build_ivf2_index,
        ivf2_probe,
        load_ivf2_index,
    )

    qry = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf2_sq8")
    built = build_ivf2_index(
        emb, n_coarse=3, n_sub=3, iters=2, path=path, quantize="sq8"
    )
    assert built.sq8 is not None
    schema = dict(built.assigned.dtypes)
    assert schema["ccode"] == "array<tinyint>" and "cvec" not in schema
    # sidecars reopen the tree identically
    loaded = load_ivf2_index(spark, path)
    assert loaded.coarse == built.coarse
    assert loaded.subs == built.subs
    assert loaded.n_sub == built.n_sub
    assert loaded.sq8 == built.sq8
    a = sorted(
        map(tuple, ivf2_probe(
            built, qry, k=3, wprobe=3, nprobe=9, rerank_from=emb
        ).collect())
    )
    b = sorted(
        map(tuple, ivf2_probe(
            loaded, qry, k=3, wprobe=3, nprobe=9, rerank_from=emb
        ).collect())
    )
    assert a == b


def test_ivf2_quantized_recall_vs_exact(spark, emb, tmp_path):
    from downloader_spark.operators.similarity import (
        build_ivf2_index,
        ivf2_probe,
    )

    qry = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(emb, qry, k=5).collect()
    }
    index = build_ivf2_index(
        emb,
        n_coarse=3,
        n_sub=3,
        iters=2,
        path=str(tmp_path / "ivf2_sq8r"),
        quantize="sq8",
    )
    # probe-all isolates the quantization effect; rerank refines
    got = {
        (r["query_id"], r["cand_id"])
        for r in ivf2_probe(
            index, qry, k=5, wprobe=3, nprobe=9, rerank_from=emb
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.97, f"ivf2 sq8+rerank recall {recall}"


def test_ivf2_float_path_unchanged(spark, emb):
    from downloader_spark.operators.similarity import build_ivf2_index

    index = build_ivf2_index(emb, n_coarse=3, n_sub=3, iters=1, persist=False)
    assert index.sq8 is None
    assert "cvec" in dict(index.assigned.dtypes)


# ---------------------------------------------------------------------------
# Product quantization (round-6): m one-byte codes per vector (IVF-PQ)
# ---------------------------------------------------------------------------


def test_fit_pq_shapes_and_validation(spark, emb):
    from downloader_spark.operators.similarity import fit_pq

    pq = fit_pq(emb, m=8, ks=16, iters=1)
    assert pq["m"] == 8 and pq["dsub"] == 8  # dim 64 / m 8
    assert len(pq["codebooks"]) == 8
    assert all(len(cb) == pq["ks"] for cb in pq["codebooks"])
    assert all(len(c) == 8 for cb in pq["codebooks"] for c in cb)
    with pytest.raises(ValueError):
        fit_pq(emb, m=7, ks=16)  # 64 % 7 != 0
    with pytest.raises(ValueError):
        fit_pq(emb, m=8, ks=257)  # code must fit one byte


def test_pq_encode_decode_spark_matches_python(spark, emb):
    from downloader_spark.operators.similarity import (
        fit_pq,
        make_pq_decode_udf,
        make_pq_encode_udf,
        pq_decode_py,
        pq_encode_py,
    )

    pq = fit_pq(emb, m=16, ks=32, iters=2)
    rows = (
        emb.limit(20)
        .select(
            "vec_id",
            "embedding",
            make_pq_encode_udf(pq)(F.col("embedding")).alias("codes"),
        )
        .withColumn("back", make_pq_decode_udf(pq)(F.col("codes")))
        .collect()
    )
    for r in rows:
        codes = list(r["codes"])
        assert all(-128 <= c <= 127 for c in codes)
        assert codes == pq_encode_py(r["embedding"], pq), r["vec_id"]
        py_back = pq_decode_py(codes, pq)
        assert len(py_back) == len(r["back"])
        for a, b in zip(r["back"], py_back):
            assert a == pytest.approx(b, abs=1e-12)


def test_pq_index_stores_bytes_sidecar_and_loads(spark, emb, tmp_path):
    from downloader_spark.operators.similarity import load_ivf_index

    path = str(tmp_path / "ivf_pq")
    index = build_ivf_index(
        emb, n_centroids=8, iters=2, path=path, quantize="pq",
        pq_m=16, pq_ks=32,
    )
    assert index.pq is not None and index.sq8 is None and index.quantized
    schema = dict(index.assigned.dtypes)
    assert schema["ccode"] == "array<tinyint>" and "cvec" not in schema
    with open(os.path.join(path, "_pq.json")) as fh:
        side = json.load(fh)
    assert side["m"] == 16 and side["codebooks"] == index.pq["codebooks"]
    loaded = load_ivf_index(spark, path)
    assert loaded.pq == index.pq
    qry = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, ivf_probe(
        index, qry, k=3, nprobe=8, rerank_from=emb, rerank_factor=8
    ).collect()))
    b = sorted(map(tuple, ivf_probe(
        loaded, qry, k=3, nprobe=8, rerank_from=emb, rerank_factor=8
    ).collect()))
    assert a == b


def test_pq_probe_recall_with_rerank(spark, emb, tmp_path):
    """PQ is the LOSSIEST payload (m bytes per vector) and the
    synthetic near-orthogonal corpus is its worst case — the refine
    step is what makes it usable, exactly as published (measured here:
    raw reconstruction recall ~0.58, reranked 0.99 at m=16/ks=32/
    factor 8)."""
    qry = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(emb, qry, k=5).collect()
    }
    index = build_ivf_index(
        emb, n_centroids=8, iters=2, path=str(tmp_path / "ivf_pqr"),
        quantize="pq", pq_m=16, pq_ks=32,
    )
    got = {
        (r["query_id"], r["cand_id"])
        for r in ivf_probe(
            index, qry, k=5, nprobe=8, rerank_from=emb, rerank_factor=8
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"pq+rerank recall {recall}"
    raw = {
        (r["query_id"], r["cand_id"])
        for r in ivf_probe(index, qry, k=5, nprobe=8).collect()
    }
    raw_recall = len(exact & raw) / len(exact)
    assert raw_recall >= 0.4, f"pq reconstruction-only recall {raw_recall}"


def test_sq8_rerank_skips_zero_vector(spark, emb, tmp_path):
    """A zero-norm vector has no cosine: as an index candidate (through
    the rerank) or as a query it is never a neighbour, and the probe
    neither raises DIVIDE_BY_ZERO under ANSI nor emits a non-finite
    score."""
    zero_id = 10**6
    dim = len(emb.select("embedding").first()[0])
    small = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    zero = spark.createDataFrame(
        [(zero_id, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    corpus = small.unionByName(zero)
    index = build_ivf_index(
        corpus, n_centroids=4, iters=2, path=str(tmp_path / "ivf_zero"),
        quantize="sq8",
    )
    qry = corpus.filter((F.col("vec_id") % 10 == 0) | (F.col("vec_id") == zero_id)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # nprobe = every list and a factor past the corpus size: the zero
    # vector survives the approximate pass and reaches the rerank
    rows = ivf_probe(
        index, qry, k=3, nprobe=4, rerank_from=corpus, rerank_factor=100
    ).collect()
    assert rows
    assert all(math.isfinite(r["cosine"]) for r in rows)
    assert zero_id not in {r["cand_id"] for r in rows}
    assert zero_id not in {r["query_id"] for r in rows}
    per_query = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert set(per_query.values()) == {3}
    assert len(per_query) == qry.count() - 1


# ---------------------------------------------------------------------------
# Quantized probe outputs pinned: the sha256 of the sorted (query_id,
# cand_id, cosine, rnk) rows of twelve configurations, captured when the
# quantized probes still ran a pair join and a HOF-scored rerank. The
# Arrow-kernel probe must reproduce them bit for bit.
# ---------------------------------------------------------------------------

_SQ8_PARTIAL = "2b9e4342d498e773f7ff8d8b61fbbba926919c5de057b9f5c5d5d12014359be6"
_SQ8_PARTIAL_RR = "591109ccd4abd1883b824e2acbe37a131fb311109fbe3e2a85d6c9df8c4e0430"
_SQ8_FULL = "317d1e9318618320b7623ac7b2698e00e885d29ebf3b604a4f3c771cc9a4f94b"
_SQ8_FULL_RR = "7d757e6c35c1cf0d9593449353399ea5a76d0878964f8750b1a1fd62b17bd6aa"

#: (index kind, stored, probe, rerank) -> sha256. A full tree probe
#: scores every candidate on the same SQ8 codes as a full flat probe,
#: so the two share their pins.
QUANT_PINS = {
    ("sq8", False, 3, False): _SQ8_PARTIAL,
    ("sq8", False, 8, True): _SQ8_FULL_RR,
    ("sq8", True, 3, True): _SQ8_PARTIAL_RR,
    ("sq8", True, 8, False): _SQ8_FULL,
    ("pq", False, 3, True): "d7385efe22950360fef57a1b690cdb07ec2df7cac58a3d964a60df957b7ffdbf",
    ("pq", False, 8, False): "6af20853657294d1fd4db957b8852ea336220ccd18a3884f5cf691f2f9cfd6b2",
    ("pq", True, 3, False): "4bc1fba885c93c43e2851e3852c40549b8e36b81f93f8eaddfd4a10feb404719",
    ("pq", True, 8, True): "f2a54973bd6dec162a46f6262d456e917e2d2f2bffab7c78948ed0a694e14362",
    ("tree", False, (2, 4), False): "d289d956fadb8da92da6312d944cc1c95e47053f9e69d4216b067975ea739e5f",
    ("tree", False, (3, 9), True): _SQ8_FULL_RR,
    ("tree", True, (2, 4), True): "31cdef2e1fa0629f99f5f5776d41f6f34128ce996854bbe432878b3474794395",
    ("tree", True, (3, 9), False): _SQ8_FULL,
}


def test_quantized_probe_outputs_pinned(spark, emb, tmp_path):
    """20 queries, k=5: flat SQ8 and PQ (m=16, ks=32) over 8 lists and
    the SQ8 tree (3 cells × 3 subs), in-memory and stored, partial and
    full probe, without and with the full-precision rerank (factor 4
    for SQ8, 8 for PQ)."""
    import hashlib

    from downloader_spark.operators.similarity import build_ivf2_index, ivf2_probe

    qry = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {}
    for kind in ("sq8", "pq", "tree"):
        for stored in (False, True):
            path = str(tmp_path / f"{kind}_{int(stored)}") if stored else None
            if kind == "tree":
                index = build_ivf2_index(
                    emb, n_coarse=3, n_sub=3, iters=2, path=path, quantize="sq8"
                )
            else:
                extra = {"pq_m": 16, "pq_ks": 32} if kind == "pq" else {}
                index = build_ivf_index(
                    emb, n_centroids=8, iters=2, path=path, quantize=kind, **extra
                )
            for (k_, s_, probe, rerank) in QUANT_PINS:
                if (k_, s_) != (kind, stored):
                    continue
                rr = {}
                if rerank:
                    rr = {"rerank_from": emb, "rerank_factor": 8 if kind == "pq" else 4}
                if kind == "tree":
                    df = ivf2_probe(
                        index, qry, k=5, wprobe=probe[0], nprobe=probe[1], **rr
                    )
                else:
                    df = ivf_probe(index, qry, k=5, nprobe=probe, **rr)
                rows = sorted(tuple(r) for r in df.collect())
                assert len(rows) == 100
                got[(kind, stored, probe, rerank)] = hashlib.sha256(
                    repr(rows).encode()
                ).hexdigest()
            index.close()
    assert got == QUANT_PINS


def test_rerank_survivor_cut_ranks_raw_cosine(spark):
    """The survivor pass of a quantized rerank keeps each query's
    k·rerank_factor best candidates by RAW reconstruction cosine, then
    cand_id. A and B tie at 6 digits (0.996509) and differ by 1.8e-8
    exactly at the cut: k=1, rerank_factor=2, and X is the clear best.
    B's raw cosine is higher, so B survives with X; a survivor pass
    rounded to 6 digits would tie them and keep A, the lower id. In the
    full-precision table X is worse than both, so the rerank's answer
    is whichever of A and B survived.

    Every vector is integral and the corpus spans [0, 255] in every
    dimension, so the SQ8 codebook is vmin 0, span 255 and each
    reconstruction equals its vector exactly."""
    q = [100.0, 120.0, 140.0, 160.0]
    a = [90.0, 130.0, 152.0, 148.0]  # cosine 0.99650875382...
    b = [110.0, 109.0, 128.0, 171.0]  # cosine 0.99650877210...
    x = q  # cosine 1
    axes = [[255.0 if j == i else 0.0 for j in range(4)] for i in range(4)]
    rows = [(1, a), (2, b), (3, x)] + [(10 + i, v) for i, v in enumerate(axes)]
    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(rows, schema)
    full = spark.createDataFrame(
        [(3, [160.0, 140.0, 120.0, 100.0])] + [r for r in rows if r[0] != 3], schema
    )
    qry = spark.createDataFrame([(100, q)], "query_id long, embedding array<float>")
    index = build_ivf_index(corpus, n_centroids=2, iters=2, quantize="sq8")
    assert index.sq8 == {"vmin": [0.0] * 4, "span": [255.0] * 4}
    got = ivf_probe(
        index, qry, k=1, nprobe=2, rerank_from=full, rerank_factor=2
    ).collect()
    assert [tuple(r) for r in got] == [(100, 2, 0.996509, 1)]
    index.close()
