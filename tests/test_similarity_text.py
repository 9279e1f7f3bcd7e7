"""Similarity search vs numpy oracle + text-analysis function semantics."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from downloader_spark.functions.text import (
    detect_lang,
    fingerprint64_of_words,
    quality_score,
    subword_estimate,
    token_count,
    tokens_of,
)
from downloader_spark.operators.similarity import cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    data = rng.randn(60, 8).astype("float32")
    data[10] = data[0] * 2.0  # same direction as 0 → cosine 1
    data[11] = data[0] + rng.randn(8).astype("float32") * 0.05  # near
    rows = [(i, [float(x) for x in data[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, data


def test_cosine_topk_matches_numpy(vecs):
    df, data = vecs
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(df, queries, k=5).collect()
    d = data.astype("float64")
    sims = d @ d[0] / (np.linalg.norm(d, axis=1) * np.linalg.norm(d[0]))
    sims[0] = -np.inf
    order = sorted(range(60), key=lambda i: (-round(sims[i], 6), i))[:5]
    assert [r["cand_id"] for r in sorted(got, key=lambda r: r["rnk"])] == order
    assert got[0]["cosine"] == 1.0 or any(r["cosine"] == 1.0 for r in got)


def test_lsh_topk_subset_of_exact_space(vecs):
    df, data = vecs
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = lsh_topk(df, queries, dim=8, k=5, n_planes=4).collect()
    # parallel vector 10 lands in the same hyperplane bucket as 0 always
    assert any(r["cand_id"] == 10 for r in approx)
    for r in approx:
        assert -1.0 <= r["cosine"] <= 1.0


def test_detect_lang(spark):
    rows = [
        (1, "the cat and the dog sat in the garden with the birds"),
        (2, "der hund und die katze sind nicht mit der maus"),
        (3, "le chat est dans la maison pour les vacances"),
        (4, "el perro y el gato de la casa es para todos"),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["d"] for r in df.select("id", detect_lang(F.col("text")).alias("d")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_token_count_and_subwords(spark):
    df = spark.createDataFrame(
        [(1, "one two  three"), (2, ""), (3, "   "), (4, "word")],
        "id long, text string",
    )
    got = {
        r["id"]: (r["t"], r["s"])
        for r in df.select(
            "id",
            token_count(F.col("text")).alias("t"),
            subword_estimate(F.col("text")).alias("s"),
        ).collect()
    }
    assert got[1][0] == 3
    assert got[2][0] == 0 and got[3][0] == 0
    assert got[4][0] == 1
    # 4 chars, 1 word → ceil(0.4 + 0.6) = 1
    assert got[4][1] == 1


def test_quality_and_fingerprint(spark):
    good = "the quality of this document is high and the words are plain"
    digits = "1234 5678 9999 0000 1111 2222 3333 4444 5555 6666 7777 8888"
    df = spark.createDataFrame([(1, good), (2, digits)], "id long, text string")
    # the fingerprint_groups form: tokens materialized in their own
    # projection, then fingerprinted
    toks = df.select("id", "text", tokens_of(F.col("text")).alias("_toks"))
    got = {
        r["id"]: (r["q"], r["f"])
        for r in toks.select(
            "id",
            quality_score(F.col("text")).alias("q"),
            fingerprint64_of_words(F.col("_toks")).alias("f"),
        ).collect()
    }
    assert got[1][0] > got[2][0]  # stopword-rich beats digit flood
    assert got[1][1] != got[2][1]
    # fingerprint is deterministic
    again = toks.select(fingerprint64_of_words(F.col("_toks")).alias("f")).collect()
    assert {r["f"] for r in again} == {got[1][1], got[2][1]}


def test_embedding_near_dups_default_is_lsh_and_exact_is_guarded(spark, vecs):
    """The natural entry point must never be the O(n²) path: default is
    LSH (no dim needed — probed), and exact=True refuses large inputs."""
    from downloader_spark.operators import similarity
    from downloader_spark.operators.similarity import embedding_near_dups

    df, _ = vecs
    lsh = embedding_near_dups(df, threshold=0.9)
    exact = embedding_near_dups(df, threshold=0.9, exact=True)
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert lsh_pairs <= exact_pairs  # LSH can only miss, never invent

    # exact path scores all pairs — must refuse above the size guard
    old = similarity.MAX_EXACT_ROWS
    similarity.MAX_EXACT_ROWS = 2
    try:
        import pytest

        with pytest.raises(ValueError, match="exact"):
            embedding_near_dups(df, exact=True)
    finally:
        similarity.MAX_EXACT_ROWS = old


def test_ivf_exhaustive_probe_equals_exact(vecs):
    """nprobe == n_centroids probes every inverted list → must equal
    brute force exactly (the inverted lists partition the candidates)."""
    from downloader_spark.operators.similarity import cosine_topk, ivf_topk

    df, _ = vecs
    qry = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rnk"]): (r["cand_id"], r["cosine"])
        for r in cosine_topk(df, qry, k=4).collect()
    }
    ivf = {
        (r["query_id"], r["rnk"]): (r["cand_id"], r["cosine"])
        for r in ivf_topk(df, qry, k=4, n_centroids=6, nprobe=6, iters=2).collect()
    }
    assert ivf == exact


def test_ivf_approximate_recall(vecs):
    """nprobe < n_centroids: results are a subset of the scored space
    and rank-1 recall stays useful (each query's own cluster is always
    probed, so very-near neighbors in the same cluster are found —
    e.g. vec 10 is colinear with vec 0)."""
    from downloader_spark.operators.similarity import cosine_topk, ivf_topk

    df, _ = vecs
    qry = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        r["query_id"]: r["cand_id"]
        for r in cosine_topk(df, qry, k=1).collect()
    }
    approx = ivf_topk(df, qry, k=4, n_centroids=6, nprobe=2, iters=2)
    rows = approx.collect()
    assert all(r["cand_id"] != r["query_id"] for r in rows)
    top1 = {r["query_id"]: r["cand_id"] for r in rows if r["rnk"] == 1}
    # vec 10 = 2 * vec 0 (cosine 1.0): same direction lands in the same
    # centroid cell, so query 0 must recover it even at nprobe=2
    assert top1[0] == exact[0] == 10


def test_lsh_or_amplification_raises_recall(vecs):
    """L independent hyperplane tables (OR-amplification): candidates
    with n_tables=4 must be a superset of n_tables=1 and still a subset
    of the exact pair space; results stay exact-cosine-scored."""
    from downloader_spark.operators.similarity import embedding_near_dups, lsh_topk

    df, _ = vecs
    one = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(df, threshold=0.8, n_planes=10, n_tables=1).collect()}
    four = {(r["id_a"], r["id_b"]) for r in
            embedding_near_dups(df, threshold=0.8, n_planes=10, n_tables=4).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(df, threshold=0.8, exact=True).collect()}
    assert one <= four <= exact

    qry = df.filter("vec_id % 20 = 0").select(
        df["vec_id"].alias("query_id"), "embedding"
    )
    t1 = lsh_topk(df, qry, dim=8, k=3, n_planes=10, n_tables=1).count()
    t4 = lsh_topk(df, qry, dim=8, k=3, n_planes=10, n_tables=4).count()
    assert t4 >= t1  # more tables → more (or equal) scored results


def test_build_ivf_index_store_and_probe(vecs, tmp_path):
    """The persistable index path (round-2 VERDICT #1): build ONCE to a
    parquet store partitioned by list id, probe repeatedly without
    re-running k-means; exhaustive probe over the stored index still
    equals brute force."""
    import os

    from downloader_spark.operators.similarity import (
        build_ivf_index, cosine_topk, ivf_probe,
    )

    df, _ = vecs
    idx_path = str(tmp_path / "ivf_index")
    index = build_ivf_index(df, n_centroids=6, iters=2, path=idx_path)
    # the store is partitioned by the inverted-list id → a probe that
    # joins on _c can prune non-probed list files entirely
    assert any(d.startswith("_c=") for d in os.listdir(idx_path))
    qry = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rnk"]): (r["cand_id"], r["cosine"])
        for r in cosine_topk(df, qry, k=4).collect()
    }
    got = {
        (r["query_id"], r["rnk"]): (r["cand_id"], r["cosine"])
        for r in ivf_probe(index, qry, k=4, nprobe=6).collect()
    }
    assert got == exact
    # probe a second, different query batch against the SAME index
    qry2 = df.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert ivf_probe(index, qry2, k=2, nprobe=6).count() == 2


def test_ivf2_exhaustive_probe_equals_exact(vecs):
    """Two-level IVF with every coarse cell opened and every list
    probed must equal brute force exactly — each candidate lives in
    exactly one (cell, sub) list, so the tree partitions the candidate
    set losslessly, same contract as the flat index."""
    from downloader_spark.operators.similarity import cosine_topk, ivf2_topk

    df, _ = vecs
    qry = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rnk"]): (r["cand_id"], r["cosine"])
        for r in cosine_topk(df, qry, k=4).collect()
    }
    got = {
        (r["query_id"], r["rnk"]): (r["cand_id"], r["cosine"])
        for r in ivf2_topk(
            df, qry, k=4, n_coarse=3, n_sub=2, wprobe=3, nprobe=6, iters=2
        ).collect()
    }
    assert got == exact


def test_ivf2_tree_assignment_store_and_recall(vecs, tmp_path):
    """Tree invariants: list ids stay in [0, n_coarse·n_sub); the
    decoded coarse cell of every assigned candidate equals its true
    coarse argmin (the tree never routes a vector through a foreign
    cell); the stored index is partitioned by list id; a partial probe
    (wprobe < n_coarse) still recovers the colinear neighbor (query's
    own cell is always opened) and returns a subset of the exact
    space's pairs."""
    import os

    import numpy as np

    from downloader_spark.operators.similarity import (
        build_ivf2_index, cosine_topk, ivf2_probe,
    )

    df, data = vecs
    idx_path = str(tmp_path / "ivf2_index")
    index = build_ivf2_index(
        df, n_coarse=3, n_sub=2, iters=2, path=idx_path
    )
    assert any(d.startswith("_c=") for d in os.listdir(idx_path))
    rows = index.assigned.select("cand_id", "_c").collect()
    C = np.asarray(index.coarse, dtype=np.float64)
    cn = (C * C).sum(axis=1)
    for r in rows:
        lid = int(r["_c"])
        assert 0 <= lid < 3 * 2
        v = data[int(r["cand_id"])].astype("float64")
        true_cell = int(np.argmin(cn - 2.0 * (C @ v)))
        assert lid // 2 == true_cell, (r["cand_id"], lid, true_cell)
    # every cell has >= 1 sub-centroid (sample-empty cells fall back
    # to the coarse centroid), so assignment is total
    assert set(index.subs) == {0, 1, 2}
    assert all(len(m) >= 1 for m in index.subs.values())
    qry = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact1 = {
        r["query_id"]: r["cand_id"] for r in cosine_topk(df, qry, k=1).collect()
    }
    approx = ivf2_probe(index, qry, k=4, wprobe=2, nprobe=3).collect()
    assert all(r["cand_id"] != r["query_id"] for r in approx)
    top1 = {r["query_id"]: r["cand_id"] for r in approx if r["rnk"] == 1}
    # vec 10 = 2 * vec 0 (cosine 1.0): same direction -> same coarse
    # cell AND same sub-list, recovered even at wprobe=2
    assert top1[0] == exact1[0] == 10


def test_ivf_k256_centroids_and_sampled_fit(spark):
    """k-means assignment through the pandas-UDF matmul scales past the
    old k ≲ 64 unrolled-projection cap: 256 centroids over 1500 vectors
    (fit on a hash sample), planted near-identical neighbors recovered
    at nprobe ≪ k."""
    import numpy as np

    from downloader_spark.operators.similarity import build_ivf_index, ivf_probe

    rng = np.random.RandomState(13)
    base = rng.randn(1400, 16).astype("float32")
    planted = base[:100] + rng.randn(100, 16).astype("float32") * 0.01
    data = np.vstack([base, planted])  # ids 1400..1499 ≈ ids 0..99
    rows = [(i, [float(x) for x in data[i]]) for i in range(1500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = build_ivf_index(
        df, n_centroids=256, iters=2, sample_frac=0.5, persist=True
    )
    assert len(index.centroids) == 256
    qry = df.filter(F.col("vec_id") >= 1400).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_probe(index, qry, k=1, nprobe=8).collect()
    hits = sum(1 for r in got if r["cand_id"] == r["query_id"] - 1400)
    # a planted near-duplicate sits ~0.01 away: its cell is probed first
    assert hits >= 90, f"top-1 recall {hits}/100 at nprobe=8, k=256"
    index.close()


def test_lsh_udf_matches_native_signatures(vecs):
    """The Arrow matmul signature UDF must bucket exactly like the
    native aggregate-HOF spec (same hash-grid weights; the UDF exists
    because the native form pays ~7s of codegen per cold query at
    L=24)."""
    from pyspark.sql import functions as F

    from downloader_spark.operators.similarity import (
        _multi_table_sigs,
        make_hyperplane_sigs_udf,
    )

    df, _ = vecs
    native = df.select(
        "vec_id",
        F.explode(_multi_table_sigs(F.col("embedding"), 8, 4, 3)).alias("ts"),
    ).select("vec_id", "ts.tbl", "ts.sig").collect()
    udf = make_hyperplane_sigs_udf(8, 4, 3)
    got = df.select(
        "vec_id", F.posexplode(udf(F.col("embedding"))).alias("tbl", "sig")
    ).collect()
    assert {(r["vec_id"], r["tbl"], r["sig"]) for r in native} == {
        (r["vec_id"], r["tbl"], r["sig"]) for r in got
    }


def test_gopher_flags_pathological_docs(spark):
    """Each published Gopher rule fires on a crafted doc that violates
    exactly that rule (plus too_few_words where unavoidable), and a
    normal 60-word prose doc passes everything."""
    from pyspark.sql import functions as F

    from downloader_spark.functions.text import gopher_flags

    prose = " ".join(
        "the quick brown fox jumps over the lazy dog near the river bank".split()
        * 5
    )  # 60 words, mean len in range, no symbols
    rows = [
        (1, prose),
        (2, "short doc only"),                                   # too_few_words
        (3, " ".join(["a"] * 60)),                               # mean_word_len < 3
        (4, " ".join(["supercalifragilistic"] * 60)),            # mean_word_len > 10
        (5, prose + " " + "#" * 30),                             # symbol_heavy
        (6, "\n".join(f"- item {i} here now" for i in range(10))),  # bullet_heavy
        (7, "\n".join(f"{prose[:20]} part {i}..." for i in range(4))),  # ellipsis_heavy
        (8, " ".join(["1234"] * 60)),                            # low_alpha
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fl"].asDict()
        for r in df.select("doc_id", gopher_flags(F.col("text")).alias("fl")).collect()
    }
    assert got[1]["gopher_pass"] and not any(
        v for k, v in got[1].items() if k != "gopher_pass"
    )
    assert got[2]["too_few_words"] and not got[2]["gopher_pass"]
    assert got[3]["word_len_out"]
    assert got[4]["word_len_out"]
    assert got[5]["symbol_heavy"]
    assert got[6]["bullet_heavy"]
    assert got[7]["ellipsis_heavy"]
    assert got[8]["low_alpha"]


def test_gopher_repetition_features_and_flags(spark):
    """Gopher §A1.1 repetition rules (Rae et al., Table A1): each rule
    fires on a crafted doc violating exactly that family, values match
    a brute-force Python recompute, and varied prose passes all."""
    from collections import Counter

    from downloader_spark.functions.repetition_arrow import with_repetition_arrow
    from downloader_spark.functions.text import REPETITION_FEATURES

    prose = (
        "the quick brown fox jumps over the lazy dog while seven wild "
        "geese circle above a quiet meadow near the old stone bridge"
    )
    rows = [
        (1, prose),
        (2, "dup line here\n" * 4 + "unique tail line"),          # dup lines
        (3, ("para one body\n\n" * 3) + "distinct closing para"),  # dup paras
        (4, "spam ham " * 30),                                     # top-2-gram
        (5, ""),                                                   # empty
        (6, "one"),                                                # < n words
        (7, "alpha beta gamma delta epsilon zeta " * 2             # dup 5/6-gram
            + "tail of unique closing words drifting past the quiet harbor"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in with_repetition_arrow(df).collect()}

    def brute(text):
        import re

        lines, paras = text.split("\n"), text.split("\n\n")
        toks = re.split(r"\s+", text.lower().strip(" "))
        nch = max(len(text), 1)
        out = {
            "dup_line_frac": round((len(lines) - len(set(lines))) / max(len(lines), 1), 6),
            "dup_para_frac": round((len(paras) - len(set(paras))) / max(len(paras), 1), 6),
            "dup_line_char_frac": round(
                (sum(map(len, lines)) - sum(map(len, set(lines)))) / nch, 6
            ),
            "dup_para_char_frac": round(
                (sum(map(len, paras)) - sum(map(len, set(paras)))) / nch, 6
            ),
        }
        for n in (2, 3, 4):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            out[f"top_{n}gram_char_frac"] = round(
                max((cnt * len(g) for g, cnt in c.items() if cnt >= 2), default=0)
                / nch, 6,
            )
        # dup-{5..10}-gram coverage: independent CHAR-POSITION-SET
        # recompute (union of [start, start+len(gram)) char ranges in
        # the collapsed text) — cross-checks the engine's token+gap
        # linear scan against first-principles set semantics
        offs, pos = [], 0
        for t in toks:
            offs.append(pos)
            pos += len(t) + 1
        for n in range(5, 11):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            covered: set[int] = set()
            for i, g in enumerate(grams):
                if c[g] >= 2:
                    covered.update(range(offs[i], offs[i] + len(g)))
            out[f"dup_{n}gram_char_frac"] = round(len(covered) / nch, 6)
        return out

    for doc_id, text in rows:
        exp = brute(text)
        for k in REPETITION_FEATURES:
            assert abs(got[doc_id][k] - exp[k]) < 1e-9, (doc_id, k, got[doc_id][k], exp[k])
    assert got[1]["repetition_pass"]
    assert got[2]["dup_line_heavy"] and got[2]["dup_line_char_heavy"]
    assert got[3]["dup_para_heavy"] and got[3]["dup_para_char_heavy"]
    assert got[4]["top_2gram_heavy"] and got[4]["top_3gram_heavy"]
    assert got[4]["dup_5gram_heavy"] and got[4]["dup_10gram_heavy"]
    assert got[7]["dup_5gram_heavy"] and got[7]["dup_6gram_heavy"]
    assert got[1]["dup_5gram_char_frac"] == 0.0  # clean prose: no dup grams
    for d in (2, 3, 4, 7):
        assert not got[d]["repetition_pass"]
    assert got[5]["repetition_pass"] and got[6]["repetition_pass"]  # degenerate docs: no rule fires


def test_chunk_token_windows_edges(spark):
    """Window coverage, 50% overlap, short tails, empty doc → one
    empty window; window text is the normalized token join."""
    from pyspark.sql import functions as F

    from downloader_spark.operators.chunking import chunk_token_windows

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
        (2, "only  three   Tokens"),                # collapses + lowers
        (3, ""),                                     # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in chunk_token_windows(df, "doc_id", F.col("text"), window=4, stride=2).collect():
        got.setdefault(r["doc_id"], {})[r["window_id"]] = (r["n_tokens"], r["window_text"])
    # doc 1: starts 0,2,4,6,8 → ids 0..4; tails shorten
    assert sorted(got[1]) == [0, 1, 2, 3, 4]
    assert got[1][0] == (4, "w0 w1 w2 w3")
    assert got[1][3] == (4, "w6 w7 w8 w9")
    assert got[1][4] == (2, "w8 w9")
    assert got[2] == {0: (3, "only three tokens"), 1: (1, "tokens")}
    assert got[3] == {0: (1, "")}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        chunk_token_windows(df, "doc_id", F.col("text"), window=0)


def test_redact_pii_crafted(spark):
    """Each PII kind redacts to its placeholder; counts taken pre-
    redaction; clean text passes through untouched."""
    from pyspark.sql import functions as F

    from downloader_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "mail a.b+c@sub.example.org or x@y.io today"),
        (2, "call +14155551234 thanks"),
        (3, "server at 10.0.200.31 responded"),
        (4, "plain text with no pii at all"),
        (5, "mix bob@corp.net +4912345678 and 192.168.1.1 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[c.alias(k) for k, c in counts.items()],
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert got[1]["n_email"] == 2 and got[1]["red"] == "mail <EMAIL> or <EMAIL> today"
    assert got[2]["n_phone"] == 1 and got[2]["red"] == "call <PHONE> thanks"
    assert got[3]["n_ipv4"] == 1 and got[3]["red"] == "server at <IP> responded"
    assert got[4]["red"] == rows[3][1]
    assert (got[5]["n_email"], got[5]["n_phone"], got[5]["n_ipv4"]) == (1, 1, 1)
    assert got[5]["red"] == "mix <EMAIL> <PHONE> and <IP> end"


def test_hll_sketch_accuracy_merge_and_recompute(spark):
    """HLL: (a) estimate within ~3σ of truth at 20k distinct items
    (σ ≈ 1.04/√256 ≈ 6.5%); (b) merge(a, b) ≡ sketch(a ∪ b) exactly,
    with the per-register max that q_hll_wave_merge runs;
    (c) md5-hasher registers equal a pure-python recompute; (d) m
    validation."""
    import hashlib

    from pyspark.sql import functions as F

    from downloader_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
        md5_60bit,
    )

    items = spark.range(20_000).select(
        F.concat(F.lit("item-"), F.col("id").cast("string")).alias("s")
    )
    regs = hll_registers(items, F.col("s"), m=256)
    est = hll_estimate(regs, m=256).collect()[0]["est_distinct"]
    assert abs(est - 20_000) / 20_000 < 0.20, est

    # merge property: elementwise max ≡ sketch of the union
    a = spark.range(0, 3000).select(F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"))
    b = spark.range(2000, 6000).select(F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"))
    merged = {
        r["register_id"]: r["max_rho"]
        for r in hll_registers(a, F.col("s"))
        .unionByName(hll_registers(b, F.col("s")))
        .groupBy("register_id")
        .agg(F.max("max_rho").cast("int").alias("max_rho"))
        .collect()
    }
    union = {
        r["register_id"]: r["max_rho"]
        for r in hll_registers(a.unionByName(b).distinct(), F.col("s")).collect()
    }
    assert merged == union

    # python recompute with the portable hasher
    vals = [f"doc-{i}" for i in range(500)]
    py_regs = {i: 0 for i in range(256)}
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        reg = h % 256
        w = (h >> 8) % (1 << 32)
        rho = 33 if w == 0 else (w & -w).bit_length()
        py_regs[reg] = max(py_regs[reg], rho)
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["register_id"]: r["max_rho"]
        for r in hll_registers(df, F.col("s"), hasher=md5_60bit).collect()
    }
    assert got == py_regs

    import pytest as _pytest
    with _pytest.raises(ValueError, match="power of two"):
        hll_registers(df, F.col("s"), m=100)


def test_kernel_paths_handle_empty_query_batch(spark, vecs):
    """r7 kernel regression guard: an empty query batch must yield an
    empty result (not a numpy shape error) on every scoring path."""
    from pyspark.sql import functions as F

    from downloader_spark.operators.similarity import (
        build_ivf_index,
        build_ivf2_index,
        cosine_topk,
        ivf_probe,
        ivf2_probe,
        lsh_topk,
    )

    df, _ = vecs
    empty_q = df.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert cosine_topk(df, empty_q, k=3).count() == 0
    assert lsh_topk(df, empty_q, dim=8, k=3, n_planes=4).count() == 0
    idx = build_ivf_index(df, n_centroids=4, iters=1, persist=False)
    assert ivf_probe(idx, empty_q, k=3, nprobe=2).count() == 0
    idx2 = build_ivf2_index(df, n_coarse=2, n_sub=2, iters=1, persist=False)
    assert ivf2_probe(idx2, empty_q, k=3, wprobe=2, nprobe=2).count() == 0
    # quantized indexes, without and with the full-precision rerank
    for quant in (
        build_ivf_index(df, n_centroids=4, iters=1, persist=False, quantize="sq8"),
        build_ivf_index(
            df, n_centroids=4, iters=1, persist=False, quantize="pq",
            pq_m=4, pq_ks=4,
        ),
    ):
        assert ivf_probe(quant, empty_q, k=3, nprobe=2).count() == 0
        assert ivf_probe(quant, empty_q, k=3, nprobe=2, rerank_from=df).count() == 0
    tree = build_ivf2_index(
        df, n_coarse=2, n_sub=2, iters=1, persist=False, quantize="sq8"
    )
    assert ivf2_probe(tree, empty_q, k=3, wprobe=2, nprobe=2).count() == 0
    assert ivf2_probe(
        tree, empty_q, k=3, wprobe=2, nprobe=2, rerank_from=df
    ).count() == 0


def test_cosine_topk_skips_degenerate_candidates(spark, vecs):
    """Zero-norm and NaN candidates have no finite cosine, so they are
    never neighbours — and a batch holding >= k of them must still rank
    its finite candidates: the result equals top-k over the finite rows."""
    df, _ = vecs
    zero = [(100 + i, [0.0] * 8) for i in range(40)]
    nan = [(200 + i, [float("nan")] * 8) for i in range(10)]
    degenerate = spark.createDataFrame(
        zero + nan, "vec_id long, embedding array<float>"
    )
    queries = df.filter(F.col("vec_id").isin(0, 5, 20)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def topk(cands):
        rows = cosine_topk(cands, queries, k=5).collect()
        return sorted(tuple(r) for r in rows)

    assert len(topk(df)) == 15
    assert topk(df.unionByName(degenerate)) == topk(df)


def test_embedding_near_dups_degenerate_vectors_have_no_pairs(spark):
    """Two zero vectors (and two NaN vectors) have no finite cosine:
    neither the exact nor the LSH path emits a pair for them."""
    from downloader_spark.operators.similarity import embedding_near_dups

    rows = [
        (1, [0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),
        (3, [float("nan"), 1.0, 0.0]),
        (4, [float("nan"), 1.0, 0.0]),
        (5, [0.3, 0.4, 0.5]),
        (6, [0.3, 0.4, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = [(5, 6, 1.0)]
    exact = embedding_near_dups(df, threshold=0.9, exact=True).collect()
    assert [tuple(r) for r in exact] == want
    lsh = embedding_near_dups(df, threshold=0.9, dim=3, n_planes=4).collect()
    assert [tuple(r) for r in lsh] == want
