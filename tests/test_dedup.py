"""Semantic tests for the dedup family: planted duplicates must be
found; unrelated texts must not pair."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.operators.dedup import (
    exact_dup_groups,
    minhash_signatures,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the crawl engine "
    "fetches pages and converts them to markdown with vectorized arrow "
    "udfs across many partitions of the frontier table and the scheduler "
    "assigns politeness budgets per host before each wave commits a new "
    "snapshot of results seen frontier and metrics tables for resume"
)
BASE = BASE + " " + BASE.replace("quick", "rapid")  # ~110 words, stable simhash
NEAR = BASE.replace("lazy dog", "sleepy dog", 1)  # 1-word edit
FAR = (
    "completely different content about databases query optimizers join "
    "ordering statistics cardinality estimation and cost models in "
    "distributed analytical engines with columnar storage formats"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, NEAR),  # near dup of 1
        (4, FAR),
        (5, "tiny"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(docs):
    groups = {r["keeper"]: r["n_dups"] for r in exact_dup_groups(docs, "doc_id", F.col("text")).collect()}
    assert groups[1] == 2  # docs 1+2 identical
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_signature_properties(docs):
    sigs = {r["_id"]: r["_sig"] for r in minhash_signatures(docs, "doc_id", F.col("text"), num_hashes=32, shingle_k=3).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    match_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    match_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert match_near > match_far  # near-dup shares more components
    assert match_near >= 16  # high estimated jaccard


def test_minhash_lsh_finds_planted_pair(docs):
    # multi-row bands (8 bands × 4 rows)
    pairs = minhash_verified_pairs(
        docs, "doc_id", F.col("text"), num_hashes=32, bands=8, shingle_k=3,
        threshold=0.5,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) in found or (2, 3) in found
    assert not any(4 in p for p in found)
    exact = [r for r in pairs if (r["id_a"], r["id_b"]) == (1, 2)]
    assert exact[0]["jaccard"] == 1.0


def test_simhash_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(docs, "doc_id", F.col("text"), max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0  # identical
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3  # near-dup found
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", F.col("text"), k=3, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # pure-Python exact jaccard oracle for the near pair
    def grams(t, k=3):
        import re
        w = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}

    g1, g3 = grams(BASE), grams(NEAR)
    expected = round(len(g1 & g3) / len(g1 | g3), 6)
    assert pairs[(1, 3)] == expected
    assert (1, 4) not in pairs


def test_ngram_jaccard_exact_with_hot_gram(spark):
    """Hot grams (df > max_df) are dropped on BOTH sides of the Jaccard:
    the estimate must equal a python recompute over retained grams
    (the pre-fix code counted denominators before the stop-gram drop,
    silently underestimating J for docs containing hot grams)."""
    import re

    hot = "common shared boilerplate footer"  # one 4-word window → hot 3-grams
    rows = [(i, f"{hot} unique{i} filler{i} trailing{i} words{i} here{i}") for i in range(8)]
    rows += [(100, hot + " alpha beta gamma delta epsilon"),
             (101, hot + " alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_df = 5  # the grams inside `hot` appear in all 10 docs → dropped

    def grams(t, k=3):
        w = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else {t}

    from collections import Counter

    all_g = Counter(g for _, t in rows for g in grams(t))
    kept = {i: {g for g in grams(t) if all_g[g] <= max_df} for i, t in rows}
    expected = round(len(kept[100] & kept[101]) / len(kept[100] | kept[101]), 6)
    assert expected > 0.5  # hot-gram drop must not hide the pair

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", F.col("text"), k=3, threshold=0.3, max_df=max_df
        ).collect()
    }
    assert pairs[(100, 101)] == expected


def test_minhash_verified_pairs_exact_jaccard(spark, docs):
    """Verified pairs carry EXACT shingle Jaccard (not the estimate) and
    single-row bands find every pair above threshold."""
    import re

    from downloader_spark.operators.dedup import minhash_verified_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_verified_pairs(
            docs, "doc_id", F.col("text"), num_hashes=32, bands=32,
            shingle_k=3, threshold=0.1,
        ).collect()
    }

    def grams(t, k=3):
        w = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else {t}

    g1, g3 = grams(BASE), grams(NEAR)
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == round(len(g1 & g3) / len(g1 | g3), 6)
    assert not any(4 in p for p in pairs)


def test_connected_keepers_chain_and_clique(spark):
    """Min-label propagation: chains (A~B~C without A~C) resolve to one
    component; disjoint pairs stay separate; convergence is detected."""
    from downloader_spark.operators.dedup import connected_keepers

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    got = {r["node"]: r["keeper"] for r in connected_keepers(pairs).collect()}
    assert got == expected
    # r7: the small-graph driver union-find and the distributed
    # propagation loop (forced via collect_max=0) must agree exactly
    got_dist = {
        r["node"]: r["keeper"]
        for r in connected_keepers(pairs, collect_max=0).collect()
    }
    assert got_dist == expected


def test_connected_keepers_deep_chain_pointer_jump_fallback(spark):
    """A path graph of diameter 40 with max_iters=4: plain propagation
    cannot converge in 4 rounds, so the pointer-jumping fallback must
    kick in (instead of raising) and still produce exact components —
    the 100 TB guarantee that one long chain never aborts a dedup run."""
    from downloader_spark.operators.dedup import connected_keepers

    edges = [(i, i + 1) for i in range(40)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    # collect_max=0 forces the distributed loop (r7: the default gate
    # would short-circuit a 41-edge graph to the driver union-find)
    got = {
        r["node"]: r["keeper"]
        for r in connected_keepers(pairs, max_iters=4, collect_max=0).collect()
    }
    assert got == {**{i: 0 for i in range(41)}, 100: 100, 101: 100}


def test_drop_repeated_spans_planted(spark):
    """Planted boilerplate lines (shared across ≥ min_df docs) must be
    removed; unique content lines kept verbatim in order; short and
    blank lines are never dropped regardless of frequency."""
    from downloader_spark.operators.dedup import drop_repeated_spans

    bp = "Subscribe  to our NEWSLETTER today"   # normalizes across spacing/case
    rows = [
        (1, f"unique alpha content line\n{bp}\nmore alpha text here"),
        (2, f"different beta content\nsubscribe to our newsletter today\ntail beta"),
        (3, "solo gamma line\n\nok go\nsolo gamma continues"),   # blank + 2-word line
        (4, "ok go\nlonger delta content line"),                  # 'ok go' df=2 but <3 words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in drop_repeated_spans(
            df, "doc_id", F.col("text"), min_df=2, min_words=3
        ).collect()
    }
    assert out[1]["cleaned_text"] == "unique alpha content line\nmore alpha text here"
    assert out[1]["n_dropped_lines"] == 1 and out[1]["n_kept_lines"] == 2
    assert out[2]["cleaned_text"] == "different beta content\ntail beta"
    # blank lines and sub-min_words lines survive even when repeated
    assert out[3]["cleaned_text"] == rows[2][1]
    assert out[3]["n_dropped_lines"] == 0
    assert out[4]["cleaned_text"] == rows[3][1]


def test_contamination_stats_planted(spark):
    """A doc containing a verbatim 8-gram from the eval set flags
    contaminated with the right distinct-gram count; 7-word overlaps
    do NOT flag; clean docs stay clean."""
    from downloader_spark.operators.dedup import contamination_stats

    bench = "what is the capital of france paris answer"  # 8 words → 1 gram
    rows = [
        (1, f"some intro text {bench} and a long tail of words here"),
        (2, "what is the capital of france paris"),  # 7-word prefix only
        (3, "completely unrelated content about query engines and shuffles"),
        (4, f"{bench} {bench}"),  # repeated → still DISTINCT gram count
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
        for r in contamination_stats(
            docs, "doc_id", F.col("text"), eval_df, F.col("text"), n=8
        ).collect()
    }
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    # doc 4 has 9 8-grams; only those fully inside one bench copy match
    assert got[4][1] is True and got[4][0] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        contamination_stats(docs, "doc_id", F.col("text"), eval_df, F.col("text"), n=0)


def test_drop_repeated_spans_reassembly_identity(spark):
    """With min_df above any possible doc-frequency, cleaned_text must
    be the IDENTITY for arbitrary text (the posexplode→sort→join
    reassembly is lossless): seeded-random lines with unicode, CRLF
    remnants, tabs, blank runs, exotic whitespace."""
    import random

    from downloader_spark.operators.dedup import drop_repeated_spans

    rng = random.Random(13)
    pieces = ["word", "héllo wörld", "\ttabbed", "", " ", "  double  space",
              "emoji ✨ line", "trailing\r", "ideograph 漢字", "a", "... dots"]
    rows = []
    for i in range(200):
        n_lines = rng.randint(0, 8)
        rows.append((i, "\n".join(rng.choice(pieces) for _ in range(n_lines))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_dropped_lines"])
        for r in drop_repeated_spans(
            df, "doc_id", F.col("text"), min_df=10_000, min_words=1
        ).collect()
    }
    for i, text in rows:
        assert out[i] == (text, 0), (i, repr(text), repr(out[i]))


def test_gram_operators_release_cache(spark, docs):
    """ngram_jaccard_pairs and repeated_ngram_stats must not leave
    their exploded-gram persists behind (ADVICE r3: session-lifetime
    cache accumulation); at most the localCheckpoint of each RESULT
    may remain — the connected_keepers contract."""
    from downloader_spark.operators.dedup import repeated_ngram_stats

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    from downloader_spark.operators.dedup import release_result

    before = n_persistent()
    pairs = ngram_jaccard_pairs(docs, "doc_id", F.col("text"), k=3, threshold=0.3)
    assert pairs.count() >= 1
    assert n_persistent() <= before + 1  # only the result checkpoint
    # ADVICE r4: the result checkpoint itself must be freeable — a
    # long-lived driver calling the operator repeatedly would otherwise
    # accumulate one checkpoint per invocation until JVM GC
    release_result(pairs)
    assert n_persistent() <= before

    before2 = n_persistent()
    stats = repeated_ngram_stats(docs, "doc_id", F.col("text"), n=3, min_df=2)
    assert stats.count() == docs.count()
    assert n_persistent() <= before2 + 1
    release_result(stats)
    assert n_persistent() <= before2


def test_connected_keepers_releases_cache(spark):
    """The returned DataFrame must not pin the propagation loop's
    persisted rounds (ADVICE r2: repeated invocations accumulated
    executor cache with no release hook)."""
    from downloader_spark.operators.dedup import connected_keepers

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persistent()
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    # collect_max=0: the loop (whose cache hygiene this test pins) —
    # the driver-path result holds no persisted RDDs at all
    out = connected_keepers(pairs, collect_max=0)
    assert out.count() == 3
    # only the localCheckpoint blocks of the RESULT may remain; none of
    # the loop's persist() handles (labels/sym rounds) survive the call
    assert n_persistent() <= before + 1


def test_repeated_ngram_stats_planted(spark):
    """Planted cross-doc span: the shared 4-word sentence yields two
    repeated 3-grams in each doc containing it; within-doc repetition
    alone never counts (min_df is across DISTINCT docs)."""
    from downloader_spark.operators.dedup import repeated_ngram_stats
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over things"),
        (2, "something else entirely then the quick brown fox appears"),
        (3, "alpha beta gamma alpha beta gamma"),  # self-repeat only
        (4, "totally unrelated text body here"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_rep_occurrences"], r["n_rep_grams"])
        for r in repeated_ngram_stats(df, "doc_id", F.col("text"), n=3, min_df=2).collect()
    }
    # shared grams between docs 1 and 2: "the quick brown", "quick brown fox"
    assert got[1] == (2, 2)
    assert got[2] == (2, 2)
    # doc 3 repeats its own grams but shares none across docs
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)
    assert got[5] == (0, 0)


def test_source_mix_sample_deterministic_and_calibrated(spark):
    """Hash sampling: exact determinism across invocations, rate-1.0
    keeps everything, rate-0 drops everything, and observed fractions
    land near the requested rates at n=4000/source."""
    from downloader_spark.operators.sampling import source_mix_sample

    df = spark.range(16000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
    )
    rates = {"s0": 1.0, "s1": 0.5, "s2": 0.125, "s3": 0.0}
    out = source_mix_sample(df, "doc_id", "source", rates)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["s0"] == 4000
    assert "s3" not in counts
    assert abs(counts["s1"] - 2000) < 200   # ±4.5σ
    assert abs(counts["s2"] - 500) < 120
    # exact determinism: same kept set on a re-run
    again = source_mix_sample(df, "doc_id", "source", rates)
    assert {r["doc_id"] for r in out.collect()} == {r["doc_id"] for r in again.collect()}
    # different salt → different (but same-sized-ish) sample
    other = source_mix_sample(df, "doc_id", "source", rates, salt="ablation2")
    s1 = {r["doc_id"] for r in out.filter("source='s1'").collect()}
    s2 = {r["doc_id"] for r in other.filter("source='s1'").collect()}
    assert s1 != s2 and abs(len(s2) - 2000) < 200
    import pytest as _pytest
    with _pytest.raises(ValueError, match="rate"):
        source_mix_sample(df, "doc_id", "source", {"s0": 1.2})


def test_pagerank_fixedpoint_matches_python_recompute(spark):
    """Exact fixed-point mirror on a small graph: hub gets the top
    rank, every value equals the integer-arithmetic recompute, the
    loop releases its per-round checkpoints, and re-running returns
    BIT-identical ranks (the determinism the operator exists for)."""
    from downloader_spark.operators.graph import SCALE, pagerank_fixedpoint

    edges = [(1, 2), (3, 2), (4, 2), (2, 5), (5, 1), (4, 5)]
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: SCALE // n for v in nodes}
    for _ in range(3):
        inn = {v: 0 for v in nodes}
        for s, d in edges:
            inn[d] += r[s] // deg[s]
        r = {v: 15 * SCALE // (100 * n) + 85 * inn[v] // 100 for v in nodes}

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_persistent()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        row["node"]: row["rank_micro"]
        for row in pagerank_fixedpoint(df, iters=3).collect()
    }
    assert got == r
    # rank mass: total stays ≤ SCALE (floor losses + dangling drop)
    assert 0 < sum(got.values()) <= SCALE
    assert n_persistent() <= before + 1  # only the result checkpoint
    again = {
        row["node"]: row["rank_micro"]
        for row in pagerank_fixedpoint(df.repartition(7), iters=3).collect()
    }
    assert again == got  # partitioning-independent, bit-exact
    import pytest as _pytest
    with _pytest.raises(ValueError, match="damping_pct"):
        pagerank_fixedpoint(df, damping_pct=101)


def test_pagerank_empty_edges_raises(spark):
    """ADVICE r4: an empty edge table must fail with intent, not a bare
    ZeroDivisionError — and must not leak its node checkpoint."""
    from downloader_spark.operators.graph import pagerank_fixedpoint

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    empty = spark.createDataFrame([], "src string, dst string")
    before = n_persistent()
    with pytest.raises(ValueError, match="edges is empty"):
        pagerank_fixedpoint(empty)
    assert n_persistent() <= before
