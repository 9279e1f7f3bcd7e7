"""fastText/DCLM-style hashed-ngram quality classifier (Joulin et al.
2016 "Bag of Tricks for Efficient Text Classification"; Li et al. 2024
"DataComp-LM" — the public recipe: a linear classifier over hashed
word n-grams, trained on a trusted seed corpus vs junk negatives,
scores every document and the pipeline keeps the high side). The
reference repo has no counterpart; the contract is the published
recipe, same as the CCNet perplexity filter (functions/lm.py) and the
Gopher rule-pack (functions/text.py) — this is the second standard
model-based quality axis next to lm.py.

Model: logistic regression over hashed features
    features(doc) = unigrams(ws) + bigrams(ws)   (space-joined pairs)
    bucket(g)     = md5_60bit(g) % B             (engine-portable hash)
    s(doc)        = (1/n) * sum_g w[bucket(g)] + bias
trained at build time by deterministic full-batch gradient descent
(fixed epoch count, fixed learning rate, sorted iteration order — no
RNG anywhere, so retraining reproduces the same floats bit-for-bit).

Exactness contract (what the DuckDB oracle pins): after training, the
float weights are quantized ONCE to integers in MICRO-UNITS
(round(w * 1e6)) — the Spark broadcast table and the oracle's VALUES
CTE are generated from the SAME integers, so a document's score is an
exact BIGINT sum and the keep/drop decision is an exact BIGINT
cross-multiplication (score_micro + bias_micro * n_grams >= 0), zero
cross-engine float drift (the functions/lm.py pattern). The bucket
hash is the md5-prefix 60-bit integer (functions/sketch.md5_60bit),
recomputable in DuckDB as CAST('0x' || substr(md5(g),1,15) AS BIGINT)
— xxhash64 would be faster but no external engine can recompute it.

Training data: positives are the trusted seed corpus (the same
sf0.001 documents the BPE vocab and bigram LM train from); negatives
are three deterministically generated junk families — keyword-stuffed
spam, boilerplate chrome, and hash-derived gibberish — mirroring the
seed/junk split DCLM-style classifiers use (their positives are
instruction/wiki data; ours is the deterministic stand-in this
sandbox allows).

Scale design (100 TB): the weight table is at most B rows (buckets
with zero weight are dropped; scoring COALESCEs to 0) and broadcasts;
scoring is explode -> broadcast-join -> per-doc partial-aggregated
sum — one narrow shuffle of (doc_id, w) pairs that combines map-side,
the text itself never re-shuffles. No UDFs; everything
whole-stage-codegen native.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .bpe import _words, norm_words_col
from .sketch import md5_60bit

DEFAULT_SEED_CORPUS = os.environ.get(
    "SPARK_GRAFT_LM_CORPUS", "/root/testdata/sf0.001/documents.parquet"
)

MICRO = 1_000_000
N_BUCKETS = 4096

# Junk vocabulary for the generated negatives. The spam/boilerplate
# word lists are shared with the seeded families in the driver query
# (queries.py q_quality_classifier) so held-out junk hits trained
# buckets — keep them in lockstep (CLAUDE.md invariant 8 class).
SPAM_WORDS = (
    "buy cheap click here free win money now offer deal discount "
    "casino bonus prize limited exclusive winner jackpot"
).split()
BOILER_WORDS = (
    "accept cookies privacy policy terms conditions subscribe "
    "newsletter login register copyright reserved rights"
).split()


def _grams(ws: list[str]) -> list[str]:
    """Unigrams + space-joined bigrams — the hashed feature stream.
    Words contain no whitespace (norm splits on it), so the joined
    bigram string is collision-free vs unigrams of the same text."""
    return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]


def bucket_py(gram: str, n_buckets: int = N_BUCKETS) -> int:
    """Python mirror of the engine hash: md5-prefix 60-bit int mod B.
    MUST equal Spark's md5_60bit(col) % B and DuckDB's
    CAST('0x' || substr(md5(g),1,15) AS BIGINT) % B."""
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def junk_docs(n: int) -> list[str]:
    """Deterministic junk negatives, three families rotated by index —
    no RNG (hash-derived gibberish), so training is reproducible."""
    out = []
    for i in range(n):
        fam = i % 3
        if fam == 0:  # keyword-stuffed spam, rotated so bigrams vary
            r = i % len(SPAM_WORDS)
            ws = (SPAM_WORDS[r:] + SPAM_WORDS[:r]) * 3 + [f"v{i % 7}"]
            out.append(" ".join(ws))
        elif fam == 1:  # boilerplate chrome repeated
            out.append(" ".join(BOILER_WORDS * (2 + i % 4)))
        else:  # hash-derived gibberish (OOV word soup)
            h = hashlib.md5(f"junk{i}".encode()).hexdigest()
            ws = [
                hashlib.md5(f"junk{i}.{j}".encode()).hexdigest()[:6]
                for j in range(40)
            ]
            out.append(" ".join(ws) + " " + h)
    return out


def train_quality_classifier(
    pos_texts: Iterable[str],
    neg_texts: Iterable[str],
    n_buckets: int = N_BUCKETS,
    epochs: int = 150,
    lr: float = 0.5,
) -> dict:
    """Deterministic full-batch logistic regression over hashed
    mean-of-counts features; returns integer micro-unit weights.

    Feature vector x[b] = count(bucket b) / n_grams (the fastText
    mean-of-embeddings analogue for a linear model), so the decision
    rule divides out document length and quantizes exactly:
        keep  <=>  sum_g w_micro[h(g)] + bias_micro * n_grams >= 0.
    """
    feats: list[tuple[dict[int, float], int]] = []
    for label, texts in ((1, pos_texts), (0, neg_texts)):
        for t in texts:
            gs = _grams(_words(t or ""))
            if not gs:
                continue
            c = Counter(bucket_py(g, n_buckets) for g in gs)
            n = len(gs)
            feats.append(({b: v / n for b, v in sorted(c.items())}, label))
    w: dict[int, float] = {}
    bias = 0.0
    m = len(feats)
    if m == 0:
        raise ValueError("train_quality_classifier: no non-empty documents")
    for _ in range(epochs):
        gw: dict[int, float] = {}
        gb = 0.0
        for x, y in feats:
            s = sum(w.get(b, 0.0) * v for b, v in x.items()) + bias
            # clamped sigmoid: exp overflows past |s| ~ 700
            p = 1.0 / (1.0 + math.exp(-max(-30.0, min(30.0, s))))
            e = p - y
            gb += e
            for b, v in x.items():
                gw[b] = gw.get(b, 0.0) + e * v
        bias -= lr * gb / m
        for b in sorted(gw):
            w[b] = w.get(b, 0.0) - lr * gw[b] / m
    w_micro = {b: round(v * MICRO) for b, v in sorted(w.items())}
    w_micro = {b: v for b, v in w_micro.items() if v != 0}
    return {
        "n_buckets": n_buckets,
        "w_micro": w_micro,
        "bias_micro": round(bias * MICRO),
        "n_train": m,
    }


def score_quality_py(model: dict, text: str) -> tuple[int, int]:
    """Single-node scorer (n_grams, score_micro) — the parity oracle
    for tests; the same hashed lookup as the Spark/SQL paths."""
    wm, B = model["w_micro"], model["n_buckets"]
    gs = _grams(_words(text or ""))
    return len(gs), sum(wm.get(bucket_py(g, B), 0) for g in gs)


def label_py(model: dict, n_grams: int, score_micro: int) -> str:
    if n_grams == 0:
        return "empty"
    return (
        "keep"
        if score_micro + model["bias_micro"] * n_grams >= 0
        else "drop"
    )


_DEFAULT_CLF: dict | None = None


def default_classifier() -> dict:
    """Build-time model: trained once per process from the seed corpus
    (positives) vs generated junk (negatives) and cached — the Spark
    broadcast table and the generated oracle SQL both derive from this
    one dict, so they agree by construction (the lm.default_lm
    pattern)."""
    global _DEFAULT_CLF
    if _DEFAULT_CLF is None:
        corpus = DEFAULT_SEED_CORPUS
        try:
            import pyarrow.parquet as pq

            texts = [
                t or ""
                for t in pq.read_table(DEFAULT_SEED_CORPUS, columns=["text"])
                .column("text")
                .to_pylist()
            ]
        except Exception as e:
            import warnings

            warnings.warn(
                f"default_classifier: could not read {DEFAULT_SEED_CORPUS} "
                f"({e!r}); training on junk-vs-junk toy positives — quality "
                "labels will NOT reflect the seed corpus",
                RuntimeWarning,
                stacklevel=2,
            )
            texts = [
                "the quick brown foxes jumped over the lazy dogs while the "
                "other foxes watched the dogs sleeping under the brown trees"
            ]
            corpus = "<builtin-fallback>"
        _DEFAULT_CLF = train_quality_classifier(texts, junk_docs(len(texts)))
        _DEFAULT_CLF["corpus"] = corpus
    return _DEFAULT_CLF


def classifier_sql_ctes(model: dict) -> str:
    """The model as an oracle-SQL CTE body: ``clf_w(bucket, w)`` VALUES
    list (bias/B are plain integer literals the caller interpolates)."""
    rows = ", ".join(f"({b}, {v})" for b, v in sorted(model["w_micro"].items()))
    return f"clf_w(bucket, w) AS (VALUES {rows})"


def score_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: dict | None = None,
) -> DataFrame:
    """Append (n_grams, score_micro, mean_score, quality_label) per row.

    Explode unigrams + bigrams -> one broadcast join on the hashed
    bucket -> one map-side-combined sum per doc; left-join back so
    gram-less docs (empty text) survive with n_grams = 0 /
    label 'empty'. The document text never enters the shuffle — only
    (id, w) pairs do."""
    model = model or default_classifier()
    B = model["n_buckets"]
    spark = SparkSession.getActiveSession() or df.sparkSession
    w_df = local_frame(spark, sorted(model["w_micro"].items()), "bucket long, w long")
    ws = F.col("_qw")
    base = df.select(id_col, norm_words_col(F.col(text_col)).alias("_qw"))
    tail = F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0)))
    head = F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0)))
    grams = base.select(
        id_col,
        F.explode(
            F.concat(
                ws,
                F.zip_with(head, tail, lambda a, b: F.concat(a, F.lit(" "), b)),
            )
        ).alias("g"),
    )
    scored = (
        grams.select(id_col, (md5_60bit(F.col("g")) % B).alias("bucket"))
        .join(F.broadcast(w_df), ["bucket"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("w", F.lit(0))).alias("score_micro"),
        )
    )
    n, s = F.col("n_grams"), F.col("score_micro")
    bias = model["bias_micro"]
    return (
        df.join(scored, [id_col], "left")
        .withColumns(
            {
                "n_grams": F.coalesce(n, F.lit(0)).cast("long"),
                "score_micro": F.coalesce(s, F.lit(0)).cast("long"),
            }
        )
        .withColumns(
            {
                "mean_score": F.when(
                    n > 0,
                    F.round((s + F.lit(bias) * n) / (n * float(MICRO)), 6),
                ).otherwise(F.lit(0.0)),
                # BIGINT cross-multiplication — exact keep/drop decision
                "quality_label": F.when(n == 0, F.lit("empty"))
                .when(s + F.lit(bias) * n >= 0, F.lit("keep"))
                .otherwise(F.lit("drop")),
            }
        )
    )
