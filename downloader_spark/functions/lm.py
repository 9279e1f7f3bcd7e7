"""CCNet-style language-model perplexity filter (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data" — the public recipe: score each document with a small LM trained
on a trusted seed corpus, then keep/bucket by perplexity). The
reference repo has no counterpart; the contract is the published
pipeline, same as the Gopher rule-pack (functions/text.py).

KenLM stand-in: an add-one-smoothed word-BIGRAM model trained
deterministically at build time from the seed corpus (sf0.001
documents — the same corpus/normalization the BPE vocab trains from,
functions/bpe.py). Stdlib-only, no model files.

Exactness contract (what the DuckDB oracle pins): every log
probability is converted ONCE, in Python at model-build time, to an
integer in MICRO-NATS (round(-ln(p) * 1e6)) — the Spark literal
tables and the oracle's VALUES CTE are generated from the SAME
integers, so document scores are exact BIGINT sums with zero
cross-engine float drift (the PageRank integer micro-unit trick,
operators/graph.py). The mean is the only float: an IEEE division of
identical integers on both sides, rounded to 6 dp.

Model shape — the COALESCE cascade IS the smoothing:
  P(b|a) = (c(a,b) + 1) / (c(a) + V),  V = |vocab| + 1 (one UNK slot)
  - pair table  (a, b)  -> lp for every OBSERVED bigram  (c(a,b) >= 1)
  - ctx  table  (a,)    -> lp for unseen continuations of a SEEN
    context ((0+1)/(c(a)+V) — also what any OOV b costs after a)
  - oov constant        -> ln(V) for an UNSEEN/OOV context
    (c(unk) = 0 -> P = 1/V)
  so scoring never needs an explicit <unk> mapping: a missed pair
  lookup falls to ctx, a missed context falls to the constant, and
  the cascade reproduces the smoothed model exactly.

Scale design (100 TB): the model broadcasts (a seed-corpus bigram
table is small by construction — CCNet's own LMs are a few hundred
MB; far under the broadcast ceiling); scoring is explode ->
broadcast-join ->  per-doc partial-aggregated sum — one narrow
shuffle of (doc_id, lp) pairs that combines map-side, text itself
never re-shuffles. No UDFs; everything whole-stage-codegen native.

Buckets mirror CCNet's head/middle/tail: tercile thresholds over the
TRAINING docs' mean scores, stored as integer micro-nat constants;
document assignment uses BIGINT cross-multiplication
(nll_sum <= th * n_bigrams), so the bucket decision is exact too.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .bpe import _words  # same normalization: lower, \s+ collapse, split

DEFAULT_LM_CORPUS = os.environ.get(
    "SPARK_GRAFT_LM_CORPUS", "/root/testdata/sf0.001/documents.parquet"
)

_FALLBACK_CORPUS = [
    "the quick brown foxes jumped over the lazy dogs while the other "
    "foxes watched the dogs sleeping under the brown trees near the "
    "quiet rivers and the lazy foxes dreamed of jumping over rivers"
]

MICRO = 1_000_000


def _lp_micro(num: int, den: int) -> int:
    """-ln(num/den) in micro-nats, rounded once here (both engines'
    literals derive from this one integer)."""
    return round(-math.log(num / den) * MICRO)


def train_bigram_lm(texts: Iterable[str]) -> dict:
    """Deterministic add-one bigram LM + CCNet head/middle/tail
    tercile thresholds from the training docs' own mean scores."""
    docs = [_words(t or "") for t in texts]
    c1: Counter = Counter()
    c2: Counter = Counter()
    for ws in docs:
        c1.update(ws)
        c2.update(zip(ws, ws[1:]))
    vocab = sorted(c1)
    V = len(vocab) + 1  # one shared UNK slot
    pair_lp = {
        (a, b): _lp_micro(c + 1, c1[a] + V) for (a, b), c in sorted(c2.items())
    }
    ctx_lp = {a: _lp_micro(1, c1[a] + V) for a in vocab}
    oov_lp = _lp_micro(1, V)

    def score(ws: list[str]) -> tuple[int, int]:
        n, s = 0, 0
        for a, b in zip(ws, ws[1:]):
            s += pair_lp.get((a, b), ctx_lp.get(a, oov_lp))
            n += 1
        return n, s

    means = sorted(s // n for n, s in map(score, docs) if n > 0)
    k = len(means)
    th_head = means[k // 3] if k else oov_lp
    th_tail = means[(2 * k) // 3] if k else oov_lp
    return {
        "V": V,
        "vocab": vocab,
        "pair_lp": pair_lp,
        "ctx_lp": ctx_lp,
        "oov_lp": oov_lp,
        "th_head": th_head,
        "th_tail": th_tail,
    }


def score_nll_py(model: dict, text: str) -> tuple[int, int]:
    """Single-node scorer (n_bigrams, nll_micro) — the parity oracle
    for tests; the same COALESCE cascade as the Spark/SQL paths."""
    pair, ctx, oov = model["pair_lp"], model["ctx_lp"], model["oov_lp"]
    ws = _words(text or "")
    n, s = 0, 0
    for a, b in zip(ws, ws[1:]):
        s += pair.get((a, b), ctx.get(a, oov))
        n += 1
    return n, s


def bucket_py(model: dict, n: int, nll: int) -> str:
    if n == 0:
        return "empty"
    if nll <= model["th_head"] * n:
        return "head"
    if nll <= model["th_tail"] * n:
        return "middle"
    return "tail"


_DEFAULT_LM: dict | None = None


def default_lm() -> dict:
    """Build-time model: trained once per process from
    DEFAULT_LM_CORPUS (fallback: bundled seed text) and cached — the
    Spark broadcast tables and the generated oracle SQL both derive
    from this one dict, so they agree by construction (the
    functions/bpe.py default_merges pattern)."""
    global _DEFAULT_LM
    if _DEFAULT_LM is None:
        corpus = DEFAULT_LM_CORPUS
        try:
            import pyarrow.parquet as pq

            texts = [
                t or ""
                for t in pq.read_table(DEFAULT_LM_CORPUS, columns=["text"])
                .column("text")
                .to_pylist()
            ]
        except Exception as e:
            # the fallback keeps the module importable on hosts without
            # the fixture, but a silently-degraded model would pass
            # every parity gate (both engines derive from the same
            # dict) — so warn LOUDLY and record provenance in the model
            import warnings

            warnings.warn(
                f"default_lm: could not read {DEFAULT_LM_CORPUS} ({e!r}); "
                "training on the bundled toy fallback corpus — perplexity "
                "scores/buckets will NOT reflect the seed corpus",
                RuntimeWarning,
                stacklevel=2,
            )
            texts = list(_FALLBACK_CORPUS)
            corpus = "<builtin-fallback>"
        _DEFAULT_LM = train_bigram_lm(texts)
        _DEFAULT_LM["corpus"] = corpus
    return _DEFAULT_LM


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def lm_sql_ctes(model: dict) -> str:
    """The model as oracle-SQL CTE bodies: ``lm_pair(a, b, lp)`` and
    ``lm_ctx(a, lp)`` VALUES lists (oov/thresholds are plain integer
    literals the caller interpolates)."""
    pairs = ", ".join(
        f"({_q(a)}, {_q(b)}, {lp})" for (a, b), lp in sorted(model["pair_lp"].items())
    )
    ctxs = ", ".join(f"({_q(a)}, {lp})" for a, lp in sorted(model["ctx_lp"].items()))
    return (
        f"lm_pair(a, b, lp_ab) AS (VALUES {pairs}), "
        f"lm_ctx(a, lp_a) AS (VALUES {ctxs})"
    )


def _norm_words(text: Column) -> Column:
    """Word array under the model's normalization (empty-text -> []) —
    the shared Column-side mirror of bpe._words (single lockstep pair)."""
    from .bpe import norm_words_col

    return norm_words_col(text)


def score_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: dict | None = None,
) -> DataFrame:
    """Append (n_bigrams, nll_micro, mean_nll, ppl_bucket) per row.

    Explode -> two broadcast joins -> one map-side-combined sum per
    doc; left-join back so bigram-less docs (<2 words) survive with
    n_bigrams = 0 / bucket 'empty'. The document text never enters
    the shuffle — only (id, lp) pairs do."""
    model = model or default_lm()
    spark = SparkSession.getActiveSession() or df.sparkSession
    pair_df = local_frame(
        spark,
        [(a, b, lp) for (a, b), lp in sorted(model["pair_lp"].items())],
        "a string, b string, lp_ab long",
    )
    ctx_df = local_frame(spark, sorted(model["ctx_lp"].items()), "a string, lp_a long")
    w = F.col("_lmw")
    base = df.select(id_col, _norm_words(F.col(text_col)).alias("_lmw"))
    bigrams = base.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("bg"),
    ).select(id_col, "bg.a", "bg.b")
    scored = (
        bigrams.join(F.broadcast(pair_df), ["a", "b"], "left")
        .join(F.broadcast(ctx_df), ["a"], "left")
        .select(
            id_col,
            F.coalesce("lp_ab", "lp_a", F.lit(model["oov_lp"])).alias("lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp").alias("nll_micro"),
        )
    )
    n, s = F.col("n_bigrams"), F.col("nll_micro")
    return (
        df.join(scored, [id_col], "left")
        .withColumns(
            {
                "n_bigrams": F.coalesce(n, F.lit(0)).cast("long"),
                "nll_micro": F.coalesce(s, F.lit(0)).cast("long"),
            }
        )
        .withColumns(
            {
                "mean_nll": F.when(n > 0, F.round(s / (n * float(MICRO)), 6))
                .otherwise(F.lit(0.0)),
                # BIGINT cross-multiplication — exact bucket decision
                "ppl_bucket": F.when(n == 0, F.lit("empty"))
                .when(s <= F.lit(model["th_head"]) * n, F.lit("head"))
                .when(s <= F.lit(model["th_tail"]) * n, F.lit("middle"))
                .otherwise(F.lit("tail")),
            }
        )
    )
