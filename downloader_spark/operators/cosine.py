"""Exact pairwise cosine kernels: the one scoring family behind every
embedding similarity and embedding dedup path.

- ``fold_norms`` / ``fold_dots`` / ``cosines``: the single exact
  per-dimension fold (see the exactness contract below).
- ``topk_superset`` + ``topk_tail``: per-query top-k over a candidate
  scan — cosine_topk, the LSH probe and every IVF probe (flat and
  tree, float and quantized, both passes of a quantized rerank).
- ``threshold_edges``: every within-group pair at or above a cosine
  threshold — semantic_dedup (grouped by cluster) and
  embedding_near_dups (grouped by LSH bucket, or one group for the
  exact path).

Neither kernel builds a (candidate × query) or within-group pair
table: the pairs exist only to be ranked or thresholded, so each Arrow
batch (top-k) or group (threshold) is scored in numpy and only the
survivors leave the Python worker.

Exactness contract (the oracle hashes pin every output bit):
- dot/norm are the SAME IEEE-754 double sequence as Spark's
  ``aggregate(zip_with(a, b, x*y), 0.0, acc + v)`` fold (semdedup._dot
  / _norm): a Python loop over dimensions doing elementwise
  acc = acc + (a_d * b_d). numpy elementwise ops are single
  correctly-rounded IEEE ops, so the result is bit-identical to the
  JVM's left-to-right fold — never np.dot/@, whose blocked summation
  reassociates. Multiplication commutes exactly, so which side of a
  pair is "a" does not matter.
- top-k: per-batch selection keeps every candidate within
  MARGIN = 2.5 rounding quanta of the batch's k-th best raw score. The
  final ranking is by (round(sim, round_to) DESC, cand_id): if x is in
  the batch top-k under THAT order, any y ranked above x has
  round(y) >= round(x), hence raw y > raw x - 1.5 quanta, so x is never
  cut by the margin — the union of batch supersets contains the global
  top-k, and the F.round + per_key_topk tail ranks it exactly. With
  ``round_to=None`` (a quantized probe's survivor pass) the order is
  (raw sim DESC, cand_id): the margin is 0 and the tail does not round.
- threshold: the kernel keeps every pair with raw cosine
  >= threshold - 0.5·quantum - 1e-9, a superset of the pairs whose
  Spark ``round(cosine, round_to) >= threshold`` (HALF_UP rounding can
  lift a raw score by at most half a quantum). Spark's own F.round then
  decides, so the rounded test is exact by construction.

Degenerate inputs: a pair whose raw cosine is not finite — a zero-norm
or NaN vector on either side — is never admissible, neither as a top-k
neighbour nor as a threshold edge. Such a vector simply has no
neighbours and no edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..session import local_frame, spread

#: threshold_edges scores a group in TILE × TILE pair tiles, so each
#: score matrix is 32 MiB of doubles whatever the group size
TILE = 2048


def stack(vectors) -> np.ndarray:
    """float64 row matrix from a column of array values."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vectors])


def fold_norms(M: np.ndarray) -> np.ndarray:
    """sqrt of the left-to-right fold of squares per row."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for d in range(M.shape[1]):
        c = M[:, d]
        acc = acc + c * c
    return np.sqrt(acc)


def fold_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(len(A) × len(B)) dot products, one IEEE multiply then one IEEE
    add per dimension."""
    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d][:, None] * B[:, d][None, :]
    return acc


def cosines(A, B, na, nb) -> np.ndarray:
    """Raw cosine matrix from the rows and their fold_norms; zero-norm
    or NaN rows give non-finite entries (see the degenerate-input rule)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return fold_dots(A, B) / (na[:, None] * nb[None, :])


def collect_query_matrix(queries: DataFrame):
    """Driver-side (query_id list, float64 matrix) for a (query_id,
    qvec) query batch.
    The query side is broadcast-small by contract on every top-k path;
    collecting it moves the same bytes once."""
    rows = queries.select("query_id", "qvec").collect()
    qids = [r[0] for r in rows]
    if not rows:
        return qids, np.zeros((0, 1), dtype=np.float64)
    return qids, stack([r[1] for r in rows])


def topk_superset(
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    round_to: int | None = 6,
    extra_cols: tuple = (),
    mask_fn=None,
    q_collected=None,
) -> DataFrame:
    """(query_id, cand_id, cosine<raw double>) containing, per Arrow
    batch of the (cand_id, cvec) candidate scan, a superset of that
    batch's top-k against the (query_id, qvec) query batch by
    (round(cosine, round_to) DESC, cand_id ASC) — see the module
    docstring for the margin proof. ``mask_fn(pdf, C)``
    takes the batch and its stacked candidate matrix and returns a
    (len(pdf) × n_queries) bool matrix of admissible pairs (probe
    membership, LSH bucket match); cand_id == query_id and non-finite
    cosines are always excluded. ``q_collected`` is (qids, Q) when the
    caller already collected the query batch — mask columns follow Q's
    row order. ``round_to=None`` ranks by the raw cosine (margin 0)."""
    qids, Q = (
        q_collected if q_collected is not None
        else collect_query_matrix(queries)
    )
    schema = StructType(
        [
            StructField("query_id", queries.schema["query_id"].dataType),
            StructField("cand_id", cand.schema["cand_id"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    spark = cand.sparkSession
    if not qids:
        return local_frame(spark, [], schema)
    qn = fold_norms(Q)
    nq = len(qids)
    qid_arr = np.asarray(qids)
    margin = 0.0 if round_to is None else 2.5 * (10.0 ** (-round_to))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = stack(pdf["cvec"])
            cid = pdf["cand_id"].to_numpy()
            sims = cosines(C, Q, fold_norms(C), qn)
            valid = np.isfinite(sims) & (cid[:, None] != qid_arr[None, :])
            if mask_fn is not None:
                valid &= mask_fn(pdf, C)
            neg = np.where(valid, sims, -np.inf)
            out_q, out_c, out_s = [], [], []
            n = len(cid)
            for j in range(nq):
                col = neg[:, j]
                n_valid = int(valid[:, j].sum())
                if n_valid == 0:
                    continue
                if n_valid > k:
                    kth = np.partition(col, n - k)[n - k]
                    keep = col >= kth - margin
                else:
                    keep = valid[:, j]
                idx = np.nonzero(keep)[0]
                out_q.append(np.full(len(idx), qid_arr[j]))
                out_c.append(cid[idx])
                out_s.append(sims[idx, j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "cand_id": np.concatenate(out_c),
                        "cosine": np.concatenate(out_s),
                    }
                )

    src = cand.select("cand_id", "cvec", *extra_cols)
    return spread(src, "cand_id").mapInPandas(gen, schema)


def topk_tail(superset: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """F.round + per-query window rank over the kernel superset:
    (query_id, cand_id, cosine, rnk); ``round_to=None`` ranks the raw
    cosine."""
    from .topk import per_key_topk

    cosine = F.col("cosine")
    if round_to is not None:
        cosine = F.round(cosine, round_to).alias("cosine")
    scored = superset.select("query_id", "cand_id", cosine)
    return per_key_topk(
        scored, ["query_id"], [F.desc("cosine"), F.asc("cand_id")], k=k
    ).select("query_id", "cand_id", "cosine", "rnk")


def _edges(pdf: pd.DataFrame, ta: int, tb: int, floor: float):
    """applyInPandas kernel over one (group, block-pair) task: rows
    carry ``_blk`` ∈ {ta, tb}. Within a block (ta == tb) every
    unordered pair is scored once; across blocks every A×B pair.
    Emits (min id, max id, raw cosine) for the finite pairs with raw
    cosine >= ``floor``."""
    ids = pdf["_id"].to_numpy()
    blk = pdf["_blk"].to_numpy()
    V = stack(pdf["_v"])
    in_a, in_b = blk == ta, blk == tb
    ids_a, Va, ids_b, Vb = ids[in_a], V[in_a], ids[in_b], V[in_b]
    na, nb = fold_norms(Va), fold_norms(Vb)
    out_a, out_b, out_s = [ids[:0]], [ids[:0]], [np.zeros(0)]
    for i0 in range(0, len(ids_a), TILE):
        for j0 in range(i0 if ta == tb else 0, len(ids_b), TILE):
            sa, sb = slice(i0, i0 + TILE), slice(j0, j0 + TILE)
            sims = cosines(Va[sa], Vb[sb], na[sa], nb[sb])
            hit = np.isfinite(sims) & (sims >= floor)
            if ta == tb:
                ia = np.arange(i0, min(i0 + TILE, len(ids_a)))
                jb = np.arange(j0, min(j0 + TILE, len(ids_b)))
                hit &= ia[:, None] < jb[None, :]
            ii, jj = np.nonzero(hit)
            a, b = ids_a[sa][ii], ids_b[sb][jj]
            distinct = a != b
            out_a.append(np.minimum(a, b)[distinct])
            out_b.append(np.maximum(a, b)[distinct])
            out_s.append(sims[ii, jj][distinct])
    return pd.DataFrame(
        {
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_s),
        }
    )


def threshold_edges(
    df: DataFrame,
    keys: list[str],
    threshold: float,
    round_to: int = 6,
    n_groups: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) with id_a < id_b for every pair of rows of
    ``df`` (columns ``_id``, ``_v`` plus ``keys``) that share all
    ``keys`` and whose ``round(cosine, round_to) >= threshold``; the
    cosine column is that rounded value. ``keys=[]`` pairs all rows.

    Each group is split into nb hash blocks of ``_id`` and each row is
    replicated to the nb (block, block) tasks it takes part in, so one
    group scores as nb(nb+1)/2 parallel tasks with the same pair set
    and per-pair arithmetic. nb is chosen from the session parallelism
    when the group count ``n_groups`` is known (at most 8); unknown
    (many small groups, e.g. LSH buckets) means nb = 1."""
    spark = df.sparkSession
    nb = 1
    if n_groups is not None:
        par = spark.sparkContext.defaultParallelism
        while n_groups * nb * (nb + 1) // 2 < par and nb < 8:
            nb += 1
    id_type = df.schema["_id"].dataType
    schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    floor = threshold - 0.5 * 10.0 ** (-round_to) - 1e-9
    tasks = df.select(
        *keys, "_id", "_v",
        F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(nb))
        .cast("int").alias("_blk"),
    ).select(
        *keys, "_id", "_v", "_blk",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(nb - 1)),
                lambda x: F.struct(
                    F.least(F.col("_blk"), x.cast("int")).alias("ta"),
                    F.greatest(F.col("_blk"), x.cast("int")).alias("tb"),
                ),
            )
        ).alias("_t"),
    ).select(*keys, "_id", "_v", "_blk", "_t.ta", "_t.tb")
    nk = len(keys)
    raw = tasks.groupBy(*keys, "ta", "tb").applyInPandas(
        lambda key, pdf: _edges(pdf, int(key[nk]), int(key[nk + 1]), floor),
        schema,
    )
    return raw.select(
        "id_a", "id_b", F.round(F.col("cosine"), round_to).alias("cosine")
    ).filter(F.col("cosine") >= threshold)
