"""SemDeDup-style semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" — the public recipe: k-means cluster
the embeddings, find high-cosine pairs WITHIN each cluster only, and
keep one document per duplicate group, preferring the member farthest
from the cluster centroid). The reference repo has no counterpart; the
contract is the published recipe, same as the CCNet perplexity filter
(functions/lm.py) and the DCLM classifier (functions/classifier.py) —
this is the embedding-space dedup axis next to the token-space ones
(MinHash/SimHash/Jaccard in operators/dedup.py).

Exactness contract (what the DuckDB oracle pins): the centroids are
fitted ONCE at build time by a deterministic single-node Lloyd's
k-means (no RNG — init is the k vectors with the smallest
xxhash64(vec_id), the same rule as the distributed
similarity.kmeans_centroids) and quantized ONCE to integer MICRO-UNITS
(floor(x*1e6 + 0.5) — round-half-up, NOT Python round(), which is
banker's; CLAUDE.md invariant 8). Cluster assignment is then an EXACT
BIGINT computation — argmin over sum((v_micro - c_micro)^2) with ties
to the lowest cluster index — identical in the Spark pandas UDF and in
DuckDB list arithmetic, zero cross-engine float drift. Pair cosines
and centroid cosines are doubles rounded to 6 (the
embedding_near_dups oracle pattern).

Scale design (100 TB / 10^9 vectors): the centroid table is k×dim
integers shipped in the UDF closure (k ~ 50k in the published LAION
runs — a few MB); assignment is one Arrow-batched numpy pass over the
corpus, no shuffle. Pair scoring groups each cluster's (id, vector)
rows into hash-block-pair tasks of the exact cosine kernel
(operators/cosine.threshold_edges); no pair table is built. The
within-cluster all-pairs cost is (n/k)^2 per cluster — k is the knob
the paper itself uses to bound it. Duplicate groups resolve through
the same O(log diameter) min-label components used by the token-space
dedups (operators/dedup.connected_keepers).
At this repo's oracle scale the fit runs on the fixture corpus
(functions/classifier.py DEFAULT_SEED_CORPUS pattern); at 100 TB the
fit would run distributed via similarity.kmeans_centroids(sample_frac)
and the quantized result broadcast the same way.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .cosine import threshold_edges

MICRO = 1_000_000

DEFAULT_EMB_CORPUS = os.environ.get(
    "SPARK_GRAFT_EMB_CORPUS", "/root/testdata/sf0.001/embeddings.parquet"
)


# Spark-side (higher-order-function) dot and norm, the JVM form of
# cosine.fold_dots/fold_norms. Only the cosine-to-centroid column uses
# them: it scores one row against one vector, with no pair table to
# avoid.
def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def quantize_centroids(centroids: list[list[float]]) -> list[list[int]]:
    """floor(x*1e6 + 0.5) per component — round-half-up in BOTH Python
    and SQL (floor(x + 0.5)); Python round() is banker's and would
    desync the engines (CLAUDE.md invariant 8)."""
    import math

    return [
        [int(math.floor(x * MICRO + 0.5)) for x in c] for c in centroids
    ]


def fit_semdedup_centroids(
    ids: list, vecs: list[list[float]], k: int = 8, iters: int = 4
) -> list[list[int]]:
    """Deterministic single-node Lloyd's k-means → integer micro-unit
    centroids. Init = the k vectors with the smallest
    (xxhash64(str(id)), id) — the same no-RNG rule as the distributed
    similarity.kmeans_centroids, so the two fits agree on their seed
    set. Empty clusters keep their previous centroid. All arithmetic is
    numpy float64; determinism ACROSS processes is not required — the
    fit is cached per process and BOTH the Spark literals and the
    oracle SQL derive from the same cached list (the
    functions/lm.default_lm pattern), so they agree by construction."""
    import numpy as np

    from ..functions.hashing import xxh64_str

    if not vecs:
        raise ValueError("fit_semdedup_centroids: empty input")
    V = np.asarray(vecs, dtype=np.float64)
    order = sorted(range(len(ids)), key=lambda i: (xxh64_str(str(ids[i])), ids[i]))
    k = min(k, len(vecs))
    C = V[order[:k]].copy()
    for _ in range(iters):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            m = V[a == j]
            if len(m):
                C[j] = m.mean(axis=0)
    return quantize_centroids([list(c) for c in C])


_DEFAULT_CENTROIDS: list[list[int]] | None = None


def default_semdedup_centroids(k: int = 8, iters: int = 4) -> list[list[int]]:
    """Build-time centroids: fitted once per process from the fixture
    embedding corpus and cached — the Spark broadcast table and the
    generated oracle SQL both derive from this one list, so they agree
    by construction (the classifier.default_classifier pattern)."""
    global _DEFAULT_CENTROIDS
    if _DEFAULT_CENTROIDS is None:
        try:
            import pyarrow.parquet as pq

            t = pq.read_table(DEFAULT_EMB_CORPUS, columns=["vec_id", "embedding"])
            ids = t.column("vec_id").to_pylist()
            vecs = [[float(x) for x in v] for v in t.column("embedding").to_pylist()]
        except Exception as e:
            import hashlib
            import warnings

            warnings.warn(
                f"default_semdedup_centroids: could not read "
                f"{DEFAULT_EMB_CORPUS} ({e!r}); fitting on hash-derived "
                "synthetic vectors — clusters will NOT reflect the corpus",
                RuntimeWarning,
                stacklevel=2,
            )
            ids = list(range(64))
            vecs = [
                [
                    (int(hashlib.md5(f"sd{i}.{j}".encode()).hexdigest()[:8], 16)
                     / 2**31) - 1.0
                    for j in range(64)
                ]
                for i in ids
            ]
        _DEFAULT_CENTROIDS = fit_semdedup_centroids(ids, vecs, k=k, iters=iters)
    return _DEFAULT_CENTROIDS


def assign_py(vec_micro: list[int], centroids_micro: list[list[int]]) -> int:
    """Python mirror of the Spark/SQL assignment: exact integer argmin,
    ties to the lowest cluster index — the parity oracle for tests."""
    best, best_d = 0, None
    for j, c in enumerate(centroids_micro):
        d = sum((a - b) * (a - b) for a, b in zip(vec_micro, c))
        if best_d is None or d < best_d:
            best, best_d = j, d
    return best


def micro_col(vec):
    """array<double> → array<bigint> micro-units, floor(x*1e6 + 0.5)
    (native, whole-stage-codegen)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * MICRO + F.lit(0.5)).cast("long")
    )


def make_nearest_centroid_exact_udf(centroids_micro: list[list[int]]):
    """Arrow-batched pandas UDF: array<bigint> micro vector → nearest
    centroid index by EXACT int64 squared L2 (sums are
    order-independent in integer arithmetic, so numpy here, DuckDB
    list_sum there, and the Python mirror all agree bit-for-bit;
    np.argmin ties to the first = lowest index, matching assign_py and
    the SQL ORDER BY d, cl). Max magnitude: diff ≤ ~2^22 micro for
    unit-scale embeddings → dim·diff² ≤ ~2^50 — comfortably int64.
    The k×dim int closure ships once per task like a broadcast; each
    batch is one vectorized subtract-square-sum (k·dim·batch ints —
    for k in the tens of thousands switch to the |m|²−2m·C+|c|²
    matmul expansion, still exact in int64)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids_micro, dtype=np.int64)  # k × dim

    @pandas_udf(IntegerType())
    def nearest(vm: pd.Series) -> pd.Series:
        if len(vm) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack([np.asarray(x, dtype=np.int64) for x in vm])
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return nearest


def semantic_dedup(
    spark: SparkSession,
    embeddings: DataFrame,
    centroids_micro: list[list[int]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup decision table: (vec_id, cluster, component,
    cos_centroid, keep) for every input vector.

    - ``cluster``: exact-integer nearest centroid (see the module
      docstring's exactness contract).
    - ``component``: min vec_id reachable through within-cluster
      cosine-≥-threshold edges (connected_keepers min-label
      propagation); singletons label themselves.
    - ``keep``: True for exactly one member per component — the one
      with the LOWEST cosine to its cluster centroid (the paper's
      keep-the-outlier rule: extreme points carry more signal), ties
      to the lowest vec_id.

    Plan shape: one pandas-UDF assignment pass (no shuffle) → one
    grouped cosine kernel keyed on (cluster, block pair)
    (cosine.threshold_edges: every within-cluster pair is scored in
    numpy, only the edges leave the worker) → connected_keepers → one
    window per component for the keeper pick. The assigned frame is
    referenced twice downstream (the edge kernel and the final
    join-back), so it is materialized ONCE via a tracked
    localCheckpoint — without it the assignment UDF re-runs per
    reference. The returned frame carries ``_ckpt_ids`` for
    operators.dedup.release_result (the house pattern).

    Degenerate inputs: a zero-norm or NaN vector has no edges (its
    cosine to anything is not finite), so it is its own kept
    component; a zero-norm vector's ``cos_centroid`` is null.
    """
    from .dedup import _ckpt_tracked, connected_keepers

    base = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    )
    nearest = make_nearest_centroid_exact_udf(centroids_micro)
    asg, asg_ids = _ckpt_tracked(
        base.withColumn("cluster", nearest(micro_col(F.col("_v"))))
    )

    # centroid doubles for the cosine-to-centroid column: EXACTLY
    # m / 1e6 in both engines (IEEE double division of the same ints)
    cent_rows = [
        (j, [m / MICRO for m in c]) for j, c in enumerate(centroids_micro)
    ]
    cent = local_frame(spark, cent_rows, "cluster int, _c array<double>")
    asg = asg.join(F.broadcast(cent), "cluster").withColumn(
        "cos_centroid",
        F.round(
            F.try_divide(
                _dot(F.col("_v"), F.col("_c")),
                _norm(F.col("_v")) * _norm(F.col("_c")),
            ),
            round_to,
        ),
    ).drop("_c")

    # within-cluster edges: each cluster's rows are scored and
    # thresholded in numpy by the exact cosine kernel, split into
    # block-pair tasks so k clusters still fill the session's cores
    edges = threshold_edges(
        asg.select("cluster", "_id", "_v"), ["cluster"], threshold, round_to,
        n_groups=max(len(centroids_micro), 1),
    )

    comp = connected_keepers(edges).select(
        F.col("node").alias("_id"), F.col("keeper").alias("component")
    )
    full = asg.join(comp, "_id", "left").withColumn(
        "component", F.coalesce("component", F.col("_id"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.asc("cos_centroid"), F.asc("_id")
    )
    out = full.select(
        F.col("_id").alias(id_col),
        "cluster",
        "component",
        "cos_centroid",
        (F.row_number().over(w) == 1).alias("keep"),
    )
    out._ckpt_ids = asg_ids
    return out


def centroids_sql_values(centroids_micro: list[list[int]]) -> str:
    """The centroid table as DuckDB VALUES rows of BIGINT lists:
    ``(0, [..]), (1, [..])`` — splice into a ``cent(cl, cm)`` CTE."""
    rows = []
    for j, c in enumerate(centroids_micro):
        lits = ", ".join(str(int(m)) for m in c)
        rows.append(f"({j}, [{lits}]::BIGINT[])")
    return ", ".join(rows)
