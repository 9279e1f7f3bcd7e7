"""Deduplication family for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard — each
designed so the expensive comparison is bucket-local (shuffle on the
bucket key only; no O(n²) cross join). At 100 TB the candidate
generation (LSH banding / simhash prefix) is the only shuffle; the
verify step runs within buckets.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str, text: Column) -> DataFrame:
    """Group identical texts by md5; keeper = min(id). Pure hash-agg —
    one shuffle on the digest, no text comparison."""
    return (
        df.select(F.col(id_col), F.md5(text).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min(id_col).alias("keeper"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH
# ---------------------------------------------------------------------------

def _normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(text), r"\s+", " ")


def words_of(text: Column) -> Column:
    """Normalized word array (lower, collapse whitespace, trim, split)."""
    return F.split(F.trim(_normalized_text(text)), " ")


def shingles_of_words(w: Column, k: int = 5) -> Column:
    """Word k-shingles from an ALREADY-SPLIT word array.

    ``w`` must be a materialized column (a prior projection), never the
    split expression inline: an expression referenced inside a
    ``transform`` lambda is re-inlined PER ARRAY ELEMENT, so the inline
    form recomputes lower+regexp+split over the full text once per
    gram — measured 14× slower (11 s vs 0.8 s for the sf0.1 gram
    explode). A separate select is enough: CollapseProject keeps
    multi-referenced non-cheap projections as their own operator."""
    n = F.size(w)
    # sequence is empty when fewer than k words → fall back to whole text
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)))
    )).otherwise(F.array(F.concat_ws(" ", w)))  # == the trimmed normalized text


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text: Column,
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(_id, _sig array<long>) MinHash signatures.

    Explode-then-hash-aggregate form: shingles exploded ONCE, each gram
    string hashed to a LONG fingerprint ONCE, and the num_hashes
    per-permutation minima computed as plain MIN aggregates over
    ``xxhash64(fingerprint, i)`` (map-side partial agg; tiny codegen).
    Hashing the 8-byte fingerprint per permutation instead of the gram
    string keeps the permutation family off the string bytes (one
    string hash per gram row, not num_hashes of them) — MinHash over
    gram fingerprints is standard. The nested higher-order-function
    formulation (array_min∘transform per permutation) type-checks but
    compiles to a pathological expression tree (>1 MiB codegen for 64
    hashes) — measured 30-60s on 500 docs; this form is <2s."""
    grams = (
        df.select(F.col(id_col).alias("_id"), words_of(text).alias("_w"))
        .select("_id", F.explode(shingles_of_words(F.col("_w"), shingle_k)).alias("_g"))
        .select("_id", F.xxhash64("_g").alias("_gl"))
    )
    mins = [
        F.min(F.xxhash64("_gl", F.lit(i))).alias(f"_h{i}") for i in range(num_hashes)
    ]
    return grams.groupBy("_id").agg(*mins).select(
        "_id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("_sig")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(
    df: DataFrame, id_col: str, text: Column, shingle_k: int = 2
) -> DataFrame:
    """(_id, _sh long) 64-bit SimHash over word shingles.

    Same explode-then-aggregate shape as minhash_signatures: per bit
    position, SUM over token hashes of (bit ? +1 : −1) as 64 plain SUM
    aggregates, then one projection assembles the sign bits."""
    grams = (
        df.select(F.col(id_col).alias("_id"), words_of(text).alias("_w"))
        .select("_id", F.explode(shingles_of_words(F.col("_w"), shingle_k)).alias("_g"))
        .select("_id", F.xxhash64("_g").alias("_h"))
    )
    sums = [
        F.sum(
            (F.shiftright("_h", i).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    agg = grams.groupBy("_id").agg(*sums)
    out = F.lit(0).cast("long")
    for i in range(64):
        bit = (
            F.when(F.col(f"_b{i}") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        out = out.bitwiseOR(F.shiftleft(bit, i))
    return agg.select("_id", out.alias("_sh"))


def simhash_near_dups(
    df: DataFrame, id_col: str, text: Column, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidate generation: split the 64-bit hash into 4 16-bit blocks —
    any pair within distance ≤3 shares at least one exact block
    (pigeonhole). Shuffle once on (block_idx, block_value); verify
    Hamming within buckets via bit_count(xor).
    """
    sh = simhash64(df, id_col, text)
    blocks = sh.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("_sh", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bval"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "_sh", "b.blk", "b.bval")
    l, r = blocks.alias("l"), blocks.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.blk") == F.col("r.blk"),
                F.col("l.bval") == F.col("r.bval"),
                F.col("l._id") < F.col("r._id"),
            ],
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(F.col("l._sh").bitwiseXOR(F.col("r._sh"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, bucket-local verify)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text: Column,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Exact Jaccard over word k-grams for candidate pairs that share at
    least one k-gram (inverted-index join on the gram — no cross join).

    Scale guards: grams hashed to longs before the join (no string
    shuffle); stop-grams (doc-frequency > max_df) dropped — they only
    produce quadratic hot buckets. The Jaccard estimate is EXACT over
    retained grams: per-doc gram counts are taken AFTER the stop-gram
    anti-join, from the same filtered relation as the intersection
    (otherwise Jaccard is underestimated for docs containing hot grams
    and the threshold silently drops true near-dups). max_df remains a
    recall/cost knob, but the estimate direction is now consistent.
    """
    base = df.select(F.col(id_col).alias("_id"), words_of(text).alias("_w")).select(
        "_id", shingles_of_words(F.col("_w"), k).alias("_gs")
    )
    # the exploded grams feed FOUR consumers (stop-gram df-agg,
    # anti-join, per-doc counts, self-join); without a cache the
    # shingle+explode scan recomputes per consumer (measured 3.3×
    # slower — Catalyst does not ReusedExchange across these legs).
    # MEMORY_AND_DISK, spill-safe; released before return (below).
    grams = cached_grams = (
        base.select("_id", F.explode("_gs").alias("_g"))
        .select("_id", F.xxhash64("_g").alias("gram"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("gram")
    )
    grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    # per-doc counts over RETAINED grams (the filtered relation) so the
    # n_a+n_b−common denominator matches the intersection's universe
    counts = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    l, r = grams.alias("l"), grams.alias("r")
    inter = (
        l.join(r, on=[F.col("l.gram") == F.col("r.gram"), F.col("l._id") < F.col("r._id")])
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    inter = (
        inter.join(counts.select(F.col("_id").alias("id_a"), F.col("n_grams").alias("n_a")), "id_a")
        .join(counts.select(F.col("_id").alias("id_b"), F.col("n_grams").alias("n_b")), "id_b")
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    out = (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # RELEASE the gram cache before returning (ADVICE r3: persists with
    # no release hook accumulate executor cache across invocations —
    # LRU eviction saves correctness, not memory pressure). The pair
    # list above threshold is tiny relative to the gram explosion, so
    # eagerly materializing it as a TRACKED localCheckpoint lets the
    # cache serve all four consumers and free immediately; the result's
    # own blocks are exposed via release_result (ADVICE r4: an untracked
    # checkpoint can never be freed by the caller — unpersist is a no-op
    # on it).
    out, out_ids = _ckpt_tracked(out)
    out._ckpt_ids = out_ids
    cached_grams.unpersist()
    return out


def _ckpt_tracked(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """localCheckpoint(eager) + the storage ids it registered, so the
    caller can drop superseded rounds DETERMINISTICALLY.
    DataFrame.unpersist() is a CacheManager no-op for checkpointed
    frames, and the ContextCleaner only reclaims their blocks after a
    JVM GC notices the dropped reference — measured: blocks from every
    propagation round survive the call otherwise."""
    sc = df.sparkSession.sparkContext._jsc.sc()

    def _ids() -> set[int]:
        it = sc.getPersistentRDDs().keysIterator()
        out = set()
        while it.hasNext():
            out.add(int(it.next()))
        return out

    before = _ids()
    out = df.localCheckpoint(eager=True)
    return out, _ids() - before


def _drop_ckpt(df: DataFrame, ids: set[int]) -> None:
    sc = df.sparkSession.sparkContext._jsc.sc()
    m = sc.getPersistentRDDs()
    for rdd_id in ids:
        opt = m.get(rdd_id)
        if not opt.isEmpty():
            opt.get().unpersist(False)


def release_result(df: DataFrame) -> None:
    """Free the checkpoint blocks behind a DataFrame returned by the
    operators here that materialize their result internally
    (ngram_jaccard_pairs, repeated_ngram_stats, and query-layer
    composites like webtext_pipeline). DataFrame.unpersist() is a no-op
    on checkpointed frames, so long-lived drivers that call these
    operators repeatedly MUST release superseded results through this
    hook once consumed (ADVICE r4). No-op for frames without tracked
    blocks; the frame is unusable afterwards."""
    ids = getattr(df, "_ckpt_ids", None)
    if ids:
        _drop_ckpt(df, ids)


def connected_keepers(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 12,
    collect_max: int = 2_000_000,
) -> DataFrame:
    """(node, keeper) for every node in the pair graph: keeper = the
    smallest id reachable through near-dup edges — the canonical-doc
    choice a dedup pipeline makes AFTER pair generation (keep one doc
    per connected component, drop the rest).

    Iterative min-label propagation over DataFrame joins: each round a
    node's label becomes min(own, neighbors'); converges in ≤ graph
    diameter rounds (near-dup components are shallow — cliques and
    short chains), checked by a per-round changed-count. If the graph
    has a long chain and plain propagation exhausts ``max_iters``, the
    loop FALLS BACK to pointer-jumping rounds (label ← min(own,
    neighbors', label-of-label) — the star-contraction family of
    MapReduce CC algorithms: each jump halves the remaining distance to
    the component minimum, so convergence becomes O(log diameter) and
    another ``max_iters`` doubling rounds cover diameters ~2^max_iters;
    a 100 TB dedup run never aborts on one unlucky chain). Per round:
    one join + one groupBy (+ one label self-join in doubling rounds);
    labels are persisted per round and the previous round unpersisted,
    so lineage and cache stay O(1) in rounds.

    Small graphs (≤ ``collect_max`` edges) short-circuit to a
    driver-side union-find (r7): every propagation round is 2-3 Spark
    jobs plus a tracked checkpoint, so a 5k-edge dup graph paid ~3 s
    of pure round fixed cost — the same result is exact in
    milliseconds on the driver and returns as a ``local_frame``. The gate is the same bounded-small-side
    class as the ≤256 MiB Bloom broadcast (CrawlConfig
    bloom_broadcast_max): 2M bare-id edges ≈ 32 MB collected. The gate
    counts edges, not bytes, so that size assumes bare integer ids;
    long string ids collect proportionally more. The edge table is
    persisted for the gate count, so the big path's first round reuses
    it instead of recomputing pair generation.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.persist()
    n_edges = edges.count()
    if n_edges <= collect_max:
        rows = edges.collect()
        edges.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = find(r[0]), find(r[1])
            if a != b:
                parent[b] = a
        nodes = {v for r in rows for v in (r[0], r[1])}
        best: dict = {}
        for v in nodes:
            r = find(v)
            if r not in best or v < best[r]:
                best[r] = v
        out_rows = [(v, best[find(v)]) for v in sorted(nodes)]
        id_type = pairs.schema[id_a].dataType.simpleString()
        return local_frame(pairs.sparkSession, out_rows, f"node {id_type}, keeper {id_type}")
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.persist()
    # per-round materialization is localCheckpoint, NOT persist: the
    # doubling rounds reference `labels` three times (self ∪ prop ∪
    # hop), so without lineage TRUNCATION the logical plan grows ~3×
    # per round — measured: a 2 GiB plan string and minutes of pure
    # analysis by round 8. localCheckpoint keeps the plan O(1) in
    # rounds; superseded rounds' blocks are dropped explicitly.
    labels, label_ids = _ckpt_tracked(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # plain rounds up to max_iters, then pointer-jumping rounds with a
    # hard backstop: 48 doubling rounds cover diameters ~2^48 — no real
    # graph reaches the raise, but an infinite loop stays impossible
    for it in range(max_iters + 48):
        prop = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("label")
        )
        cand = labels.unionByName(prop)
        if it >= max_iters:
            # pointer-jumping fallback: labels are always ids of nodes
            # in the same component (min-propagation invariant), so
            # label[label[u]] is component-safe and skips ahead
            # exponentially
            hop = (
                labels.alias("a")
                .join(labels.alias("b"), F.col("a.label") == F.col("b.node"))
                .select(
                    F.col("a.node").alias("node"), F.col("b.label").alias("label")
                )
            )
            cand = cand.unionByName(hop)
        new_labels, new_ids = _ckpt_tracked(
            cand.groupBy("node").agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # new_labels' lineage is truncated to its own blocks, so the
        # superseded round's storage can be dropped immediately
        _drop_ckpt(labels, label_ids)
        labels, label_ids = new_labels, new_ids
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_iters} plain + "
            "48 pointer-jumping rounds (diameter > ~2^48)"
        )
    sym.unpersist()
    edges.unpersist()
    # the result reads the final round's (already materialized)
    # checkpoint blocks — no persist-registry entry survives the call
    # beyond them, and they are reclaimed when the result is
    # garbage-collected (ADVICE r2: repeated invocations must not
    # accumulate executor cache). At cluster scale prefer a reliable
    # checkpoint dir; the result is one row per node in the PAIR graph
    # (dup nodes only), orders of magnitude smaller than the corpus.
    return labels.select("node", F.col("label").alias("keeper"))


def minhash_band_candidates(
    df: DataFrame,
    id_col: str,
    text: Column,
    num_hashes: int = 32,
    bands: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from LSH banding alone — the
    cheapest form of the bucket join: only (_id, band, bhash) is
    shuffled (signature arrays stay OUT of the join; carrying them
    doubles the shuffle payload for nothing when a later stage
    recomputes exact similarity anyway)."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text, num_hashes, shingle_k)
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("_sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.bhash")
    # shuffle-hash, not sort-merge (r7, guide §3.1): both sides are the
    # same banded table, the build side is bounded per partition by
    # rows/shuffle-partitions, and skipping the two big sorts measured
    # 10.7 → 5.8 s on the sf1.0 webtext survivor corpus (13M candidate
    # pairs out of hot template buckets)
    l, r = banded.alias("l").hint("shuffle_hash"), banded.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bhash") == F.col("r.bhash"),
                F.col("l._id") < F.col("r._id"),
            ],
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text: Column,
    num_hashes: int = 32,
    bands: int = 32,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidates verified by EXACT shingle Jaccard.

    The two-stage pattern every 100 TB dedup pipeline runs: cheap
    hash-bucketed candidate generation (minhash_band_candidates), then
    the exact set comparison only for candidate pairs
    (array_intersect/array_union of HASHED gram arrays within the
    joined rows — longs, not strings, and never all-pairs). With
    single-row bands (bands == num_hashes) a pair at Jaccard J is
    missed with probability (1−J)^num_hashes — ≤ 2.4e-10 at J=0.5,
    num_hashes=32 — which makes the output DuckDB-oracle-checkable
    against an exact all-pairs recompute (the driver's hard
    correctness signal for the MinHash family). At scale, multi-row
    bands trade that recall for far smaller buckets.
    """
    cands = minhash_band_candidates(
        df, id_col, text, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
    )
    gs = df.select(F.col(id_col).alias("_gid"), words_of(text).alias("_w")).select(
        "_gid",
        F.transform(
            shingles_of_words(F.col("_w"), shingle_k), lambda g: F.xxhash64(g)
        ).alias("_gs"),
    )
    a = gs.select(F.col("_gid").alias("id_a"), F.col("_gs").alias("_gsa"))
    b = gs.select(F.col("_gid").alias("id_b"), F.col("_gs").alias("_gsb"))
    # shuffle-hash on both gram-array attach joins (r7, guide §3.1):
    # sort-merge sorted the multi-million-row candidate pair table
    # twice — the second time carrying the first side's gram arrays —
    # for a join whose build side (one gram array per surviving doc)
    # hashes comfortably per partition; measured 24.5 → 11.5 s on the
    # sf1.0 webtext corpus, identical output
    joined = cands.join(a.hint("shuffle_hash"), "id_a").join(
        b.hint("shuffle_hash"), "id_b"
    )
    jac = F.size(F.array_intersect("_gsa", "_gsb")) / F.size(
        F.array_union("_gsa", "_gsb")
    )
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def repeated_ngram_stats(
    df: DataFrame,
    id_col: str,
    text: Column,
    n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document repeated word-n-gram detection — the span-level
    dedup primitive LLM pipelines run besides document-level near-dup
    (C4 dropped lines repeated ≥4×; RefinedWeb/Gopher flag documents
    dominated by corpus-frequent spans; the public recipe family this
    re-expresses — no reference-repo counterpart, instructed addition).

    Per document: how many of its n-gram OCCURRENCES (duplicates
    within the doc counted) belong to grams appearing in ≥ ``min_df``
    DISTINCT documents, and how many distinct such grams it contains.
    Downstream policy (drop spans, drop docs over a ratio) composes on
    top of these counts.

    Scale shape: grams are hashed to longs before they ever shuffle
    (string grams would be ~n× the payload); doc-frequency is one
    hash-agg over distinct (doc, gram); the occurrence re-join is an
    inverted-index equi-join on the gram hash — the same
    bucketed-candidate pattern as ngram_jaccard_pairs, never all-pairs.
    Hot grams ARE the skew (every doc shares them); AQE skew-join
    handles the join, and the groupBy is a partial-agg hash-agg.
    """
    w = F.col("_w")
    gram_hashes = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - n + 1),
            lambda i: F.xxhash64(F.array_join(F.slice(w, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # split ONCE in its own projection — inline words re-inline into the
    # transform lambda per gram (see shingles_of_words: measured 14×).
    # Two consumers (doc-frequency agg + occurrence re-join) — without a
    # cache the split+explode scan runs twice (same reasoning, and the
    # same spill-safe level, as ngram_jaccard_pairs' gram cache);
    # released before return (see below)
    occ = (
        df.select(F.col(id_col).alias("doc_id"), words_of(text).alias("_w"))
        .select("doc_id", F.explode(gram_hashes).alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    doc_freq = (
        occ.distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("g")
    )
    per_doc = (
        occ.join(doc_freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rep_occurrences"),
            F.count_distinct("g").cast("long").alias("n_rep_grams"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_rep_occurrences", F.lit(0)).alias("n_rep_occurrences"),
            F.coalesce("n_rep_grams", F.lit(0)).alias("n_rep_grams"),
        )
    )
    # release the gram cache (ADVICE r3): the per-doc counts (3 longs/
    # doc) are orders of magnitude smaller than the gram explosion —
    # TRACKED checkpoint (freeable via release_result, ADVICE r4) and
    # free the cache before returning
    out, out_ids = _ckpt_tracked(out)
    out._ckpt_ids = out_ids
    occ.unpersist()
    return out


def contamination_stats(
    df: DataFrame,
    id_col: str,
    text: Column,
    eval_df: DataFrame,
    eval_text: Column,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Llama-report recipe, public:
    drop training docs sharing long word n-grams with an evaluation
    set). Per training doc: how many DISTINCT word ``n``-grams it
    shares with ANY eval document, plus a ``contaminated`` flag
    (≥ 1 shared gram). Policy (drop vs flag vs span-remove) composes on
    top, exactly like repeated_ngram_stats.

    Scale shape: both sides' grams hash to longs BEFORE the join (the
    eval side is tiny by construction — benchmarks are thousands of
    rows, the corpus is 100 TB — so AQE broadcasts the distinct eval
    grams and the corpus NEVER shuffles); one hash-agg per doc after
    the semi-style inner join; no strings past the explode."""
    if n <= 0:
        raise ValueError("n must be positive")

    def grams_of(w):
        return F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: F.xxhash64(F.array_join(F.slice(w, i, n), " ")),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    doc_grams = (
        df.select(F.col(id_col).alias("doc_id"), words_of(text).alias("_w"))
        .select("doc_id", F.explode(grams_of(F.col("_w"))).alias("g"))
        .distinct()
    )
    # the eval side needs no id — only its distinct gram set matters
    eval_grams = (
        eval_df.select(words_of(eval_text).alias("_w"))
        .select(F.explode(grams_of(F.col("_w"))).alias("g"))
        .distinct()
    )
    hits = (
        doc_grams.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def drop_repeated_spans(
    df: DataFrame,
    id_col: str,
    text: Column,
    min_df: int = 2,
    min_words: int = 1,
    out_col: str = "cleaned_text",
) -> DataFrame:
    """Span-REMOVAL policy on top of the repeated-span statistics — the
    C4-style action an LLM-data pipeline actually takes (C4 discarded
    repeated three-sentence spans; RefinedWeb/MassiveText drop
    duplicated lines — public recipes, no reference-repo counterpart).

    Contract (exactly SQL-recomputable, the oracle pins it char-exact):
    spans are NEWLINE-separated lines; a line's normalized form is
    ``lower(trim(collapse_whitespace(line)))``; a line is DROPPED iff
    its normalized form is non-empty, spans ≥ ``min_words`` whitespace
    words, and occurs in ≥ ``min_df`` DISTINCT documents. Output: one
    row per input doc with the kept lines re-joined by ``\\n`` in
    original order plus kept/dropped counts.

    Scale shape: lines posexplode ONCE; the doc-frequency agg groups by
    ``xxhash64(norm)`` (8-byte keys shuffle, never the line strings);
    the frequent-line set (df ≥ min_df) is the ONLY relation joined
    back — it is orders of magnitude smaller than the corpus
    (boilerplate by definition concentrates), so AQE turns the flag
    join into a broadcast at runtime; reassembly is one hash-agg with a
    sort_array over (pos, line) structs — no window, no second shuffle
    of the text. Null hash keys (blank lines) never match the join and
    are always kept."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(text, "\n")).alias("pos", "line"),
    )
    norm = F.lower(F.trim(F.regexp_replace(F.col("line"), r"\s+", " ")))
    lines = lines.withColumn(
        "_h", F.when(norm != "", F.xxhash64(norm))
    ).withColumn(
        "_eligible",
        F.col("_h").isNotNull() & (F.size(F.split(norm, " ")) >= min_words),
    )
    freq = (
        lines.filter("_eligible")
        .select("doc_id", "_h")
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_h", F.lit(True).alias("_frequent"))
    )
    flagged = lines.join(freq, "_h", "left").withColumn(
        "_drop", F.col("_eligible") & F.coalesce("_frequent", F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("_drop"), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
                ),
                "\n",
            ).alias(out_col),
            F.sum(F.when(~F.col("_drop"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept_lines"),
            F.sum(F.when(F.col("_drop"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped_lines"),
        )
    )
