"""Token-pack training shards — the tokenize-shuffle-pack step every
pretraining pipeline ends with (VERDICT r5 #2): turn a cleaned,
tokenized corpus into fixed-token-budget training sequences grouped
into shards, deterministically, so the same corpus always yields the
same batches (reproducible runs, resumable jobs, no coordination
between executors). No reference-repo counterpart — the contract is
the published recipe family (GPT-style concatenate-and-chop packing;
Megatron/T5 dataset builders), same as the dedup/quality operators.

Recipe implemented here:
1. **Stable doc→shard assignment**: shard = md5-hash(doc_id:salt) mod
   n_shards — engine-portable (md5, not xxhash64: a DuckDB/warehouse
   oracle must recompute membership), uniform, and independent of
   input order or partitioning.
2. **Deterministic intra-shard shuffle**: docs are ordered by a second
   md5 hash (tie-break doc_id) — a pseudo-random permutation that
   de-clusters same-source runs without any RNG state.
3. **Concatenate-and-chop packing**: tokens are laid out in that order
   and cut every ``seq_len`` tokens. A document straddling a boundary
   is SPLIT across sequences (exact fixed-length sequences, the
   GPT-2/3 recipe) with per-piece boundary metadata, so an attention-
   mask/doc-boundary-aware loader can reconstruct documents exactly.

Output: one row per (document × sequence it overlaps) with exact token
extents — every token of every document lands in EXACTLY ONE sequence
slot (pinned by tests/test_packing.py and by the driver oracle's
prefix-sum recompute).

Scale shape: one shuffle (the window partition on shard_id) + a
row-local explode. Prefix sums are per-shard window aggregates; pick
n_shards >> executor count (thousands at 100 TB) so each window
partition is executor-sized — the per-shard sort is the same sort the
shard write needs anyway. No driver collect, no all-pairs, no UDF in
the packing itself (token counts arrive as a column; the BPE counter
upstream is the one Arrow UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sketch import md5_60bit


def pack_token_shards(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    n_shards: int = 8,
    seq_len: int = 256,
    salt: str = "pack",
) -> DataFrame:
    """Pack per-document token counts into fixed-``seq_len`` sequences
    within ``n_shards`` hash-assigned shards.

    Returns one row per (doc × overlapped sequence):
      shard_id    — md5(doc:salt) mod n_shards (stable, engine-portable)
      seq_id      — 0-based sequence index within the shard
      doc_id      — the document
      doc_pos     — tokens of this doc already emitted in EARLIER
                    sequences (0 on the doc's first piece)
      start_offset— where this piece begins inside the sequence [0, L)
      n_tokens    — piece length; per (shard, seq) these sum to seq_len
                    except the shard's final partial sequence
      is_doc_start/is_doc_end — boundary metadata for the loader
    Zero-token documents are dropped (nothing to pack).
    """
    if n_shards <= 0 or seq_len <= 0:
        raise ValueError(f"n_shards ({n_shards}) and seq_len ({seq_len}) must be > 0")
    d = F.col(id_col).cast("string")
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(ntok_col).cast("long").alias("_nt"),
            (md5_60bit(F.concat_ws(":", d, F.lit(salt))) % n_shards)
            .cast("long")
            .alias("shard_id"),
            md5_60bit(F.concat_ws(":", d, F.lit("ord"), F.lit(salt))).alias("_ord"),
        )
        .filter(F.col("_nt") > 0)
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("_ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    laid = base.withColumn("_before", F.coalesce(F.sum("_nt").over(w), F.lit(0)))
    L = F.lit(seq_len).cast("long")
    first_seq = F.floor(F.col("_before") / L)
    last_seq = F.floor((F.col("_before") + F.col("_nt") - 1) / L)
    pieces = laid.select(
        "shard_id",
        "doc_id",
        "_before",
        "_nt",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * L
    seq_hi = seq_lo + L
    lo = F.greatest(seq_lo, F.col("_before"))
    hi = F.least(seq_hi, F.col("_before") + F.col("_nt"))
    return pieces.select(
        "shard_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (lo - F.col("_before")).cast("long").alias("doc_pos"),
        (lo - seq_lo).cast("long").alias("start_offset"),
        (hi - lo).cast("long").alias("n_tokens"),
        (lo == F.col("_before")).alias("is_doc_start"),
        (hi == F.col("_before") + F.col("_nt")).alias("is_doc_end"),
    )
