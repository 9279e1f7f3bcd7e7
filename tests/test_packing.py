"""Token-pack shards (operators/packing.py): exact-coverage and
determinism contracts — every token of every document lands in exactly
one sequence slot, sequences are exactly seq_len except each shard's
final partial one, and the layout is independent of input
partitioning/order."""

import pytest
from pyspark.sql import functions as F

from downloader_spark.operators.packing import pack_token_shards

L = 10
N_SHARDS = 3


@pytest.fixture(scope="module")
def packed(spark):
    # token counts straddle every interesting case: 0 (dropped),
    # 1, == L, > L (multi-piece), and enough docs that every shard
    # gets several sequences
    rows = [(i, (i * 7) % 23) for i in range(60)] + [(1000, 0), (1001, 35)]
    df = spark.createDataFrame(rows, "doc_id long, nt long")
    return (
        pack_token_shards(df, "doc_id", "nt", n_shards=N_SHARDS, seq_len=L),
        {i: n for i, n in rows},
    )


def test_every_token_in_exactly_one_slot(packed):
    out, counts = packed
    rows = out.collect()
    # per-doc: pieces sum to the doc's count, doc_pos tiles [0, nt)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, nt in counts.items():
        if nt == 0:
            assert doc not in by_doc  # zero-token docs dropped
            continue
        pieces = sorted(by_doc[doc], key=lambda r: r["doc_pos"])
        assert sum(p["n_tokens"] for p in pieces) == nt
        cur = 0
        for p in pieces:
            assert p["doc_pos"] == cur  # contiguous, no gap/overlap
            cur += p["n_tokens"]
        assert pieces[0]["is_doc_start"] and pieces[-1]["is_doc_end"]
        assert all(not p["is_doc_start"] for p in pieces[1:])
        assert all(not p["is_doc_end"] for p in pieces[:-1])
        # a doc lives in exactly one shard
        assert len({p["shard_id"] for p in pieces}) == 1


def test_sequences_exactly_full_except_last(packed):
    out, _ = packed
    per_seq = (
        out.groupBy("shard_id", "seq_id")
        .agg(F.sum("n_tokens").alias("tok"), F.min("start_offset").alias("lo"),
             F.max(F.col("start_offset") + F.col("n_tokens")).alias("hi"))
        .collect()
    )
    last = {}
    for r in per_seq:
        last[r["shard_id"]] = max(last.get(r["shard_id"], -1), r["seq_id"])
    for r in per_seq:
        if r["seq_id"] < last[r["shard_id"]]:
            assert r["tok"] == L, r  # interior sequences exactly full
            assert r["lo"] == 0 and r["hi"] == L  # tiled [0, L)
        else:
            assert 1 <= r["tok"] <= L
            assert r["lo"] == 0 and r["hi"] == r["tok"]
    # seq ids are contiguous from 0 per shard
    seqs = {}
    for r in per_seq:
        seqs.setdefault(r["shard_id"], set()).add(r["seq_id"])
    for s, ids in seqs.items():
        assert ids == set(range(last[s] + 1))


def test_layout_independent_of_input_partitioning(spark, packed):
    out, counts = packed
    df2 = spark.createDataFrame(
        sorted(counts.items(), key=lambda kv: -kv[0]), "doc_id long, nt long"
    ).repartition(7)
    out2 = pack_token_shards(df2, "doc_id", "nt", n_shards=N_SHARDS, seq_len=L)
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in out2.collect())
    assert a == b


def test_manifest_and_writer(packed):
    """Per-shard totals: the shards' token sums add up to the input
    total, and a shard of n tokens holds exactly ceil(n / L) sequences."""
    out, counts = packed
    per_shard = (
        out.groupBy("shard_id")
        .agg(
            (F.max("seq_id") + 1).alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()
    )
    assert sum(r["n_tokens"] for r in per_shard) == sum(counts.values())
    for r in per_shard:
        assert r["n_seqs"] == (r["n_tokens"] + L - 1) // L, r


def test_validation():
    with pytest.raises(ValueError):
        pack_token_shards(None, "doc_id", "nt", n_shards=0, seq_len=10)
    with pytest.raises(ValueError):
        pack_token_shards(None, "doc_id", "nt", n_shards=4, seq_len=0)


def test_webtext_to_shards_composed_coverage(spark):
    """The capstone composition (full pipeline → BPE → shards,
    queries.q_webtext_to_shards): every kept document's full BPE token
    count is covered by its (shard, seq, slot) pieces exactly once,
    and sequence slots never overlap. (Value parity vs the relational
    recompute is the driver-contract test; this pins the packing
    INVARIANT on the composed output.)"""
    from downloader_spark.queries import Q

    rows = Q["webtext_to_shards"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "pipeline must keep at least one doc at sf0.001"
    by_doc: dict = {}
    by_seq: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
        by_seq.setdefault((r["shard_id"], r["seq_id"]), []).append(r)
    for doc_id, pieces in by_doc.items():
        pieces.sort(key=lambda r: r["doc_pos"])
        assert pieces[0]["doc_pos"] == 0 and pieces[0]["is_doc_start"]
        assert pieces[-1]["is_doc_end"]
        pos = 0
        for p in pieces:
            assert p["doc_pos"] == pos, doc_id  # contiguous, no gaps
            pos += p["n_tokens"]
    for (sh, sq), pieces in by_seq.items():
        pieces.sort(key=lambda r: r["start_offset"])
        off = pieces[0]["start_offset"]
        assert off == 0  # sequences fill from slot 0
        for p in pieces:
            assert p["start_offset"] == off, (sh, sq)
            off += p["n_tokens"]
        assert off <= 256
