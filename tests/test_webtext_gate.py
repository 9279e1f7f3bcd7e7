"""The webtext Gopher gate on degenerate corpora.

``_webtext_gate`` projects its conjunction as a ``_keep`` column and
``_webtext_survivors`` filters it above the gate's checkpoint. The kept
rows must be the ones the gate kept when it filtered on the conjunction
itself (``_filtered_gate`` below, the earlier formulation written out),
also for an empty text, a null text, an empty corpus and a corpus the
gate rejects entirely. A null ``_keep`` drops its row, as the filter did.
"""

from pyspark.sql import functions as F

from downloader_spark.functions.repetition_arrow import with_repetition_arrow
from downloader_spark.functions.text import _tokens, gopher_flags
from downloader_spark.operators.dedup import _drop_ckpt
from downloader_spark.queries import _webtext_gate, _webtext_survivors
from downloader_spark.session import local_frame, spread

SCHEMA = "doc_id bigint, text string"

ORDINARY = (
    "The river runs past the old mill and the children walk along its bank "
    "every morning before school starts in the small town."
)
SYMBOL_HEAVY = " ".join(["#"] * 30) + " " + ORDINARY
DUP_LINES = "\n".join(["Click here to accept cookies and continue reading"] * 6)


def _filtered_gate(corpus):
    """The gate as a filter on its conjunction, the formulation
    ``_webtext_gate`` replaced."""
    corpus = spread(corpus).select(
        "doc_id", "text",
        _tokens(F.col("text")).alias("_gtoks"),
        F.split(F.col("text"), "\n").alias("_glines"),
    )
    fl = gopher_flags(F.col("text"), F.col("_gtoks"), F.col("_glines"))
    return (
        with_repetition_arrow(
            corpus.withColumn("_fl", fl),
            features=["dup_line_frac", "dup_para_frac", "top_2gram_char_frac"],
        )
        .filter(
            ~F.col("_fl.word_len_out") & ~F.col("_fl.symbol_heavy")
            & ~F.col("_fl.bullet_heavy") & ~F.col("_fl.ellipsis_heavy")
            & ~F.col("_fl.low_alpha")
            & ~F.col("dup_line_heavy") & ~F.col("dup_para_heavy")
            & ~F.col("top_2gram_heavy")
        )
        .select("doc_id", "text")
    )


def _kept(spark, rows):
    """(rows kept by the ``_keep`` filter, rows kept by the filtered
    gate, doc_id → ``_keep``)."""
    corpus = local_frame(spark, rows, SCHEMA)
    gated = _webtext_gate(spark, corpus)
    keep = {r.doc_id: r._keep for r in gated.collect()}
    new = sorted(tuple(r) for r in gated.filter("_keep").drop("_keep").collect())
    old = sorted(tuple(r) for r in _filtered_gate(corpus).collect())
    return new, old, keep


def _survivors(spark, rows):
    """doc_ids of ``_webtext_survivors`` on the gated corpus; frees its
    checkpoint."""
    gated = _webtext_gate(spark, local_frame(spark, rows, SCHEMA))
    out, ids = _webtext_survivors(spark, gated)
    got = sorted(r.doc_id for r in out.collect())
    _drop_ckpt(out, ids)
    return got


def test_mixed_corpus_keeps_what_the_filter_kept(spark):
    rows = [(1, ""), (2, None), (3, SYMBOL_HEAVY), (4, DUP_LINES), (5, ORDINARY)]
    new, old, keep = _kept(spark, rows)
    assert new == old == [(5, ORDINARY)]
    assert keep[2] is None  # null text: null dup_line_heavy, null _keep
    assert keep[1] is False and keep[3] is False and keep[4] is False
    assert _survivors(spark, rows) == [5]


def test_empty_corpus(spark):
    new, old, keep = _kept(spark, [])
    assert new == old == [] and keep == {}
    assert _survivors(spark, []) == []


def test_corpus_rejected_entirely(spark):
    rows = [(1, SYMBOL_HEAVY), (2, DUP_LINES), (3, None), (4, "... ... ...")]
    new, old, keep = _kept(spark, rows)
    assert new == old == []
    assert len(keep) == 4 and not any(keep.values())
    assert _survivors(spark, rows) == []
