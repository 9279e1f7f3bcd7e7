"""Bit-exact pins for the Gopher repetition pack
(functions/repetition_arrow.py): the repr of all 13 features, 13 flags
and repetition_pass over a crafted adversarial battery and null text,
and a sha256 over the same reprs for every document of the sf0.01
corpus. The literals were captured while a second, independent
native-column implementation of the pack still agreed with this one on
every value. The pack's other references are the brute-force recompute
in tests/test_similarity_text.py and the gopher_quality /
webtext_pipeline* DuckDB oracles (CLAUDE.md invariant 8)."""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from downloader_spark.functions.repetition_arrow import (
    repetition_features_py,
    with_repetition_arrow,
)
from downloader_spark.functions.text import REPETITION_FEATURES, REPETITION_FLAGS

DOCS = "/root/testdata/sf0.01/documents.parquet"

BATTERY = [
    "",
    " ",
    "\n",
    "\n\n\n",
    "one",
    "a b a b a b a b",
    "the cat sat on the mat the cat sat on the mat",
    "line1\nline2\nline1\nline3\nline1",
    "para one\n\npara two\n\npara one\n\npara three",
    "x " * 50,
    "a b c d e f g h i j " * 6,  # long dup 10-grams, overlapping windows
    "w1 w2 w3 w4 w5 unique1 w1 w2 w3 w4 w5 unique2 w1 w2 w3 w4 w5",
    "tab\tsep\ttab\tsep words",
    "trailing newline\n",
    "  leading spaces and  double  spaces  ",
    "UPPER case UPPER case UPPER case",
    "répét itïon répét itïon unicode tèxt répét itïon",
    "a\n\nb\n\n\nc\n\n\n\nd",  # odd-count newline runs: regex \n\n leftmost
    "self overlap self overlap self overlap self",
    "z y x w v u t s r q p o n m l k j i h g f e d c b a",  # all unique
]

ALL_COLS = REPETITION_FEATURES + REPETITION_FLAGS + ["repetition_pass"]

# doc_id → (the 13 feature reprs in REPETITION_FEATURES order, the 13
# flag reprs in REPETITION_FLAGS order + the repetition_pass repr),
# space-joined
BATTERY_PINS = {
    0: ("0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "False False False False False False False False False False False False False True"),
    1: ("0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "False False False False False False False False False False False False False True"),
    2: ("0.5 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "True False False False False False False False False False False False False False"),
    3: ("0.75 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "True False False False False False False False False False False False False False"),
    4: ("0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "False False False False False False False False False False False False False True"),
    5: ("0.0 0.0 0.0 0.0 0.8 1.0 1.4 1.0 1.0 0.0 0.0 0.0 0.0",
        "False False False False True True True True True False False False False False"),
    6: ("0.0 0.0 0.0 0.0 0.311111 0.488889 0.622222 0.977778 0.977778 0.0 0.0 0.0 0.0",
        "False False False False True True True True True False False False False False"),
    7: ("0.4 0.0 0.344828 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "True False True False False False False False False False False False False False"),
    8: ("0.428571 0.25 0.2 0.2 0.4 0.65 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "True False False False True True False False False False False False False False"),
    9: ("0.0 0.0 0.0 0.0 1.47 2.4 3.29 0.99 0.99 0.99 0.99 0.99 0.99",
        "False False False False True True True True True True True True True False"),
    10: ("0.0 0.0 0.0 0.0 0.15 0.25 0.35 0.991667 0.991667 0.991667 0.991667 0.991667 0.991667",
         "False False False False False True True True True True True True True False"),
    11: ("0.0 0.0 0.0 0.0 0.25 0.4 0.55 0.7 0.0 0.0 0.0 0.0 0.0",
         "False False False False True True True True False False False False False False"),
    12: ("0.0 0.0 0.0 0.0 0.666667 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False True False False False False False False False False False"),
    13: ("0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False False False False False False False False False False True"),
    14: ("0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False False False False False False False False False False True"),
    15: ("0.0 0.0 0.0 0.0 0.9375 1.0 1.3125 0.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False True True True False False False False False False False"),
    16: ("0.0 0.0 0.0 0.0 0.6875 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False True False False False False False False False False False"),
    17: ("0.5 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
         "True False False False False False False False False False False False False False"),
    18: ("0.0 0.0 0.0 0.0 0.837209 1.186047 1.162791 1.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False True True True True False False False False False False"),
    19: ("0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
         "False False False False False False False False False False False False False True"),
}

NULL_PINS = {
    0: ("None None None None 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0",
        "None None None None False False False False False False False False False None"),
    1: ("0.0 0.0 0.0 0.0 0.818182 0.909091 1.272727 0.0 0.0 0.0 0.0 0.0 0.0",
        "False False False False True True True False False False False False False False"),
}

# the sf0.01 documents corpus: row count and sha256 of
# repr(sorted((doc_id, reprs of ALL_COLS) ...))
CORPUS_ROWS = 500
CORPUS_SHA256 = "2dbe53dd676a366306c6b7baa8c1473ebeddf924a50a1b0ad9dd657ad5562975"


def _rows_as_reprs(df, id_col, cols):
    out = {}
    for r in df.select(id_col, *cols).collect():
        out[r[id_col]] = tuple(repr(r[c]) for c in cols)
    return out


def _pinned(pins, cols):
    """The pinned reprs of ``cols`` per doc_id."""
    idx = [ALL_COLS.index(c) for c in cols]
    out = {}
    for doc_id, (feats, flags) in pins.items():
        reprs = feats.split(" ") + flags.split(" ")
        out[doc_id] = tuple(reprs[i] for i in idx)
    return out


def _assert_pinned(got, pins, cols):
    exp = _pinned(pins, cols)
    assert got.keys() == exp.keys()
    for k in exp:
        if got[k] != exp[k]:
            diffs = [(c, g, e) for c, g, e in zip(cols, got[k], exp[k]) if g != e]
            raise AssertionError(f"doc {k}: (col, got, pinned) {diffs}")


def _battery(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(BATTERY)], "doc_id long, text string"
    )


def test_battery_bit_exact(spark):
    got = _rows_as_reprs(with_repetition_arrow(_battery(spark), "text"), "doc_id", ALL_COLS)
    _assert_pinned(got, BATTERY_PINS, ALL_COLS)


def test_null_text_matches(spark):
    df = spark.createDataFrame(
        [(0, None), (1, "a b a b a b")], "doc_id long, text string"
    )
    got = _rows_as_reprs(with_repetition_arrow(df, "text"), "doc_id", ALL_COLS)
    _assert_pinned(got, NULL_PINS, ALL_COLS)


def test_corpus_bit_exact(spark):
    df = spark.read.parquet(DOCS).select("doc_id", "text")
    got = _rows_as_reprs(with_repetition_arrow(df, "text"), "doc_id", ALL_COLS)
    assert len(got) == CORPUS_ROWS
    digest = hashlib.sha256(repr(sorted(got.items())).encode()).hexdigest()
    assert digest == CORPUS_SHA256


def test_subset_features_match(spark):
    # a subset computes the same values (and flags) as the full pack
    sub = ["dup_line_frac", "top_2gram_char_frac", "dup_5gram_char_frac"]
    sub_flags = [REPETITION_FLAGS[REPETITION_FEATURES.index(f)] for f in sub]
    out = with_repetition_arrow(_battery(spark), "text", features=sub)
    got = _rows_as_reprs(out, "doc_id", sub + sub_flags)
    _assert_pinned(got, BATTERY_PINS, sub + sub_flags)
    # a subset output must NOT include the composite
    assert "repetition_pass" not in out.columns


def test_python_mirror_direct():
    # spot-check the pure-Python layer without Spark: known values
    t = "a b a b"  # 4 tokens, top-2gram "a b" count 2, len 3 → 6/7
    feats = dict(
        zip(
            REPETITION_FEATURES,
            repetition_features_py(t, REPETITION_FEATURES),
        )
    )
    assert feats["top_2gram_char_frac"] == round(6 / 7, 6)
    assert feats["dup_line_frac"] == 0.0
    # dup-gram window union: "x x x x x x" all 5-grams dup → full cover
    t2 = "x x x x x x"
    feats2 = dict(
        zip(
            REPETITION_FEATURES,
            repetition_features_py(t2, REPETITION_FEATURES),
        )
    )
    assert feats2["dup_5gram_char_frac"] == 1.0
