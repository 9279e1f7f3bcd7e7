"""The Gopher repetition pack (Rae et al. 2021 §A1.1, Table A1) as one
Arrow-batched pandas UDF: a Python dict/Counter pass per document is
~10-20× cheaper per row than the same rules as interpreted
higher-order-function column expressions (~10 ms/doc).

``repetition_features_py`` is the semantic definition. The DuckDB
oracles (gopher_quality / webtext_pipeline*, CLAUDE.md invariant 8)
recompute the same definition relationally, and
tests/test_repetition_arrow.py pins its values bit-for-bit (a crafted
battery, null text and an sf0.01 corpus hash). The arithmetic contract
the oracle SQL must follow, expression by expression:

- tokens: split(trim(lower(text)), '\\s+') — Java semantics exactly:
  trim strips ONLY ASCII spaces (0x20), \\s is the ASCII class
  [ \\t\\n\\x0b\\f\\r], and split keeps leading/trailing empties
  (Spark passes limit -1).
- lines/paras: raw-text regex split on '\\n' / '\\n\\n' (leftmost,
  non-overlapping — identical to str.split for these literals).
- every numerator is an exact integer; denominators are exact ints
  cast to double; the only float op is the final division.
- rounding mirrors Spark's Round on DoubleType: BigDecimal.valueOf
  (SHORTEST decimal repr of the double — Python repr, same
  shortest-round-trip contract) → setScale(6, HALF_UP) → double.

Like every gram feature in this repo, grams are token-SLICE tuples,
never concatenated strings (tokens cannot contain whitespace, so tuple
equality ≡ joined-string equality — CLAUDE.md invariant 8), and the
count-≥-2 guard applies to top-n-gram char fractions.

Scale design: row-parallel, zero shuffle, one ArrowEvalPython node;
the per-batch work is pure CPython over small per-doc lists.
"""

from __future__ import annotations

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .text import (
    GOPHER_REPETITION_THRESHOLDS,
    REPETITION_FEATURES,
    REPETITION_FLAGS,
)

# Java \s — ASCII only (Python \s would also eat unicode whitespace)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_NL = re.compile(r"\n")
_NLNL = re.compile(r"\n\n")
_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark Round(DoubleType, 6): BigDecimal.valueOf(x) (shortest
    repr) → setScale(6, HALF_UP) → doubleValue."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def _toks_py(text: str) -> list[str]:
    # lower(): CPython's str.lower mirrors JVM String.toLowerCase for
    # ASCII/BMP-common text (everything the corpora and tests cover);
    # exotic code points with version/locale-sensitive case mappings
    # are OUTSIDE the pinned bit-exactness scope (ADVICE r6) — the
    # battery in tests/test_repetition_arrow.py is the contract.
    return _JAVA_WS.split(text.lower().strip(" "))


def _cover_from_starts_py(toks: list[str], starts: list[int], n: int) -> int:
    """Union coverage of [s, s+n) token windows (``starts`` ascending)
    in the whitespace-collapsed text, overlap counted once — per
    window, chars of the not-yet-covered suffix + its internal spaces +
    a boundary space when the window overlaps previous coverage."""
    end = 0
    cov = 0
    for s in starts:
        lo = max(s, end)
        hi = s + n
        if hi > lo:
            seg = sum(len(toks[i]) for i in range(lo, hi))
            cov += seg + (hi - lo - 1) + (1 if lo > s else 0)
        end = max(end, hi)
    return cov


def repetition_features_py(
    text: str | None, wanted: list[str]
) -> list[float | None]:
    """All requested repetition features for ONE document, in ``wanted``
    order, in exact integer arithmetic up to the final division."""
    if text is None:
        # null text: line/para features are null (the SQL form of a
        # split of null), gram features 0.0 (no grams, and the char
        # denominator greatest(length(null), 1) is 1) — pinned by
        # tests/test_repetition_arrow.py and the DuckDB oracles
        return [
            None if f.startswith(("dup_line", "dup_para")) else 0.0
            for f in wanted
        ]
    nchars = float(max(len(text), 1))
    out: dict[str, float] = {}
    need_lines = any(f.startswith("dup_line") for f in wanted)
    need_paras = any(f.startswith("dup_para") for f in wanted)
    if need_lines:
        lines = _NL.split(text)
        if "dup_line_frac" in wanted:
            out["dup_line_frac"] = _round6(
                (len(lines) - len(set(lines))) / float(max(len(lines), 1))
            )
        if "dup_line_char_frac" in wanted:
            out["dup_line_char_frac"] = _round6(
                (sum(map(len, lines)) - sum(map(len, set(lines)))) / nchars
            )
    if need_paras:
        paras = _NLNL.split(text)
        if "dup_para_frac" in wanted:
            out["dup_para_frac"] = _round6(
                (len(paras) - len(set(paras))) / float(max(len(paras), 1))
            )
        if "dup_para_char_frac" in wanted:
            out["dup_para_char_frac"] = _round6(
                (sum(map(len, paras)) - sum(map(len, set(paras)))) / nchars
            )
    gram_ns = [n for n in (2, 3, 4) if f"top_{n}gram_char_frac" in wanted]
    dup_ns = [n for n in (5, 6, 7, 8, 9, 10) if f"dup_{n}gram_char_frac" in wanted]
    if gram_ns or dup_ns:
        toks = _toks_py(text)
        for n in gram_ns:
            best = 0
            if len(toks) >= n:
                counts = Counter(
                    tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                for g, c in counts.items():
                    if c >= 2:
                        cover = c * (sum(map(len, g)) + n - 1)
                        if cover > best:
                            best = cover
            out[f"top_{n}gram_char_frac"] = _round6(best / nchars)
        for n in dup_ns:
            cov = 0
            if len(toks) >= n:
                grams = [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                counts = Counter(grams)
                starts = [p for p, g in enumerate(grams) if counts[g] >= 2]
                cov = _cover_from_starts_py(toks, starts, n)
            out[f"dup_{n}gram_char_frac"] = _round6(cov / nchars)
    return [out[f] for f in wanted]


def with_repetition_arrow(df, text_col: str = "text", features=None):
    """Append the Gopher repetition features, one ``*_heavy`` flag per
    feature (feature > its GOPHER_REPETITION_THRESHOLDS bound) and the
    composite ``repetition_pass`` to ``df``. One Arrow-batched pandas
    UDF computes the feature struct per row; flags and the composite
    stay native expressions over its fields. All ratios are rounded to
    6 dp over exact integer numerators, so the DuckDB oracle recomputes
    them bit-equal.

    ``features`` selects a subset (default: all 13); unrequested
    features are not computed. ``repetition_pass`` is emitted only for
    the full pack (a subset pass would silently mean less).

    Paragraphs split on a blank line (\\n\\n); lines on \\n. Duplicate
    fractions count occurrences beyond the first (total − distinct);
    char fractions weight those occurrences by length over total text
    chars. Top-n-gram char fraction is count·len of the most
    character-covering REPEATED n-gram (count ≥ 2 — otherwise the
    single longest n-gram trips the threshold on short documents; the
    public implementations guard count > 1 the same way) over total
    text chars (sliding grams overlap, so a pathological doc can exceed
    1 — thresholds only test the upper side, as in the published
    rule-set). Dup-{5..10}-gram char fractions are the characters
    covered by the UNION of all n-gram occurrences whose gram appears
    ≥ 2 times, overlap counted ONCE (Rae et al. count "characters
    contained within all duplicate n-grams"), measured in the
    whitespace-collapsed text over the same char denominator."""
    wanted = (
        list(features) if features is not None else list(REPETITION_FEATURES)
    )
    unknown = set(wanted) - set(REPETITION_FEATURES)
    if unknown:
        raise ValueError(f"unknown repetition features: {sorted(unknown)}")
    from pyspark.sql.functions import pandas_udf

    schema = StructType([StructField(f, DoubleType()) for f in wanted])

    @pandas_udf(schema)
    def feats(texts: pd.Series) -> pd.DataFrame:
        rows = [repetition_features_py(t, wanted) for t in texts]
        return pd.DataFrame(rows, columns=wanted, dtype=object)

    out = df.withColumn("_rep", feats(F.col(text_col)))
    out = out.withColumns({f: F.col("_rep")[f] for f in wanted}).drop("_rep")
    th = GOPHER_REPETITION_THRESHOLDS
    flags = {
        flag: F.col(feat) > F.lit(th[f"max_{feat}"])
        for feat, flag in zip(REPETITION_FEATURES, REPETITION_FLAGS)
        if feat in wanted
    }
    out = out.withColumns(flags)
    if set(wanted) != set(REPETITION_FEATURES):
        return out
    rep_fail = None
    for flag in REPETITION_FLAGS:
        rep_fail = F.col(flag) if rep_fail is None else (rep_fail | F.col(flag))
    return out.withColumn("repetition_pass", ~rep_fail)
