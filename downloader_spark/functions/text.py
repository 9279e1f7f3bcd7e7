"""Text-analysis column functions for training-data pipelines.

All NATIVE Spark SQL expressions (JVM-side, codegen-friendly) — no UDFs:
language-ID (stopword-hit heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish subword
estimate), and document fingerprinting (shingled rolling hash).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets (public common words); enough
# for a deterministic n-gram-style heuristic, not a real classifier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "une"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "para"],
}


def _tokens(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def lang_scores_of_tokens(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (with multiplicity) over an
    ALREADY-SPLIT token array. Hot paths must pass a MATERIALIZED
    column (prior projection): an inline split expression referenced by
    the four per-language filter lambdas re-inlines the lower+trim+
    regexp-split work 4× (the shingles_of_words rule; CLAUDE.md
    invariant 8 materialization class)."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    return out


def detect_lang_from_tokens(toks: Column) -> Column:
    """argmax over lang_scores_of_tokens — see detect_lang."""
    scores = lang_scores_of_tokens(toks)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    max_score = F.array_max(F.transform(pairs, lambda p: p["score"]))
    winner = F.array_min(F.filter(pairs, lambda p: p["score"] == max_score))["lang"]
    return F.when(max_score <= 0, F.lit("und")).otherwise(winner)


def detect_lang(text: Column) -> Column:
    """argmax over lang_scores_of_tokens, ties broken alphabetically
    (first lang); 'und' when nothing matches."""
    return detect_lang_from_tokens(_tokens(text))


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for blank)."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def subword_estimate(text: Column) -> Column:
    """BPE-ish token estimate without a vocab: words + ceil(chars/4)
    blend — the standard ~4-chars-per-token heuristic, deterministic."""
    words = token_count(text).cast("double")
    chars = F.length(text).cast("double")
    return F.ceil((words * 0.4) + (chars / 4.0) * 0.6).cast("long")


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punct/stopword ratio features (each ∈ [0,1] rounded)."""
    n = F.greatest(F.length(text), F.lit(1)).cast("double")
    toks = _tokens(text)
    n_toks = F.greatest(F.size(toks), F.lit(1)).cast("double")
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    marker_arr = F.array(*[F.lit(m) for m in all_markers])
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(marker_arr, t))
    ).cast("double")
    return {
        "punct_ratio": F.round(
            F.length(F.regexp_replace(text, r"[^.!?,;:]", "")) / n, 6
        ),
        "digit_ratio": F.round(F.length(F.regexp_replace(text, r"[^0-9]", "")) / n, 6),
        "upper_ratio": F.round(F.length(F.regexp_replace(text, r"[^A-Z]", "")) / n, 6),
        "stopword_ratio": F.round(stop_hits / n_toks, 6),
        "mean_word_len": F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / n_toks,
            6,
        ),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,100] quality score: rewards stopword presence and
    moderate word length, penalizes digit/punct floods. Deterministic,
    documented weights — a filterable signal, not a model."""
    f = quality_features(text)
    score = (
        F.lit(50.0)
        + 100.0 * F.least(f["stopword_ratio"], F.lit(0.4))
        - 80.0 * F.greatest(f["digit_ratio"] - 0.2, F.lit(0.0))
        - 80.0 * F.greatest(f["punct_ratio"] - 0.15, F.lit(0.0))
        + 10.0 * F.least(f["mean_word_len"], F.lit(8.0)) / 8.0
    )
    return F.round(F.greatest(F.lit(0.0), F.least(F.lit(100.0), score)), 4)


# Published Gopher/MassiveText repetition-free quality thresholds
# (Rae et al. 2021 §A1.1, public paper; RefinedWeb carries the same
# family) — the industry-default rule-pack a pipeline user reaches for.
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_ratio": 0.9,
    "max_ellipsis_line_ratio": 0.3,
    "min_alpha_word_ratio": 0.8,
}


def gopher_features(
    text: Column, toks: Column | None = None, lines: Column | None = None
) -> dict[str, Column]:
    """Gopher rule-pack inputs as NATIVE columns (no UDF): word count,
    mean word length, bullet-started / ellipsis-ended line ratios,
    symbol-to-word ratio (# and ellipsis), fraction of words with ≥ one
    alphabetic character. Ratios are rounded to 6 dp so the DuckDB
    oracle compares exactly.

    Hot paths pass MATERIALIZED ``toks`` (= _tokens(text)) and
    ``lines`` (= split(text, '\\n')) from a prior projection: the
    token array is referenced by three HOF lambdas and the line array
    by two, and inline expressions re-inline per reference (the
    shingles_of_words rule; r7 — measured 1.5 → 1.1 s warm plus
    several seconds of codegen on the sf1.0 webtext corpus). Same
    expressions either way."""
    if lines is None:
        lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    if toks is None:
        toks = _tokens(text)
    n_words = token_count(text)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* ")
            | F.ltrim(l).startswith("•"),
        )
    ).cast("double")
    ellipsis_line = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("double")
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_dots = (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3.0
    n_uni = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("double")
    n_toks = F.greatest(F.size(toks), F.lit(1)).cast("double")
    mean_wl = F.round(
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / n_toks,
        6,
    )
    return {
        "n_words": n_words.cast("long"),
        # same expression as quality_features' mean_word_len, built on
        # THIS function's token array instead of a second split
        "mean_word_len": mean_wl,
        "bullet_line_ratio": F.round(bullet / n_lines, 6),
        "ellipsis_line_ratio": F.round(ellipsis_line / n_lines, 6),
        "symbol_word_ratio": F.round((n_hash + n_dots + n_uni) / nw, 6),
        "alpha_word_ratio": F.round(alpha_words / nw, 6),
    }


def gopher_flags(
    text: Column, toks: Column | None = None, lines: Column | None = None
) -> Column:
    """Struct of per-rule Gopher flags + a composite ``gopher_pass``
    (true iff no rule fires). Thresholds are GOPHER_THRESHOLDS — the
    published constants, not tunables hidden in code. Pass materialized
    ``toks``/``lines`` on hot paths (see gopher_features)."""
    f = gopher_features(text, toks, lines)
    t = GOPHER_THRESHOLDS
    too_few = f["n_words"] < t["min_words"]
    too_many = f["n_words"] > t["max_words"]
    word_len_out = (f["mean_word_len"] < t["min_mean_word_len"]) | (
        f["mean_word_len"] > t["max_mean_word_len"]
    )
    symbol_heavy = f["symbol_word_ratio"] > t["max_symbol_word_ratio"]
    bullet_heavy = f["bullet_line_ratio"] > t["max_bullet_line_ratio"]
    ellipsis_heavy = f["ellipsis_line_ratio"] > t["max_ellipsis_line_ratio"]
    low_alpha = f["alpha_word_ratio"] < t["min_alpha_word_ratio"]
    fails = too_few | too_many | word_len_out | symbol_heavy | bullet_heavy | ellipsis_heavy | low_alpha
    return F.struct(
        too_few.alias("too_few_words"),
        too_many.alias("too_many_words"),
        word_len_out.alias("word_len_out"),
        symbol_heavy.alias("symbol_heavy"),
        bullet_heavy.alias("bullet_heavy"),
        ellipsis_heavy.alias("ellipsis_heavy"),
        low_alpha.alias("low_alpha"),
        (~fails).alias("gopher_pass"),
    )


# Published Gopher repetition thresholds (Rae et al. 2021 §A1.1, Table
# A1 — the within-document half of the rule-pack; drop_repeated_spans
# is the cross-document complement). Fractions over the WHOLE document:
# duplicate lines/paragraphs by occurrence and by character mass, the
# character mass of the most-covering repeated word 2/3/4-gram, and the
# character mass covered by all repeated word 5..10-grams. The pack is
# computed by functions/repetition_arrow.with_repetition_arrow.
GOPHER_REPETITION_THRESHOLDS = {
    "max_dup_line_frac": 0.30,
    "max_dup_para_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_dup_para_char_frac": 0.20,
    "max_top_2gram_char_frac": 0.20,
    "max_top_3gram_char_frac": 0.18,
    "max_top_4gram_char_frac": 0.16,
    "max_dup_5gram_char_frac": 0.15,
    "max_dup_6gram_char_frac": 0.14,
    "max_dup_7gram_char_frac": 0.13,
    "max_dup_8gram_char_frac": 0.12,
    "max_dup_9gram_char_frac": 0.11,
    "max_dup_10gram_char_frac": 0.10,
}

REPETITION_FEATURES = [
    "dup_line_frac",
    "dup_para_frac",
    "dup_line_char_frac",
    "dup_para_char_frac",
    "top_2gram_char_frac",
    "top_3gram_char_frac",
    "top_4gram_char_frac",
    "dup_5gram_char_frac",
    "dup_6gram_char_frac",
    "dup_7gram_char_frac",
    "dup_8gram_char_frac",
    "dup_9gram_char_frac",
    "dup_10gram_char_frac",
]

REPETITION_FLAGS = [
    "dup_line_heavy",
    "dup_para_heavy",
    "dup_line_char_heavy",
    "dup_para_char_heavy",
    "top_2gram_heavy",
    "top_3gram_heavy",
    "top_4gram_heavy",
    "dup_5gram_heavy",
    "dup_6gram_heavy",
    "dup_7gram_heavy",
    "dup_8gram_heavy",
    "dup_9gram_heavy",
    "dup_10gram_heavy",
]


def tokens_of(text: Column) -> Column:
    """Whitespace token array (lower, trim, split on \\s+) — the split
    fingerprint64_of_words expects. Materialize in its OWN projection
    before any HOF references it (see fingerprint64_of_words)."""
    return _tokens(text)


def fingerprint64_of_words(toks: Column, k: int = 8) -> Column:
    """Order-sensitive 64-bit document fingerprint over an
    ALREADY-SPLIT token array: xxhash64 over the sequence of k-word
    shingle hashes (a rolling-hash analog that stays native: hash each
    shingle, then hash the concatenated hash string).

    ``toks`` must be a materialized column (a prior projection), never
    the split expression inline: an expression referenced inside a
    ``transform`` lambda is re-inlined PER ARRAY ELEMENT, so the inline
    form recomputes lower+trim+split over the full text once per
    shingle — measured 3.7× slower (4.06 s vs 1.09 s) on the sf0.1
    fingerprint_groups workload, hash-identical output. Mirrors
    operators/dedup.shingles_of_words."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle_hashes = F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )
    return F.xxhash64(F.concat_ws(",", F.transform(shingle_hashes, lambda h: h.cast("string"))))


# PII patterns kept to the Java-regex ∩ RE2 common dialect (no \b, no
# lookaround) so the Spark columns and the DuckDB oracle match exactly.
# Redaction order matters and is part of the contract: emails first
# (they contain dots an IPv4-ish pattern could chew), then phones,
# then IPv4.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{7,15}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts over the ORIGINAL text (each pattern
    counted independently, before any redaction)."""
    return {
        f"n_{kind}": F.regexp_count(text, F.lit(pat)).cast("long")
        for kind, pat, _ in PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its typed placeholder, in
    PII_PATTERNS order — the scrubbing pass a training-data pipeline
    runs before publishing webtext. Pure native regexp_replace chain
    (leftmost non-overlapping, global — identical semantics in Java
    regex and RE2)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def fingerprint_md5_of_words(toks: Column, k: int = 8) -> Column:
    """Same rolling-shingle construction as fingerprint64_of_words but
    chained through md5 (hex strings) instead of xxhash64 — EXACTLY
    recomputable in DuckDB SQL, which xxhash64 is not (the one
    no_oracle query r1-r3 carried). 128-bit output; ~2× the hash cost
    of the xxhash64 form, so pipelines that don't need an external
    SQL-auditable fingerprint should prefer fingerprint64_of_words.
    Same split-once contract: pass a materialized token array."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    return F.md5(F.concat_ws(",", sh))
