"""Multi-format fan-out (SURVEY §2.3 C7, §2.1 S5/S6).

Reference: ``process_multiple_formats`` (content_processor.py:412-548)
converts ONE fetched page into N requested formats in parallel and
collects failures into an ``errors: {mime: message}`` map keyed by
``_format_to_mime_type`` (content_processor.py:32-49).

Spark design: a single scan computes the extract struct once, then the
formats are projected per row and exploded — no re-fetch, no re-parse
(the reference's one-fetch-N-tasks pattern becomes one-scan-N-rows).
Browser-bound formats (pdf — S5) are carried as typed error rows with
``error_type='unsupported_format'`` rather than dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# content_processor.py:32-49
FORMAT_TO_MIME = {
    "text": "text/plain",
    "markdown": "text/markdown",
    "html": "text/html",
    "json": "application/json",
    "raw": "application/octet-stream",
    "pdf": "application/pdf",
}

SUPPORTED = ("text", "markdown", "html", "json", "raw")

# parse_accept_headers media-type → format-token map
# (content_processor.py:117-132: EXACT media-type match after
# strip+lower, unsupported types dropped — unlike the single-accept
# substring dispatch parse_accept_header:52-78)
MIME_TO_FORMAT = {
    "text/plain": "text",
    "text/html": "html",
    "text/markdown": "markdown",
    "text/x-markdown": "markdown",
    "application/pdf": "pdf",
    "application/json": "json",
}


def parse_accepts(accept) -> Column:
    """P5 multi-accept parse → ``array<string>`` of format tokens.

    Mirrors parse_accept_headers (content_processor.py:81-140): split on
    ',', strip whitespace and ;q= parameters, lowercase, map exact media
    types to format tokens, DROP unsupported types, and dedupe
    preserving first-occurrence order. Fully native (transform +
    aggregate accumulator) — no UDF, no shuffle.
    """
    parts = F.split(accept, ",")
    mapped = F.transform(
        parts,
        lambda x: _mime_to_format(F.lower(F.trim(F.regexp_replace(x, r";.*$", "")))),
    )
    empty = F.array().cast("array<string>")
    return F.aggregate(
        mapped,
        empty,
        lambda acc, x: F.when(
            x.isNull() | (F.array_position(acc, x) > 0), acc
        ).otherwise(F.concat(acc, F.array(x))),
    )


def batch_request_status(n_urls, max_urls: int = 50) -> Column:
    """P6 batch-size guard as data (reference BatchURLRequest:
    models/responses.py:44 ``min_length=1, max_length=50`` → 422;
    tests/api/test_batch_validation.py): a batch row becomes a typed
    accept/reject status instead of an HTTP error."""
    return (
        F.when(n_urls < 1, "rejected_empty")
        .when(n_urls > max_urls, "rejected_too_many")
        .otherwise("accepted")
    )


def _mime_to_format(mime):
    out = F.lit(None).cast("string")
    for m, fmt in reversed(list(MIME_TO_FORMAT.items())):
        out = F.when(mime == m, F.lit(fmt)).otherwise(out)
    return out


def _b64(col) -> Column:
    """Unchunked base64: Spark's base64() uses the MIME encoder (\\r\\n
    every 76 chars); the reference uses python b64encode — no breaks
    (content_processor.py raw/json handlers)."""
    return F.regexp_replace(F.base64(col), "[\r\n]", "")


def _payload_for(fmt: str):
    """Payload column per format, given columns url/html/ex (extract
    struct). Mirrors the reference's per-format handlers
    (content_processor.py:187-409)."""
    if fmt == "text":
        return F.col("ex.text"), F.lit(None).cast("string")
    if fmt == "markdown":
        return F.col("ex.markdown"), F.lit(None).cast("string")
    if fmt == "html":
        # handle_html_response: decoded html (render decision is a flag)
        return F.decode("html", "UTF-8"), F.lit(None).cast("string")
    if fmt == "json":
        payload = F.to_json(
            F.struct(
                F.lit(True).alias("success"),
                F.col("url").alias("url"),
                F.length("html").alias("size"),
                _b64("html").alias("content"),
            )
        )
        return payload, F.lit(None).cast("string")
    if fmt == "raw":
        return _b64("html"), F.lit(None).cast("string")
    if fmt == "pdf":  # S5: browser-bound, not rebuilt
        return F.lit(None).cast("string"), F.lit("unsupported_format")
    return F.lit(None).cast("string"), F.lit("unknown_format")


def multi_format_results(
    extracted: DataFrame, formats_col: str = "formats"
) -> DataFrame:
    """Fan one extracted page row out into one row per requested format.

    ``extracted`` needs columns url, html (binary), ex (extract struct)
    and ``formats_col`` (array<string>). Order-preserving dedupe of the
    requested formats is the caller's concern (see P5 multi_accept)."""
    entries = []
    for fmt in FORMAT_TO_MIME:
        payload, err = _payload_for(fmt)
        entries.append(
            F.struct(
                F.lit(fmt).alias("format"),
                F.lit(FORMAT_TO_MIME[fmt]).alias("mime"),
                payload.alias("payload"),
                err.alias("error_type"),
            )
        )
    all_formats = F.array(*entries)
    requested = F.filter(
        all_formats, lambda e: F.array_contains(F.col(formats_col), e["format"])
    )
    return (
        extracted.withColumn("_fmt", F.explode(requested))
        .select(
            "url",
            F.col("_fmt.format").alias("format"),
            F.col("_fmt.mime").alias("mime"),
            F.col("_fmt.payload").alias("payload"),
            F.col("_fmt.error_type").alias("error_type"),
        )
    )
