"""The engine's vectorized URL and page UDFs (SURVEY §2.10).

Everything else is native Spark SQL; these cross the JVM↔Python
boundary once per Arrow batch (input_hint: "no per-row Python").

- ``extract_udf(url, html, content_type) → struct(...)`` — the per-row
  crawl payload (reference content_converter.py:441-552 + D1/D2 flags).
- ``canonicalize_udf(url) → struct(...)`` — P1+P2 validation +
  canonical frontier key (reference validation.py:28-268).
- ``make_crawl_extract_udf(max_links)`` — ``extract_udf`` plus the
  page's out-links, canonicalized in the same Python call: ``links``
  holds only the valid ones as (url_canonical, host) in document
  order and ``n_links`` is the raw count. The crawl engines explode
  ``links`` with native Spark; no second Python pass touches a link.
- ``canonical_urls(df, url_col)`` — the same canonicalizer as a row
  filter: one mapInPandas pass that keeps only the valid rows (the
  crawl engines' seeds). The
  ``select(canonicalize_udf).filter("c.valid")`` form plans the UDF
  twice (once per referencing projection) and pays the Arrow/worker
  boundary twice per row.

Return types are built as explicit ``StructType`` (not DDL strings) so
the module imports without an active SparkSession.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..htmlx.convert import extract_page
from .urlnorm import canonicalize_url

EXTRACT_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("markdown", StringType()),
        StructField("body_text_len", IntegerType()),
        StructField("has_content_container", BooleanType()),
        StructField("is_error_page", BooleanType()),
        StructField("needs_render", BooleanType()),
        StructField("needs_js_render", BooleanType()),
    ]
)

CRAWL_EXTRACT_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields
    + [
        StructField(
            "links",
            ArrayType(
                StructType(
                    [
                        StructField("url_canonical", StringType()),
                        StructField("host", StringType()),
                    ]
                )
            ),
        ),
        StructField("n_links", IntegerType()),
    ]
)

CANON_SCHEMA = StructType(
    [
        StructField("url_canonical", StringType()),
        StructField("host", StringType()),
        StructField("valid", BooleanType()),
        StructField("reason", StringType()),
    ]
)

_EXTRACT_COLS = [f.name for f in EXTRACT_SCHEMA.fields]
_CANON_COLS = [f.name for f in CANON_SCHEMA.fields]


@pandas_udf(EXTRACT_SCHEMA)
def extract_udf(
    url: pd.Series, html: pd.Series, content_type: pd.Series
) -> pd.DataFrame:
    rows = []
    for u, h, ct in zip(url, html, content_type):
        if h is None:
            rows.append(("", "", 0, False, False, False, False))
            continue
        r = extract_page(bytes(h), ct or "", u or "")
        f = r.flags
        rows.append(
            (
                r.text,
                r.markdown,
                f.body_text_len,
                f.has_content_container,
                f.is_error_page,
                f.needs_render,
                f.needs_js_render,
            )
        )
    return pd.DataFrame(rows, columns=_EXTRACT_COLS)


_CRAWL_COLS = [f.name for f in CRAWL_EXTRACT_SCHEMA.fields]


def make_crawl_extract_udf(max_links: int = 64):
    """extract_udf + out-link discovery (one parse per page), with the
    link cap taken from engine config (CrawlConfig.max_links_per_page).
    Each extracted link runs through ``canonicalize_url`` in the same
    call; ``links`` keeps the valid ones, ``n_links`` counts them all."""

    @pandas_udf(CRAWL_EXTRACT_SCHEMA)
    def crawl_extract(
        url: pd.Series, html: pd.Series, content_type: pd.Series
    ) -> pd.DataFrame:
        rows = []
        for u, h, ct in zip(url, html, content_type):
            if h is None:
                rows.append(("", "", 0, False, False, False, False, [], 0))
                continue
            r = extract_page(
                bytes(h), ct or "", u or "", with_links=True, link_cap=max_links
            )
            f = r.flags
            checks = [canonicalize_url(link) for link in r.links]
            rows.append(
                (
                    r.text,
                    r.markdown,
                    f.body_text_len,
                    f.has_content_container,
                    f.is_error_page,
                    f.needs_render,
                    f.needs_js_render,
                    [{"url_canonical": c.url, "host": c.host} for c in checks if c.valid],
                    len(checks),
                )
            )
        return pd.DataFrame(rows, columns=_CRAWL_COLS)

    return crawl_extract


@pandas_udf(CANON_SCHEMA)
def canonicalize_udf(url: pd.Series) -> pd.DataFrame:
    rows = []
    for u in url:
        c = canonicalize_url(u)
        rows.append((c.url, c.host, c.valid, c.reason))
    return pd.DataFrame(rows, columns=_CANON_COLS)


def canonical_urls(df: DataFrame, url_col: str) -> DataFrame:
    """``df``'s rows whose ``url_col`` canonicalizes as valid, plus
    ``url_canonical`` and ``host`` columns (``df`` must have neither).
    The canonicalizer runs once per row, in one mapInPandas node;
    invalid rows never leave Python."""
    schema = StructType(df.schema.fields + CANON_SCHEMA.fields[:2])

    def canon(batches):
        for pdf in batches:
            checks = [canonicalize_url(u) for u in pdf[url_col]]
            keep = np.array([c.valid for c in checks], dtype=bool)
            valid = [c for c in checks if c.valid]
            yield pdf[keep].assign(
                url_canonical=[c.url for c in valid], host=[c.host for c in valid]
            )

    return df.mapInPandas(canon, schema=schema)
