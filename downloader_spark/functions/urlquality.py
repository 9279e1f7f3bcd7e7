"""URL-level quality filtering — the FIRST stage of the published
webtext recipes (Penedo et al. 2023 "RefinedWeb" §3.1: an origin
DOMAIN BLOCKLIST plus a weighted URL KEYWORD score, applied before any
content is fetched or parsed; FineWeb and Dolma describe the same
two-part gate). The reference repo validates URLs for safety
(functions/urlnorm.py covers that axis); this module covers the
data-quality axis the crawl→corpus pipeline needs.

Two predicates, both native column expressions (zero UDFs):

- domain blocklist: a host is blocked when it EQUALS a listed domain
  or is a subdomain of one. The match is expressed over the host's
  dot-suffix set ("a.b.c" → {a.b.c, b.c, c}), which makes the scale
  path a plain equi-join: at RefinedWeb's 4.6M-domain list the
  blocklist is a broadcast (or shuffle) DIM TABLE joined on the
  exploded suffix — never a per-row scan of the list. The literal-list
  form (exists over an array) serves small curated lists.
- URL keyword score: Σ weight over listed words CONTAINED in the
  lowercased URL (substring, as published — "free" matches
  "freedom"-style paths by design, which is why it carries the lowest
  weight). Block at score ≥ URL_SCORE_BLOCK.

The word/domain constants are interpolated into BOTH the Spark seeded
query families and the DuckDB oracle SQL (queries.q_url_quality_filter)
— change them only here (CLAUDE.md invariant 8 class).

Scale design: per-row regexp + a suffix-explode equi-join against a
broadcast dim (suffix count is bounded by the host's label count, ~3-5
rows per URL); no shuffle of the URL table itself when the dim
broadcasts, one narrow shuffle of (id) hits otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: curated origin blocklist (deterministic stand-in for the published
#: multi-million-domain lists; .example per RFC 2606)
BLOCK_DOMAINS: list[str] = [
    "badsource.example",
    "spamfarm.example",
    "malware-mirror.example",
    "clickfraud.example",
]

#: URL keyword weights — strict (5) block alone, medium (3) and soft
#: (1) block in combination (threshold below)
URL_WORD_WEIGHTS: dict[str, int] = {
    "casino": 5,
    "jackpot": 5,
    "warez": 5,
    "torrent": 3,
    "keygen": 3,
    "crack": 3,
    "free": 1,
    "deal": 1,
    "offer": 1,
    "download": 1,
    "bonus": 1,
    "win": 1,
}

URL_SCORE_BLOCK = 5

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)"


def host_of(url: Column) -> Column:
    """Lowercased hostname of an absolute URL ('' when there is no
    scheme://authority prefix) — the urlnorm authority slice minus
    port."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a host: 'a.b.c' → ['a.b.c', 'b.c', 'c'] —
    the join key set for blocklist dim tables (a host is under domain d
    iff d ∈ suffixes(host))."""
    parts = F.split(host, r"\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts) - i + 1), "."),
    )


def domain_blocked_col(host: Column, domains: list[str] | None = None) -> Column:
    """Literal-list blocklist predicate (small curated lists): true
    when any dot-suffix of ``host`` is in ``domains``."""
    dl = F.array(*[F.lit(d) for d in (domains or BLOCK_DOMAINS)])
    return F.exists(host_suffixes(host), lambda s: F.array_contains(dl, s))


def url_spam_score(url: Column, weights: dict[str, int] | None = None) -> Column:
    """Σ weight over words contained in lower(url) — exact integer."""
    w = weights or URL_WORD_WEIGHTS
    lu = F.lower(url)
    score = F.lit(0)
    for word in sorted(w):
        score = score + F.when(lu.contains(word), F.lit(w[word])).otherwise(
            F.lit(0)
        )
    return score.cast("int")


def url_keep_col(
    url: Column,
    host: Column,
    domains: list[str],
    weights: dict[str, int],
    block_at: int = URL_SCORE_BLOCK,
) -> Column:
    """The crawl engines' pre-frontier URL gate over a canonical url and
    its host: not blocked and spam score < ``block_at``. One predicate
    for the batch wave and the streaming drain; ``url_keep_py`` is its
    single-node mirror (CLAUDE.md invariant 2)."""
    return ~domain_blocked_col(host, domains) & (url_spam_score(url, weights) < F.lit(block_at))


def url_keep_py(
    url: str,
    host: str,
    domains: list[str],
    weights: dict[str, int],
    block_at: int = URL_SCORE_BLOCK,
) -> bool:
    """Single-node mirror of the Spark gate — the simulator side of
    the crawl-engine parity contract (CLAUDE.md invariant 2): same
    dot-suffix blocklist semantics, same substring keyword sum. The
    ``host`` is passed in already canonical (lowercase), exactly like
    the engine's c.host column."""
    parts = host.split(".")
    suffixes = {".".join(parts[i:]) for i in range(len(parts))}
    if any(d in suffixes for d in domains):
        return False
    lu = url.lower()
    score = sum(w for word, w in weights.items() if word in lu)
    return score < block_at


def blocklist_hits(
    df: DataFrame,
    domains_df: DataFrame,
    id_col: str,
    url_col: str = "url",
    domain_col: str = "domain",
    broadcast: bool = True,
) -> DataFrame:
    """The SCALE-path blocklist probe: ids of rows whose host falls
    under any domain in ``domains_df`` (a real dim table — millions of
    rows at RefinedWeb scale). Explodes the bounded suffix set and
    equi-joins; ``broadcast=False`` for dim tables too large to ship
    (the join becomes a shuffle on the suffix key)."""
    sfx = df.select(
        F.col(id_col),
        F.explode(host_suffixes(host_of(F.col(url_col)))).alias("_sfx"),
    )
    dim = domains_df.select(F.col(domain_col).alias("_sfx"))
    if broadcast:
        dim = F.broadcast(dim)
    return sfx.join(dim, "_sfx").select(id_col).distinct()


def url_quality(
    df: DataFrame,
    id_col: str,
    url_col: str = "url",
    domains_df: DataFrame | None = None,
    weights: dict[str, int] | None = None,
    block_at: int = URL_SCORE_BLOCK,
) -> DataFrame:
    """Append (host, domain_blocked, spam_score, url_keep) to ``df``.

    With ``domains_df`` the blocklist runs as the dim-table join
    (blocklist_hits); without it, as the literal-array predicate over
    BLOCK_DOMAINS. ``url_keep`` ⟺ not blocked and score < block_at."""
    host = host_of(F.col(url_col))
    out = df.withColumn("host", host)
    if domains_df is not None:
        hits = blocklist_hits(df, domains_df, id_col, url_col).withColumn(
            "_blk", F.lit(True)
        )
        out = out.join(hits, id_col, "left").withColumn(
            "domain_blocked", F.coalesce(F.col("_blk"), F.lit(False))
        ).drop("_blk")
    else:
        out = out.withColumn("domain_blocked", domain_blocked_col(F.col("host")))
    out = out.withColumn("spam_score", url_spam_score(F.col(url_col), weights))
    return out.withColumn(
        "url_keep",
        ~F.col("domain_blocked") & (F.col("spam_score") < F.lit(block_at)),
    )
