#!/usr/bin/env python
"""One-off 10×-scale crawl evidence run (round-2 VERDICT #6).

Generates a ~1M-page web graph (10,000 hosts × ~100 pages Zipf) and
runs 5 waves with the default config (Bloom probe path chosen by
bitmap geometry), recording per-wave wall-clock and frontier
throughput. Results are transcribed into BASELINE.md ("10×-scale crawl
evidence"); the per-round bench carries the smaller always-run variant
(bench._wave_scale_curve at 120k pages).

Round-6 variant (VERDICT r5 #8): ``--cuckoo`` switches the seen filter
to the deletable cuckoo tables, ``--pagerank`` enables rank-informed
frontier priority with a refresh EVERY wave (pagerank_every=1, the
most expensive schedule) — the per-wave output then splits
rank_refresh_sec out of wall_sec, evidencing that the O(edges) refresh
fits inside the wave budget at the 1M-page scale.

Usage: python scripts/evidence_crawl_10x.py [n_hosts] [pages_per_host]
           [--cuckoo] [--pagerank] [--url-filter]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _session, _wave_scale_curve  # noqa: E402


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_hosts = int(pos[0]) if pos else 10_000
    pages_per_host = int(pos[1]) if len(pos) > 1 else 100
    overrides: dict = {}
    if "--cuckoo" in sys.argv:
        overrides.update(seen_filter="cuckoo")
    if "--pagerank" in sys.argv:
        overrides.update(pagerank_every=1)
    if "--url-filter" in sys.argv:
        # r6 pre-frontier URL gate at evidence scale: block two of the
        # Zipf-heavy generated hosts and score a real path fragment, so
        # the gate FIRES on a meaningful share of discovered links
        overrides.update(
            url_filter=True,
            url_blocklist=("site0003.example", "site0007.example"),
            url_word_weights=(("/p/1", 3), ("/p/2", 2)),
            url_score_block=3,
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _session(cpus)
    out = _wave_scale_curve(
        spark, n_hosts=n_hosts, pages_per_host=pages_per_host,
        seeds_per_host=4, waves=5, cfg_overrides=overrides or None,
    )
    out["cfg_overrides"] = overrides
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
