#!/usr/bin/env python
"""Crawl driver for spark-submit deployment (BASELINE.json target):

    zip -r downloader_spark.zip downloader_spark
    spark-submit --py-files downloader_spark.zip scripts/run_crawl.py \
        --warehouse /data/warehouse --pages /data/pages \
        --seeds seeds.txt --waves 10

On a cluster, ``--pages`` points at the real pages table (Iceberg/
Parquet); in the sandbox it defaults to the deterministic synthetic web
graph. Resumes automatically from the warehouse's latest snapshots —
re-running after a kill continues at the next wave (tested equivalence
in tests/test_crawl_parity.py::test_resume_from_snapshot).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--pages", default=None, help="parquet path of the pages table")
    ap.add_argument("--seeds", default=None, help="file with one url per line")
    ap.add_argument("--waves", type=int, default=5)
    ap.add_argument("--synthetic-hosts", type=int, default=100)
    ap.add_argument("--synthetic-pages-per-host", type=int, default=40)
    ap.add_argument("--wave-seconds", type=int, default=30)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--seen-filter", choices=["bloom", "cuckoo"], default="bloom",
                    help="approximate seen-filter backend (cuckoo = deletable)")
    ap.add_argument("--pagerank-every", type=int, default=0,
                    help="refresh link-graph PageRank every k waves and rank "
                         "the frontier by it (0 = off)")
    ap.add_argument("--url-filter", action="store_true",
                    help="RefinedWeb-style pre-frontier URL gate on "
                         "discovered links (functions/urlquality.py "
                         "defaults; see --url-blocklist)")
    ap.add_argument("--url-blocklist", default=None,
                    help="comma-separated domains overriding the default "
                         "blocklist (implies --url-filter)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from downloader_spark.plans.crawlconfig import CrawlConfig
    from downloader_spark.plans.wave import CrawlEngine

    spark = SparkSession.builder.appName("downloader-spark-crawl").getOrCreate()

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        from downloader_spark.sources.pagegen import generate_web_graph

        pages = generate_web_graph(
            spark, n_hosts=args.synthetic_hosts,
            pages_per_host=args.synthetic_pages_per_host,
        ).cache()

    blocklist = tuple(
        d.strip() for d in (args.url_blocklist or "").split(",") if d.strip()
    )
    cfg = CrawlConfig(
        wave_seconds=args.wave_seconds, max_depth=args.max_depth,
        seen_filter=args.seen_filter,
        pagerank_every=args.pagerank_every,
        url_filter=args.url_filter or bool(blocklist),
        url_blocklist=blocklist,
    )
    eng = CrawlEngine(spark, args.warehouse, pages, cfg)

    if eng.wh.current_id("frontier") is None:  # fresh warehouse → seed it
        if args.seeds:
            with open(args.seeds) as f:
                seeds = [line.strip() for line in f if line.strip()]
        else:
            seeds = [
                f"http://site{h:04d}.example/p/0"
                for h in range(args.synthetic_hosts)
            ]
        eng.init(seeds)

    for m in eng.run(max_waves=args.waves):
        print(json.dumps(vars(m)))
    print(json.dumps(eng.status()))


if __name__ == "__main__":
    main()
