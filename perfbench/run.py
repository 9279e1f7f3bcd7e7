#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop workload on a local[nproc] session.

    python3 perfbench/run.py --workload {crawl,webtext,analytics} \
        --seed N --seconds S --trace {0,1} [--tables SF_DIR]

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the workload once untraced and once with
spans installed and the event log on, and prints the per-layer metrics.
The last line of stdout is the result JSON; Spark's own output goes to
stderr. Everything the run writes goes under ``.perfbench/`` in the
checkout. ``--tables`` names the query tables' directory (default: the
copies in ``perfbench/data/sf0.1``, which hold only what the webtext
workload reads; ``analytics`` needs a full sf0.1 directory).
``--write-pins`` recomputes ``perfbench/pins.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from sparkenv import ROOT, WORK, declared_metrics, isolate_env, start_session, stop_everything

SETUPS = 3  # input set-ups per run; setup_s takes their median


def measure(wl, spark, seconds: float) -> tuple[list, list[float]]:
    """Timed passes. The crawl runs one pass (its waves need the engine
    its set-up initialised); query workloads start another pass while
    one more fits in ``seconds``."""
    from workloads import plain

    ops, walls = [], []
    t0 = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        ops += wl.run_pass(spark, plain, len(walls))
        walls.append(time.perf_counter() - p0)
        elapsed = time.perf_counter() - t0
        if wl.name == "crawl" or elapsed + sum(walls) / len(walls) > seconds:
            return ops, walls


def e2e_metrics(wl, ops, walls, setup_s, rss_mb) -> tuple[dict, list[str]]:
    from stats import median, percentile, tail_percentile

    op_walls = [o.wall for o in ops]
    items_per_s = sum(o.items for o in ops) / sum(op_walls)
    metrics = {"setup_s": setup_s, "items_per_s": items_per_s}
    failed = sum(not o.ok for o in ops)
    p = tail_percentile(len(op_walls))
    # peak RSS depends on how many Python workers Spark happens to fork,
    # and a pass has too few operations for a steady median: both are
    # reported here only, not gated
    op = "wave" if wl.name == "crawl" else "query"
    lines = [
        f"failed_ratio\t{failed / len(ops):.4f}\t1",
        f"peak_rss_mb\t{rss_mb:.1f}\tMiB",
        f"{op}_s_p50\t{median(op_walls):.4f}\ts\t(n={len(op_walls)})",
    ]
    if p != 50:
        lines.append(f"{op}_s_p{p}\t{percentile(op_walls, p):.4f}\ts\t(n={len(op_walls)})")
    if wl.name == "crawl":
        lines.append(f"frontier_urls_per_s\t{items_per_s:.4f}\turls/s")
        lines += [f"{o.name}_s\t{o.wall:.4f}\ts\t(frontier_in={o.items})" for o in ops]
    elif wl.name == "webtext":
        lines.append(f"input_rows_per_s\t{items_per_s:.4f}\trows/s")
        lines += [f"{o.name}_s\t{o.wall:.4f}\ts" for o in ops]
    else:
        lines.append(f"suite_s\t{sum(walls) / len(walls):.4f}\ts")
    lines.append("pass_s\t" + ",".join(f"{w:.4f}" for w in walls) + "\ts")
    return metrics, lines


def run_untraced(wl, seconds: float):
    from stats import TreeRSS, median

    rss = TreeRSS().start()
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        t = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t
        setups = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            wl.setup(spark)
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.init_engine(spark)
        init_s = time.perf_counter() - t
        setup_s = session_s + median(setups) + init_s
        ops, walls = measure(wl, spark, seconds)
        rss_mb = rss.stop()
        t = time.perf_counter()
        wl.check(spark, ops)
        check_s = time.perf_counter() - t
    finally:
        rss.stop()
        stop_everything(spark)
    metrics, lines = e2e_metrics(wl, ops, walls, setup_s, rss_mb)
    lines = [
        f"session_start_s\t{session_s:.4f}\ts",
        f"prepare_s\t{prepare_s:.4f}\ts",
        "input_setups_s\t" + ",".join(f"{s:.4f}" for s in setups) + "\ts",
        f"engine_init_s\t{init_s:.4f}\ts",
        f"check_s\t{check_s:.4f}\ts",
    ] + lines
    units = declared_metrics("end_to_end")
    return ops, {k: {"value": metrics[k], "unit": u} for k, u in units.items()}, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("crawl", "webtext", "analytics"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="query tables' directory (analytics: a full sf0.1)")
    ap.add_argument("--write-pins", nargs="*", type=int, metavar="CRAWL_SEED",
                    help="recompute pins.json (query pins, plus crawl pins for these seeds)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "downloader_spark")):
        print(f"perfbench: no downloader_spark package under {ROOT}", file=sys.stderr)
        return 2
    isolate_env()
    from workloads import SF_DIR, WORKLOADS

    tables = os.path.abspath(args.tables) if args.tables else SF_DIR
    if args.write_pins is not None:
        from pins import write_pins

        write_pins(WORK, args.write_pins, tables)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "crawl":
        wl = WORKLOADS["crawl"](WORK, args.seed)
    else:
        wl = WORKLOADS[args.workload](WORK, args.seed, tables)
    if args.trace:
        from traced import run_traced

        ops, metrics, lines = run_traced(wl)
    else:
        ops, metrics, lines = run_untraced(wl, args.seconds)
    for o in ops:
        if not o.ok:
            lines.append(f"FAILED\t{o.name}\t{o.error}")
    print("\n".join(lines), flush=True)
    failed = sum(not o.ok for o in ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
