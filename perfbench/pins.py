"""Recompute ``pins.json``: the expected outputs the runs are checked against.

- ``queries``: (rows, bit_xor(xxhash64(*))) of every webtext and
  analytics query on the sf0.1 tables;
- ``crawl``: per seed, the per-wave counts and the (url, status, text)
  fold of the crawl — written only after the engine's outputs were
  found equal to ``crawl.simulator.simulate_crawl``'s.

    python3 perfbench/run.py --write-pins 1 2 3 --tables SF0.1_DIR

``SF0.1_DIR`` must hold every sf0.1 table the analytics queries read.
"""

from __future__ import annotations

import json

from sparkenv import start_session, stop_everything
from workloads import PINS_PATH, WORKLOADS, load_pins


def write_pins(work: str, crawl_seeds: list[int], tables: str) -> None:
    pins = load_pins()
    spark = start_session()
    try:
        queries = {}
        for name in ("webtext", "analytics"):
            wl = WORKLOADS[name](work, 0, tables)
            wl.prepare(spark)
            wl.init_engine(spark)
            queries.update(wl.pin(spark))
        pins["queries"] = dict(sorted(queries.items()))
        crawl = pins.setdefault("crawl", {})
        for seed in crawl_seeds:
            wl = WORKLOADS["crawl"](work, seed)
            wl.prepare(spark)
            crawl[str(seed)] = wl.pin(spark)
            wl.release()
        pins["crawl"] = dict(sorted(crawl.items(), key=lambda kv: int(kv[0])))
    finally:
        stop_everything(spark)
    with open(PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1)
        fh.write("\n")
