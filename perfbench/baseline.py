#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and record the spread.

    python3 perfbench/baseline.py [--runs 10] [--sets 2] [--first-seed 1] \
        [--out perfbench/baseline.json]

Runs ``--sets`` sets of ``--runs`` seeds per workload in BENCHMARK.json
(set k takes the next ``--runs`` seeds). For each set, workload and
end-to-end metric: the median, the quartiles
(``statistics.quantiles(values, n=4)``), the inter-quartile range as a
share of the median and the sample count; for each later set, how much
worse its median is than the first set's, as a share of the first
(negative: better), next to the metric's bound. Also records nproc and
the query tables' directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(command: list[str], workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.monotonic()
    out = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", "0"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1]), time.monotonic() - t0


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med, "n": len(values),
    }


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    change = (later - first) / first
    return change if better == "lower" else -change


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path.insert(0, HERE)
    from workloads import SF_DIR

    declared = {m["name"]: m for m in bench["end_to_end"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    result = {
        "nproc": len(os.sched_getaffinity(0)),
        "tables": os.path.relpath(SF_DIR, ROOT),
        "run_seconds": bench["run_seconds"],
        "sets": [],
    }
    for k in range(args.sets):
        first = args.first_seed + k * args.runs
        seeds = list(range(first, first + args.runs))
        one = {"seeds": seeds, "workloads": {}}
        for name in names:
            samples: dict[str, list[float]] = {}
            walls, bad = [], 0
            for seed in seeds:
                res, wall = run_once(bench["command"], name, seed, bench["run_seconds"])
                walls.append(wall)
                bad += not res["correct"]
                for metric, v in res["metrics"].items():
                    samples.setdefault(metric, []).append(v["value"])
                print(k + 1, name, seed, f"{wall:.1f}s",
                      {m: round(v["value"], 4) for m, v in res["metrics"].items()}, flush=True)
            one["workloads"][name] = {
                "metrics": {m: summarize(v) for m, v in samples.items()},
                "incorrect_runs": bad,
                "run_wall_s": summarize(walls),
            }
            for m, st in one["workloads"][name]["metrics"].items():
                line = f"  set {k + 1} {name} {m}: median {st['median']:.4f} iqr/median {st['iqr_share']:.4f}"
                if k:
                    base = result["sets"][0]["workloads"][name]["metrics"][m]["median"]
                    st["worse_than_set1"] = worse_by(base, st["median"], declared[m]["better"])
                    st["bound"] = declared[m]["bound"]
                    line += f" worse than set 1 by {st['worse_than_set1']:+.4f} (bound {st['bound']})"
                print(line, flush=True)
        result["sets"].append(one)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
