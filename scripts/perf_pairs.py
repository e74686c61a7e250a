#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs: a parent checkout against a change.

    python3 scripts/perf_pairs.py PARENT_DIR CHANGE_DIR --workload corpus_dedup \\
        --seeds 101-110 [--seconds 5] [--log-dir DIR]

Each seed runs ``perfbench/run.py --workload W --seed S --seconds X --trace 0``
once in each checkout, one cold process at a time; the parent runs first on
even seeds and second on odd ones, so a slow spell of the machine does not
always land on the same side. Each checkout must be a full tree
(``perfbench/`` and ``npm_search_spark/`` side by side), e.g. a ``git
archive`` of the parent commit.

Printed: one line per pair (every end-to-end metric of each side, the change's
relative difference, each side's ``cpu_steal_share`` and the count of ERROR
lines on its stderr), then per metric each side's median and quartiles, the
median's relative change, the parent's interquartile range and the number of
pairs the change won. A seed is flagged ``MISMATCH`` when the two sides differ
in any output digest, pair or group count, or error ratio, and ``FAILED`` when
a run printed no result. The exit code is 1 when any seed was flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# summary-line keys that are outputs of the run: they must match per seed
OUTPUT_KEY_SUFFIXES = ("_digest", "_pairs", "_groups")


def parse_seeds(spec: str) -> list[int]:
    """``1,4,7-9`` -> [1, 4, 7, 8, 9]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             log_path: str | None) -> dict | None:
    """One cold perfbench run: its metrics, summary and stderr ERROR count."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if log_path:
        with open(log_path, "w") as f:
            f.write(p.stdout + "\n--- stderr ---\n" + p.stderr)
    lines = p.stdout.strip().splitlines()
    summary = next((json.loads(line.split(": ", 1)[1]) for line in lines
                    if line.startswith("perfbench summary: ")), None)
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None
    if summary is None:
        return None
    return {
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "summary": summary,
        "errors": sum("ERROR" in line for line in p.stderr.splitlines()),
    }


def outputs(run: dict) -> dict:
    s = run["summary"]
    return {k: v for k, v in s.items()
            if k.endswith(OUTPUT_KEY_SUFFIXES) or k == "error_ratio"}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--log-dir", help="keep each run's stdout and stderr here")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    if args.log_dir:
        os.makedirs(args.log_dir, exist_ok=True)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, dict[int, dict]] = {"parent": {}, "change": {}}
    flagged: list[int] = []

    for seed in parse_seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        for side in order:
            log = (os.path.join(args.log_dir, f"{args.workload}-{seed}-{side}.log")
                   if args.log_dir else None)
            t0 = time.perf_counter()
            r = run_once(sides[side], args.workload, seed, args.seconds, log)
            if r is not None:
                r["wall_s"] = time.perf_counter() - t0
                runs[side][seed] = r
        p, c = runs["parent"].get(seed), runs["change"].get(seed)
        if p is None or c is None:
            flagged.append(seed)
            print(f"seed {seed}: FAILED ({'parent' if p is None else 'change'} printed no result)",
                  flush=True)
            continue
        cells = []
        for m in better:
            a, b = p["metrics"][m], c["metrics"][m]
            cells.append(f"{m} {a:.4g} -> {b:.4g} ({(b - a) / a:+.1%})" if a else f"{m} {a} -> {b}")
        flag = ""
        if outputs(p) != outputs(c):
            flagged.append(seed)
            flag = f"  MISMATCH parent {outputs(p)} change {outputs(c)}"
        print(f"seed {seed} ({order[0]} first): " + "; ".join(cells)
              + f"; steal {p['summary']['cpu_steal_share']:.3f}/{c['summary']['cpu_steal_share']:.3f}"
              + f"; stderr ERROR lines {p['errors']}/{c['errors']}" + flag, flush=True)

    both = sorted(set(runs["parent"]) & set(runs["change"]))
    if both:
        print(f"\n{len(both)} pairs, workload {args.workload}")
        for m, direction in better.items():
            pv = [runs["parent"][s]["metrics"][m] for s in both]
            cv = [runs["change"][s]["metrics"][m] for s in both]
            sign = 1 if direction == "higher" else -1
            wins = sum(sign * (b - a) > 0 for a, b in zip(pv, cv))
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"{m} ({direction} is better): parent median {pq[1]:.4g} [q1 {pq[0]:.4g}, "
                  f"q3 {pq[2]:.4g}]; change median {cq[1]:.4g} [q1 {cq[0]:.4g}, q3 {cq[2]:.4g}]; "
                  f"median change {cq[1] - pq[1]:+.4g} ({(cq[1] - pq[1]) / pq[1]:+.1%}), "
                  f"parent IQR {pq[2] - pq[0]:.4g}; change won {wins}/{len(both)}")
        steal = [runs[s][k]["summary"]["cpu_steal_share"] for s in runs for k in both]
        print(f"cpu_steal_share: median {statistics.median(steal):.3f}, max {max(steal):.3f}")
    if flagged:
        print(f"flagged seeds: {sorted(set(flagged))}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
