"""Run-to-run spread of the end-to-end metrics.

    python3 crawlbench/steadiness.py --workload crawl_wide --seeds 1-10 [--record FILE]

Runs the benchmark once per seed, one run at a time, for BENCHMARK.json's
``run_seconds``, and prints for each end-to-end metric its median,
quartiles and spread (interquartile range as a share of the median, from
``statistics.quantiles(values, n=4)``) next to the bound BENCHMARK.json
gives it.  ``--record FILE`` adds the set to a JSON record keyed by
workload; once a workload has two sets, the record also holds each
metric's median shift from the first set to the second, as a share of
the first median (positive = worse).
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2,
            "values": values}


def shift(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share
    of the first (negative when it is better)."""
    d = (second - first) / first
    return d if better == "lower" else -d


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--record")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    secs = bench["run_seconds"]
    runs, walls = [], []
    for seed in seeds(args.seeds):
        t = time.monotonic()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(secs), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {out.returncode}")
        walls.append(time.monotonic() - t)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(seed, json.dumps({k: round(v["value"], 3)
                                for k, v in res["metrics"].items()}),
              "correct" if res["correct"] else f"FAILED {res['failed']}",
              flush=True)
    report = {}
    for m in bench["end_to_end"]:
        s = spread([r["metrics"][m["name"]]["value"] for r in runs])
        report[m["name"]] = {**s, "bound": m["bound"]}
        flag = "ok" if s["spread"] <= m["bound"] / 3 else (
            "within bound" if s["spread"] <= m["bound"] else "OVER BOUND")
        print(f"{m['name']:>16} median {s['median']:10.3f} {m['unit']:<8} "
              f"spread {s['spread']:.3f} (bound {m['bound']}) {flag}")
    report["_runs"] = len(runs)
    report["_seeds"] = seeds(args.seeds)
    report["_run_wall_s"] = spread(walls)
    print(f"{'wall time':>16} median {statistics.median(walls):10.1f} s per run")
    report["_all_correct"] = all(r["correct"] for r in runs)
    if args.record:
        rec = {}
        if os.path.exists(args.record):
            with open(args.record) as fh:
                rec = json.load(fh)
        sets = rec.setdefault(args.workload, {"sets": []})["sets"]
        sets.append(report)
        if len(sets) >= 2:
            rec[args.workload]["median_shift"] = {
                m["name"]: shift(sets[0][m["name"]]["median"],
                                 sets[1][m["name"]]["median"], m["better"])
                for m in bench["end_to_end"]
            }
        with open(args.record, "w") as fh:
            json.dump(rec, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
