"""Steadiness check: run each workload N times with different seeds and
report, per end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median) against
the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --first-seed 1 --out runs-a.json
    python3 perfbench/steady.py --compare runs-a.json runs-b.json

A spread above a third of its bound means the metric is not steady
enough to judge a change by; ``--compare`` reports, per metric, how far
the second set's median moved from the first set's, against the bound.
Run from the repository root; each run is the benchmark's own command.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_wall_s"] = wall
    # the run's own timing lines: set-up, op walls and CPU
    result["log"] = [ln for ln in proc.stderr.splitlines()
                     if ln.startswith(("set-up", "op walls", "op cpu", "op_p50_s"))]
    return result


def summarize(bench: dict, runs: dict) -> bool:
    ok = True
    for workload, results in runs.items():
        walls = [r["run_wall_s"] for r in results]
        print(f"{workload}: {len(results)} runs, run wall median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s, all correct: {all(r['correct'] for r in results)}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            s = spread(vals)
            steady = s <= m["bound"] / 3
            ok &= steady
            print(f"  {m['name']:14s} median {statistics.median(vals):12.5g} {m['unit']:5s}"
                  f" spread {s:.4f} (bound {m['bound']}, {'ok' if steady else 'NOT STEADY'})")
    return ok


def compare(bench: dict, a: dict, b: dict) -> bool:
    ok = True
    for workload in a:
        for m in bench["end_to_end"]:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[workload])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[workload])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            good = worse <= m["bound"]
            ok &= good
            print(f"{workload:16s} {m['name']:14s} {ma:12.5g} -> {mb:12.5g}"
                  f" worse by {worse:+.4f} (bound {m['bound']}, {'ok' if good else 'REGRESSED'})")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--out", help="write the raw results here (JSON)")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        return 0 if compare(bench, *sets) else 1
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs: dict[str, list] = {}
    for w in names:
        for k in range(args.runs):
            seed = args.first_seed + k
            runs.setdefault(w, []).append(run_once(bench, w, seed))
            r = runs[w][-1]
            print(f"{w} seed {seed}: {r['run_wall_s']:.1f} s "
                  + " ".join(f"{k}={v['value']:.5g}" for k, v in r["metrics"].items()),
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    return 0 if summarize(bench, runs) else 1


if __name__ == "__main__":
    sys.exit(main())
