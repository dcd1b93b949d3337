#!/usr/bin/env python3
"""Interleaved A/B of the working tree against a base ref on perfbench.

    python3 tools/ab.py [--base HEAD] [--workloads a,b] [--seeds 3]
                        [--first-seed 601] [--out runs.json]

Checks the base ref out into a temporary git worktree (outside the
repository's files), then, per workload and seed, runs the benchmark's
own command (``BENCHMARK.json``: ``perfbench/run.py --trace 0`` with
its ``run_seconds``) once in the base checkout and once in the working
tree, alternating which side runs first. Each side benchmarks its own
engine. Prints, per workload and end-to-end metric, both medians, the
change/base ratio, the base's quartile distance and how many pairs the
change won, then each side's correct runs and failed ops. The worktree
is removed on exit. Run from anywhere inside the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = ("base", "change")


def run_once(bench: dict, checkout: str, workload: str, seed: int) -> dict:
    """One untraced benchmark run in ``checkout``; its final JSON line."""
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{checkout}: {workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["run_wall_s"] = time.perf_counter() - t
    return result


def _quartile_distance(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def summarize(bench: dict, pairs: list[dict]) -> list[dict]:
    """One row per (workload, end-to-end metric) over ``pairs``, each
    ``{"workload", "seed", "base": result, "change": result}`` with
    results as the benchmark prints them. ``ratio`` is change/base of
    the medians; ``wins`` counts pairs where the change is strictly
    better in the metric's direction (ties count for neither side)."""
    rows = []
    for workload in dict.fromkeys(p["workload"] for p in pairs):
        ps = [p for p in pairs if p["workload"] == workload]
        for m in bench["end_to_end"]:
            vals = {a: [p[a]["metrics"][m["name"]]["value"] for p in ps] for a in ARMS}
            sign = 1 if m["better"] == "lower" else -1
            med = {a: statistics.median(vals[a]) for a in ARMS}
            rows.append({
                "workload": workload, "metric": m["name"], "unit": m["unit"],
                "better": m["better"], "pairs": len(ps),
                "base": med["base"], "change": med["change"],
                "ratio": med["change"] / med["base"] if med["base"] else float("nan"),
                "base_q_dist": _quartile_distance(vals["base"]),
                "wins": sum(sign * (c - b) < 0 for b, c in zip(vals["base"], vals["change"])),
                "correct": {a: sum(bool(p[a]["correct"]) for p in ps) for a in ARMS},
                "failed": {a: sum(p[a]["failed"] for p in ps) for a in ARMS},
            })
    return rows


def format_rows(rows: list[dict]) -> str:
    out = [f"{'workload':16s} {'metric':16s} {'base':>11s} {'change':>11s} {'ratio':>7s}"
           f" {'base q3-q1':>11s} {'wins':>6s}"]
    for r in rows:
        out.append(f"{r['workload']:16s} {r['metric']:16s} {r['base']:11.5g} {r['change']:11.5g}"
                   f" {r['ratio']:7.3f} {r['base_q_dist']:11.4g} {r['wins']:3d}/{r['pairs']:<2d}")
    for workload in dict.fromkeys(r["workload"] for r in rows):
        r = next(x for x in rows if x["workload"] == workload)
        out.append(f"{workload}: correct runs base {r['correct']['base']}/{r['pairs']},"
                   f" change {r['correct']['change']}/{r['pairs']}; failed ops"
                   f" base {r['failed']['base']}, change {r['failed']['change']}")
    return "\n".join(out)


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD", help="git ref to compare against")
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seeds", type=int, default=3, help="seeds (pairs) per workload")
    ap.add_argument("--first-seed", type=int, default=601)
    ap.add_argument("--out", help="also write every pair's results here (JSON)")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    base_sha = _git("rev-parse", "--verify", f"{args.base}^{{commit}}")

    # SIGTERM unwinds through the finally below like Ctrl-C does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="ab-base-")
    base_dir = os.path.join(tmp, "checkout")
    try:
        _git("worktree", "add", "--detach", base_dir, base_sha)
        checkouts = {"base": base_dir, "change": ROOT}
        pairs, n = [], 0
        for w in names:
            for seed in range(args.first_seed, args.first_seed + args.seeds):
                order = ARMS if n % 2 == 0 else ARMS[::-1]
                n += 1
                pair = {"workload": w, "seed": seed, "first": order[0]}
                for arm in order:
                    pair[arm] = run_once(bench, checkouts[arm], w, seed)
                print(f"{w} seed {seed} ({order[0]} first): " + "  ".join(
                    f"{arm} " + " ".join(
                        f"{m['name']}={pair[arm]['metrics'][m['name']]['value']:.5g}"
                        for m in bench["end_to_end"])
                    for arm in ARMS), flush=True)
                pairs.append(pair)
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", base_dir],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"base": base_sha, "pairs": pairs}, f)
    print(f"base {args.base} = {base_sha[:12]}; change = working tree")
    print(format_rows(summarize(bench, pairs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
