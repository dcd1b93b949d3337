#!/usr/bin/env python
"""Regenerate BENCH_TREND.jsonl from the recorded BENCH_r*.json history
(VERDICT r10 stretch 8): one line per round with the raw total, the
env_factor micro-anchor reading, the drift-corrected total, and the
per-query seconds — so round-over-round comparison stops being a
judge-side script ten files deep.

Idempotent regeneration (never append): rerunning after any round
rewrites the whole file from the recorded history, so the artifact can
never drift from its sources. Also emits, per line, the like-for-like
delta vs the PREVIOUS round: corrected totals restricted to the queries
the two rounds share (the honesty rule from the r9 bench note — a bench
list that grew by 3 queries is not a 3-query regression).

Run `python tools/bench_trend.py` from the repo root; the round
checklist runs it after each recorded bench.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def recover_from_tail(rec: dict) -> dict | None:
    """Partial recovery for a round whose single output line outgrew the
    driver's 2,000-char capture window (r17: `parsed: null`, VERDICT r17
    item 1 — the per-class fields enlarged the line; bench.py has since
    moved them off the final line). The tail holds the END of the JSON
    object, which for r17 is the complete per-query class-corrected
    walls plus the class-corrected total — the raw walls and env_factor
    are unrecoverable and stay None in the trend row, flagged
    `recovered_from_tail` so no consumer mistakes corrected walls for
    raw ones."""
    tail = rec.get("tail") or ""
    mq = re.search(r'"queries_env_corrected": (\{[^{}]*\})', tail)
    mv = re.search(r'"value_env_corrected_by_class": ([\d.]+)', tail)
    if not (mq and mv):
        return None
    return {
        "sf": rec.get("sf"),
        "recovered_from_tail": True,
        "queries_env_corrected": json.loads(mq.group(1)),
        "value_env_corrected_by_class": float(mv.group(1)),
    }


def load_rounds() -> list[tuple[int, dict]]:
    rounds = []
    for path in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"_r0*(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rec = json.load(f)
        parsed = rec.get("parsed")
        if not isinstance(parsed, dict) or "queries" not in parsed:
            parsed = recover_from_tail(rec)
            if parsed is None:
                continue  # a crashed bench run recorded no parsable line
        rounds.append((int(m.group(1)), parsed))
    # sort by the ROUND NUMBER, never the filename: an unpadded
    # 'BENCH_r7.json' or a 3-digit round would otherwise misorder the
    # vs_prev chain silently
    return sorted(rounds)


def corrected_walls(parsed: dict) -> dict | None:
    """Best-available drift-corrected per-query walls for one round:
    the per-class-corrected dict when the round recorded one (r17, via
    tail recovery), else raw walls divided by the round's composite
    env_factor (r9–r16, r18+), else None (pre-r9)."""
    cc = parsed.get("queries_env_corrected")
    if cc:
        return cc
    env, q = parsed.get("env_factor"), parsed.get("queries")
    if env and q:
        return {k: v / env for k, v in q.items() if v is not None}
    return None


def trend_lines(rounds: list[tuple[int, dict]]) -> list[dict]:
    lines: list[dict] = []
    prev: tuple[int, dict] | None = None
    for rnd, parsed in rounds:
        env = parsed.get("env_factor")  # absent before r9
        raw_q = parsed.get("queries")
        value = parsed.get("value")
        corrected = parsed.get(
            "value_env_corrected",
            round(value / env, 3) if env and value is not None else None,
        )
        line = {
            "round": rnd,
            "sf": parsed.get("sf"),
            "n_queries": len(raw_q or parsed.get("queries_env_corrected") or {}),
            "raw_total_sec": value,
            "env_factor": env,
            "corrected_total_sec": corrected,
        }
        if raw_q is not None:
            line["queries"] = raw_q
        if parsed.get("recovered_from_tail"):
            # r17's final line outgrew the driver capture; only the
            # class-corrected walls survived in the tail. Flag the row so
            # nobody reads its per-query numbers as raw walls.
            line["recovered_from_tail"] = True
            line["queries_env_corrected"] = parsed["queries_env_corrected"]
        # r20: bracketed anchors (VERDICT r19 item 1) — carry the
        # per-anchor post/pre drift so every trend row states how
        # trustworthy its own correction layer was; rounds before r20
        # measured anchors once and have no bound to report.
        if "env_anchor_drift" in parsed:
            line["env_anchor_drift"] = parsed["env_anchor_drift"]
        # r17: per-anchor-class correction (VERDICT r16 item 1) — carry
        # the class-corrected total when the round recorded one
        if "value_env_corrected_by_class" in parsed:
            line["class_corrected_total_sec"] = parsed[
                "value_env_corrected_by_class"
            ]
        if prev is not None:
            prnd, pq = prev
            line["vs_prev"] = {"round": prnd}
            pq_raw = pq.get("queries")
            if raw_q and pq_raw:
                shared = sorted(set(raw_q) & set(pq_raw))
                cur_s = sum(raw_q[q] for q in shared)
                prev_s = sum(pq_raw[q] for q in shared)
                penv = pq.get("env_factor")
                line["vs_prev"].update(
                    {
                        "shared_queries": len(shared),
                        "shared_raw_ratio": (
                            round(cur_s / prev_s, 3) if prev_s else None
                        ),
                        # drift-corrected like-for-like: divide each side
                        # by its own anchor factor before comparing
                        "shared_corrected_ratio": (
                            round((cur_s / env) / (prev_s / penv), 3)
                            if env and penv and prev_s
                            else None
                        ),
                    }
                )
            # corrected like-for-like over whatever correction each round
            # recorded (per-class walls when available, composite else) —
            # this is the comparison that still works across the r17
            # recovered row, where raw walls are unrecoverable
            cc, pcc = corrected_walls(parsed), corrected_walls(pq)
            if cc and pcc:
                cshared = sorted(set(cc) & set(pcc))
                cur_c = sum(cc[q] for q in cshared)
                prev_c = sum(pcc[q] for q in cshared)
                if prev_c:
                    line["vs_prev"]["shared_class_corrected_ratio"] = round(
                        cur_c / prev_c, 3
                    )
                    line["vs_prev"].setdefault("shared_queries", len(cshared))
        lines.append(line)
        prev = (rnd, parsed)
    return lines


def main() -> None:
    rounds = load_rounds()
    if not rounds:
        print("no BENCH_r*.json with a parsed payload found", file=sys.stderr)
        sys.exit(1)
    out_path = os.path.join(REPO, "BENCH_TREND.jsonl")
    lines = trend_lines(rounds)
    with open(out_path, "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")
    last = lines[-1]
    print(
        f"wrote {len(lines)} rounds to BENCH_TREND.jsonl; "
        f"latest r{last['round']}: raw {last['raw_total_sec']}s, "
        f"corrected {last['corrected_total_sec']}s over {last['n_queries']} queries"
    )


if __name__ == "__main__":
    main()
