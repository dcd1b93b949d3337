"""Unit tests for the A/B tool's summary (tools/ab.py::summarize): medians
per arm, change/base ratio, the base's quartile distance, wins in each
metric's own direction, and correct/failed counts. No Spark needed."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from ab import format_rows, summarize  # noqa: E402

BENCH = {
    "end_to_end": [
        {"name": "op_cpu_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "items_per_cpu_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    ]
}


def _result(cpu: float, items: float, *, correct: bool = True, failed: int = 0) -> dict:
    return {
        "correct": correct,
        "attempted": 10,
        "failed": failed,
        "metrics": {
            "op_cpu_p50_s": {"value": cpu, "unit": "s"},
            "items_per_cpu_s": {"value": items, "unit": "1/s"},
        },
    }


def _pairs() -> list[dict]:
    base = [(4.0, 100.0), (5.0, 90.0), (4.5, 95.0), (6.0, 80.0)]
    change = [(2.0, 200.0), (2.5, 180.0), (4.5, 95.0), (1.5, 70.0)]
    pairs = [
        {"workload": "ingest", "seed": 601 + i, "base": _result(*b), "change": _result(*c)}
        for i, (b, c) in enumerate(zip(base, change))
    ]
    pairs[3]["change"] = _result(1.5, 70.0, correct=False, failed=2)
    pairs.append({"workload": "admission", "seed": 601,
                  "base": _result(8.0, 30.0), "change": _result(8.8, 33.0)})
    return pairs


def test_summarize_medians_ratio_wins_and_counts():
    rows = {(r["workload"], r["metric"]): r for r in summarize(BENCH, _pairs())}
    assert list(rows) == [
        ("ingest", "op_cpu_p50_s"), ("ingest", "items_per_cpu_s"),
        ("admission", "op_cpu_p50_s"), ("admission", "items_per_cpu_s"),
    ]

    cpu = rows["ingest", "op_cpu_p50_s"]
    assert cpu["pairs"] == 4
    assert cpu["base"] == 4.75 and cpu["change"] == 2.25
    assert abs(cpu["ratio"] - 2.25 / 4.75) < 1e-12
    # statistics.quantiles (exclusive) of [4.0, 4.5, 5.0, 6.0]: q1 4.125, q3 5.75
    assert abs(cpu["base_q_dist"] - 1.625) < 1e-12
    # lower is better: seeds 601, 602, 604 win; 603 ties and counts for neither
    assert cpu["wins"] == 3

    items = rows["ingest", "items_per_cpu_s"]
    # higher is better: 601, 602 win; 603 ties; 604 is worse
    assert items["wins"] == 2
    assert items["base"] == 92.5 and items["change"] == 137.5

    assert cpu["correct"] == {"base": 4, "change": 3}
    assert cpu["failed"] == {"base": 0, "change": 2}

    one = rows["admission", "op_cpu_p50_s"]
    assert one["pairs"] == 1 and one["wins"] == 0 and one["base_q_dist"] == 0.0
    assert rows["admission", "items_per_cpu_s"]["wins"] == 1


def test_format_rows_names_every_row_and_count_line():
    text = format_rows(summarize(BENCH, _pairs()))
    assert "3/4" in text  # ingest op_cpu wins
    assert "ingest: correct runs base 4/4, change 3/4; failed ops base 0, change 2" in text
    assert "admission: correct runs base 1/1, change 1/1" in text


def test_summarize_reads_the_repository_benchmark_contract():
    """The tool takes metric names and directions from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in bench["end_to_end"]}
    result = {"correct": True, "attempted": 1, "failed": 0, "metrics": metrics}
    pair = {"workload": bench["workloads"][0]["name"], "seed": 1,
            "base": result, "change": result}
    rows = summarize(bench, [pair])
    assert [r["metric"] for r in rows] == [m["name"] for m in bench["end_to_end"]]
    assert all(r["ratio"] == 1.0 and r["wins"] == 0 for r in rows)
