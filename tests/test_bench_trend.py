"""Unit tests for the bench trend generator's arithmetic
(tools/bench_trend.py::trend_lines) — the like-for-like rule must hold:
deltas compare only SHARED queries, each side divided by its own
env_factor, and pre-anchor rounds (no env_factor) degrade to raw-only
lines instead of crashing."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from bench_trend import trend_lines  # noqa: E402


def _parsed(queries: dict, env: float | None = None) -> dict:
    out = {"value": round(sum(queries.values()), 3), "sf": 0.1, "queries": queries}
    if env is not None:
        out["env_factor"] = env
        out["value_env_corrected"] = round(out["value"] / env, 3)
    return out


def test_shared_corrected_ratio_is_like_for_like():
    r1 = _parsed({"a": 1.0, "b": 2.0}, env=1.0)
    # r2: query b doubled, new query c added, host 2x slower (env=2.0)
    r2 = _parsed({"a": 2.0, "b": 4.0, "c": 9.0}, env=2.0)
    lines = trend_lines([(1, r1), (2, r2)])
    vp = lines[1]["vs_prev"]
    assert vp["shared_queries"] == 2
    assert vp["shared_raw_ratio"] == 2.0  # (2+4)/(1+2)
    # corrected: (6/2.0) / (3/1.0) = 1.0 — all raw growth was host drift
    assert vp["shared_corrected_ratio"] == 1.0
    # the new query c never contaminates the delta
    assert lines[1]["n_queries"] == 3


def test_pre_anchor_rounds_degrade_gracefully():
    r1 = _parsed({"a": 1.0})  # no env_factor (pre-r9 shape)
    r2 = _parsed({"a": 1.5}, env=1.0)
    lines = trend_lines([(1, r1), (2, r2)])
    assert lines[0]["env_factor"] is None
    assert lines[0]["corrected_total_sec"] is None
    vp = lines[1]["vs_prev"]
    assert vp["shared_raw_ratio"] == 1.5
    assert vp["shared_corrected_ratio"] is None  # no prev anchor: no claim


def test_disjoint_query_sets_report_zero_shared():
    lines = trend_lines([(1, _parsed({"a": 1.0})), (2, _parsed({"b": 2.0}))])
    vp = lines[1]["vs_prev"]
    assert vp["shared_queries"] == 0
    assert vp["shared_raw_ratio"] is None


def test_class_corrected_ratio_uses_per_query_walls():
    """r17 (VERDICT r16 item 1): when both rounds record per-query
    class-corrected walls, vs_prev adds a class-corrected shared ratio
    built from THOSE walls — so a shuffle-only host regression on
    shuffle-weighted queries stops reading as a code regression."""
    r1 = _parsed({"a": 1.0, "b": 2.0}, env=1.0)
    r1["queries_env_corrected"] = {"a": 1.0, "b": 2.0}
    r1["value_env_corrected_by_class"] = 3.0
    # raw walls doubled, but per-class correction explains all of it
    r2 = _parsed({"a": 2.0, "b": 4.0}, env=1.5)
    r2["queries_env_corrected"] = {"a": 1.0, "b": 2.0}
    r2["value_env_corrected_by_class"] = 3.0
    lines = trend_lines([(1, r1), (2, r2)])
    assert lines[1]["class_corrected_total_sec"] == 3.0
    vp = lines[1]["vs_prev"]
    assert vp["shared_class_corrected_ratio"] == 1.0
    # composite-only rounds (r9–r16 shape) bridge via raw/env_factor —
    # the r18 change that makes the ratio computable across the r16↔r17
    # era boundary: r1 corrected {"a": 1.0/1.0}, shared {"a"} -> 1.0/1.0
    lines2 = trend_lines([(1, _parsed({"a": 1.0}, env=1.0)), (2, r2)])
    assert lines2[1]["vs_prev"]["shared_class_corrected_ratio"] == 1.0
    # pre-anchor rounds (no env_factor, no per-class walls) still make
    # no corrected claim at all
    lines3 = trend_lines([(1, _parsed({"a": 1.0})), (2, r2)])
    assert "shared_class_corrected_ratio" not in lines3[1]["vs_prev"]


def test_recovered_round_row_carries_only_corrected_walls():
    """r18 (VERDICT r17 item 1): a round recovered from the driver tail
    (r17's `parsed: null`) has no raw walls — its trend row must flag
    itself, report None raw totals, and still produce the
    class-corrected like-for-like ratio against the composite-era
    neighbor on both sides."""
    r16 = _parsed({"a": 2.0, "b": 4.0}, env=2.0)  # corrected: a=1, b=2
    r17 = {
        "sf": 0.1,
        "recovered_from_tail": True,
        "queries_env_corrected": {"a": 1.0, "b": 2.0, "c": 5.0},
        "value_env_corrected_by_class": 8.0,
    }
    r18 = _parsed({"a": 3.0, "b": 6.0}, env=1.0)
    r18["queries_env_corrected"] = {"a": 3.0, "b": 6.0}
    r18["value_env_corrected_by_class"] = 9.0
    lines = trend_lines([(16, r16), (17, r17), (18, r18)])
    row17 = lines[1]
    assert row17["recovered_from_tail"] is True
    assert row17["raw_total_sec"] is None
    assert row17["corrected_total_sec"] is None
    assert row17["class_corrected_total_sec"] == 8.0
    assert row17["n_queries"] == 3
    assert "queries" not in row17
    # r17 vs r16: shared {a, b}; (1+2) / ((2+4)/2.0) = 1.0
    assert row17["vs_prev"]["shared_class_corrected_ratio"] == 1.0
    assert row17["vs_prev"]["shared_queries"] == 2
    assert "shared_raw_ratio" not in row17["vs_prev"]
    # r18 vs r17: shared {a, b}; (3+6) / (1+2) = 3.0
    assert lines[2]["vs_prev"]["shared_class_corrected_ratio"] == 3.0


def test_bracketed_anchor_effective_min_and_drift():
    """r20 (VERDICT r19 item 1): the effective anchor wall is the
    per-anchor MIN of the pre/post brackets (REF-comparable: min
    favors the warmed reading), drift is post/pre, an anchor present
    in only one bracket contributes its wall but no drift claim, and
    the env_factor geomean runs over the effective walls."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import _ANCHOR_REF, _bracket_anchors

    pre = {"anchor_cpu": 0.50, "anchor_shuffle": 0.31}
    post = {"anchor_cpu": 0.42, "anchor_scan": 0.125}
    walls, drift, env = _bracket_anchors(pre, post)
    assert walls == {
        "anchor_cpu": 0.42,      # min(0.50, 0.42)
        "anchor_shuffle": 0.31,  # pre only
        "anchor_scan": 0.125,    # post only
    }
    assert drift == {"anchor_cpu": 0.84}
    # all effective walls equal REF -> geomean exactly 1.0
    assert all(walls[k] == _ANCHOR_REF[k] for k in walls)
    assert env == 1.0
    # swapped brackets: the min now comes from pre, drift inverts
    assert _bracket_anchors(post, pre) == (walls, {"anchor_cpu": 1.19}, 1.0)

    # a failed bracket degrades to the other bracket alone, no drift
    walls2, drift2, env2 = _bracket_anchors({}, post)
    assert walls2 == post and drift2 == {}
    assert env2 is not None
    # both brackets empty: no factor, never a crash
    assert _bracket_anchors({}, {}) == ({}, {}, None)


def test_trend_row_carries_anchor_drift():
    """r20: a round recording env_anchor_drift gets it on its trend
    row (the per-round trustworthiness bound); earlier rounds don't
    grow a spurious key."""
    r1 = _parsed({"a": 1.0}, env=1.0)
    r2 = _parsed({"a": 1.1}, env=1.0)
    r2["env_anchor_drift"] = {"anchor_cpu": 1.05, "anchor_shuffle": 0.97}
    lines = trend_lines([(1, r1), (2, r2)])
    assert "env_anchor_drift" not in lines[0]
    assert lines[1]["env_anchor_drift"] == {
        "anchor_cpu": 1.05,
        "anchor_shuffle": 0.97,
    }
