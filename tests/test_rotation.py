"""Machine-enforced rotation policy for the driver's 50-slot sweep.

The correctness driver hash-checks only the FIRST 50 catalog entries per
round (observed r2-r5), and the driver's DuckDB is the only oracle that
has caught engine-version divergence (r3 fn_math_surface, r4
fn_higher_order_surface — both locally green, driver red). So driver
recency is a hard signal that must not silently age: VERDICT r5 item 2
asks for this gate so the rotation policy (since r10: the window is
DERIVED from the CORRECTNESS history by `rotation.plan_window`, with
round-keyed overrides in catalog.py) stops being verdict-enforced prose.

Policy: after the NEXT sweep runs, no oracle-backed entry's most recent
hash-green round may be more than 2 rounds old. Equivalently, today:
every oracle-backed entry is either inside the upcoming 50-slot window
(the next sweep refreshes it) or already hash-green in one of the last
2 recorded rounds. Rows-only entries (no oracle — e.g. the k-means
IVF) can never have a hash row and are exempt.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # driver sweep size, observed constant r2-r5
MAX_AGE = 2  # rounds an entry may go without a fresh driver hash row


def _correctness_history() -> tuple[int, dict[str, int]]:
    """(latest recorded round, name -> last round with hash_match)."""
    latest = 0
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_green[name] = max(last_green.get(name, 0), rnd)
    return latest, last_green


def test_no_oracle_entry_ages_past_two_rounds():
    from nytimes_batch_processor_spark.catalog import all_specs

    latest, last_green = _correctness_history()
    assert latest >= 2, "correctness history missing — run from the repo root"

    specs = all_specs()
    names = list(specs)
    window = set(names[:WINDOW])

    stale = []
    for name, spec in specs.items():
        if spec.oracle is None:
            continue  # rows-only by necessity: a hash row can never exist
        lg = last_green.get(name, 0)
        # Entries in the upcoming window are refreshed by the next sweep
        # (round latest+1); everything else keeps its recorded recency.
        projected = latest + 1 if name in window else lg
        if projected < latest + 1 - MAX_AGE:
            stale.append(f"{name} (last hash-green r{lg}, not in window)")
    assert not stale, (
        "rotation policy violated — these oracle-backed entries would be "
        f">{MAX_AGE} rounds without a driver hash row after the next "
        "sweep. The window is derived by rotation.plan_window; repair via "
        "the round-keyed catalog._CHANGED_BY_ROUND / "
        "_ROWS_ONLY_FORCE_BY_ROUND overrides (preview with "
        f"tools/rotation_plan.py): {stale}"
    )


def test_rotation_capacity_sustainable():
    """VERDICT r7 item 2: the recency policy (every oracle-backed entry
    swept >= once per MAX_AGE+1 rounds, 50 slots/round) caps the catalog
    at WINDOW * (MAX_AGE + 1) = 150 oracle-backed entries — and near the
    cap, cohort imbalance can make the gate unsatisfiable even below it.
    The adopted growth policy is (a) plateau + consolidate: r8 retired 5
    redundant variants into 2 consolidated entries (rollup/cube/
    grouping-sets -> agg_grouping_multi; json extract/struct ->
    fn_json_surface) and budgets at most GROWTH_BUDGET net-new
    oracle-backed entries per round from here on.

    This test proves the policy stays satisfiable by simulating the
    sweep HORIZON rounds forward with earliest-deadline-first
    scheduling (EDF is exact for this feasibility problem): each round
    must fit every entry whose hash-green age would otherwise exceed
    MAX_AGE, plus GROWTH_BUDGET new entries (new entries enter the
    window immediately — the r4 lesson). If this fails, consolidate
    more variants or stop adding oracle-backed entries BEFORE the
    driver gate becomes unsatisfiable, not after."""
    from nytimes_batch_processor_spark.catalog import all_specs

    GROWTH_BUDGET = 5  # max net-new oracle-backed entries per round
    HORIZON = 6

    latest, last_green = _correctness_history()
    specs = all_specs()
    names = list(specs)
    window = set(names[:WINDOW])

    # state: deadline round (last possible window appearance) per entry
    deadlines: list[int] = []
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        lg = latest + 1 if name in window else last_green.get(name, 0)
        deadlines.append(lg + MAX_AGE + 1)

    CAP = WINDOW * (MAX_AGE + 1)
    total = len(deadlines)
    assert total <= CAP, (
        f"{total} oracle-backed entries exceed the {CAP}-entry hard cap "
        "— consolidate variants NOW; the driver cannot sweep them all"
    )

    # Growth is a budget, not a commitment: the plateau policy grows
    # until the cap binds, then stops — so each simulated round's new
    # entries are capped by remaining headroom, and the gate fails only
    # when the treadmill itself (aging cohorts vs window slots) becomes
    # oversubscribed.
    for rnd in range(latest + 2, latest + 2 + HORIZON):
        growth = min(GROWTH_BUDGET, CAP - len(deadlines))
        deadlines.sort()
        due = sum(1 for d in deadlines if d <= rnd)
        free = WINDOW - growth
        assert due <= free, (
            f"round r{rnd}: {due} entries hit MAX_AGE but only {free} "
            f"slots remain beside the {growth}-entry growth budget — "
            "the rotation treadmill is oversubscribed; consolidate "
            "oracle-backed variants now"
        )
        # EDF: sweep the due entries, then the nearest future deadlines
        swept = deadlines[:free]
        kept = deadlines[free:]
        deadlines = [rnd + MAX_AGE + 1] * len(swept) + kept
        # growth: new entries enter this round's window
        deadlines += [rnd + MAX_AGE + 1] * growth


def test_window_has_no_duplicates_and_is_full():
    from nytimes_batch_processor_spark.catalog import all_specs, priority_window

    window = priority_window()
    assert len(window) == len(set(window)), "duplicate names in derived window"
    names = list(all_specs())
    assert len(names) >= WINDOW, "catalog shrank below the sweep size"
    # The derived window is exactly the sweep: anything beyond slot 50
    # would silently NOT be swept, which defeats its purpose.
    assert len(window) == WINDOW, (
        f"derived window has {len(window)} names; the driver sweeps only "
        f"the first {WINDOW} — plan_window must fill exactly the window"
    )
    assert names[:WINDOW] == list(window), (
        "all_specs() must emit the derived window first, in order"
    )


def test_stale_overrides_cannot_accumulate():
    """Round-keyed overrides expire when their round's sweep is
    recorded; an override keyed STRICTLY BEFORE the latest recorded
    round is dead code that misleads the next reader — fail loudly.

    An override keyed to the just-recorded round (== latest) is NOT
    stale: it was live for exactly that round's sweep, and the sweep
    recording is what retires it. Flagging it red would guarantee a
    failure at every round boundary — the exact disease the derived
    window cured (VERDICT r10 item 1)."""
    from nytimes_batch_processor_spark.catalog import (
        _CHANGED_BY_ROUND,
        _ROWS_ONLY_FORCE_BY_ROUND,
    )

    latest, _ = _correctness_history()
    stale = [
        rnd
        for rnd in list(_CHANGED_BY_ROUND) + list(_ROWS_ONLY_FORCE_BY_ROUND)
        if rnd < latest
    ]
    assert not stale, (
        f"window overrides keyed to rounds {sorted(set(stale))} predate the "
        f"latest recorded sweep r{latest} — they expired when r{latest} was "
        "recorded; delete the expired _CHANGED_BY_ROUND / "
        "_ROWS_ONLY_FORCE_BY_ROUND entries in catalog.py"
    )
