#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the engine's headline
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes to completion through the noop sink (the full plan
runs, nothing is collected to the driver). One unmeasured pass over
every headline query warms the JVM, codegen and the parquet read path;
three timed passes follow and each query reports its minimum. A query
that throws records an `errors` entry and a None timing; the line still
prints.

Host drift is measured by three fixed anchor workloads (a codegen CPU
loop, a fixed-key shuffle, a parquet scan-aggregate) whose plans never
change with engine code. They run min-of-5 in two brackets, before and
after the timed passes. The effective anchor wall is the per-anchor
minimum of the brackets, `env_anchor_drift` records post/pre, and
`env_factor` is the geometric mean of the effective walls over their
reference values; `value_env_corrected` divides the total by it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nytimes_batch_processor_spark.catalog import all_specs
from nytimes_batch_processor_spark.flagship import flagship
from nytimes_batch_processor_spark.session import get_spark


def curation_pipeline(spark, sf_dir: str):
    """Bench-only wrapper for the COMPOSED curation chain (VERDICT r11
    item 4's 'natural bench flagship successor'): quality -> PII
    redact -> near-dup ADMISSION (index probe + within-batch
    self-probe + index growth, r14) -> shard/pack manifest over the
    doc_id%10==0 batch. The base corpus index is session-cached (built
    once in warmup via minhash_index_for); because the pipeline now
    GROWS its index, every pass admits against a fresh driver-side
    clone — so the timed wall covers clone + admission writes +
    manifest, the true steady-state cost of one arriving batch (it
    rose vs the r13 probe-only semantics by design; see SURVEY §19
    r14). Not a catalog entry: correctness is carried by
    `curate_admission_twin` and the BENCH_sf1 pipe_* family; this
    headline slot tracks the end-to-end wall per round."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.operators.dedup import (
        _PROBE_BATCH_MOD,
        minhash_index_for,
    )
    from nytimes_batch_processor_spark.operators.text import (
        curate_admission_pipeline,
    )
    from nytimes_batch_processor_spark.sources import load_tables
    from nytimes_batch_processor_spark.tables import clone_parquet_dir

    index_path = clone_parquet_dir(minhash_index_for(spark, sf_dir))
    batch = load_tables(spark, sf_dir, "documents").documents.filter(
        F.col("doc_id") % _PROBE_BATCH_MOD == 0
    )
    return curate_admission_pipeline(spark, index_path, batch)

HEADLINE = [
    "agg_pricing_summary",
    "filter_project_revenue",
    "join_broadcast_star",
    "join_theta_range",
    "agg_distinct_counts",
    "window_rank_topk_per_group",
    "window_range_rolling_7d",
    "sessionize_gap_surface",  # r9: merged islands + native session_window
    "q3_shipping_priority",
    "dedup_exact_union",
    "dedup_minhash_lsh",
    "sim_cosine_topk_bruteforce",
    "sim_ann_lsh_topk",
    "sim_ann_ivf_topk",  # probe-only: ivf_build_index runs once in warmup
    # (r11: the entry became self-judging — its wall now includes the
    # in-query brute-force recall judge, so compare to r10 and earlier
    # per-query numbers with that shape change in mind)
    "text_quality_score",
    "fn_json_surface",
    # r5 additions (r3/r4 comparisons stay per-query; total covers +3)
    "sim_ann_ivf_fixed_topk",
    "pack_sequences_offsets",
    # r6 additions. The stateful twin is a PYTHON-path operator by
    # design (it replays the streaming state machine's fold per group);
    # its ~3.2s at sf0.1 is ~all grouped-map per-group dispatch — see
    # its docstring's measured cost model before reading it as a
    # regression.
    "sim_ann_ivf_q8_serve",
    # r12: the two replay twins consolidated into one tagged surface
    # (stateful_running_totals_twin + sessionize_timers_twin, -2/+1 for
    # sweep-window capacity) — its wall is the SUM of the two branches
    # earlier rounds timed separately (~1.1s + ~1.3s at sf0.1).
    "stateful_twin_surface",
    # r7 addition: iterative graph workload (6 power-iteration steps,
    # localCheckpoint-truncated lineage — wall time is 6 join+agg rounds
    # over the ~600k-edge trade graph at sf0.1).
    "graph_pagerank_fixed",
    # r8 additions: the prefix-filtered containment join is a NEW
    # headline capability (df-ranked probe prefix + exact verify); the
    # timers twin is a grouped-map replay like the stateful twin above —
    # same per-group Python-dispatch cost model, see its docstring.
    "dedup_containment_prefix",
    # r8: integer-Lloyd IVF training — two map-only assign passes + two
    # k*dim-row centroid updates with a driver-side divide, so its wall
    # is mostly fixed job overhead at sf0.1 (2k vectors).
    "ivf_kmeans_int_train",
    # r11: incremental near-dup probe — batch signatures (map-only) +
    # band equi-join against the persisted corpus index. The index
    # itself builds once per session in warmup (minhash_index_for), so
    # the timed passes measure the probe, the production steady state.
    "dedup_incremental_probe",
    # r11 (late): the ANN half of the incremental story — batch cell
    # ranking (map-only) + bounded-broadcast cell equi-join against the
    # persisted cell-partitioned IVF parquet index (built once per
    # session in warmup via ivf_parquet_index_for). Wall includes the
    # in-query exact-cosine admission verdicts and the per-query
    # rank/count window over the bounded candidate set.
    "sim_incremental_probe",
    # r12: the streaming-admission batch twin — fresh index build over
    # the 20% corpus slice + two sequential admission steps (probe,
    # within-batch canonicalize, sink upsert, index append) per run;
    # unlike the probe entries above, the index build is INSIDE the
    # timed body (each admission run is a new index lifecycle), so its
    # wall is build + 2 probes + 2 appends.
    "stream_admission_twin",
    # r15: span-level exact-substring dedup — K-token window hashing
    # (map-only md5 over each 25-token window), ONE exchange on the
    # window hash for the frequency valve + self-join, diagonal-island
    # merge to maximal spans. Wall is dominated by the window md5 pass
    # (~K x corpus text bytes hashed), the deliberate portable-hash
    # trade documented in exact_substring_windows.
    "dedup_exact_substring_spans",
    # r15 (late): the incremental half — fixed batch windows broadcast
    # into a DPP-pruned bucket join against the persisted window index
    # (built once per session in warmup via window_index_for), spans
    # merged from the collision set. The timed passes measure the
    # PROBE, the production steady state.
    "dedup_incremental_spans",
    # r16: semantic (embedding-cosine) dedup — map-only 2-nearest-cell
    # assignment (one F.expr centroid literal), ONE exchange for the
    # within-shared-cell exact-cosine self-join (~500k candidate pairs
    # x 64-dim dot at sf0.1 under k=16), min-id verdict groupBy.
    "dedup_semantic_embedding",
    # r16 (late): the ANN admission twin — like stream_admission_twin,
    # each run is TWO full admission lifecycles (clone the session-
    # cached corpus index, then per batch: pinned assignment, DPP cell
    # probe, within-batch self-probe, ledger checkpoint, sink-less
    # admit, index append at precomputed cells) — ~a dozen small jobs,
    # so its ~7s at sf0.1 is fixed lifecycle overhead + genuine
    # admission cost, not a scan problem.
    "stream_ann_admission_twin",
    # r17: BPE-tokenized packing — the mapInPandas greedy-merge encode
    # (the engine's second Python hot path, Arrow-batched like the
    # multimodal workers) feeding the existing two-level-scan packer;
    # ~2s at sf0.1, encode-dominated.
    "pack_sequences_bpe",
    # r17: span-level train/test decontamination on the shared
    # ExactSubstr chain — window md5 pass + train/test window-hash
    # equi-join + maximal-span merge; ~2s at sf0.1.
    "decon_leak_spans",
    # quality_classifier_surface deliberately NOT here: its ~8s wall is
    # MLlib L-BFGS fixed overhead (flat at x10 — qc_train_wall_sec in
    # BENCH_sf1.json carries its cost model), which would spend ~33s of
    # the driver's 550s budget re-measuring job-scheduling noise.
]


# Reference walls of the anchor workloads, measured inside a full bench
# process (post-warmup JIT state; a bare session reads ~15% slower) on
# the reference host at sf0.1. The scan anchor's reference only holds
# against the sf0.1 fixture. Replication noise of the anchors themselves
# (3 sessions x min-of-5): cpu +-6%, shuffle +-3%, scan +-20%.
_ANCHOR_REF = {
    "anchor_cpu": 0.42,
    "anchor_shuffle": 0.31,
    "anchor_scan": 0.125,
}


def _env_anchor(spark, sf_dir: str, sf: float) -> dict[str, float]:
    """One anchor bracket: each fixed workload warmed once then timed
    min-of-5. At any sf other than 0.1 the scan anchor is skipped and
    the factor comes from the data-independent anchors alone. An anchor
    that throws is simply absent from the returned walls — an anchor
    failure must never cost the run its query numbers."""
    anchors = {
        "anchor_cpu": lambda: spark.range(4_000_000_000)
        .selectExpr("sum(id % 7) AS s")
        .collect(),
        "anchor_shuffle": lambda: spark.range(100_000_000)
        .selectExpr("id % 4096 AS k")
        .groupBy("k")
        .count()
        .selectExpr("sum(count) AS s")
        .collect(),
    }
    if sf == 0.1:
        anchors["anchor_scan"] = (
            lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .selectExpr(
                "sum(l_quantity) AS s", "sum(l_extendedprice) AS p", "count(*) AS n"
            )
            .collect()
        )
    walls: dict[str, float] = {}
    for name, fn in anchors.items():
        try:
            fn()  # unmeasured warmup, same policy as queries
            ts = []
            for _ in range(5):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            walls[name] = round(min(ts), 3)
        except Exception:  # noqa: BLE001 — anchors must never kill the bench
            continue
    return walls


def _bracket_anchors(
    pre: dict[str, float], post: dict[str, float]
) -> tuple[dict[str, float], dict[str, float], float | None]:
    """(effective walls, per-anchor drift, composite env_factor) from
    the two brackets. Effective wall = the per-anchor MIN of the
    brackets (comparable to the post-warmup reference values). Drift =
    post/pre, the bound on how much the host moved under the suite. An
    anchor present in only one bracket contributes its single wall and
    reports no drift."""
    walls = {
        k: min(v for v in (pre.get(k), post.get(k)) if v is not None)
        for k in {*pre, *post}
    }
    drift = {
        k: round(post[k] / pre[k], 3) for k in pre if k in post and pre[k] > 0
    }
    ratios = [walls[k] / _ANCHOR_REF[k] for k in walls]
    if not ratios:
        return walls, drift, None
    geomean = 1.0
    for r in ratios:
        geomean *= r
    return walls, drift, round(geomean ** (1 / len(ratios)), 3)


def final_record(
    timings: dict[str, float | None],
    errors: dict[str, str],
    sf: float,
    anchor_pre: dict[str, float],
    anchor_post: dict[str, float],
) -> dict:
    """The final JSON line: raw walls and total, the bracketed anchors
    and the env_factor-corrected total. Without any anchor wall there
    is no factor and the corrected total is the raw one.
    `value_env_corrected_by_class` repeats `value_env_corrected`; the
    key stays because the line's key set is part of the contract."""
    anchor_walls, anchor_drift, env_factor = _bracket_anchors(
        anchor_pre, anchor_post
    )
    total = round(sum(v for v in timings.values() if v is not None), 3)
    corrected = round(total / env_factor, 3) if env_factor else total
    out = {
        "metric": "headline_queries_wall_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "env_anchor": anchor_walls,
        "env_anchor_drift": anchor_drift,
        "env_factor": env_factor,
        "value_env_corrected": corrected,
        "value_env_corrected_by_class": corrected,
    }
    if errors:
        out["errors"] = errors
        out["failed_count"] = len(errors)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("engine-bench", cpus=cpus)

    specs = all_specs()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    errors: dict[str, str] = {}

    def run(name: str) -> float | None:
        # One broken query must not kill the whole bench: record the
        # error once, report None for the timing, keep going.
        if name in errors:
            return None
        # KeyError on a stale HEADLINE entry = fail loudly, never mislabel
        if name == "flagship":
            fn = flagship
        elif name == "curation_pipeline":
            fn = curation_pipeline
        else:
            fn = specs[name].fn
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return None
        return round(time.perf_counter() - t0, 3)

    all_names = [*HEADLINE, "curation_pipeline", "flagship"]
    for name in all_names:  # warmup pass: JIT/codegen/read-path, unmeasured
        run(name)
    # The pre bracket runs after the query warmup (the reference-
    # comparable JIT state) and before the timed passes, so the suite
    # is bracketed and a single mismeasured anchor shows up as drift.
    try:
        anchor_pre = _env_anchor(spark, sf_dir, sf)
    except Exception:  # noqa: BLE001 — anchors must never kill the bench
        anchor_pre = {}
    # Three timed passes for every query: min-of-2 left a ~20% band on
    # multi-second queries (graph_pagerank_fixed 3.9 <-> 4.8s).
    passes = [
        {name: run(name) for name in all_names},
        {name: run(name) for name in all_names},
        {name: run(name) for name in all_names},
    ]
    # A name in `errors` reports None even if one pass succeeded: a
    # timing and an error for the same query would contradict each other
    # in the artifact. Errors alone carry the failure.
    timings: dict[str, float | None] = {
        name: (
            min(ts)
            if name not in errors
            and (ts := [p[name] for p in passes if name in p and p[name] is not None])
            else None
        )
        for name in all_names
    }

    try:
        anchor_post = _env_anchor(spark, sf_dir, sf)
    except Exception:  # noqa: BLE001 — belt over _env_anchor's own braces
        anchor_post = {}
    print(json.dumps(final_record(timings, errors, sf, anchor_pre, anchor_post)))
    spark.stop()


if __name__ == "__main__":
    main()
