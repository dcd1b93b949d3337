"""100 TB posture tests: assert the *physical plans* are the ones a
large cluster needs — pushdown reached the scan, dimensions broadcast,
top-k never global-sorts — not merely that answers match."""

from __future__ import annotations

from nytimes_batch_processor_spark.plans import (
    executed_plan,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
    read_schema,
)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    from nytimes_batch_processor_spark.operators.relational import filter_project_revenue

    df = filter_project_revenue(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_quantity" in pf or "l_discount" in pf, f"no pushed filters:\n{pf}"


def test_column_pruning_reaches_parquet(spark, sf_dir):
    from nytimes_batch_processor_spark.operators.relational import filter_project_revenue

    rs = read_schema(filter_project_revenue(spark, sf_dir))
    assert "l_partkey" not in rs and "l_returnflag" not in rs, (
        f"scan reads columns the query never uses:\n{rs}"
    )


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    from nytimes_batch_processor_spark.operators.relational import join_broadcast_star

    assert has_broadcast_join(join_broadcast_star(spark, sf_dir))


def test_global_topk_avoids_total_sort(spark, sf_dir):
    """Every exact global top-k must plan as TakeOrderedAndProject
    (parallel per-partition partial top-k) — a global row_number window
    is a single-task sort whose input cardinality (distinct users /
    bigram vocabulary) grows with the corpus (VERDICT r10 item 3)."""
    from nytimes_batch_processor_spark.catalog import all_specs
    from nytimes_batch_processor_spark.operators.relational import sort_global_topk

    plan = physical_plan(sort_global_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan

    specs = all_specs()
    for name in ("approx_heavy_hitters_merge", "text_bigram_lift"):
        plan = physical_plan(specs[name].fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"


def test_semi_join_plans_as_semi(spark, sf_dir):
    from nytimes_batch_processor_spark.operators.relational import join_left_semi

    plan = physical_plan(join_left_semi(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    """Map-side (partial) aggregation must appear: the shuffle carries
    one row per group per partition, not raw data."""
    from nytimes_batch_processor_spark.operators.relational import agg_pricing_summary

    plan = physical_plan(agg_pricing_summary(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


def test_scalar_udf_is_arrow_vectorized(spark, sf_dir):
    """The Pandas UDF surface must plan as ArrowEvalPython (vectorized
    batch transfer), never BatchEvalPython (pickled row-at-a-time) —
    the 10-100x difference at 100 TB."""
    from nytimes_batch_processor_spark.functions.udfs import udf_pandas_scalar

    plan = physical_plan(udf_pandas_scalar(spark, sf_dir))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_scalar_udf_filter_still_pushes_down(spark, sf_dir):
    """A projection-only UDF must not block predicate pushdown."""
    from nytimes_batch_processor_spark.functions.udfs import udf_pandas_scalar

    assert "p_size" in pushed_filters(udf_pandas_scalar(spark, sf_dir))


def test_whole_stage_codegen_present(spark, sf_dir):
    """Both aggregate stages (partial + final) must run inside
    whole-stage codegen — visible only in the AQE final plan."""
    from nytimes_batch_processor_spark.operators.relational import agg_pricing_summary
    from nytimes_batch_processor_spark.plans import codegen_stage_count

    assert codegen_stage_count(agg_pricing_summary(spark, sf_dir)) >= 2


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-located bucketed join: both sides bucketed on the key with the
    same bucket count -> SortMergeJoin with NO shuffle on either input.
    At 100 TB this is the difference between a layout-amortized join and
    re-shuffling both fact tables on every query."""
    from nytimes_batch_processor_spark.sources import load_tables
    from nytimes_batch_processor_spark.tables import write_bucketed

    t = load_tables(spark, sf_dir, "orders", "customer")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # At fixture scale Catalyst would just broadcast the small side (and
    # skip the bucketed scan); force the fact-fact regime the layout is
    # FOR by disabling auto-broadcast within the test.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(t.orders, "orders_bkt", "o_custkey", 8)
        write_bucketed(
            t.customer.withColumnRenamed("c_custkey", "o_custkey"),
            "customer_bkt",
            "o_custkey",
            8,
        )
        joined = spark.table("orders_bkt").join(
            spark.table("customer_bkt"), "o_custkey"
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and the layout survives for aggregation too: groupBy on the
        # bucket key needs no exchange either
        agg = spark.table("orders_bkt").groupBy("o_custkey").count()
        agg.collect()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan, f"bucketed agg still shuffles:\n{agg_plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path, sf_dir):
    """Dynamic partition pruning: a date-partitioned fact joined to a
    dimension with a selective filter must prune fact partitions at
    RUNTIME from the dim's join keys — at 100 TB this is the difference
    between scanning 3 date partitions and scanning all of them."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.sources import load_tables

    t = load_tables(spark, sf_dir, "orders")
    fact_path = str(tmp_path / "orders_by_month")
    fact = t.orders.withColumn(
        "order_month", F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
    )
    fact.write.partitionBy("order_month").parquet(fact_path)

    dim = (
        fact.select("order_month").distinct()
        .filter(F.year("order_month") == 1997)
    )
    joined = spark.read.parquet(fact_path).join(dim, "order_month")
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), f"no DPP subquery in scan:\n{plan}"
    # and the pruned scan returns exactly the 1997 partitions' rows
    n_1997 = fact.filter(F.year("order_month") == 1997).count()
    assert joined.count() == n_1997


def test_range_partitioned_layout_skips_files(spark, tmp_path, sf_dir):
    """Range-partitioned + sorted layout: a narrow range predicate must
    touch only the files whose key range intersects it, while the same
    predicate over a randomly-distributed layout touches all files —
    the data-skipping payoff measured directly via input_file_name()."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import write_range_partitioned

    df = spark.range(200_000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 97).alias("v")
    )
    ranged = str(tmp_path / "orders_ranged")
    scattered = str(tmp_path / "orders_scattered")
    write_range_partitioned(df, ranged, "o_orderkey", 16)
    df.repartition(16).write.parquet(scattered)

    # 2.5% of the keyspace: intersects at most 2 of 16 contiguous ranges
    pred = (F.col("o_orderkey") >= 100_000) & (F.col("o_orderkey") < 105_000)

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    n_ranged, n_scattered = files_touched(ranged), files_touched(scattered)
    assert n_scattered >= 8, f"scattered layout unexpectedly localized: {n_scattered}"
    assert n_ranged <= 3, f"range layout did not localize the scan: {n_ranged} files"


def test_unpartitioned_windows_only_post_aggregation(spark, sf_dir):
    """Pin the contract that every single-partition window in the
    catalog runs over AGGREGATED rows (|days|, |nations|), never raw
    data: a refactor that slides one onto a fact table would funnel the
    whole input through one task at cluster scale. Also prove the
    checker itself catches a violation."""
    from pyspark.sql import Window as W, functions as F

    from nytimes_batch_processor_spark.flagship import flagship
    from nytimes_batch_processor_spark.operators.relational import window_pct_of_total
    from nytimes_batch_processor_spark.operators.text import pack_sequences_offsets
    from nytimes_batch_processor_spark.operators.windows import (
        window_range_rolling_7d,
    )
    from nytimes_batch_processor_spark.plans import unpartitioned_window_violations

    # pack_sequences_offsets is the load-bearing case: its global prefix
    # sum is exactly the op that WOULD be an unpartitioned window over
    # raw docs if not decomposed into the two-level scan.
    for fn in (flagship, window_range_rolling_7d,
               window_pct_of_total, pack_sequences_offsets):
        bad = unpartitioned_window_violations(fn(spark, sf_dir))
        assert not bad, f"{fn.__name__}: unpartitioned window over raw data: {bad}"

    # negative control: an unpartitioned window directly over a scan
    raw = spark.range(100).withColumn(
        "rt", F.sum("id").over(W.orderBy("id").rowsBetween(W.unboundedPreceding, 0))
    )
    assert unpartitioned_window_violations(raw), (
        "checker failed to flag an unpartitioned window over raw data"
    )


def test_catalog_bucketed_entry_join_is_colocated(spark, sf_dir):
    """The driver-visible entry (join_bucketed_colocated) writes real
    bucketed tables; under the fact-fact regime (auto-broadcast off, as
    at 100 TB where neither side broadcasts) the join over those tables
    must run with NO Exchange on either side."""
    from nytimes_batch_processor_spark.tables import join_bucketed_colocated

    # materialize the entry's bucketed tables (and check it runs)
    assert join_bucketed_colocated(spark, sf_dir).count() > 0
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("engine_orders_bucketed")
        c = spark.table("engine_customer_bucketed")
        joined = o.join(c, o.o_custkey == c.c_custkey)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"entry's bucketed join shuffles:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_catalog_pruned_scan_entry_prunes_partitions(spark, sf_dir):
    """scan_partition_pruned's month predicate must reach the scan as a
    PartitionFilter (directory-level pruning), not a row-level filter
    over a full-table read."""
    from nytimes_batch_processor_spark.tables import scan_partition_pruned

    df = scan_partition_pruned(spark, sf_dir)
    assert df.count() > 0
    plan = physical_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*o_month[^\]]*1997-03[^\]]*\]", plan)
    assert m, f"month predicate did not become a partition filter:\n{plan}"


def test_q8_serve_is_equijoin_with_exact_int_scoring(spark, sf_dir):
    """The quantized serving path must keep the fixed-IVF plan shape:
    candidates from a hash EQUI-join on the cell key (a nested-loop
    join would mean the quantized 'index' still scans the corpus per
    query), and no Python anywhere — the int8 scoring is a JVM
    higher-order aggregate."""
    from nytimes_batch_processor_spark.operators.similarity import sim_ann_ivf_q8_serve

    plan = physical_plan(sim_ann_ivf_q8_serve(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_stateful_twin_single_shuffle_on_user(spark, sf_dir):
    """The twin's only shuffle is the groupBy(user_id) feeding the
    Arrow grouped-map — the same key partitioning the streaming state
    store uses. A second exchange would mean the replay re-shuffles
    its own output. (Pinned on the branch function — the consolidated
    stateful_twin_surface entry unions two branches, so its plan
    legitimately carries one exchange per branch.)"""
    from nytimes_batch_processor_spark.operators.sessionize import (
        stateful_running_totals_twin,
    )

    plan = physical_plan(stateful_running_totals_twin(spark, sf_dir))
    # count tree nodes ("Exchange (n)"), not the repeated detail headers
    assert plan.count("Exchange (") == 1, plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsInPandas" in plan, plan


def test_zorder_scan_pushes_box_filters(spark, sf_dir):
    """The Z-ordered table's box predicate must reach the parquet scan
    (DataFilters/PushedFilters on BOTH clustered columns) with the
    ReadSchema pruned to the referenced columns — pruning + pushdown is
    what converts the clustered layout into skipped row groups."""
    from nytimes_batch_processor_spark.catalog import all_specs

    # default maxMetadataStringLength=100 truncates DataFilters when
    # attribute ids grow long in a shared session — widen for the check
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        df = all_specs()["table_zorder_roundtrip"].fn(spark, sf_dir)
        plan = executed_plan(df)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scan = [l for l in plan.splitlines() if "FileScan" in l and "zorder" in l]
    assert scan, "no scan of the z-ordered table in the plan"
    line = scan[0]
    for frag in ("l_partkey", "l_suppkey", ">=", "<="):
        assert frag in line, f"missing {frag!r} in pushed scan: {line[:300]}"
    assert "l_extendedprice" not in line, "ReadSchema not pruned"


def test_unpartitioned_window_census_is_pinned(spark, sf_dir):
    """VERDICT r7 stretch 7: the bench tail's `WindowExec: No Partition
    Defined` warnings are only safe while every such window sits over
    AGGREGATED rows — and warning NOISE is exactly where a new raw-data
    one would hide. So pin the census: the exact set of catalog entries
    carrying unpartitioned windows (all post-aggregation, asserted per
    entry) must match this list. A new entry adding one must update the
    pin consciously; a raw-data one fails the violations assert no
    matter what the pin says."""
    from nytimes_batch_processor_spark.catalog import all_specs
    from nytimes_batch_processor_spark.plans import (
        _iter_logical_nodes,
        unpartitioned_window_violations,
        window_is_limit_bounded,
    )

    EXPECTED = {
        "agg_histogram_fixed_bins": 1,   # bin spine over an O(bins) agg
        "stateful_twin_surface": 1,      # timers branch: watermark spine over O(days)
        "window_agg_surface": 1,         # grand-total denominator over 25-row agg (pct branch)
        "window_range_rolling_7d": 1,    # daily spine over O(days)
        "pack_sequences_offsets": 1,     # two-level prefix scan, top level O(partitions)
        # pack_sequences_bpe: 0 — its packer windows sit BEHIND the
        # entry's localCheckpoint (r17), invisible to this plan walk;
        # the shared packer subplan stays census-pinned via
        # pack_sequences_offsets above
        "quality_classifier_surface": 1,  # AUC bucket spine over an O(64) agg
        "stream_window_surface": 1,      # window spine over O(windows)
        "stream_dedup_watermark_twin": 1,  # watermark spine over O(days)
        "stream_stream_join_twin": 1,    # watermark spine over O(days)
    }
    counts: dict[str, int] = {}
    for name, spec in all_specs().items():
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        # Limit-bounded windows (rank-the-survivors above a GlobalLimit,
        # the orderBy().limit(k) top-k pattern) are k-row-bounded by
        # construction and exempt — the census exists to catch windows
        # whose input grows with the corpus.
        n = sum(
            1
            for nd in _iter_logical_nodes(plan)
            if nd.nodeName() == "Window"
            and nd.partitionSpec().size() == 0
            and not window_is_limit_bounded(nd)
        )
        if n:
            counts[name] = n
            bad = unpartitioned_window_violations(df)
            assert not bad, f"{name}: unpartitioned window over raw data: {bad}"
    assert counts == EXPECTED, (
        "unpartitioned-window census drifted — if the new window is "
        "post-aggregation and intended, update EXPECTED with a comment "
        f"naming its O(small) row bound: {counts}"
    )


def test_containment_prefix_plan_is_bucketed_equijoins(spark, sf_dir):
    """The prefix-filter containment plan must stay all-equi-join: the
    probe-index candidate join keys on the shingle, the verify joins key
    on doc ids, and nothing degenerates to a cartesian/nested-loop (the
    all-pairs shape the operator exists to avoid). No broadcast HINTS in
    the operator — the optimizer broadcasts while sides fit and falls
    back to shuffle joins at corpus scale."""
    from nytimes_batch_processor_spark.operators.dedup import (
        dedup_containment_prefix,
    )

    plan = physical_plan(dedup_containment_prefix(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_timers_twin_plan_single_key_shuffle(spark, sf_dir):
    """sessionize_timers_twin's only non-spine join work: one broadcast
    of the O(#days) watermark table onto events, one 1-row scalar cross
    join (wm_final), then the user_id shuffle into the grouped map —
    the state store's own partitioning. A second nested-loop join or a
    cartesian against anything wider than the 1-row scalar frame is a
    regression."""
    from nytimes_batch_processor_spark.operators.sessionize import (
        sessionize_timers_twin,
    )

    import re

    plan = physical_plan(sessionize_timers_twin(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # exactly one nested-loop join NODE (formatted plans repeat the node
    # name in the detail section — count node ids, not substrings): the
    # deliberate 1-row wm_final attach
    bnlj = re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan)
    assert len(set(bnlj)) == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_r9_consolidated_entries_plan_shapes(spark, sf_dir):
    """The r9 consolidations must not have paid for their single-hash
    coverage with worse plans: the merged scalar surface stays a pure
    projection (zero Exchanges — it must pipeline straight out of the
    scan), and the merged analytic-window surface keeps ALL eight
    functions inside ONE WindowExec over ONE shuffle (Spark coalesces
    same-partition/order frames; a second Window node would mean a
    frame-spec drift split the window and doubled the sort)."""
    from nytimes_batch_processor_spark.catalog import all_specs

    specs = all_specs()
    scalar_plan = physical_plan(specs["fn_string_cond_surface"].fn(spark, sf_dir))
    assert "Exchange" not in scalar_plan, scalar_plan
    assert "Window" not in scalar_plan, scalar_plan

    window_plan = physical_plan(specs["window_analytic_surface"].fn(spark, sf_dir))
    assert window_plan.count("Window (") == 1, window_plan
    assert window_plan.count("Exchange (") == 1, window_plan

    # the merged outer-join surface must broadcast both filtered order
    # sides (never shuffle customers) and contain no nested-loop join
    # (formatted plans repeat each node as a detail header — count the
    # numbered detail headers, one per tree node)
    import re

    outer_plan = physical_plan(specs["join_outer_null_surface"].fn(spark, sf_dir))
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", outer_plan))
    assert n_bhj == 2, outer_plan
    assert "BroadcastNestedLoopJoin" not in outer_plan, outer_plan
    assert "CartesianProduct" not in outer_plan, outer_plan


def test_r10_consolidated_entries_plan_shapes(spark, sf_dir):
    """The r10 consolidations must not have paid for their single-hash
    coverage with worse plans (same contract as the r9 pin above)."""
    import re

    from nytimes_batch_processor_spark.catalog import all_specs

    specs = all_specs()

    # semi+anti surface: both branches plan as broadcast hash joins of
    # the proper semi/anti type — never a shuffle of the customer side,
    # never a nested loop
    plan = physical_plan(specs["join_semi_anti_surface"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    # as-of surface: each direction is ONE shuffle on user_id feeding
    # ONE WindowExec (the union-window as-of plan); the union itself is
    # free — so exactly two Window nodes and two user_id Exchanges
    plan = physical_plan(specs["join_asof_surface"].fn(spark, sf_dir))
    assert plan.count("Window (") == 2, plan
    assert plan.count("Exchange (") == 2, plan
    # both exchanges hash-partition on the join key (asof_join's
    # internal `_k`), never range/single-partition
    assert plan.count("hashpartitioning(") == 2, plan

    # windowed-agg surface: the running-total branch keeps its
    # partitioned window; the pct branch stays over the broadcast-star
    # aggregate (two broadcasts, no extra shuffle of the fact side
    # beyond the partial/final aggregate pair)
    plan = physical_plan(specs["window_agg_surface"].fn(spark, sf_dir))
    assert plan.count("Window (") == 2, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan

    # grouping surface: still ONE Expand feeding ONE partial+final
    # aggregate pair — the six grouping sets must not re-scan
    plan = physical_plan(specs["agg_grouping_multi"].fn(spark, sf_dir))
    assert plan.count("Expand (") == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_merge_find_affected_scan_prunes_columns(spark, tmp_path):
    """merge_into_partitioned's docstring claims the find-affected scan
    reads only the key (+ partition) columns at 100 TB — pin the
    optimizer behavior on the exact subplan shape: a left-semi join
    against the change keys projected to the partition column must
    prune the parquet ReadSchema to the key alone (the partition value
    comes from directory metadata, not file bytes)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "wide_fact")
    spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("m"),
        F.rand(1).alias("v1"),
        F.rand(2).alias("v2"),
        F.rand(3).alias("v3"),
    ).repartition("m").write.partitionBy("m").parquet(path)
    base = spark.read.parquet(path)
    change_keys = spark.range(10).select((F.col("id") * 7).alias("k"))
    probe = base.join(change_keys, on=["k"], how="left_semi").select("m").distinct()
    rs = read_schema(probe)
    assert "v1" not in rs and "v2" not in rs and "v3" not in rs, rs
    assert "k" in rs, rs


def test_r11_new_entries_plan_shapes(spark, sf_dir):
    """The r11 additions' 100 TB claims, pinned as plans:

    - text_pii_redact is a pure map (ZERO exchanges — detect + redact
      pipeline straight out of the scan);
    - export_train_shards has exactly ONE exchange, hash-partitioned on
      shard, serving BOTH windows (the manifest and the writer share one
      shuffle);
    - quality_constraint_audit's FK n_checked branch prunes to a
      zero-column parquet scan (footer row counts, no data read)."""
    from nytimes_batch_processor_spark.catalog import all_specs

    specs = all_specs()
    pii = physical_plan(specs["text_pii_redact"].fn(spark, sf_dir))
    assert pii.count("Exchange (") == 0, pii

    shards = physical_plan(specs["export_train_shards"].fn(spark, sf_dir))
    assert shards.count("Exchange (") == 1, shards
    assert "hashpartitioning(shard" in shards, shards

    audit = physical_plan(specs["quality_constraint_audit"].fn(spark, sf_dir))
    assert "ReadSchema: struct<>" in audit, audit


def test_reshape_pivot_surface_runs_pivot_once(spark, sf_dir):
    """The consolidated reshape surface may not pay for its tagging:
    exactly THREE exchanges total — Spark plans pivot as a two-phase
    aggregate (groupBy(returnflag, linestatus) pre-agg, then the
    pivotfirst agg on returnflag: 2 exchanges, both on bounded
    keyspaces), plus the unpivot's groupBy(returnflag, measure). The
    wide pivot subplan executes ONCE — re-keyed map-side by ONE
    explode-of-structs, not a union of two selects that would plan the
    pivot aggregate twice — and the unpivot branch stays a map-only
    Expand into its bounded aggregate."""
    from nytimes_batch_processor_spark.catalog import all_specs

    plan = physical_plan(all_specs()["reshape_pivot_surface"].fn(spark, sf_dir))
    assert plan.count("Exchange (") == 3, plan
    assert plan.count("Generate (") == 1, plan  # wide subplan re-keyed once
    assert plan.count("Expand (") == 1, plan


def test_sim_incremental_probe_index_is_dpp_pruned(spark, sf_dir):
    """The incremental ANN probe's 100 TB claims, pinned as a plan: the
    persisted cell-partitioned index scan carries a DYNAMIC PARTITION
    PRUNING filter on cell (only probed cells are read — the corpus is
    never scanned whole), the probes side broadcasts into the cell
    equi-join (the index never shuffles), and the index scan does not
    re-read the raw embedding column (the assignment was paid at build
    time)."""
    from nytimes_batch_processor_spark.catalog import all_specs

    plan = physical_plan(all_specs()["sim_incremental_probe"].fn(spark, sf_dir))
    assert "dynamicpruningexpression(cell" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    idx_scan = [
        seg for seg in plan.split("\n\n") if "engine_ivf_probe_index" in seg
    ]
    assert idx_scan, plan
    assert "struct<vec_id:bigint,e:array<double>,nrm:double>" in idx_scan[0], idx_scan


def test_curation_pipeline_plan_shape(spark, sf_dir):
    """The composed curation chain's 100 TB claims (r12, reshaped by
    the r14 admission semantics), pinned as plans. The pipeline now
    runs in two pieces: the ADMISSION executes at call time (quality +
    redact + signing fold into the signature pass feeding
    `admit_minhash_batch`, whose probe-join shape is pinned by the
    admission pytests and `_admission_ledger`'s oracle), and the
    RETURNED manifest is a stable plan over the two pinned
    (localCheckpoint) sets. Pins here: the admission's verdict ledger
    plan contributes only hash/broadcast equi-joins (never a cartesian
    or nested-loop) and no Python eval; the manifest's TWO window
    functions fold into ONE Window node over exactly ONE hash(shard)
    exchange (the export_train_shards shape), its admitted-ids join is
    an equi-join against the pinned ledger (no corpus rescan — the
    only scans are the two checkpointed RDDs), and no Python eval node
    exists anywhere."""
    import re

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

    # the pipeline GROWS its index since r14 — never hand it the
    # session-cached shared one
    index_path = clone_parquet_dir(minhash_index_for(spark, sf_dir))
    batch = load_tables(spark, sf_dir, "documents").documents.filter(
        F.col("doc_id") % _PROBE_BATCH_MOD == 0
    )
    manifest = curate_admission_pipeline(spark, index_path, batch)
    # the verdict plan admit_minhash_batch executes at call time, built
    # lazily here over the same inputs (the returned ledger itself is
    # pinned, so its plan is just the checkpoint scan)
    from nytimes_batch_processor_spark.operators.dedup import (
        _admission_ledger,
        _band_hash_cols,
        minhash_signatures,
    )

    sigs = minhash_signatures(batch, "doc_id", "text").select(
        "doc_id", "sig", *_band_hash_cols()
    )
    ledger_plan = physical_plan(
        _admission_ledger(spark.read.parquet(index_path), sigs)
    )
    man_plan = physical_plan(manifest)
    for plan in (ledger_plan, man_plan):
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    plan = man_plan
    assert len(re.findall(r"hashpartitioning\(shard", plan)) == 1, plan
    assert plan.count("Window (") == 1, plan
    # no corpus/index rescan in the manifest: its only scans are the
    # pinned (checkpointed) batch and ledger RDDs
    assert "Scan parquet" not in plan, plan


def test_window_index_probe_is_dpp_pruned(spark, sf_dir):
    """The incremental ExactSubstr probe's 100 TB claims, pinned as a
    plan (r15): the bucket-partitioned window-index scan carries a
    DYNAMIC PARTITION PRUNING filter on hb (only the batch's hash
    buckets are read — the corpus window table is never scanned
    whole), and the batch windows broadcast into the bucket equi-join
    (the index never shuffles)."""
    from nytimes_batch_processor_spark.catalog import all_specs

    plan = physical_plan(all_specs()["dedup_incremental_spans"].fn(spark, sf_dir))
    assert "dynamicpruningexpression(hb" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_semdedup_assignment_is_distributed(spark, sf_dir):
    """The r16 perf lesson, pinned as a regression test: the
    checkpointed semdedup assignment (and admit_ivf_batch's batch
    assignment, same fix) must carry the session's parallelism — a
    small parquet corpus scans as 1-2 partitions, and since the
    compare stage's parallelism under the AQE broadcast plan is the
    PROBE side's partitioning, dropping the round-robin repartition
    silently serializes the whole exact-cosine compare onto one core
    (measured 5.8s -> 0.46s at sf0.1 for the pair stage). Pinned via
    the checkpointed frame's partition count, which is exactly what
    the join inherits."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.operators.similarity import (
        _as_double,
        _norm,
        ivf_fixed_centers,
        semdedup_assigned,
    )

    t = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vec = t.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).withColumn("nrm", _norm(F.col("e")))
    assigned = semdedup_assigned(vec, ivf_fixed_centers())
    expected = spark.sparkContext.defaultParallelism
    got = assigned.rdd.getNumPartitions()
    assert got == expected, (
        f"semdedup assignment has {got} partitions (session parallelism "
        f"{expected}) — the compare stage would run that many cores wide"
    )


def test_semdedup_pair_stage_plan_shape(spark, sf_dir):
    """The semdedup compare is ONE equi-join on `cell` over the
    checkpointed assignment (broadcast locally via AQE; SMJ on cell at
    scale) with the cosine evaluated as a join-adjacent predicate —
    never a cross product — and the verdict aggregation keys on the
    pair columns (the distinct-agg expansion), never on an
    unpartitioned window."""
    from nytimes_batch_processor_spark.operators.similarity import (
        dedup_semantic_embedding,
    )

    df = dedup_semantic_embedding(spark, sf_dir)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("WindowExec") == 0 or "No Partition Defined" not in plan


def test_const_array_literal_is_one_catalyst_literal(spark):
    """`_const_array_literal` folds a constant tensor through an internal
    Spark hook (`ExpressionUtils.column`). If that hook moves, the helper
    falls back to the parsed, unfolded `F.expr` tree and every later
    analysis walks the whole tensor again; this canary turns that silent
    fallback into a failure. It also pins the cache bound: a miss evicts
    the entries of every other (stopped) application."""
    from nytimes_batch_processor_spark.operators import similarity as sim

    sim._FOLDED_LIT_CACHE[("stopped-app", "array(0d)")] = object()
    col = sim._const_array_literal("array(array(1.0d, 2.0d), array(3.0d, 4.0d))")
    analyzed = spark.range(1).select(col.alias("t"))._jdf.queryExecution().analyzed()
    node = analyzed.expressions().apply(0).child()
    assert node.getClass().getSimpleName() == "Literal", node.toString()
    app_id = spark.sparkContext.applicationId
    assert all(k[0] == app_id for k in sim._FOLDED_LIT_CACHE), list(sim._FOLDED_LIT_CACHE)
