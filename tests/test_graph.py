"""Connected-components correctness vs a Python union-find oracle."""

from __future__ import annotations


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_on_chain_and_clusters(spark):
    from nytimes_batch_processor_spark.operators.graph import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain: one component labeled 1
        (10, 11), (11, 12), (10, 12),    # triangle: labeled 10
        (20, 21),                         # pair
        (30, 31), (31, 32), (30, 33),    # star
    ]
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_cc_matches_union_find_on_fixture_pairs(spark, sf_dir):
    """Real MinHash pairs (bounded slice): Spark CC must equal the
    union-find ground truth computed on the collected edge list."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.operators.dedup import dedup_minhash_lsh
    from nytimes_batch_processor_spark.operators.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).filter(
        (F.col("id1") < 150) & (F.col("id2") < 150)
    )
    edge_list = [(r["id1"], r["id2"]) for r in pairs.collect()]
    assert edge_list, "fixture slice should contain candidate pairs"
    got = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == _union_find(edge_list)


def test_cc_dedup_keeps_one_rep_per_cluster(spark, sf_dir):
    from nytimes_batch_processor_spark.operators.dedup import dedup_minhash_lsh
    from nytimes_batch_processor_spark.operators.graph import (
        connected_components,
        dedup_minhash_cc,
    )
    from nytimes_batch_processor_spark.sources import load_tables

    total = load_tables(spark, sf_dir, "documents").documents.count()
    comp = connected_components(dedup_minhash_lsh(spark, sf_dir))
    n_nodes = comp.count()
    n_components = comp.select("component").distinct().count()
    survivors = dedup_minhash_cc(spark, sf_dir).count()
    # unpaired docs all survive; each paired cluster keeps exactly one
    assert survivors == (total - n_nodes) + n_components


def test_star_cc_matches_union_find_and_min_label(spark):
    """Large-star/small-star CC must agree with both the union-find
    oracle and the min-label-propagation implementation on mixed
    topologies."""
    from nytimes_batch_processor_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = [
        (1, 2), (2, 3), (3, 4),
        (10, 11), (11, 12), (10, 12),
        (20, 21),
        (30, 31), (32, 31), (33, 30), (34, 33),  # star-ish with chain tail
    ]
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    star = {r["node"]: r["component"] for r in connected_components_star(df).collect()}
    prop = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert star == _union_find(edges) == prop


def test_star_cc_converges_on_long_chain(spark):
    """The O(log n) guarantee in practice: a 200-node chain (diameter
    199) converges in far fewer star rounds than min-label's 199
    iterations — the exact case where the web-scale variant matters."""
    from nytimes_batch_processor_spark.operators.graph import (
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r["node"]: r["component"] for r in connected_components_star(df, max_iter=12).collect()}
    assert got == {n: 0 for n in range(1, 201)} | {0: 0}


def _pagerank_python(edges, iters=6, scale=1_000_000_000_000):
    """Pure-Python fixed-point PageRank: the third, engine-free oracle
    (DuckDB's unrolled CTEs being the second). Dict-and-int arithmetic,
    bit-identical to the Spark loop by construction."""
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    base = (15 * scale) // (100 * n)
    rank = {node: scale // n for node in deg}
    for _ in range(iters):
        inflow = {}
        for s, d in edges:
            inflow[d] = inflow.get(d, 0) + rank[s] // deg[s]
        rank = {d: base + (85 * v) // 100 for d, v in inflow.items()}
    return rank


def test_pagerank_matches_python_fixed_point(spark, sf_dir):
    """graph_pagerank_fixed vs a dict-arithmetic twin on the REAL trade
    graph: every rank must be integer-exact, not approximately equal."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.operators.graph import graph_pagerank_fixed
    from nytimes_batch_processor_spark.sources import load_tables

    t = load_tables(spark, sf_dir, "orders", "lineitem")
    trade = (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    pairs = [(r["src"], r["dst"]) for r in trade.collect()]
    edges = pairs + [(d, s) for s, d in pairs]
    expect = _pagerank_python(edges)

    got = {}
    for r in graph_pagerank_fixed(spark, sf_dir).collect():
        node = r["entity_key"] * 2 + (0 if r["node_kind"] == "cust" else 1)
        got[node] = r["rank_fp"]
    assert got == expect


def test_pagerank_mass_and_floor_invariants(spark, sf_dir):
    """Structural invariants of the fixed-point scheme: truncating
    division only ever LOSES rank mass (sum <= SCALE, and by no more
    than the damped per-step truncation budget), and the teleport term
    floors every node's rank at base."""
    from nytimes_batch_processor_spark.operators.graph import (
        _PR_ITERS,
        _PR_SCALE,
        graph_pagerank_fixed,
    )

    rows = graph_pagerank_fixed(spark, sf_dir).collect()
    n = len(rows)
    base = (15 * _PR_SCALE) // (100 * n)
    total = sum(r["rank_fp"] for r in rows)
    assert total <= _PR_SCALE
    # per step: <= 1 unit lost per edge-division + per-node rounding;
    # a generous linear bound that still catches any mass-creation bug.
    n_edges_bound = n * n  # complete-graph worst case for the fixture
    assert total >= _PR_SCALE - _PR_ITERS * (n_edges_bound + 2 * n) - n
    assert all(r["rank_fp"] >= base for r in rows)


def _pagerank_python_model(edges, iters, scale):
    """Direct integer power iteration over a symmetrized edge list —
    an independent third implementation of the fixed-point PageRank
    contract (the DuckDB oracle proves Spark<->SQL agreement; this
    proves both agree with the plainly-written algorithm)."""
    sym = list(edges) + [(b, a) for (a, b) in edges]
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    nodes = sorted(deg)
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    rank = {u: scale // n for u in nodes}
    for _ in range(iters):
        contrib = {}
        for a, b in sym:
            contrib[b] = contrib.get(b, 0) + rank[a] // deg[a]
        rank = {u: base + (85 * contrib[u]) // 100 for u in contrib}
    return rank


def test_pagerank_core_matches_python_model(spark):
    """`pagerank_fixed_ranks` on arbitrary small graphs (hub, chain,
    disconnected pair, self-parallel trades deduped upstream) must be
    integer-identical to the Python model above."""
    from pyspark.sql import functions as F  # noqa: F401

    from nytimes_batch_processor_spark.operators.graph import (
        _PR_ITERS,
        _PR_SCALE,
        pagerank_fixed_ranks,
    )

    cases = [
        # hub: one customer trades with 4 suppliers
        [(0, 1), (0, 3), (0, 5), (0, 7)],
        # chain across alternating roles
        [(0, 1), (2, 1), (2, 3), (4, 3)],
        # two disconnected components
        [(0, 1), (2, 3)],
        # dense bipartite 3x3
        [(2 * c, 2 * s + 1) for c in range(3) for s in range(3)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["rank"] for r in pagerank_fixed_ranks(df).collect()
        }
        expected = _pagerank_python_model(edges, _PR_ITERS, _PR_SCALE)
        assert got == expected, f"edges={edges}\ngot {got}\nexp {expected}"


def test_rotate_keeps_previous_generation_alive(spark):
    """A helper's public result stays collectible however often the
    helper runs before it is consumed: "compute result A, invoke the
    same helper again (twice), then consume A" must not fail with
    removed-block errors. A returned frame references its own
    localCheckpoint, so its blocks live exactly as long as it does."""
    from nytimes_batch_processor_spark.operators.graph import (
        connected_components,
    )

    e1 = spark.createDataFrame([(0, 1), (2, 3)], "id1 long, id2 long")
    e2 = spark.createDataFrame([(4, 5)], "id1 long, id2 long")
    e3 = spark.createDataFrame([(6, 7), (7, 8)], "id1 long, id2 long")
    a = connected_components(e1)
    b = connected_components(e2)  # two re-invocations BEFORE consuming a
    c = connected_components(e3)
    got_a = {r["node"]: r["component"] for r in a.collect()}
    got_b = {r["node"]: r["component"] for r in b.collect()}
    got_c = {r["node"]: r["component"] for r in c.collect()}
    assert got_a == {0: 0, 1: 0, 2: 2, 3: 2}, got_a
    assert got_b == {4: 4, 5: 4}, got_b
    assert got_c == {6: 6, 7: 6, 8: 6}, got_c


def _stored_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_unreachable_checkpoints_are_reclaimed(spark):
    """Nothing in the engine holds a checkpoint past its result: once
    the caller drops the frames, Spark's ContextCleaner frees every
    block those calls stored. ``unpersist()`` cannot do it for them
    (a localCheckpoint's blocks belong to its internal RDD), so a
    reference kept anywhere — a registry, a module-level list — keeps
    the blocks for the life of the session, and this test sees them.
    Compares storage RDD ids, not counts, so garbage from earlier tests
    that happens to be reclaimed meanwhile cannot mask a leak."""
    import gc
    import time

    from nytimes_batch_processor_spark.operators.graph import (
        connected_components,
    )

    gc.collect()
    before = _stored_rdd_ids(spark)
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id1 long, id2 long")
    results = [connected_components(edges) for _ in range(3)]
    for res in results:
        got = {r["node"]: r["component"] for r in res.collect()}
        assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}, got
    assert _stored_rdd_ids(spark) - before, "the calls stored no checkpoint"
    del edges, results, res
    gc.collect()
    deadline = time.monotonic() + 30
    while True:
        spark._jvm.System.gc()
        left = _stored_rdd_ids(spark) - before
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not left, f"checkpoint RDDs still stored after 30 s: {sorted(left)}"
