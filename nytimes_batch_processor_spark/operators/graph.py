"""Iterative graph operators: connected components by label propagation.

The greedy min-id resolve (operators/dedup.py `dedup_minhash_resolve`)
drops any doc paired with a lower id — single-pass, but transitive
chains (a~b, b~c, NOT a~c) can leave different survivors than true
clustering. This module computes exact connected components over the
candidate-pair graph with iterative minimum-label propagation — the
standard MapReduce/Pregel formulation, expressed as a driver-side loop
of DataFrame joins — the engine's example of a genuinely iterative
operator (in Spark the iteration count is data-dependent; at fixture
scale DuckDB's recursive reachability CTE replays the result exactly,
so the driver entry is hash-checked despite that).

Scale notes: `connected_components` (min-label propagation) needs one
shuffle join per iteration and O(diameter) iterations — right for
near-dup graphs whose cluster diameters are tiny (2-4).
`connected_components_star` is the web-scale variant (alternating
large-star/small-star, O(log n) rounds regardless of diameter) — same
output contract, property-tested against the same union-find oracle,
converging on a 200-node chain in <=12 rounds where min-label needs
199. Lineage is truncated per iteration with localCheckpoint, or the
plan tree grows exponentially (on a cluster, persist + checkpoint dir
instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import query
from ..sources import load_tables
from .dedup import _minhash_pairs_ctes


def connected_components(
    edges: DataFrame, src: str = "id1", dst: str = "id2", max_iter: int = 25
) -> DataFrame:
    """Exact connected components of an undirected edge list.

    Returns (node, component) where component = the minimum node id
    reachable from `node` — a deterministic canonical label. Converges
    in O(diameter) iterations; raises if max_iter is hit (a safety
    valve, not an approximation: partial labels are never returned).
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def connected_components_star(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Exact connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the web-scale swap for `connected_components`: O(log n) rounds
    instead of O(diameter), so a 10M-long chain needs ~25 rounds, not
    10M. Same output contract: (node, component=min reachable id).

    Each round is two edge rewrites, each one shuffle:
      large-star(u): every neighbor v > u re-points to
          m = min(neighbors(u) ∪ {u});
      small-star(u): every neighbor v <= u (and u itself) re-points to m.
    Both preserve connectivity; the fixpoint is a union of stars whose
    centers are the component minima. Fixpoint detection compares an
    order-insensitive edge-set checksum between rounds. When `stats` is
    given, it receives {"rounds", "input_edges"} — the O(log n)
    rounds-growth claim tools/scale_bench.py measures at x1/x10.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )  # canonical (big, small) so the checksum is orientation-free
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(cur: DataFrame, large: bool) -> DataFrame:
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_nmin"))
            .select("u", F.least("u", "_nmin").alias("m"))
        )
        joined = sym.join(mins, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = joined.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).union(joined.select(F.col("u").alias("a"), F.col("m").alias("b")))
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )

    def _checksum(cur: DataFrame):
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI
        return cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]

    prev = _checksum(e)
    if stats is not None:
        stats["input_edges"] = int(prev["n"])
    for rounds in range(1, max_iter + 1):
        e = _star(_star(e, large=True), large=False).localCheckpoint(eager=True)
        cur = _checksum(e)
        if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            if stats is not None:
                stats["rounds"] = rounds
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("_nmin"))
        .select(
            F.col("u").alias("node"), F.least("u", "_nmin").alias("component")
        )
    )


def _minhash_cc_oracle() -> str:
    """DuckDB replays the WHOLE cc-dedup pipeline: the portable-hash
    pairs CTEs (dedup.py) + a recursive min-label reachability CTE.
    `reach` keeps (node, lbl) only when lbl <= node: the component
    minimum m satisfies m <= x for every member x, so its propagation
    path is never pruned, while larger labels (irrelevant to MIN) are
    dropped early — the fixture-scale analogue of the same pruning
    argument that makes large-star/small-star correct at scale."""
    return f"""WITH RECURSIVE {_minhash_pairs_ctes()},
und AS (
    SELECT id1 AS s, id2 AS d FROM pairs
    UNION ALL
    SELECT id2, id1 FROM pairs
),
reach(node, lbl) AS (
    SELECT s, s FROM (SELECT DISTINCT s FROM und)
    UNION
    SELECT u.d, r.lbl FROM reach r JOIN und u ON u.s = r.node
    WHERE r.lbl <= u.d
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
dupes AS (SELECT node AS doc_id FROM comp WHERE component <> node)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM dupes x WHERE x.doc_id = d.doc_id)"""


def dedup_minhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup with EXACT clustering: MinHash+LSH candidate
    pairs -> connected components -> keep each component's min-id
    representative; unpaired docs survive untouched. ORACLE-CHECKED:
    DuckDB's recursive reachability CTE (_minhash_cc_oracle) computes
    the identical min-label components over the identical portable-hash
    pair set; the Python union-find oracle in tests/test_graph.py
    additionally property-tests both CC variants.

    vs `dedup_minhash_resolve` (greedy): CC keeps exactly one doc per
    transitive near-dup cluster — chains collapse to one survivor
    instead of zero-or-more.

    Runs the O(log n) large-star/small-star CC — the same algorithm the
    100 TB story depends on, so the driver sweep executes the scale path,
    not just the O(diameter) min-label loop (that variant stays as
    `connected_components` for the shallow-graph case and the property
    tests cover both against one union-find oracle). Registered
    through `dedup_resolve_surface` since r10 (the cc branch).
    """
    from .dedup import dedup_minhash_lsh

    t = load_tables(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    comp = connected_components_star(pairs)
    # Drop every clustered doc that is not its component's representative.
    dupes = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return t.documents.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def _resolve_surface_oracle() -> str:
    """Union of the two full-pipeline branch oracles, mode-tagged.
    DuckDB permits WITH RECURSIVE inside a subquery, so each branch
    keeps its own complete CTE chain."""
    from .dedup import _minhash_resolve_oracle

    return f"""SELECT 'greedy' AS mode, doc_id, lang, source, n_chars
FROM ({_minhash_resolve_oracle()})
UNION ALL
SELECT 'cc' AS mode, doc_id, lang, source, n_chars
FROM ({_minhash_cc_oracle()})"""


@query(
    "dedup_resolve_surface",
    tables=("documents",),
    oracle=_resolve_surface_oracle(),
)
def dedup_resolve_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consolidated near-dup RESOLUTION surface (r10 rotation-
    capacity consolidation of dedup_minhash_resolve + dedup_minhash_cc
    — the two resolution policies over ONE MinHash+LSH pair set),
    mode-tagged into one hashed result:

    'greedy' rows: the surviving corpus after single-pass min-id
    resolution (drop every doc that near-dups a lower-id doc) — chains
    may over-delete, standard greedy corpus dedup.
    'cc' rows: the surviving corpus after exact connected-components
    clustering (large-star/small-star, O(log n) rounds) — exactly one
    representative per transitive cluster.

    The candidate pairs are computed ONCE and checkpointed; both
    branches resolve over the same materialized pair set, which is also
    the production shape (pairs are the expensive artifact — resolve
    policies are cheap anti-joins over them). The two full-pipeline
    oracles (portable-hash pairs CTE + NOT EXISTS for greedy; the same
    CTE + recursive min-label reachability for cc) replay both policies
    end-to-end in DuckDB, so policy disagreement anywhere — pair set,
    clustering, survivor join — is a hash mismatch."""
    from .dedup import dedup_minhash_lsh

    t = load_tables(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True)
    greedy_dupes = pairs.select(F.col("id2").alias("doc_id")).distinct()
    comp = connected_components_star(pairs)
    cc_dupes = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    cols = ["doc_id", "lang", "source", "n_chars"]
    greedy = (
        t.documents.join(greedy_dupes, "doc_id", "left_anti")
        .select(F.lit("greedy").alias("mode"), *cols)
    )
    cc = (
        t.documents.join(cc_dupes, "doc_id", "left_anti")
        .select(F.lit("cc").alias("mode"), *cols)
    )
    return greedy.unionByName(cc)


@query(
    "graph_reachability_rcte",
    tables=("nation",),
    oracle="""
WITH RECURSIVE tree(key, depth) AS (
    SELECT CAST(n_nationkey AS INT), 0 FROM nation WHERE n_nationkey = 0
    UNION ALL
    SELECT CAST(n.n_nationkey AS INT), t.depth + 1
    FROM nation n JOIN tree t
      ON CAST(FLOOR((n.n_nationkey - 1) / 2) AS INT) = t.key
     AND n.n_nationkey > 0
)
SELECT t.key                         AS nationkey,
       n.n_name                      AS name,
       CAST(t.depth AS INT)          AS depth
FROM tree t JOIN nation n ON n.n_nationkey = t.key
""",
)
def graph_reachability_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE): reachability/depth over
    an implicit binary tree on the nation keys (parent(k) =
    floor((k-1)/2)) — the declarative iterative-join family next to the
    imperative connected-components loop above. Spark executes each
    recursion step as a join against the previous frontier, exactly the
    O(depth)-rounds shape of dedup_minhash_cc, but planner-managed.
    DuckDB runs the identical SQL as the oracle."""
    t = load_tables(spark, sf_dir, "nation")
    t.nation.createOrReplaceTempView("_rcte_nation")
    return spark.sql(
        """
        WITH RECURSIVE tree(key, depth) AS (
            SELECT CAST(n_nationkey AS INT), 0 FROM _rcte_nation WHERE n_nationkey = 0
            UNION ALL
            SELECT CAST(n.n_nationkey AS INT), t.depth + 1
            FROM _rcte_nation n JOIN tree t
              ON CAST(FLOOR((n.n_nationkey - 1) / 2) AS INT) = t.key
             AND n.n_nationkey > 0
        )
        SELECT t.key                AS nationkey,
               n.n_name             AS name,
               CAST(t.depth AS INT) AS depth
        FROM tree t JOIN _rcte_nation n ON n.n_nationkey = t.key
        """
    )


# ---------------------------------------------------------------------------
# PageRank (fixed-point integer arithmetic, hash-grade deterministic)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # rank mass carried as int64 micromillionths
_PR_ITERS = 6

_PR_GRAPH_CTES = """
trade AS (
    SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT src, dst FROM trade
    UNION ALL
    SELECT dst AS src, src AS dst FROM trade
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
r0 AS (SELECT d.src AS node,
              CAST(1000000000000 // nn.n AS BIGINT) AS rank
       FROM deg d, nn)
"""


def _pagerank_oracle() -> str:
    """Unrolled-iteration oracle: K chained (non-recursive) CTEs, one per
    power-iteration step, in the same all-integer arithmetic as the Spark
    loop. Unrolling (instead of WITH RECURSIVE) sidesteps the standard-SQL
    ban on aggregates in a recursive term, and makes each step's algebra
    literally readable in the oracle."""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
    SELECT e.dst AS node,
           CAST((SELECT (15 * 1000000000000) // (100 * n) FROM nn)
                + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + _PR_GRAPH_CTES.strip().rstrip()
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_kind,
       CAST(node // 2 AS BIGINT) AS entity_key,
       rank AS rank_fp
FROM r{_PR_ITERS}
"""
    )


@query(
    "graph_pagerank_fixed",
    tables=("orders", "lineitem"),
    oracle=_pagerank_oracle(),
)
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer<->supplier trade graph, in fixed-point
    int64 arithmetic so every engine computes bit-identical ranks.

    The graph: one undirected edge per distinct (customer, supplier)
    trading pair from lineitem x orders, nodes key-disjointly encoded
    (customer c -> 2c, supplier s -> 2s+1). Symmetrization guarantees
    every node has out-degree >= 1 (no dangling-mass special case) and
    in-degree >= 1 (every node gets a row each iteration).

    Determinism: floating-point PageRank is order-sensitive (parallel
    summation reorders adds), so rank mass is carried as int64 scaled by
    1e12 and every step is integer-only: contribution = rank DIV deg,
    new rank = (15*SCALE) DIV (100*N) + (85 * SUM(contrib)) DIV 100.
    All values are positive, so Spark's `DIV` (truncating) and DuckDB's
    `//` (flooring) agree, and SUM of longs is exact in both engines
    (DuckDB widens to HUGEINT; values stay far below 2^63). K=6 fixed
    iterations — deterministic output, not a convergence test (the CC
    operators above own adaptive iteration).

    Scale notes: the iteration state is O(nodes) (node, rank) — for a
    100M-node graph ~1.6 GB, trivially shuffled; the per-step cost is
    one equi-join of the edge list against the rank table plus one
    groupBy(dst), both hash-partitioned on node id — the textbook
    Pregel-on-MapReduce shape. `localCheckpoint(eager=True)` after each
    step truncates the 6-deep lineage so the final plan reads
    materialized ranks instead of replaying the whole chain; N (a single
    scalar) is the only driver-side value, same role as the CC
    convergence checksum. Skewed hubs (a supplier trading with every
    customer) concentrate one groupBy key; AQE skew handling or the
    salting pattern of `agg_skew_salted_sum` applies unchanged.
    """
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    trade = (
        t.lineitem.join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    final = pagerank_fixed_ranks(trade)
    return final.select(
        F.when(F.col("node") % 2 == 0, F.lit("cust"))
        .otherwise(F.lit("supp"))
        .alias("node_kind"),
        F.expr("node DIV 2").alias("entity_key"),
        F.col("rank").alias("rank_fp"),
    )


def pagerank_fixed_ranks(trade: DataFrame) -> DataFrame:
    """The fixed-point PageRank iteration core over a distinct directed
    (src, dst) trade frame — factored out of `graph_pagerank_fixed` so
    tools/scale_bench.py can drive the SAME loop with a replicated
    graph (the iterative-family x10 gate, VERDICT r7 item 5). Returns
    the final (node, rank) table after `_PR_ITERS` steps.
    """
    edges = trade.union(
        trade.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # ONE pass over the source tables: (src, dst, deg) materialized via
    # localCheckpoint; N and the uniform r0 both derive from this
    # snapshot (a distinct over the in-memory 1.2M-row RDD), never from
    # a second lineitem x orders scan (measured ~1s saved at sf0.1).
    # (r21 negative result, measured then reverted: broadcasting `deg`
    # into this join — 16k rows, same size as the per-iteration rank
    # broadcast — LOST, min-of-3 2.95s -> 3.12s entry wall. The SMJ
    # plan reuses one hash(src) Exchange for BOTH the degree aggregate
    # and the join's stream side, so the hint traded a reused exchange
    # for an extra broadcast-build job. Don't retry.)
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = edges_deg.select("src").distinct()
    n = nodes.count()  # O(1) driver scalar: graph size for the teleport term
    base = (15 * _PR_SCALE) // (100 * n)
    ranks = nodes.select(
        F.col("src").alias("node"),
        F.lit(_PR_SCALE // n).cast("long").alias("rank"),
    )
    # Join shape: the rank table is O(nodes) while the edge table is
    # O(edges) — for this graph ~16k vs ~1.2M rows at sf0.1 (nodes are
    # always the smaller side of a symmetrized multigraph). Broadcasting
    # the per-iteration rank table keeps the fat edge side map-local
    # (scanned from the checkpoint, never re-shuffled — without the
    # hint every iteration sort-merge-shuffles the full edge list), and
    # a lazy persist() per step keeps the single final action LINEAR:
    # each broadcast subtree reads its predecessor from cache instead of
    # recursively recomputing the whole chain (the eager-checkpoint
    # variant was 6 sequential jobs, ~3x slower end-to-end; the
    # unpersisted-broadcast variant was quadratic recompute — measured
    # 7.1s / 6.6s vs ~3.5s for this shape at sf0.1). The remaining
    # shuffle is the partial-agg-reduced groupBy(dst), O(nodes x
    # partitions) rows per step. The broadcast hint holds while
    # |nodes| x 16 B fits the broadcast budget (~100M nodes); past
    # that, flip to the shuffle join over edges bucketed by src
    # (write_bucketed), which co-locates every iteration with zero edge
    # movement — same loop, different layout.
    cached = []
    for _ in range(_PR_ITERS):
        ranks = (
            edges_deg.join(F.broadcast(ranks), edges_deg["src"] == ranks["node"])
            .select("dst", F.expr("rank DIV deg").alias("contrib"))
            .groupBy("dst")
            .agg(
                F.expr(
                    f"CAST({base} + (85 * SUM(contrib)) DIV 100 AS BIGINT)"
                ).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
            .persist()
        )
        cached.append(ranks)
    # Snapshot the final O(nodes) table so the intermediate caches can
    # be released before returning (the caller may collect much later).
    final = ranks.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return final
