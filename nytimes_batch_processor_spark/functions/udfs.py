"""User-defined function surface: Arrow-vectorized Pandas UDFs.

The reference's "UDF" extension points are the FieldSetMapper lambdas and
PreparedStatement setters (``NytimesBatchProcessorApplication.kt:126-128,
130-137`` — arbitrary record-level code in a fixed pipeline). This module
is the engine's equivalent surface, in its three Spark shapes, each
oracle-checked so the Arrow boundary itself is under the driver's gate:

- scalar pandas_udf (vectorized row-wise compute),
- grouped-aggregate pandas_udf (custom UDAF),
- grouped-map ``applyInPandas`` (custom per-group transform, UDTF-like).

Engine policy (SURVEY.md §2.2): built-ins first — every query here is
deliberately SQL-expressible so DuckDB can verify the UDF machinery;
real use cases are the NON-expressible ones (model scoring, tokenizers,
decoders — see multimodal.py). Plain row-at-a-time Python UDFs
(``F.udf``) are banned from the engine: 10-100x slower than Arrow
batches at 100 TB.

Determinism: Python-side reductions use ``math.fsum`` (exactly-rounded
float summation), so results don't depend on the arbitrary row order
Spark delivers to each group — the Python twin of the engine's
decimal-sum policy (functions/__init__.py).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..catalog import query
from ..sources import load_tables


#: Logical-plan nodes that never induce an exchange and never hide an
#: upstream query stage — the ONLY trees the `.rdd` width probe may
#: touch (see `spread_for_python`). Conservative by construction: a
#: node missing from this set (shuffle-inducing or just unknown, e.g.
#: FlatMapGroupsInPandas) classifies the frame as pass-through, which
#: costs at most a skipped spread on an already-degenerate frame.
_NARROW_PLAN_NODES = frozenset(
    {
        "Project",
        "Filter",
        "LocalRelation",
        "LogicalRDD",  # createDataFrame-from-rows roots here in PySpark
        "SubqueryAlias",
        "Range",
        "OneRowRelation",
        "LocalLimit",
        "Generate",
    }
)


def _plan_is_narrow(df: DataFrame) -> bool:
    """True iff every node of the ANALYZED logical plan is known-narrow
    (py4j tree walk over node names — structural, so a column alias
    that collides with a plan-node word can never misclassify, unlike
    a regex over the plan's string render; ADVICE r19 #1). Repartition
    is narrow exactly when ``shuffle = false`` (coalesce); the
    round-robin form is an exchange."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "Repartition":
            if node.shuffle():
                return False
        elif name not in _NARROW_PLAN_NODES:
            return False
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return True


def spread_for_python(df: DataFrame) -> DataFrame:
    """Parallelism guard for the Python hot paths (the BPE encode and
    the multimodal mapInPandas chains): a small corpus (one parquet
    file) scans as one partition, which serializes the whole
    mapInPandas stage onto a single core. The spread is conditional:
    round-robin repartition to session parallelism only when the
    input's partitioning is below it, so a production-scale scan
    (thousands of input splits) flows through with no added exchange
    while the degenerate small scan fans out. Map-only consumers see
    identical values either way.

    The width probe avoids ``df.rdd``: under AQE, materializing the RDD
    finalizes the physical plan and executes any upstream shuffle
    stages, a double execution for a caller with a shuffle upstream. It
    works from the scan's input-file listing (`inputFiles`, metadata
    only) instead, and does not trust the raw file count, which
    under-estimates the width of a scan Spark splits:

    - ``files >= parallelism``: pass through; every file yields at
      least one partition, so the scan is already wide (the production
      path: no driver-side stats).
    - ``files < parallelism``: stat those few files and replay Spark's
      own split packing (``FilePartition.maxSplitBytes``): maxSplit =
      min(maxPartitionBytes, max(openCostInBytes,
      paddedBytes/parallelism)) with paddedBytes = bytes + openCost
      per file; estimated partitions = ceil(paddedBytes / maxSplit).
      Spread only when the estimate is under parallelism, so a scan of
      a few large files that Spark splits 32 ways flows through.
    - no input files (non-file-rooted, e.g. an in-memory local
      relation): walk the analyzed logical plan's node names (py4j tree
      walk; never optimizes or executes). The classifier is a whitelist
      of known-narrow nodes (project/filter/local-relation/coalesce …):
      only a tree narrow end to end has no upstream query stages, so
      there ``.rdd`` is execution-free and reads the true width, fanning
      out the degenerate single-slice case (pinned by
      test_bpe_counts_fans_out_degenerate_scans). Any other node passes
      through: its width is already the session shuffle-partition count
      (or unknowable without executing), and a round-robin repartition
      could only shrink it. A regex over the plan's string render is no
      substitute: it matches a column alias named `Join`/`Sort`.

    Residual: a post-shuffle frame rooted in tiny leaf files still
    spreads, costing one exchange, but only when total listed bytes
    are under ~openCost*parallelism (~128 MiB), where the exchange is
    noise. Values are identical on every path (map-only consumers)."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    files = df.inputFiles()
    if not files:
        if not _plan_is_narrow(df):
            return df
        if df.rdd.getNumPartitions() < par:
            return df.repartition(par)
        return df
    if len(files) >= par:
        return df
    from ..tables import _hfs

    total = 0
    for uri in files:
        fs, p = _hfs(df.sparkSession, uri)
        total += fs.getFileStatus(p).getLen()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    padded = total + open_cost * len(files)
    max_split = min(
        conf.filesMaxPartitionBytes(), max(open_cost, padded // par)
    )
    est_partitions = -(-padded // max(max_split, 1))  # ceil
    if est_partitions < par:
        return df.repartition(par)
    return df


# Return types are DataType instances (not DDL strings) so the UDFs can
# be declared at import time without an active SparkContext.
@F.pandas_udf(T.DoubleType())
def _margin_score(retailprice: pd.Series, size: pd.Series) -> pd.Series:
    """Vectorized scalar UDF: one Arrow batch in, one out — numpy math,
    no Python-per-row loop."""
    return (retailprice - size * 10.0) / (size + 1.0)


@F.pandas_udf(T.DoubleType())
def _weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
    """Grouped-agg UDF (custom UDAF): sum(price*qty)/sum(qty) with fsum
    so the result is independent of within-group row order."""
    num = math.fsum(price * qty)
    den = math.fsum(qty)
    return num / den if den else float("nan")


@F.pandas_udf(T.LongType())
def _count_rows(qty: pd.Series) -> int:
    """Companion UDAF: Spark disallows mixing grouped-agg pandas UDFs
    with JVM aggregates in one agg(), so the count is a pandas UDAF too."""
    return len(qty)


@query(
    "udf_pandas_scalar",
    tables=("part",),
    oracle="""
SELECT p_partkey,
       p_brand,
       ROUND((p_retailprice - p_size * 10.0) / (p_size + 1.0), 6) AS margin_score
FROM part
WHERE p_size >= 10
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Arrow UDF under the oracle gate: the filter still pushes to
    the scan (the UDF is projection-only), and the plan shows ArrowEvalPython
    as one vectorized stage — not a per-row PythonUDF."""
    t = load_tables(spark, sf_dir, "part")
    return (
        t.part.filter(F.col("p_size") >= 10)
        .select(
            "p_partkey",
            "p_brand",
            F.round(_margin_score("p_retailprice", "p_size"), 6).alias("margin_score"),
        )
    )


@query(
    "udf_pandas_grouped_agg",
    tables=("lineitem",),
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS weighted_avg_price,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY l_returnflag
""",
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-agg pandas_udf: Spark still plans partial
    shuffle by group key; the Python worker sees each group's Arrow
    batches once. fsum keeps the float reduction order-independent."""
    t = load_tables(spark, sf_dir, "lineitem")
    # 4dp, not the usual 6: the value's magnitude (~4e4) against DuckDB's
    # parallel (order-jittery) double SUM makes a 6dp boundary collision
    # non-negligible; 4dp restores a ~1e4 safety margin.
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(_weighted_avg_price("l_extendedprice", "l_quantity"), 4).alias(
            "weighted_avg_price"
        ),
        _count_rows("l_quantity").alias("n_lines"),
    )


_ZSCORE_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("mktsegment", T.StringType()),
        T.StructField("acctbal_z", T.DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map worker: population z-score within the group. Mean and
    variance via fsum — identical result for any row order."""
    x = pdf["c_acctbal"].astype(float)
    n = len(x)
    mean = math.fsum(x) / n
    var = math.fsum((v - mean) ** 2 for v in x) / n
    std = math.sqrt(var)
    z = (x - mean) / std if std > 0 else x * 0.0
    return pd.DataFrame(
        {
            "c_custkey": pdf["c_custkey"],
            "mktsegment": pdf["c_mktsegment"],
            "acctbal_z": z.round(6),
        }
    )


@query(
    "udf_grouped_map_zscore",
    tables=("customer",),
    oracle="""
SELECT c_custkey,
       c_mktsegment AS mktsegment,
       ROUND(CASE WHEN STDDEV_POP(c_acctbal) OVER w > 0
                  THEN (c_acctbal - AVG(c_acctbal) OVER w) / STDDEV_POP(c_acctbal) OVER w
                  ELSE 0.0 END, 6) AS acctbal_z
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment)
""",
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the UDTF-shaped surface): per-segment
    z-score normalization — one shuffle on the group key, then each group
    transformed in a single Arrow-batched Python call. The oracle is the
    equivalent window SQL, proving the custom path against the
    declarative one."""
    t = load_tables(spark, sf_dir, "customer")
    return (
        t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(_zscore_group, _ZSCORE_SCHEMA)
    )


@query(
    "udtf_tokenize_positions",
    tables=("documents",),
    oracle="""
SELECT doc_id,
       unnest(string_split_regex(lower(text), '\\s+'))      AS tok,
       generate_subscripts(string_split_regex(lower(text), '\\s+'), 1) AS pos
FROM documents
WHERE doc_id < 50
""",
)
def udtf_tokenize_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Python UDTF (table function): one input row fans out to one
    row PER TOKEN with its 1-based position — the tokenizer shape every
    training-data pipeline runs, as a LATERAL correlated table function
    rather than explode() (the UDTF owns arbitrary Python fan-out
    logic; explode only unrolls an existing array).

    The UDTF is declared inside the function because @udtf registration
    needs a live SparkContext. Arrow serializes batches across the
    boundary; per-row Python cost is the generator body only. NULL text
    yields ZERO rows (matching unnest(NULL)); re.split keeps leading
    empty strings like string_split_regex. Dialect boundary: Python's
    \\s is Unicode-aware while DuckDB's RE2 \\s is ASCII-only — the
    fixture is all-ASCII, so the oracle is byte-comparable; a Unicode
    corpus needs the same regex class pinned on both sides."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, pos int")
    class Tokenize:
        def eval(self, text):  # noqa: ANN001 - UDTF protocol
            if text is None:
                return
            for i, tk in enumerate(re.split(r"\s+", text.lower())):
                yield tk, i + 1

    spark.udtf.register("tokenize_positions", Tokenize)
    t = load_tables(spark, sf_dir, "documents")
    t.documents.filter(F.col("doc_id") < 50).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, tk.tok, tk.pos
        FROM _udtf_docs d, LATERAL tokenize_positions(d.text) tk
        """
    )
