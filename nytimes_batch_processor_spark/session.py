"""SparkSession construction and runtime-conf hardening.

Scale notes (100 TB posture): AQE on (runtime coalesce + skew-join
splitting), shuffle partitions sized to the cluster not the default 200,
Arrow enabled for the few Pandas-UDF code paths. On a real cluster the
same builder is used with ``master`` unset (picked up from spark-submit)
and ``spark.sql.shuffle.partitions`` ~ 2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe to (re)apply to an externally-created session at
# runtime. The driver harness owns its SparkSession; these make fixture
# reads deterministic regardless of how that session was built.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type, so
    # read the raw int64 and convert (sources/readers.py) losslessly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps -> TIMESTAMP_NTZ so
    # date extraction is timezone-independent.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Timezone-stable semantics for any tz-aware code path.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an existing session, ignoring any that the
    deployment forbids changing at runtime."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-runtime-settable in this deployment; keep going
    return spark


def get_spark(
    app_name: str = "nytimes-batch-processor-spark",
    cpus: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings resolve through config.EngineConfig (defaults < properties
    file < SPARK_GRAFT_* env vars — the reference's O5 layering); an
    explicit ``cpus`` argument wins over all of them. Local mode is a
    single JVM with ``cpus`` executor threads; shuffle partitions match
    the core count (not Spark's default 200 — at local scale 200 tiny
    partitions is pure scheduling overhead, and on a real cluster this
    knob is set per deployment). For the same reason a distributed file
    listing (a read of a table with more than 32 partition directories)
    runs one task per core, not one task per directory: it stays a job,
    so it still scales to thousands of directories on an object store.
    The cores are the running context's, which is ``cpus`` for a session
    this call builds; a session fetched by a later call keeps its master.
    """
    from .config import EngineConfig

    cfg = EngineConfig.resolve()
    if cpus is None:
        cpus = cfg.effective_cpus()
    shuffle_parts = cfg.shuffle_partitions or max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", cfg.driver_memory),
        )
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism",
        str(spark.sparkContext.defaultParallelism),
    )
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
