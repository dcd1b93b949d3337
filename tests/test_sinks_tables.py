"""D1 (managed tables) and W2 (JDBC parity sink) tests.

The JDBC sink is exercised with sqlite3 (stdlib DB-API) injected as the
connection factory — same pipeline code, same SQL shape as the
postgres production path (``INSERT OR IGNORE`` vs ``ON CONFLICT DO
NOTHING``)."""

from __future__ import annotations

import os
import sqlite3

import pytest

from pyspark.sql import functions as F

SCHEMA = "date string, state string, fips int, cases long, deaths long"


def _factory(db_path):
    # sqlite allows one writer at a time; the generous timeout lets the
    # parallel partition writers queue instead of erroring.
    def connect():
        return sqlite3.connect(db_path, timeout=60)

    return connect


def test_jdbc_upsert_sink_first_write_wins(spark, tmp_path):
    from nytimes_batch_processor_spark.sinks import jdbc_upsert_sink

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE covid (date TEXT, state TEXT, fips INT, cases INT, "
        "deaths INT, UNIQUE(date, state, fips))"
    )
    con.commit()
    con.close()

    df = spark.createDataFrame(
        [
            ("2020-01-01", "WA", 53, 1, 0),
            ("2020-01-02", "WA", 53, 2, 0),
            ("2020-01-01", "IL", 17, 5, 1),
        ],
        SCHEMA,
    ).repartition(2)
    jdbc_upsert_sink(df, "covid", ["date", "state", "fips"], _factory(db), batch_size=2)

    # Re-run with a conflicting payload + one new key: DO NOTHING on the
    # existing keys (first write wins), insert only the new key.
    df2 = spark.createDataFrame(
        [("2020-01-01", "WA", 53, 999, 999), ("2020-01-03", "WA", 53, 3, 1)],
        SCHEMA,
    )
    jdbc_upsert_sink(df2, "covid", ["date", "state", "fips"], _factory(db))

    con = sqlite3.connect(db)
    rows = {
        (d, s, f): (c, de)
        for d, s, f, c, de in con.execute("SELECT * FROM covid").fetchall()
    }
    con.close()
    assert rows[("2020-01-01", "WA", 53)] == (1, 0)  # not 999
    assert rows[("2020-01-03", "WA", 53)] == (3, 1)
    assert len(rows) == 4


def test_jdbc_upsert_sink_idempotent_rerun(spark, tmp_path):
    from nytimes_batch_processor_spark.sinks import jdbc_upsert_sink

    db = str(tmp_path / "rerun.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INT, v INT, UNIQUE(k))")
    con.commit()
    con.close()
    df = spark.range(100).selectExpr("CAST(id AS INT) k", "CAST(id * 2 AS INT) v")
    for _ in range(2):  # the reference's cron re-run (O4): no growth
        jdbc_upsert_sink(df, "t", ["k"], _factory(db), batch_size=7)
    con = sqlite3.connect(db)
    n, vsum = con.execute("SELECT COUNT(*), SUM(v) FROM t").fetchone()
    con.close()
    assert (n, vsum) == (100, 9900)


def test_conflict_sql_dialects():
    from nytimes_batch_processor_spark.sinks import conflict_ignore_sql

    assert conflict_ignore_sql("t", ["a", "b"], ["a"]) == (
        "INSERT OR IGNORE INTO t (a, b) VALUES (?, ?)"
    )
    assert conflict_ignore_sql("t", ["a", "b"], ["a"], paramstyle="pyformat") == (
        "INSERT INTO t (a, b) VALUES (%s, %s) ON CONFLICT (a) DO NOTHING"
    )


def test_create_covid_tables_idempotent(spark):
    from nytimes_batch_processor_spark.tables import create_covid_tables

    names = ("t_states_ddl_test", "t_counties_ddl_test")
    try:
        create_covid_tables(spark, *names)
        create_covid_tables(spark, *names)  # IF NOT EXISTS: re-run is a no-op
        for n in names:
            assert spark.catalog.tableExists(n)
        spark.sql(
            f"INSERT INTO {names[0]} VALUES ('Washington', 53, 1, 0, DATE'2020-01-21')"
        )
        got = spark.table(names[0]).collect()
        assert len(got) == 1
        row = got[0].asDict()
        assert row["state"] == "Washington" and row["cases"] == 1
        assert str(row["date"]) == "2020-01-21"
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_compact_parquet_preserves_data(spark, tmp_path):
    """Compaction: many small files -> few, byte-identical content,
    original safely swapped out."""
    import os

    from nytimes_batch_processor_spark.tables import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(10_000).selectExpr("id", "id % 7 AS g").repartition(40).write.parquet(path)
    before_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before_files) >= 30
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())

    n_after = compact_parquet(spark, path, target_partitions=4)
    assert n_after <= 4
    after = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after == before
    assert not os.path.exists(str(tmp_path / ".frag._swap_old"))
    assert not os.path.exists(str(tmp_path / ".frag._swap_new"))


def test_compact_parquet_recovers_from_crashed_run(spark, tmp_path):
    """Stale '._swap_new'/'._swap_old' leftovers from a killed run
    must not wedge every later compaction (rename-to-existing returns
    false); and a crash BETWEEN the two swap renames (live data sitting
    at ._swap_old, nothing at path) must be restored, not deleted."""
    import os
    import shutil

    from nytimes_batch_processor_spark.tables import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(1_000).selectExpr("id").repartition(10).write.parquet(path)
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())

    # Case 1: both temp dirs left behind alongside intact live data.
    os.makedirs(str(tmp_path / ".frag._swap_new/junk"))
    shutil.copytree(path, str(tmp_path / ".frag._swap_old"))
    compact_parquet(spark, path, target_partitions=2)
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(str(tmp_path / ".frag._swap_old"))
    assert not os.path.exists(str(tmp_path / ".frag._swap_new"))

    # Case 2: crash between the renames — data only at ._swap_old.
    os.rename(path, str(tmp_path / ".frag._swap_old"))
    compact_parquet(spark, path, target_partitions=2)
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(str(tmp_path / ".frag._swap_old"))


def test_save_as_managed_table_roundtrip(spark):
    from nytimes_batch_processor_spark.tables import save_as_managed_table

    df = spark.range(10).selectExpr("id", "id % 3 AS g")
    try:
        save_as_managed_table(df, "t_managed_roundtrip")
        back = spark.table("t_managed_roundtrip")
        assert back.count() == 10
        save_as_managed_table(df.filter("id < 5"), "t_managed_roundtrip")  # replace
        assert spark.table("t_managed_roundtrip").count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS t_managed_roundtrip")


def test_compact_parquet_preserves_partition_layout(spark, tmp_path):
    """Compacting a date-partitioned target must re-emit date= dirs —
    a flat rewrite would collide with the next partitioned append
    ('Conflicting directory structures') and lose partition pruning."""
    import os

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.ingest import upsert_append
    from nytimes_batch_processor_spark.tables import (
        compact_parquet,
        detect_partition_columns,
    )

    path = str(tmp_path / "covid_frag")
    base = spark.range(300).select(
        F.expr("date_add(DATE'2020-01-01', CAST(id % 3 AS INT))").alias("date"),
        F.concat(F.lit("S"), (F.col("id") % 7).cast("string")).alias("state"),
        F.col("id").cast("int").alias("fips"),
        F.col("id").alias("cases"),
        F.lit(0).cast("long").alias("deaths"),
    )
    # fragment: several appends, many files per date= dir
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        base.filter((F.col("cases") >= lo) & (F.col("cases") < hi)).write.mode(
            "append"
        ).partitionBy("date").parquet(path)
    assert detect_partition_columns(spark, path) == ["date"]
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    n_after = compact_parquet(spark, path, target_partitions=4)
    assert n_after <= 3  # one file per date= dir
    date_dirs = [d for d in os.listdir(path) if d.startswith("date=")]
    assert len(date_dirs) == 3, f"partition layout lost: {os.listdir(path)}"
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before

    # the exact workload the docstring cites: a partitioned append AFTER
    # compaction must still read cleanly (no mixed/conflicting layout)
    day4 = base.limit(10).withColumn("date", F.lit("2020-01-04").cast("date"))
    upsert_append(day4, path, ["date", "state", "fips"])
    assert spark.read.parquet(path).select("date").distinct().count() == 4


def test_json_lines_roundtrip_and_quarantine(spark, tmp_path):
    """JSON-lines source/sink with an EXPLICIT schema (never inference —
    an inference pass is a full extra scan at 100 TB), plus PERMISSIVE
    corrupt-record quarantine, mirroring the CSV path's E1 semantics."""
    from pyspark.sql import functions as F

    df = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("g"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("name"),
    )
    path = str(tmp_path / "events_json")
    df.write.mode("overwrite").json(path)

    schema = "k LONG, g INT, name STRING"
    back = spark.read.schema(schema).json(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # corrupt line lands in the quarantine column, good rows survive
    with open(f"{path}/zz_bad.json", "w") as f:
        f.write('{"k": 999, "g": 1, "name": "ok"}\n')
        f.write("{not json at all\n")
    q = (
        spark.read.schema(schema + ", _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()
    good = q.filter(F.col("_corrupt_record").isNull())
    bad = q.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 51
    assert bad.count() == 1
    q.unpersist()


def test_compact_parquet_two_level_partitions(spark, tmp_path):
    """Nested partition layout (region=/date=) must survive compaction
    with both levels intact."""
    import os

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import (
        compact_parquet,
        detect_partition_columns,
    )

    path = str(tmp_path / "two_level")
    df = spark.range(120).select(
        (F.col("id") % 2).cast("string").alias("region"),
        F.expr("date_add(DATE'2020-01-01', CAST(id % 3 AS INT))").alias("date"),
        F.col("id").alias("v"),
    )
    for _ in range(3):  # fragment
        df.write.mode("append").partitionBy("region", "date").parquet(path)
    assert detect_partition_columns(spark, path) == ["region", "date"]
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    compact_parquet(spark, path, target_partitions=2)
    assert sorted(d for d in os.listdir(path) if d.startswith("region=")) == [
        "region=0", "region=1",
    ]
    inner = os.listdir(f"{path}/region=0")
    assert sorted(d for d in inner if d.startswith("date=")) == [
        "date=2020-01-01", "date=2020-01-02", "date=2020-01-03",
    ]
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before


def test_delete_rows_partition_scoped(spark, tmp_path):
    """Takedown delete: matching rows vanish, ONLY affected partitions
    are rewritten (untouched partitions keep byte-identical files), and
    the partition column remains usable in the predicate."""
    import os

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import delete_rows_partition_scoped

    path = str(tmp_path / "docs_by_day")
    df = spark.range(90).select(
        F.expr("date_add(DATE'2020-01-01', CAST(id % 3 AS INT))").alias("date"),
        F.col("id").alias("doc_id"),
    )
    df.write.partitionBy("date").parquet(path)

    def snapshot(day):
        d = f"{path}/date={day}"
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    untouched_before = snapshot("2020-01-02")

    # delete two docs that live only in the 2020-01-01 partition
    n = delete_rows_partition_scoped(
        spark, path, "date",
        (F.col("doc_id").isin(0, 3)) & (F.col("date") == "2020-01-01"),
    )
    assert n == 2
    back = spark.read.parquet(path)
    assert back.count() == 88
    assert back.filter(F.col("doc_id").isin(0, 3)).count() == 0
    assert snapshot("2020-01-02") == untouched_before, "untouched partition was rewritten"
    # partition layout intact for subsequent partitioned appends
    assert sorted(d for d in os.listdir(path) if d.startswith("date=")) == [
        "date=2020-01-01", "date=2020-01-02", "date=2020-01-03",
    ]


def test_drop_partitions_older_than(spark, tmp_path):
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import drop_partitions_older_than

    path = str(tmp_path / "retention")
    df = spark.range(30).select(
        F.expr("date_add(DATE'2020-01-01', CAST(id % 5 AS INT))").alias("date"),
        F.col("id").alias("v"),
    )
    df.write.partitionBy("date").parquet(path)
    dropped = drop_partitions_older_than(spark, path, "date", "2020-01-03")
    assert sorted(dropped) == ["2020-01-01", "2020-01-02"]
    back = spark.read.parquet(path)
    assert back.select("date").distinct().count() == 3
    assert back.count() == 18


def test_delete_rows_keeps_null_predicate_rows(spark, tmp_path):
    """Three-valued logic: rows where the takedown predicate evaluates
    to NULL must be KEPT — a takedown removes only rows that provably
    match. Also covers percent-escaped and NULL partition values (the
    physical dirs come from input_file_name, never re-interpolation)."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import delete_rows_partition_scoped

    path = str(tmp_path / "docs_by_src")
    df = spark.createDataFrame(
        [
            ("a b", 1, "alice"),
            ("a b", 2, None),       # author NULL: predicate NULL -> keep
            ("a b", 3, "mallory"),
            (None, 4, "mallory"),   # NULL partition value
            ("plain", 5, "bob"),
        ],
        "src string, doc_id int, author string",
    )
    df.write.partitionBy("src").parquet(path)

    n = delete_rows_partition_scoped(
        spark, path, "src", F.col("author") == "mallory"
    )
    assert n == 2, n
    back = spark.read.parquet(path)
    remaining = {(r["doc_id"], r["author"]) for r in back.collect()}
    assert remaining == {(1, "alice"), (2, None), (5, "bob")}, remaining
    # escaped partition dir (src='a b' -> src=a%20b) survived the rewrite
    assert back.filter(F.col("src") == "a b").count() == 2


@pytest.mark.parametrize("scheme", ["s3a://bk", "hdfs://nn:8020", "file://"])
def test_literal_dir_names_the_partition_dir_on_any_scheme(spark, scheme):
    """``input_file_name()`` quotes a dir named ``src=a b`` as
    ``src=a%20b``. Hadoop ``Path`` does not decode a string, so the
    delete must hand it the literal name on every scheme: a re-quoted
    ``src=a%20b`` would address a dir whose name is ``src=a%2520b``."""
    from nytimes_batch_processor_spark.tables import _literal_dir

    d = _literal_dir(f"{scheme}/x/src=a%20b/part-0.parquet")
    path = spark._jvm.org.apache.hadoop.fs.Path(d)
    assert path.getName() == "src=a b"
    assert path.getParent().toUri().getPath() == "/x"


def test_save_as_managed_table_catalog_qualified(spark):
    """3-part identifiers (catalog.db.table) must work — Spark accepts
    them, so the orphan-cleanup path derivation must too."""
    from nytimes_batch_processor_spark.tables import save_as_managed_table

    df = spark.range(4).selectExpr("id")
    try:
        save_as_managed_table(df, "spark_catalog.default.t_cat_qualified")
        assert spark.table("spark_catalog.default.t_cat_qualified").count() == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.t_cat_qualified")


def test_compact_parquet_preserves_stringy_partition_values(spark, tmp_path):
    """Zero-padded string partition values must survive compaction
    verbatim: type inference would rewrite fips=00123 as fips=123 —
    silently renaming the partition."""
    import os

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import compact_parquet

    path = str(tmp_path / "padded")
    df = spark.createDataFrame(
        [("00123", 1), ("00123", 2), ("451", 3)], "fips string, v int"
    )
    for _ in range(2):
        df.write.mode("append").partitionBy("fips").parquet(path)
    compact_parquet(spark, path, target_partitions=2)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("fips="))
    assert dirs == ["fips=00123", "fips=451"], dirs
    back = spark.read.option("mergeSchema", "false").parquet(path)
    assert back.filter(F.col("fips") == "00123").count() == 4


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Parquet-footer arithmetic proof of the Z-order claim: after
    `write_zordered(lineitem, (l_partkey, l_suppkey))`, the fraction of
    row groups whose min/max envelope intersects a selective box is
    small for BOTH dimensions, while a linear sort on l_partkey prunes
    only its leading column (a suppkey-only predicate must visit ~every
    row group there). This is exactly the stats the scan's row-group
    skipping consumes — measured from the written footers, no Spark
    internals."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.sources import load_tables
    from nytimes_batch_processor_spark.tables import write_zordered

    t = load_tables(spark, sf_dir, "lineitem")
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(t.lineitem, zpath, "l_partkey", "l_suppkey", n_files=32)
    (
        t.lineitem.repartitionByRange(32, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def envelopes(path):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                sp = g.column(names["l_partkey"]).statistics
                ss = g.column(names["l_suppkey"]).statistics
                out.append(((sp.min, sp.max), (ss.min, ss.max)))
        return out

    def frac_hit(envs, p_box=None, s_box=None):
        def hit(lo_hi, box):
            return box is None or (lo_hi[0] <= box[1] and lo_hi[1] >= box[0])

        n = sum(1 for p, s in envs if hit(p, p_box) and hit(s, s_box))
        return n / len(envs)

    zenv, lenv = envelopes(zpath), envelopes(lpath)
    assert len(zenv) >= 16 and len(lenv) >= 16

    # boxes as fractions of the actual key ranges, so the test holds at
    # any scale factor (sf0.001's suppkey span is 0-9, sf0.01's 0-99)
    b = t.lineitem.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    p_span, s_span = b[1] - b[0], b[3] - b[2]
    p_box = (b[0] + p_span * 0.05, b[0] + p_span * 0.15)
    s_box = (b[2] + s_span * 0.10, b[2] + s_span * 0.40)
    # suppkey-only predicate: linear-on-partkey layout cannot prune it
    lin_s = frac_hit(lenv, s_box=s_box)
    z_s = frac_hit(zenv, s_box=s_box)
    assert lin_s >= 0.9, f"linear layout unexpectedly pruned suppkey: {lin_s}"
    assert z_s <= 0.75 * lin_s, f"zorder suppkey pruning too weak: {z_s} vs {lin_s}"
    # 2-D box: zorder prunes to a small cell neighborhood
    z_box = frac_hit(zenv, p_box=p_box, s_box=s_box)
    assert z_box <= 0.5, f"zorder 2-D box pruning too weak: {z_box}"
    # content survives the rewrite (multiset checksum)
    orig = t.lineitem.agg(
        F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_linenumber")
    ).first()
    back = (
        spark.read.parquet(zpath)
        .agg(F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_linenumber"))
        .first()
    )
    assert tuple(orig) == tuple(back)


def _merge_fixture(spark, path):
    from pyspark.sql import functions as F

    df = spark.range(12).select(
        F.concat(F.lit("2020-0"), (F.col("id") % 3 + 1).cast("string")).alias("month"),
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("double").alias("v"),
    )
    df.write.partitionBy("month").parquet(path)


def test_merge_into_partitioned_upsert_delete_one_pass(spark, tmp_path):
    """One MERGE batch: in-place update, cross-partition move, delete,
    and brand-new key into a brand-new partition — while untouched
    partitions keep byte-identical files."""
    import os

    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    # layout: month=2020-01 holds k=0,3,6,9; -02 k=1,4,7,10; -03 k=2,5,8,11

    def snapshot(month):
        d = f"{path}/month={month}"
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    untouched_before = snapshot("2020-03")

    changes = spark.createDataFrame(
        [
            ("2020-01", 0, 999.0, "upsert"),   # in-place update
            ("2020-02", 3, 333.0, "upsert"),   # moves from -01 to -02
            (None, 6, None, "delete"),         # delete from -01
            ("2020-04", 100, 1.0, "upsert"),   # new key, NEW partition
        ],
        "month string, k long, v double, op string",
    )
    stats = merge_into_partitioned(
        spark, path, changes, keys=["k"], partition_col="month"
    )
    assert stats == {
        "partitions_rewritten": 3,  # -01, -02, -04
        "partitions_deleted": 0,
        "rows_upserted": 3,
        "rows_deleted": 1,
    }, stats
    back = spark.read.parquet(path)
    got = {(r["k"], r["month"], r["v"]) for r in back.collect()}
    assert (0, "2020-01", 999.0) in got          # updated in place
    assert (3, "2020-02", 333.0) in got          # moved partition
    assert not any(k == 6 for k, _, _ in got)    # deleted
    assert (100, "2020-04", 1.0) in got          # inserted, new dir
    assert back.count() == 12  # 12 - 1 delete + 1 insert... minus move netting
    assert snapshot("2020-03") == untouched_before, "untouched partition rewritten"


def test_merge_into_partitioned_empties_partition(spark, tmp_path):
    """Deleting (or moving away) EVERY row of a partition must remove
    its directory — the edge dynamic partition overwrite gets wrong,
    where no output row means the stale files silently survive."""
    import os

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)

    # month=2020-01 holds exactly k=0,3,6,9: delete three, move one out
    changes = spark.createDataFrame(
        [
            (None, 0, None, "delete"),
            (None, 3, None, "delete"),
            (None, 6, None, "delete"),
            ("2020-02", 9, 90.0, "upsert"),
        ],
        "month string, k long, v double, op string",
    )
    stats = merge_into_partitioned(
        spark, path, changes, keys=["k"], partition_col="month"
    )
    assert stats["partitions_deleted"] == 1, stats
    assert stats["rows_deleted"] == 3, stats
    assert not os.path.exists(f"{path}/month=2020-01")
    back = spark.read.parquet(path)
    assert back.count() == 9
    assert back.filter(F.col("month") == "2020-01").count() == 0
    assert back.filter((F.col("k") == 9) & (F.col("month") == "2020-02")).count() == 1


def test_merge_into_partitioned_rejects_unknown_op(spark, tmp_path):
    import pytest as _pytest

    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    changes = spark.createDataFrame(
        [("2020-01", 0, 1.0, "merge")], "month string, k long, v double, op string"
    )
    with _pytest.raises(ValueError, match="unknown 'op' values"):
        merge_into_partitioned(spark, path, changes, keys=["k"], partition_col="month")


def _file_stamps(root):
    return {
        os.path.relpath(os.path.join(d, f), root): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.mark.parametrize("op", ["upsert", "delete"])
def test_merge_refuses_null_key_part_before_any_write(spark, tmp_path, op):
    """The merge's equi-joins never match NULL: an upsert of
    ``("2020-01-01", NULL)`` kept the base row it should replace (both
    rows left, ``rows_upserted`` 1) and a NULL-key delete removed
    nothing. The batch now fails before any write."""
    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    spark.createDataFrame(
        [("2020-01-01", None, 1.0), ("2020-01-01", 1, 2.0)],
        "date string, k long, v double",
    ).write.partitionBy("date").parquet(path)
    before = _file_stamps(path)
    changes = spark.createDataFrame(
        [("2020-01-01", None, 9.0 if op == "upsert" else None, op)],
        "date string, k long, v double, op string",
    )
    with pytest.raises(ValueError, match="NULL key part in \\(date, k\\)"):
        merge_into_partitioned(
            spark, path, changes, keys=["date", "k"], partition_col="date"
        )
    assert _file_stamps(path) == before
    assert {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()} == {
        (None, 1.0), (1, 2.0)
    }


def test_delete_restores_orphaned_predelete_aside(spark, tmp_path):
    """The delete-path twin of the merge heal (self-review r11): a crash
    between the aside-rename and the promote leaves the dot-prefixed
    `.date=<val>._swap_old` dir as the partition's ONLY copy. The next
    delete — whatever it targets — must restore it first; stray
    `._swap_new` rewrite outputs (recomputable) are dropped."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import delete_rows_partition_scoped

    path = str(tmp_path / "docs_by_day")
    spark.range(90).select(
        F.expr("date_add(DATE'2020-01-01', CAST(id % 3 AS INT))").alias("date"),
        F.col("id").alias("doc_id"),
    ).write.partitionBy("date").parquet(path)
    before_01 = {
        r["doc_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("date") == "2020-01-01")
        .collect()
    }
    # simulate the mid-swap crash: partition parked aside, target gone,
    # plus an abandoned rewrite-output temp dir
    shutil.move(f"{path}/date=2020-01-01", f"{path}/.date=2020-01-01._swap_old")
    os.makedirs(f"{path}/.date=2020-01-01._swap_new")

    n = delete_rows_partition_scoped(
        spark, path, "date",
        (F.col("doc_id") == 1) & (F.col("date") == "2020-01-02"),
    )
    assert n == 1
    assert not os.path.exists(f"{path}/.date=2020-01-01._swap_old")
    assert not os.path.exists(f"{path}/.date=2020-01-01._swap_new")
    restored = {
        r["doc_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("date") == "2020-01-01")
        .collect()
    }
    assert restored == before_01, "orphaned pre-delete partition lost rows"


def test_delete_aside_dirs_never_surface_as_partitions(spark, tmp_path):
    """The swap's aside/tmp siblings are dot-prefixed: even with a
    parked copy present mid-crash, partition discovery must not read it
    as a bogus `date=...._swap_old` partition (the old non-dot names
    did exactly that)."""
    import shutil

    from pyspark.sql import functions as F

    path = str(tmp_path / "docs_by_day")
    spark.range(30).select(
        F.expr("date_add(DATE'2020-01-01', CAST(id % 3 AS INT))").alias("date"),
        F.col("id").alias("doc_id"),
    ).write.partitionBy("date").parquet(path)
    # a parked copy AND the target present (the post-promote crash state)
    shutil.copytree(f"{path}/date=2020-01-01", f"{path}/.date=2020-01-01._swap_old")
    back = spark.read.parquet(path)
    assert back.count() == 30, "dot-prefixed aside dir leaked into the scan"
    assert back.select("date").distinct().count() == 3


def test_merge_restores_orphaned_premerge_aside(spark, tmp_path):
    """ADVICE r10 (medium): a crash between the aside-rename and the
    promote leaves `.month=<val>._swap_old` as the ONLY copy of that
    partition (target dir missing). The next merge — even one touching
    OTHER partitions — must restore it before reading the base, never
    delete it as residue."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    before_01 = {
        tuple(r)
        for r in spark.read.parquet(path).filter(F.col("month") == "2020-01").collect()
    }
    # simulate the mid-swap crash: partition parked aside, target gone
    shutil.move(f"{path}/month=2020-01", f"{path}/.month=2020-01._swap_old")
    assert not os.path.exists(f"{path}/month=2020-01")

    # a merge touching a DIFFERENT partition heals the orphan first
    changes = spark.createDataFrame(
        [("2020-02", 1, 111.0, "upsert")], "month string, k long, v double, op string"
    )
    merge_into_partitioned(spark, path, changes, keys=["k"], partition_col="month")
    assert not os.path.exists(f"{path}/.month=2020-01._swap_old")
    after = spark.read.parquet(path)
    restored_01 = {
        tuple(r) for r in after.filter(F.col("month") == "2020-01").collect()
    }
    assert restored_01 == before_01, "orphaned pre-merge partition lost rows"
    assert after.filter((F.col("k") == 1) & (F.col("v") == 111.0)).count() == 1


def test_merge_heals_aside_touching_same_partition(spark, tmp_path):
    """The same crash state, healed by a merge whose batch TOUCHES the
    parked partition: the restored rows must participate in the merge
    (the old bug deleted the aside — the partition's only copy — and
    then merged against an empty base)."""
    import shutil

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    shutil.move(f"{path}/month=2020-01", f"{path}/.month=2020-01._swap_old")

    # month=2020-01 held k=0,3,6,9; update k=0, the rest must survive
    changes = spark.createDataFrame(
        [("2020-01", 0, 999.0, "upsert")], "month string, k long, v double, op string"
    )
    merge_into_partitioned(spark, path, changes, keys=["k"], partition_col="month")
    got = {
        (r["k"], r["v"])
        for r in spark.read.parquet(path).filter(F.col("month") == "2020-01").collect()
    }
    assert got == {(0, 999.0), (3, 30.0), (6, 60.0), (9, 90.0)}, got


def test_merge_removes_aside_residue_when_target_present(spark, tmp_path):
    """The OTHER crash point — after the promote, before the aside
    cleanup: target holds the new version, the aside duplicates
    superseded rows. The heal must drop the aside and keep the target."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    # fabricate residue: a stale COPY parked aside, target still present
    shutil.copytree(f"{path}/month=2020-01", f"{path}/.month=2020-01._swap_old")

    changes = spark.createDataFrame(
        [("2020-02", 1, 111.0, "upsert")], "month string, k long, v double, op string"
    )
    merge_into_partitioned(spark, path, changes, keys=["k"], partition_col="month")
    assert not os.path.exists(f"{path}/.month=2020-01._swap_old")
    back = spark.read.parquet(path)
    assert back.filter(F.col("month") == "2020-01").count() == 4  # no dup rows


def test_delete_crash_residue_survives_a_merge_then_a_delete(spark, tmp_path):
    """Crash residue is healed by whichever rewrite runs next, not only
    by the operation that left it: a partition parked mid-swap by a
    crashed delete must be restored by a following merge — so the
    merge upserts INTO the restored rows — and must still be whole
    after the next delete."""
    import shutil

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import (
        delete_rows_partition_scoped,
        merge_into_partitioned,
    )

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    # month=2020-01 held k=0,3,6,9: park it as a crashed swap leaves it
    shutil.move(f"{path}/month=2020-01", f"{path}/.month=2020-01._swap_old")

    changes = spark.createDataFrame(
        [("2020-01", 0, 999.0, "upsert")], "month string, k long, v double, op string"
    )
    merge_into_partitioned(spark, path, changes, keys=["k"], partition_col="month")
    delete_rows_partition_scoped(spark, path, "month", F.col("k") == 1)
    got = {
        (r["k"], r["v"])
        for r in spark.read.parquet(path).filter(F.col("month") == "2020-01").collect()
    }
    assert got == {(0, 999.0), (3, 30.0), (6, 60.0), (9, 90.0)}, got


def test_compact_parquet_restores_a_parked_partition(spark, tmp_path):
    """A whole-tree compaction heals per-partition crash residue before
    it reads: a partition parked mid-swap is restored and compacted,
    never moved aside with the old tree and deleted."""
    import shutil

    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.tables import compact_parquet

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    shutil.move(f"{path}/month=2020-01", f"{path}/.month=2020-01._swap_old")

    compact_parquet(spark, path, 2)
    got = {
        (r["k"], r["v"])
        for r in spark.read.parquet(path).filter(F.col("month") == "2020-01").collect()
    }
    assert got == {(0, 0.0), (3, 30.0), (6, 60.0), (9, 90.0)}, got


def test_merge_into_partitioned_idempotent_replay(spark, tmp_path):
    """Replaying the same CDC batch is a no-op on the table state — the
    reference's O3 idempotency contract carried to in-place merges."""
    from nytimes_batch_processor_spark.tables import merge_into_partitioned

    path = str(tmp_path / "facts")
    _merge_fixture(spark, path)
    changes = spark.createDataFrame(
        [
            ("2020-01", 0, 999.0, "upsert"),
            (None, 6, None, "delete"),
        ],
        "month string, k long, v double, op string",
    )
    merge_into_partitioned(spark, path, changes, keys=["k"], partition_col="month")
    first = {tuple(r) for r in spark.read.parquet(path).collect()}
    stats = merge_into_partitioned(
        spark, path, changes, keys=["k"], partition_col="month"
    )
    assert stats["rows_deleted"] == 0  # already gone
    second = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert first == second


def test_index_compaction_preserves_probe_results(spark, sf_dir, tmp_path):
    """Maintenance path for the incremental indexes (VERDICT r11
    item 2): admission appends accrete one small file-set per batch, so
    both index layouts get a compaction wrapper over compact_parquet.
    The contract pinned here: after build + TWO appends, compaction
    (a) leaves the probe result set BYTE-IDENTICAL (same rows, same
    values — compaction repacks files, never rows), (b) reduces the
    data-file count, and (c) for the IVF index, preserves the ``cell=``
    partition layout (the DPP-pruned probe join depends on it) and
    reports occupancy skew within IVF_MAX_CELL_SHARE."""
    from nytimes_batch_processor_spark.operators.dedup import (
        _band_hash_cols,
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        minhash_signatures,
        probe_minhash_index,
    )
    from nytimes_batch_processor_spark.operators.similarity import (
        IVF_MAX_CELL_SHARE,
        _as_double,
        _norm,
        append_to_ivf_index,
        build_ivf_parquet_index,
        compact_ivf_index,
        probe_ivf_index,
    )

    def n_files(p):
        return sum(
            1
            for root, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    # --- MinHash (flat layout) ---
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh_path = str(tmp_path / "mh_index")
    build_minhash_index(docs.filter(F.col("doc_id") % 10 > 2), mh_path)
    append_to_minhash_index(docs.filter(F.col("doc_id") % 10 == 1), mh_path)
    append_to_minhash_index(docs.filter(F.col("doc_id") % 10 == 2), mh_path)
    batch = (
        minhash_signatures(
            docs.filter(F.col("doc_id") % 10 == 0), "doc_id", "text"
        )
        .select("doc_id", "sig", *_band_hash_cols())
        .localCheckpoint(eager=True)
    )

    def mh_probe():
        return sorted(
            (r["doc_id"], r["canon_id"])
            for r in probe_minhash_index(
                spark.read.parquet(mh_path), batch
            ).collect()
        )

    before_rows, before_files = mh_probe(), n_files(mh_path)
    assert before_files >= 3, "build + 2 appends must accrete file-sets"
    n_after = compact_minhash_index(spark, mh_path, target_files=1)
    assert n_after < before_files
    assert n_files(mh_path) == n_after
    assert mh_probe() == before_rows, "compaction changed probe results"

    # --- IVF (cell-partitioned layout) ---
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf_path = str(tmp_path / "ivf_index")
    build_ivf_parquet_index(emb.filter(F.col("vec_id") % 10 > 2), ivf_path)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == 1), ivf_path)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == 2), ivf_path)
    qbatch = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
        .withColumn("nrm", _norm(F.col("e")))
        .localCheckpoint(eager=True)
    )

    def ivf_probe():
        return sorted(
            (r["qid"], r["nn_id"], r["cos_raw"])
            for r in probe_ivf_index(
                spark.read.parquet(ivf_path), qbatch
            ).collect()
        )

    before_rows, before_files = ivf_probe(), n_files(ivf_path)
    assert before_files >= 3
    stats = compact_ivf_index(spark, ivf_path)
    assert stats["n_files"] < before_files
    assert ivf_probe() == before_rows, "compaction changed probe results"
    # layout + occupancy: cell= dirs intact, skew within the bound
    assert any(d.startswith("cell=") for d in os.listdir(ivf_path)), (
        "compaction flattened the cell partitioning"
    )
    assert stats["occupancy_ok"], (
        f"post-compaction occupancy {stats['max_cell_share']:.3f} exceeds "
        f"{IVF_MAX_CELL_SHARE}"
    )


def test_managed_table_dir_matches_catalog_normalization(spark):
    """ADVICE r17 #2 (closed r18): saveAsTable lowercases identifiers,
    so a mixed-case caller name must resolve to the SAME directory the
    catalog actually writes — otherwise sidecar artifacts
    (`_centroids.json`) land outside the table dir and the orphan
    cleanup / scan-invisibility assumptions break."""
    import os

    from nytimes_batch_processor_spark.tables import (
        managed_table_dir,
        write_bucketed,
    )

    name = "MixedCaseSidecarProbe"
    df = spark.createDataFrame([(1, 2)], "k long, v long")
    write_bucketed(df, name, "k", 2)
    try:
        d = managed_table_dir(spark, name)
        assert d == managed_table_dir(spark, name.lower())
        assert os.path.isdir(d), d  # the dir saveAsTable really used
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _truncate(path):
    """Cut a file written through the Hadoop FS to half its bytes, as a
    torn write leaves it (the stale ``.crc`` goes with it)."""
    size = os.path.getsize(path)
    with open(path, "r+b") as f:
        f.truncate(size // 2)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


@pytest.mark.parametrize("artifact", ["ivf", "semdedup", "bpe", "lm"])
def test_truncated_sidecar_raises(spark, tmp_path, artifact):
    """A sidecar that exists but does not parse raises in every loader.
    The IVF loader's fixed-centroid fallback is for a missing sidecar
    only: on a trained index it would probe the wrong cells."""
    from nytimes_batch_processor_spark.operators import similarity as S
    from nytimes_batch_processor_spark.operators import text as X
    from nytimes_batch_processor_spark.tables import managed_table_dir

    centers = [[0.5, -0.25], [1.0, 2.0]]
    if artifact == "ivf":
        d = str(tmp_path / "ivf")
        S.save_ivf_centers(spark, d, centers)
        side, load = f"{d}/_centroids.json", lambda: S.load_ivf_centers(spark, d)
    elif artifact == "semdedup":
        d = managed_table_dir(spark, "truncated_semdedup_probe")
        S.save_ivf_centers(spark, d, centers)
        side = f"{d}/_centroids.json"
        load = lambda: S.load_semdedup_centers(spark, "truncated_semdedup_probe")  # noqa: E731
    elif artifact == "bpe":
        d = str(tmp_path / "bpe")
        X.save_bpe_tokenizer(spark, d, [("a", "b"), ("ab", "c")], provenance=(2, 9))
        side, load = f"{d}/_bpe_tokenizer.json", lambda: X.load_bpe_tokenizer(spark, d)
    else:
        name = "truncated_lm_probe"
        lm = (
            spark.createDataFrame([("a", "b", 1)], "w1 string, w2 string, cb long"),
            spark.createDataFrame([("a", 1)], "w1 string, cl long"),
            spark.range(1).selectExpr("2L AS v"),
        )
        X.save_perplexity_lm(spark, name, lm, n_buckets=2)
        side = f"{managed_table_dir(spark, name + '_bigrams')}/_lm_meta.json"
        load = lambda: X.load_perplexity_lm(spark, name)  # noqa: E731
    try:
        load()  # intact: loads
        _truncate(side)
        with pytest.raises(ValueError):
            load()
    finally:
        if artifact == "semdedup":
            import shutil

            shutil.rmtree(d, ignore_errors=True)
        if artifact == "lm":
            for suffix in ("_bigrams", "_contexts"):
                spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


def test_spread_for_python_listing_probe(spark, tmp_path):
    """ADVICE r17 #1 (closed r18): the parallelism guard probes scan
    width via inputFiles() — a one-file parquet scan fans out to
    session parallelism, a many-file scan passes through IDENTICALLY
    (object identity: zero added exchange), and the probe never
    executes the plan (no .rdd materialization under AQE)."""
    from nytimes_batch_processor_spark.functions.udfs import (
        spread_for_python,
    )

    sc = spark.sparkContext
    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one).select("id")
    spread = spread_for_python(narrow)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism

    many = str(tmp_path / "many")
    spark.range(1000).repartition(sc.defaultParallelism).write.parquet(many)
    wide = spark.read.parquet(many).select("id")
    assert spread_for_python(wide) is wide  # untouched, not re-planned


def test_spread_for_python_estimates_splits_from_bytes(spark, tmp_path):
    """ADVICE r18 #1: raw file COUNT under-estimates scan width because
    Spark splits large parquet files — one file whose byte size packs
    into >= parallelism splits must pass through UNTOUCHED (the old
    count-only probe round-robin-repartitioned the whole frame), and a
    non-file-rooted frame must pass through rather than risk shrinking
    a wider shuffled frame to defaultParallelism."""
    from nytimes_batch_processor_spark.functions.udfs import (
        spread_for_python,
    )

    one = str(tmp_path / "one_big")
    spark.range(50_000).coalesce(1).write.parquet(one)
    big = spark.read.parquet(one).select("id")
    # shrink the split knobs so this one modest file estimates as many
    # splits — the few-large-files production shape at test scale
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "128")
        assert spread_for_python(big) is big  # est splits >= parallelism
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    # with default (128 MiB) knobs the same file is genuinely one
    # split, so the guard still fans it out
    assert spread_for_python(big) is not big

    # non-file-rooted with a shuffle in the plan: its width is already
    # the session shuffle-partition count — never repartitioned (a
    # round-robin here could only SHRINK a wider frame)
    local = spark.createDataFrame([(1, 1), (2, 1)], "k long, v long")
    agg = local.groupBy("k").count()
    assert spread_for_python(agg) is agg
    # ... while a NARROW single-slice local frame still fans out (the
    # degenerate case the guard exists for — the r17 spec, unchanged)
    narrow_local = local.coalesce(1)
    spread_local = spread_for_python(narrow_local)
    assert spread_local is not narrow_local


def test_spread_for_python_walks_plan_nodes(spark):
    """ADVICE r19 #1: the no-files classifier must read the analyzed
    plan's NODE names, not a regex over its string render — (a) a
    narrow local frame whose column alias collides with a plan-node
    word (`Join`) still fans out, and (b) a grouped-map
    (FlatMapGroupsInPandas) frame — shuffle-inducing but absent from
    the old blacklist — passes through untouched instead of falling to
    the `.rdd` width probe (the double-execution trap under AQE)."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.functions.udfs import (
        spread_for_python,
    )

    sc = spark.sparkContext
    local = spark.createDataFrame([(1, 1), (2, 1)], "k long, v long")
    aliased = local.coalesce(1).select(F.col("v").alias("Join"))
    spread = spread_for_python(aliased)
    assert spread is not aliased  # narrow + single slice: must fan out
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism

    def _ident(pdf):
        return pdf

    grouped = local.groupBy("k").applyInPandas(_ident, "k long, v long")
    assert spread_for_python(grouped) is grouped  # no probe, no spread
