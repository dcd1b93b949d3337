"""Ingest pipeline tests: the reference's W3/O3/O4 guarantees
(first-write-wins keyed dedup, idempotent re-runs, null-fips sentinel)."""

from __future__ import annotations

import pytest

STATES_CSV = """date,state,fips,cases,deaths
2020-01-21,Washington,53,1,0
2020-01-22,Washington,53,2,0
2020-01-22,Washington,53,999,999
2020-01-22,Illinois,17,1,0
2020-12-31,Guam,,100,2
2020-12-31,Guam,,555,5
"""

STATES_CSV_DAY2 = """date,state,fips,cases,deaths
2020-01-22,Washington,53,777,777
2020-01-23,Washington,53,3,1
2020-12-31,Guam,,777,7
2021-01-01,Guam,,101,2
"""


@pytest.fixture()
def staging(tmp_path):
    d = tmp_path / "drops"
    d.mkdir()
    return d


def _write(path, name, content):
    f = path / name
    f.write_text(content)
    return str(f)


def test_ingest_first_write_wins_and_idempotent(spark, tmp_path, staging):
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    target = str(tmp_path / "covid_states")
    src1 = _write(staging, "day1.csv", STATES_CSV)

    ingest_covid_csv(spark, src1, target, has_county=False)
    out1 = spark.read.parquet(target)
    rows = {(str(r["date"]), r["state"], r["fips"]): (r["cases"], r["deaths"]) for r in out1.collect()}
    # in-batch duplicate key (2020-01-22, Washington, 53): first row wins
    assert rows[("2020-01-22", "Washington", 53)] == (2, 0)
    # null fips -> -1 sentinel participates in the key (P5)
    assert rows[("2020-12-31", "Guam", -1)] == (100, 2)
    assert len(rows) == 4

    # re-run same input: no growth (O3/O4 idempotency)
    ingest_covid_csv(spark, src1, target, has_county=False)
    assert spark.read.parquet(target).count() == 4

    # day-2 drop: existing keys kept (DO NOTHING), new keys appended
    src2 = _write(staging, "day2.csv", STATES_CSV_DAY2)
    ingest_covid_csv(spark, src2, target, has_county=False)
    out3 = spark.read.parquet(target)
    rows3 = {(str(r["date"]), r["state"], r["fips"]): (r["cases"], r["deaths"]) for r in out3.collect()}
    assert rows3[("2020-01-22", "Washington", 53)] == (2, 0)  # not 777
    assert rows3[("2020-12-31", "Guam", -1)] == (100, 2)  # not 777
    assert rows3[("2020-01-23", "Washington", 53)] == (3, 1)
    assert rows3[("2021-01-01", "Guam", -1)] == (101, 2)
    assert len(rows3) == 6

    # target is partitioned by date (scale posture: partition pruning)
    import os

    assert any(p.startswith("date=") for p in os.listdir(target))


def test_permissive_quarantine_splits_bad_rows(spark, staging):
    """PERMISSIVE ingest: malformed rows land in quarantine with their
    raw line; good rows parse fully — nothing is dropped silently."""
    from nytimes_batch_processor_spark.schemas import COVID_STATES_CSV
    from nytimes_batch_processor_spark.sources.readers import read_csv_quarantine

    csv = (
        "date,state,fips,cases,deaths\n"
        "2020-01-21,Washington,53,1,0\n"
        "2020-01-22,Washington,53,not_a_number,0\n"  # bad int
        "2020-01-23,Illinois,17,2,1\n"
    )
    src = _write(staging, "mixed.csv", csv)
    good, bad = read_csv_quarantine(spark, src, COVID_STATES_CSV)
    assert good.count() == 2
    assert "_corrupt_record" not in good.columns
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 1 and "not_a_number" in bad_lines[0]


def test_upsert_read_failure_does_not_double_insert(spark, tmp_path, staging):
    """A failing read of an EXISTING target must raise — not be treated
    as 'first write' (which would silently append duplicate keys and
    break the W3 idempotency guarantee)."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    target = tmp_path / "covid_states"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"not a parquet file")
    src = _write(staging, "day1.csv", STATES_CSV)
    with pytest.raises(Exception):
        ingest_covid_csv(spark, src, str(target), has_county=False)
    # nothing was appended to the corrupt target
    assert {p.name for p in target.iterdir()} == {"part-00000.parquet"}


def _data_files(root):
    """Relative paths of every committed data file and ``_SUCCESS``
    marker under ``root`` (hidden files and dirs are not committed data)."""
    import os

    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out |= {
            os.path.relpath(os.path.join(d, f), root)
            for f in files
            if f == "_SUCCESS" or not f.startswith((".", "_"))
        }
    return out


def test_upsert_corrupt_partition_file_raises_and_commits_nothing(
    spark, tmp_path, staging
):
    """The existing keys are read with the batch's schema, so a corrupt
    part file inside a ``date=`` directory is found by the anti-join's
    scan, not by schema inference: the call must still raise, and the
    append must commit no data file and no ``_SUCCESS`` marker."""
    import os

    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    target = tmp_path / "covid_states"
    ingest_covid_csv(spark, _write(staging, "day1.csv", STATES_CSV), str(target),
                     has_county=False)
    date_dir = sorted(p for p in target.iterdir() if p.name.startswith("date="))[0]
    (date_dir / "part-99999-corrupt.snappy.parquet").write_bytes(b"not a parquet file")
    os.remove(target / "_SUCCESS")  # a marker after the call is its commit
    before = _data_files(target)
    # day 2 carries new keys: an append that got past the error would land them
    src2 = _write(staging, "day2.csv", STATES_CSV_DAY2)
    with pytest.raises(Exception):
        ingest_covid_csv(spark, src2, str(target), has_county=False)
    assert _data_files(target) == before


def _job_tasks(spark, call) -> list[int]:
    """Run ``call()`` in its own job group; tasks per Spark job it ran
    (a stage a later job reuses, i.e. skipped, counts once)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-ingest-jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, "ingest call")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, seen, tasks = sc.statusTracker(), set(), []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        stages = set(tracker.getJobInfo(job).stageIds) - seen
        seen |= stages
        tasks.append(sum(tracker.getStageInfo(st).numTasks for st in stages))
    return tasks


def _days_csv(days: int) -> str:
    import datetime

    day0 = datetime.date(2020, 3, 1)
    return "date,state,fips,cases,deaths\n" + "".join(
        f"{day0 + datetime.timedelta(days=d)},Washington,53,{d},0\n" for d in range(days)
    )


def test_redelivery_lists_target_once_with_bounded_tasks(spark, tmp_path, staging):
    """The cron's two tick kinds as a counter gate. Re-delivering the
    snapshot that backfilled a 40-date target (past the 32-directory
    distributed-listing threshold) is a ledger hit: it lands nothing and
    runs no Spark job. A ledger miss (the same file grown by a 41st day)
    lands the new day with at most 4 Spark jobs and no job with more
    tasks than the cores: the target is listed once, in one task per
    core, and not read again after the write."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    src = _write(staging, "backfill.csv", _days_csv(40))
    target = str(tmp_path / "covid_states")
    ingest_covid_csv(spark, src, target, has_county=False)
    rows = spark.read.parquet(target).count()
    assert rows == 40

    ingest = lambda: ingest_covid_csv(spark, src, target, has_county=False)  # noqa: E731
    assert _job_tasks(spark, ingest) == []
    assert spark.read.parquet(target).count() == rows

    _write(staging, "backfill.csv", _days_csv(41))
    tasks = _job_tasks(spark, ingest)
    assert spark.read.parquet(target).count() == rows + 1
    assert 0 < len(tasks) <= 4, tasks
    assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks


def test_ingest_counties_schema(spark, tmp_path, staging):
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    csv = (
        "date,county,state,fips,cases,deaths\n"
        "2020-03-01,King,Washington,53033,10,1\n"
        "2020-03-01,Unknown,Washington,,5,0\n"
    )
    src = _write(staging, "c.csv", csv)
    target = str(tmp_path / "covid_counties")
    ingest_covid_csv(spark, src, target, has_county=True)
    out = spark.read.parquet(target)
    got = {(r["county"], r["fips"]) for r in out.collect()}
    assert got == {("King", 53033), ("Unknown", -1)}
    assert [f.name for f in out.schema.fields if f.name != "date"] == [
        "county",
        "state",
        "fips",
        "cases",
        "deaths",
    ]


def test_fetch_to_staging_file_url_feeds_ingest(spark, tmp_path, staging):
    """S1: the reference's remote-CSV source (application.properties:1-2)
    as fetch-to-staging + Spark scan — exercised via a file:// URL (no
    network in the test container)."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv
    from nytimes_batch_processor_spark.sources import fetch_to_staging

    src = _write(staging, "us-states.csv", STATES_CSV)
    staged_dir = str(tmp_path / "staged")
    staged = fetch_to_staging(f"file://{src}", staged_dir)
    assert staged == f"{staged_dir}/us-states.csv"
    with open(staged) as f:
        assert f.read() == STATES_CSV

    target = str(tmp_path / "covid_states_fetched")
    ingest_covid_csv(spark, staged, target, has_county=False)
    assert spark.read.parquet(target).count() == 4

    # re-fetch overwrites atomically (15-min re-pull, deploy.sh:29);
    # no stray temp files remain in the staging dir
    import os

    fetch_to_staging(f"file://{src}", staged_dir)
    assert os.listdir(staged_dir) == ["us-states.csv"]


def test_fetch_to_staging_rejects_bad_scheme(tmp_path):
    import pytest as _pytest

    from nytimes_batch_processor_spark.sources import fetch_to_staging

    with _pytest.raises(ValueError, match="unsupported URL scheme"):
        fetch_to_staging("ftp://example.com/x.csv", str(tmp_path))


def test_failfast_raises_on_malformed_row(spark, staging):
    """E1 parity: the reference configures no skip/retry policy, so the
    first malformed row fails the step — read_csv's default FAILFAST
    must do the same (the PERMISSIVE quarantine is the opt-in scale
    path, tested above)."""
    import pytest as _pytest

    from nytimes_batch_processor_spark import schemas
    from nytimes_batch_processor_spark.sources import read_csv

    bad = _write(
        staging,
        "bad.csv",
        "date,state,fips,cases,deaths\n2020-01-21,Washington,53,not_a_number,0\n",
    )
    # surfaces as a FAILED_READ_FILE SparkException wrapping the malformed
    # record (raw Py4J error, not a converted PySparkException subclass)
    with _pytest.raises(Exception, match="FAILED_READ_FILE|Malformed|MALFORMED"):
        read_csv(spark, bad, schemas.COVID_STATES_CSV).collect()


def test_ingest_observe_metrics_collected_during_write(spark, tmp_path, staging):
    """df.observe data-quality counters must be measured by the append
    pass itself (no second scan) and describe the post-dedup batch:
    STATES_CSV has 6 raw rows, 4 after first-write-wins, of which 1 is
    the sentinel'd null-fips Guam row; dates all parse."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    target = str(tmp_path / "covid_obs")
    src = _write(staging, "obs.csv", STATES_CSV)
    metrics: dict = {}
    ingest_covid_csv(spark, src, target, has_county=False, metrics_out=metrics)
    assert metrics == {
        "batch_rows": 4,
        "null_fips_rows": 1,
        "null_date_rows": 0,
    }

    # re-run: metrics describe the candidate batch, table doesn't grow
    metrics2: dict = {}
    ingest_covid_csv(spark, src, target, has_county=False, metrics_out=metrics2)
    assert metrics2["batch_rows"] == 4
    assert spark.read.parquet(target).count() == 4


# ---------------------------------------------------------------------------
# Python DataSource: http_csv (sources/httpcsv.py)
# ---------------------------------------------------------------------------


def _write_csv(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return f"file://{p}"


def test_http_csv_partitions_per_url_and_typed_nulls(spark, tmp_path):
    """One input partition per URL; header skipped per file; '' -> NULL
    through the typed parse (P2/P3 at the source boundary)."""
    from nytimes_batch_processor_spark.sources.httpcsv import register_http_csv

    register_http_csv(spark)
    u1 = _write_csv(
        tmp_path, "a.csv",
        ["date,state,fips,cases", "2021-01-02,WA,53,10", "2021-01-03,WA,,11"],
    )
    u2 = _write_csv(tmp_path, "b.csv", ["date,state,fips,cases", "2021-01-02,OR,41,7"])
    df = (
        spark.read.format("http_csv")
        .schema("date date, state string, fips int, cases long")
        .option("urls", f"{u1},{u2}")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # parallelism = |urls|
    rows = {(str(r["date"]), r["state"], r["fips"], r["cases"]) for r in df.collect()}
    assert rows == {
        ("2021-01-02", "WA", 53, 10),
        ("2021-01-03", "WA", None, 11),
        ("2021-01-02", "OR", 41, 7),
    }


def test_http_csv_failfast_on_bad_cell_and_width(spark, tmp_path):
    """FAILFAST semantics: malformed cells and cell-count drift raise
    with file+line context instead of silently nulling."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from nytimes_batch_processor_spark.sources.httpcsv import register_http_csv

    register_http_csv(spark)
    bad_cell = _write_csv(
        tmp_path, "bad.csv", ["date,state,fips,cases", "2021-01-02,WA,notanint,1"]
    )
    df = (
        spark.read.format("http_csv")
        .schema("date date, state string, fips int, cases long")
        .option("urls", bad_cell)
        .load()
    )
    with pytest.raises(PythonException, match="bad cell 'notanint'"):
        df.collect()

    too_wide = _write_csv(
        tmp_path, "wide.csv", ["date,state,fips,cases", "2021-01-02,WA,53,1,EXTRA"]
    )
    df2 = (
        spark.read.format("http_csv")
        .schema("date date, state string, fips int, cases long")
        .option("urls", too_wide)
        .load()
    )
    with pytest.raises(PythonException, match="5 cells, schema has 4"):
        df2.collect()


def test_http_csv_requires_schema_and_known_scheme(spark, tmp_path):
    """Inference is refused by design (it would re-fetch every URL), and
    URL schemes are allow-listed."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from nytimes_batch_processor_spark.sources.httpcsv import register_http_csv

    register_http_csv(spark)
    u = _write_csv(tmp_path, "s.csv", ["a,b", "1,2"])
    with pytest.raises(AnalysisException, match="explicit .schema"):
        spark.read.format("http_csv").option("urls", u).load()

    df = (
        spark.read.format("http_csv")
        .schema("a int, b int")
        .option("urls", "ftp://example.invalid/x.csv")
        .load()
    )
    with pytest.raises(Exception, match="unsupported URL scheme"):
        df.collect()


def test_http_csv_strict_bool_and_leading_blank_header(spark, tmp_path):
    """Review fixes pinned: unrecognized boolean cells FAIL (no silent
    False), and a leading blank line does not eat the real header."""
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from nytimes_batch_processor_spark.sources.httpcsv import register_http_csv

    register_http_csv(spark)
    bad_bool = _write_csv(tmp_path, "bb.csv", ["k,flag", "a,tru"])
    df = (
        spark.read.format("http_csv")
        .schema("k string, flag boolean")
        .option("urls", bad_bool)
        .load()
    )
    with pytest.raises(PythonException, match="not a boolean: 'tru'"):
        df.collect()

    blank_first = _write_csv(
        tmp_path, "blank.csv", ["", "date,state,fips,cases", "2021-01-02,WA,53,1"]
    )
    df2 = (
        spark.read.format("http_csv")
        .schema("date date, state string, fips int, cases long")
        .option("urls", blank_first)
        .load()
    )
    rows = [(str(r["date"]), r["state"], r["fips"], r["cases"]) for r in df2.collect()]
    assert rows == [("2021-01-02", "WA", 53, 1)]


def test_http_csv_open_retries_transient_then_failfast(monkeypatch):
    """The open step retries transient failures with backoff (VERDICT r7
    stretch 8) and fails fast on non-transient ones; mid-stream recovery
    stays with Spark's task retry (an in-source re-fetch after yielding
    rows would duplicate them — documented in _open_with_retry)."""
    import io
    import urllib.error
    import urllib.request

    import pytest

    from nytimes_batch_processor_spark.sources import httpcsv

    monkeypatch.setattr(httpcsv, "_RETRY_BACKOFF", 0.0)
    calls = {"n": 0}

    def flaky(url, timeout):
        calls["n"] += 1
        if calls["n"] == 1:
            raise urllib.error.URLError("connection reset")
        return io.BytesIO(b"ok")

    monkeypatch.setattr(urllib.request, "urlopen", flaky)
    assert httpcsv._open_with_retry("https://x/a.csv", retries=1).read() == b"ok"
    assert calls["n"] == 2

    # exhausted retries surface the last transient error
    calls["n"] = 0

    def always_down(url, timeout):
        calls["n"] += 1
        raise urllib.error.URLError("still down")

    monkeypatch.setattr(urllib.request, "urlopen", always_down)
    with pytest.raises(RuntimeError, match="after 2 attempts"):
        httpcsv._open_with_retry("https://x/a.csv", retries=1)
    assert calls["n"] == 2

    # a 404 is NOT transient: no retry, immediate raise
    calls["n"] = 0

    def not_found(url, timeout):
        calls["n"] += 1
        raise urllib.error.HTTPError(url, 404, "nope", None, None)

    monkeypatch.setattr(urllib.request, "urlopen", not_found)
    with pytest.raises(urllib.error.HTTPError):
        httpcsv._open_with_retry("https://x/a.csv", retries=3)
    assert calls["n"] == 1


def test_http_csv_retries_option_plumbed():
    """The `retries` option reaches the reader (executor-side retry
    count); default 1, overridable, and '0' disables retry."""
    from pyspark.sql import types as T

    from nytimes_batch_processor_spark.sources.httpcsv import HttpCsvReader

    schema = T.StructType([T.StructField("a", T.LongType())])
    r = HttpCsvReader(schema, {"urls": "https://x/a.csv"})
    assert r.retries == 1
    r = HttpCsvReader(schema, {"urls": "https://x/a.csv", "retries": "3"})
    assert r.retries == 3
    r = HttpCsvReader(schema, {"urls": "https://x/a.csv", "retries": "0"})
    assert r.retries == 0


def test_audited_ingest_lineage_survives_redelivery(spark, tmp_path):
    """Cross-run lineage: rows keep the (batch_id, source_file) of the
    run that FIRST wrote them, even when a later batch re-delivers them
    from the same (or another) file; new rows carry the new identity."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.ingest import ingest_covid_csv_audited

    b1 = tmp_path / "b1"
    b1.mkdir()
    (b1 / "day1.csv").write_text(STATES_CSV)
    b2 = tmp_path / "b2"
    b2.mkdir()
    (b2 / "day1.csv").write_text(STATES_CSV)       # redelivered
    (b2 / "day2.csv").write_text(STATES_CSV_DAY2)  # the new rows

    target = str(tmp_path / "audited")
    ingest_covid_csv_audited(spark, str(b1), target, batch_id=1, has_county=False)
    ingest_covid_csv_audited(spark, str(b2), target, batch_id=2, has_county=False)
    out = spark.read.parquet(target)

    rows = {
        (str(r["date"]), r["state"], r["fips"]): (r["batch_id"], r["source_file"], r["cases"])
        for r in out.collect()
    }
    # first-write-wins kept batch 1's identity and values on redelivery
    assert rows[("2020-01-22", "Washington", 53)] == (1, "day1.csv", 2)
    assert rows[("2020-12-31", "Guam", -1)] == (1, "day1.csv", 100)
    # rows only batch 2 delivered carry its identity + file
    assert rows[("2020-01-23", "Washington", 53)] == (2, "day2.csv", 3)
    assert rows[("2021-01-01", "Guam", -1)] == (2, "day2.csv", 101)
    # the audit question "what did batch 2 introduce?" is one filter
    assert out.filter(F.col("batch_id") == 2).count() == 2


def test_rollback_ingest_batch_restores_prior_state(spark, tmp_path):
    """Undo-batch-N round trip (VERDICT r10 item 6): after rolling back
    batch 2, the target's ROW SET equals the post-batch-1 snapshot
    exactly — redelivered rows survive under batch 1's identity, rows
    batch 2 introduced are gone (including in date partitions batch 1
    also wrote), and a second rollback is a no-op."""
    from nytimes_batch_processor_spark.ingest import (
        ingest_covid_csv_audited,
        rollback_ingest_batch,
    )

    b1 = tmp_path / "b1"
    b1.mkdir()
    (b1 / "day1.csv").write_text(STATES_CSV)
    b2 = tmp_path / "b2"
    b2.mkdir()
    (b2 / "day1.csv").write_text(STATES_CSV)       # redelivered
    (b2 / "day2.csv").write_text(STATES_CSV_DAY2)  # the bad rows

    target = str(tmp_path / "audited")
    ingest_covid_csv_audited(spark, str(b1), target, batch_id=1, has_county=False)
    after_b1 = {tuple(r) for r in spark.read.parquet(target).collect()}
    ingest_covid_csv_audited(spark, str(b2), target, batch_id=2, has_county=False)

    n = rollback_ingest_batch(spark, target, 2)
    assert n == 2, f"batch 2 introduced 2 rows; rollback deleted {n}"
    assert {tuple(r) for r in spark.read.parquet(target).collect()} == after_b1
    # idempotent: nothing of batch 2 remains to delete
    assert rollback_ingest_batch(spark, target, 2) == 0
    assert {tuple(r) for r in spark.read.parquet(target).collect()} == after_b1


def test_rollback_interior_batch_equals_counterfactual(spark, tmp_path):
    """Interior rollback = delete + redelivery replay (VERDICT r11
    item 5): after rolling back batch 2 while batch 3 exists, the
    target's ROW SET (lineage columns included) equals a target built
    by NEVER running batch 2 — re-delivered rows return under batch
    3's identity, batch-2-only rows are gone, batch 3's own rows are
    untouched. Also pins the refusal: a later batch without a replay
    source must abort BEFORE deleting anything."""
    import pytest as _pytest

    from nytimes_batch_processor_spark.ingest import (
        ingest_covid_csv_audited,
        rollback_interior_batch,
    )

    csv_b3 = """date,state,fips,cases,deaths
2020-01-22,Washington,53,777,777
2020-01-23,Washington,53,3,1
2020-12-31,Guam,,777,7
2020-02-01,Ohio,39,9,0
"""
    dirs = {}
    for name, text in (("b1", STATES_CSV), ("b2", STATES_CSV_DAY2), ("b3", csv_b3)):
        d = tmp_path / name
        d.mkdir()
        (d / "drop.csv").write_text(text)
        dirs[name] = str(d)

    target = str(tmp_path / "audited")
    for i, name in ((1, "b1"), (2, "b2"), (3, "b3")):
        ingest_covid_csv_audited(
            spark, dirs[name], target, batch_id=i, has_county=False
        )

    # refusal first: batch 3 unreplayable -> abort, table untouched
    before = {tuple(r) for r in spark.read.parquet(target).collect()}
    with _pytest.raises(ValueError, match="no replay source"):
        rollback_interior_batch(spark, target, 2, {}, has_county=False)
    assert {tuple(r) for r in spark.read.parquet(target).collect()} == before

    stats = rollback_interior_batch(
        spark, target, 2, {3: dirs["b3"]}, has_county=False
    )
    assert stats["batches_replayed"] == 1
    got = {tuple(r) for r in spark.read.parquet(target).collect()}

    # the counterfactual: an independent target where batch 2 never ran
    cf = str(tmp_path / "counterfactual")
    for i, name in ((1, "b1"), (3, "b3")):
        ingest_covid_csv_audited(spark, dirs[name], cf, batch_id=i, has_county=False)
    expected = {tuple(r) for r in spark.read.parquet(cf).collect()}
    assert got == expected, (
        f"only-rollback: {got - expected}\nonly-counterfactual: {expected - got}"
    )
    # the load-bearing case actually occurred: a row batch 2 introduced
    # AND batch 3 re-delivered is present under batch 3's identity
    by_key = {
        (str(r["date"]), r["state"], r["fips"]): r["batch_id"]
        for r in spark.read.parquet(target).collect()
    }
    assert by_key[("2020-01-23", "Washington", 53)] == 3


def test_rollback_interior_batch_replays_fully_shadowed_batch(spark, tmp_path):
    """The self-review r12 bug: a later batch whose rows were ALL
    shadowed by earlier first-writers leaves zero lineage rows, so the
    table alone cannot enumerate it — rollback must still replay it
    (its source is declared in replay_sources), or the re-delivered
    rows vanish with their deleted first writer."""
    from nytimes_batch_processor_spark.ingest import (
        ingest_covid_csv_audited,
        rollback_interior_batch,
    )

    csv_b1 = "date,state,fips,cases,deaths\n2020-01-21,Washington,53,1,0\n"
    csv_b2 = "date,state,fips,cases,deaths\n2020-01-22,Illinois,17,5,0\n"
    # batch 3 re-delivers EXACTLY batches 1+2's rows: zero inserts,
    # zero batch_id=3 lineage rows
    csv_b3 = (
        "date,state,fips,cases,deaths\n"
        "2020-01-21,Washington,53,1,0\n"
        "2020-01-22,Illinois,17,5,0\n"
    )
    dirs = {}
    for name, text in (("b1", csv_b1), ("b2", csv_b2), ("b3", csv_b3)):
        d = tmp_path / name
        d.mkdir()
        (d / "drop.csv").write_text(text)
        dirs[name] = str(d)
    target = str(tmp_path / "audited")
    for i, name in ((1, "b1"), (2, "b2"), (3, "b3")):
        ingest_covid_csv_audited(
            spark, dirs[name], target, batch_id=i, has_county=False
        )
    assert {r["batch_id"] for r in spark.read.parquet(target).collect()} == {1, 2}

    stats = rollback_interior_batch(
        spark, target, 2, {3: dirs["b3"]}, has_county=False
    )
    assert stats["batches_replayed"] == 1, "shadowed batch 3 must replay"
    rows = {
        ((str(r["date"]), r["state"], r["fips"]), r["batch_id"])
        for r in spark.read.parquet(target).collect()
    }
    # Illinois came back under batch 3 (the counterfactual first
    # writer); Washington stays batch 1
    assert rows == {
        (("2020-01-21", "Washington", 53), 1),
        (("2020-01-22", "Illinois", 17), 3),
    }, rows


# ---------------------------------------------------------------------------
# Delivery ledger (ingest._ingest_delivery) and the NULL-key guard
# ---------------------------------------------------------------------------


def _rows(spark, target):
    return {tuple(r) for r in spark.read.parquet(str(target)).collect()}


def _drop_ledger(target):
    """Delete the ledger as a crash after the append's commit leaves it
    (the Hadoop local filesystem keeps a ``.crc`` beside it)."""
    import os

    for name in ("_ingest_ledger", "._ingest_ledger.crc"):
        if os.path.exists(f"{target}/{name}"):
            os.remove(f"{target}/{name}")


def test_null_key_parts_fail_every_delivery_and_write_nothing(spark, tmp_path, staging):
    """A blank date or a blank state is a NULL key part. The equi
    anti-join never matches NULL, so such rows used to land again on
    every re-delivery (3 -> 5 -> 7 rows). Each delivery now raises
    before anything is written, through either ingest call."""
    from nytimes_batch_processor_spark.ingest import (
        ingest_covid_csv,
        ingest_covid_csv_audited,
    )

    target = tmp_path / "covid_states"
    ingest_covid_csv(spark, _write(staging, "day1.csv", STATES_CSV), str(target),
                     has_county=False)
    before = _data_files(target)
    bad = _write(staging, "nulls.csv", (
        "date,state,fips,cases,deaths\n"
        "2020-02-01,Ohio,39,1,0\n"
        ",Ohio,39,2,0\n"
        "2020-02-02,,39,3,0\n"
    ))
    for _ in range(3):
        with pytest.raises(Exception, match="NULL key part"):
            ingest_covid_csv(spark, bad, str(target), has_county=False)
        assert _data_files(target) == before
    assert spark.read.parquet(str(target)).count() == 4

    audited = tmp_path / "audited"
    with pytest.raises(Exception, match="NULL key part"):
        ingest_covid_csv_audited(spark, bad, str(audited), batch_id=1, has_county=False)
    assert not _data_files(audited)


def test_upsert_heals_a_parked_partition_before_reading(spark, tmp_path, staging):
    """A crashed rollback parks ``date=X`` at ``.date=X._swap_old``. The
    next delivery that misses must restore it before its anti-join, so
    the parked rows come back once and keep their first-written values;
    unhealed, the delivery re-landed them as a live ``date=X`` and the
    next heal deleted the parked copy."""
    import os

    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    target = tmp_path / "covid_states"
    ingest_covid_csv(spark, _write(staging, "day1.csv", STATES_CSV), str(target),
                     has_county=False)
    before = _rows(spark, target)
    os.rename(target / "date=2020-01-22", target / ".date=2020-01-22._swap_old")
    # the miss re-delivers 2020-01-22 with other values, plus new keys
    ingest_covid_csv(spark, _write(staging, "day2.csv", STATES_CSV_DAY2), str(target),
                     has_county=False)
    after = _rows(spark, target)
    assert before <= after and len(after) == len(before) + 2
    assert not os.path.exists(target / ".date=2020-01-22._swap_old")


def test_ledger_hit_on_refetched_identical_bytes(spark, tmp_path, staging):
    """Re-staging the same bytes through fetch_to_staging gives the file
    a new mtime; the content fingerprint still matches, so the call runs
    no Spark job, lands nothing and reports the full path's counters."""
    import os

    from nytimes_batch_processor_spark.ingest import ingest_covid_csv
    from nytimes_batch_processor_spark.sources import fetch_to_staging

    url = f"file://{_write(staging, 'us-states.csv', STATES_CSV)}"
    staged = fetch_to_staging(url, str(tmp_path / "staged"))
    target = str(tmp_path / "covid_states")
    full: dict = {}
    ingest_covid_csv(spark, staged, target, has_county=False, metrics_out=full)
    rows = _rows(spark, target)

    mtime = os.stat(staged).st_mtime_ns
    os.utime(staged, ns=(mtime - 10**9, mtime - 10**9))
    fetch_to_staging(url, str(tmp_path / "staged"))
    assert os.stat(staged).st_mtime_ns != mtime - 10**9
    hit: dict = {}
    assert _job_tasks(spark, lambda: ingest_covid_csv(
        spark, staged, target, has_county=False, metrics_out=hit)) == []
    assert hit == full == {"batch_rows": 4, "null_fips_rows": 1, "null_date_rows": 0}
    assert _rows(spark, target) == rows


def test_ledger_miss_on_equal_length_one_byte_change(spark, tmp_path, staging):
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    src = _write(staging, "day1.csv", STATES_CSV)
    target = str(tmp_path / "covid_states")
    ingest_covid_csv(spark, src, target, has_county=False)
    changed = STATES_CSV.replace("Illinois", "Illinoiz")
    assert len(changed) == len(STATES_CSV)
    _write(staging, "day1.csv", changed)
    assert _job_tasks(spark, lambda: ingest_covid_csv(
        spark, src, target, has_county=False))
    got = {(str(r["date"]), r["state"]) for r in spark.read.parquet(target).collect()}
    assert ("2020-01-22", "Illinoiz") in got and len(got) == 5


@pytest.mark.parametrize("damage", ["garbage", "deleted", "truncated"])
def test_damaged_ledger_misses_lands_nothing_and_is_rewritten(
    spark, tmp_path, staging, damage
):
    """A torn record (garbage, or the real record cut to half its
    bytes) or none at all (a crash after the append committed) is a
    miss: the full path re-runs, lands nothing new, and writes the
    record again, so the next re-delivery hits."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv

    src = _write(staging, "day1.csv", STATES_CSV)
    target = str(tmp_path / "covid_states")
    ingest_covid_csv(spark, src, target, has_county=False)
    rows = _rows(spark, target)
    with open(f"{target}/_ingest_ledger", "rb") as f:
        record = f.read()
    _drop_ledger(target)
    if damage == "garbage":
        with open(f"{target}/_ingest_ledger", "w") as f:
            f.write('{"variant": "plain", "files": [')
    elif damage == "truncated":
        with open(f"{target}/_ingest_ledger", "wb") as f:
            f.write(record[: len(record) // 2])
    ingest = lambda: ingest_covid_csv(spark, src, target, has_county=False)  # noqa: E731
    assert _job_tasks(spark, ingest)
    assert _rows(spark, target) == rows
    assert _job_tasks(spark, ingest) == []


def test_ledger_miss_on_a_file_added_to_a_directory_delivery(spark, tmp_path):
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv_audited

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "day1.csv").write_text(STATES_CSV)
    target = str(tmp_path / "audited")
    ingest = lambda b: ingest_covid_csv_audited(  # noqa: E731
        spark, str(drop), target, batch_id=b, has_county=False)
    ingest(1)
    assert _job_tasks(spark, lambda: ingest(2)) == []
    (drop / "day2.csv").write_text(STATES_CSV_DAY2)
    assert _job_tasks(spark, lambda: ingest(3))
    got = {r["batch_id"] for r in spark.read.parquet(target).collect()}
    assert got == {1, 3} and spark.read.parquet(target).count() == 6


def _audited_batches(spark, tmp_path, target):
    """Three audited batches into ``target``; the replay sources of the
    later ones."""
    csv_b3 = STATES_CSV_DAY2 + "2020-02-01,Ohio,39,9,0\n"
    dirs = {}
    for i, text in ((1, STATES_CSV), (2, STATES_CSV_DAY2), (3, csv_b3)):
        d = tmp_path / f"b{i}"
        d.mkdir(exist_ok=True)
        (d / "drop.csv").write_text(text)
        dirs[i] = str(d)
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv_audited

    for i, d in dirs.items():
        ingest_covid_csv_audited(spark, d, target, batch_id=i, has_county=False)
    return dirs


def _apply_row_op(spark, op, target, dirs):
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark import ingest, tables

    if op == "rollback_ingest_batch":
        ingest.rollback_ingest_batch(spark, target, 3)
    elif op == "rollback_interior_batch":
        ingest.rollback_interior_batch(spark, target, 2, {3: dirs[3]}, has_county=False)
    elif op == "delete_rows_partition_scoped":
        tables.delete_rows_partition_scoped(
            spark, target, "date", F.col("state") == "Washington")
    elif op == "merge_into_partitioned":
        guam = spark.read.parquet(target).filter(F.col("state") == "Guam")
        tables.merge_into_partitioned(
            spark, target, guam.withColumn("op", F.lit("delete")),
            keys=["date", "state", "fips"], partition_col="date")
    elif op == "drop_partitions_older_than":
        tables.drop_partitions_older_than(spark, target, "date", "2020-12-31")
    else:
        tables.compact_parquet(spark, target, 1)


_ROW_OPS = (
    "rollback_ingest_batch", "rollback_interior_batch", "delete_rows_partition_scoped",
    "merge_into_partitioned", "drop_partitions_older_than", "compact_parquet",
)


@pytest.mark.parametrize("op", _ROW_OPS)
def test_redelivery_after_row_operation_equals_a_ledgerless_target(spark, tmp_path, op):
    """Every operation that can remove rows deletes the ledger first, so
    re-delivering the last delivery after it lands exactly what a target
    without a ledger lands: T1 keeps whatever the operation left of its
    ledger, T2's is deleted by hand, and both must end with the same
    rows."""
    from nytimes_batch_processor_spark.ingest import ingest_covid_csv_audited

    targets = [str(tmp_path / "t1"), str(tmp_path / "t2")]
    for t in targets:
        dirs = _audited_batches(spark, tmp_path, t)
    before = _rows(spark, targets[0])
    for t in targets:
        _apply_row_op(spark, op, t, dirs)
    if op != "compact_parquet":  # the operation changed the rows
        assert _rows(spark, targets[0]) != before
    _drop_ledger(targets[1])
    for t in targets:
        ingest_covid_csv_audited(spark, dirs[3], t, batch_id=3, has_county=False)
    assert _rows(spark, targets[0]) == _rows(spark, targets[1])
