"""Tests of the traced-run counters against a live local Spark session.

    python3 -m pytest perfbench/test_tracing.py -q

One session runs three traced ``doc_admission`` ops on a small corpus
(op 0 warms up). The py4j send count repeats between the two
post-warmup ops, and the event-log fold names an admission batch's
checkpoint and index-append jobs.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    import run
    import workloads
    from nytimes_batch_processor_spark.session import get_spark
    from tracing import Py4jCounter, Tracer, attach_counters, event_log_files, read_event_log

    class SmallAdmission(workloads.DocAdmission):
        BASE_DOCS, BATCH_DOCS = 200, 60

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(os.path.join(work, "eventlog"))
    spark = get_spark("perfbench-test", cpus=2, extra_confs=run.spark_confs(work, True))
    try:
        tracer = Tracer(spark, Py4jCounter(spark))
        wl = SmallAdmission(spark, 2, os.path.join(work, "adm"))
        wl.setup()
        for i in range(3):
            wl.prepare(i)
            with tracer.span("op", i):
                wl.op(i, tracer)
            assert wl.check(i) == []
        app_id = spark.sparkContext.applicationId
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        run.stop_spark(spark)  # flushes and closes the event log
    attach_counters(tracer.spans, read_event_log(
        event_log_files(os.path.join(work, "eventlog"), app_id)))
    return tracer.spans


def _span(spans, name, op):
    return next(s for s in spans if s.name == name and s.op == op)


def test_py4j_count_repeats_after_warmup(traced):
    counts = [_span(traced, "op", i).py4j_calls for i in (1, 2)]
    assert counts[0] == counts[1] > 0
    parts = ("text.curate_call", "text.curate_manifest", "dedup.maintain", "text.bpe_pack")
    assert [_span(traced, p, 1).py4j_calls for p in parts] == [
        _span(traced, p, 2).py4j_calls for p in parts]


def test_event_log_names_admission_jobs(traced):
    curate = _span(traced, "text.curate_call", 2)
    names = curate.counters["job_names"]
    assert any(n.startswith("localCheckpoint") for n in names), names
    assert any(n.startswith("parquet") for n in names), names  # sink + index append
    assert curate.counters["output_files"] >= 2  # sink partition and index append
    assert curate.counters["jobs"] == len(names) > 0
    assert 0 < curate.counters["jobs_s"] <= curate.counters["wall_s"]
    assert _span(traced, "dedup.maintain", 2).counters["jobs"] >= 1
    assert _span(traced, "text.bpe_pack", 2).counters["python_rows"] > 0
