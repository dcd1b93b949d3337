"""Structured Streaming tests: the reference's micro-batch loop (O4) as
readStream + foreachBatch upsert, drained with Trigger.AvailableNow."""

from __future__ import annotations


CSV1 = """date,state,fips,cases,deaths
2020-01-21,Washington,53,1,0
2020-01-22,Washington,53,2,0
"""

CSV2 = """date,state,fips,cases,deaths
2020-01-22,Washington,53,999,999
2020-01-23,Washington,53,3,1
"""


def test_stream_ingest_available_now(spark, tmp_path):
    from nytimes_batch_processor_spark.streaming import stream_covid_ingest

    src = tmp_path / "drops"
    src.mkdir()
    target = str(tmp_path / "covid")
    ckpt = str(tmp_path / "ckpt")

    (src / "f1.csv").write_text(CSV1)
    q = stream_covid_ingest(spark, str(src), target, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 2

    # second drop: late update to an existing key is ignored (W3), new key lands
    (src / "f2.csv").write_text(CSV2)
    q = stream_covid_ingest(spark, str(src), target, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)
    rows = {
        (str(r["date"]), r["fips"]): r["cases"]
        for r in spark.read.parquet(target).collect()
    }
    assert rows[("2020-01-22", 53)] == 2  # first write won
    assert rows[("2020-01-23", 53)] == 3
    assert len(rows) == 3


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches
    (one file per trigger forces >=2 batches) and the final per-user
    totals must equal the batch groupBy over the same rows."""
    from nytimes_batch_processor_spark.streaming import running_user_totals

    src = tmp_path / "ev"
    src.mkdir()
    (src / "a.csv").write_text("user_id,value\n1,1.0\n1,2.0\n2,5.0\n")
    (src / "b.csv").write_text("user_id,value\n1,3.0\n3,7.0\n")
    stream = (
        spark.readStream.schema("user_id LONG, value DOUBLE")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM totals").collect()
    # memory sink accumulates every update; the final state per user is
    # the row with the largest n_events
    final = {}
    for r in rows:
        if r["user_id"] not in final or r["n_events"] > final[r["user_id"]][0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final == {1: (3, 6.0), 2: (1, 5.0), 3: (1, 7.0)}
    # user 1 must have been updated in more than one micro-batch
    assert len([r for r in rows if r["user_id"] == 1]) >= 2


def test_windowed_counts_batch_equivalence(spark, sf_dir):
    """The streaming window aggregation, applied to the same events in
    batch mode, must agree with a plain groupBy on the hour bucket."""
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.sources import load_table
    from nytimes_batch_processor_spark.streaming import windowed_event_counts

    events = load_table(spark, sf_dir, "events")
    got = windowed_event_counts(events).select("window_start", "event_type", "n_events")
    expected = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_session_window_streams_match_batch(spark, tmp_path):
    """session_window executed as a REAL stream (state-store backed,
    two micro-batches) must produce the same sessions as the identical
    logic in batch mode over the union of the inputs."""
    from nytimes_batch_processor_spark.streaming import sessionized_stream

    src = tmp_path / "sess"
    src.mkdir()
    (src / "a.csv").write_text(
        "user_id,ts,value\n"
        "1,2024-01-01 10:00:00,1.0\n"
        "1,2024-01-01 10:10:00,2.0\n"  # same session (gap < 30min)
        "2,2024-01-01 10:00:00,5.0\n"
    )
    (src / "b.csv").write_text(
        "user_id,ts,value\n"
        "1,2024-01-01 12:00:00,3.0\n"  # new session (gap > 30min)
        "2,2024-01-01 10:20:00,7.0\n"  # extends user 2's open session
    )
    schema = "user_id LONG, ts TIMESTAMP, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        sessionized_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["session_value"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    batch = spark.read.schema(schema).option("header", "true").csv(str(src))
    expected = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["session_value"])
        for r in sessionized_stream(batch).collect()
    }
    assert got == expected
    assert got[(1, "2024-01-01 10:00:00")] == (2, 3.0)  # merged within gap
    assert got[(2, "2024-01-01 10:00:00")] == (2, 12.0)  # extended across batches
    assert (1, "2024-01-01 12:00:00") in got  # new session after gap


def test_session_window_matches_gaps_and_islands(spark, sf_dir):
    """Native session_window must produce the same (user, session-count)
    profile as the gaps-and-islands batch operator."""
    from nytimes_batch_processor_spark.operators.sessionize import sessionize_gap_surface
    from nytimes_batch_processor_spark.sources import load_table
    from nytimes_batch_processor_spark.streaming import sessionized_stream

    events = load_table(spark, sf_dir, "events")
    native = sessionized_stream(events).groupBy("user_id").count()
    islands = (
        sessionize_gap_surface(spark, sf_dir)
        .filter("path = 'islands'")
        .groupBy("user_id")
        .count()
    )
    assert native.exceptAll(islands).count() == 0
    assert islands.exceptAll(native).count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics (L1 streaming checklist): in append mode a
    window only emits once the watermark passes its end, and an event
    arriving AFTER the watermark has passed its window is dropped — the
    state store stays bounded by the watermark horizon at any scale."""
    from pyspark.sql import functions as F

    src = tmp_path / "late_ev"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    def drain():
        stream = (
            spark.readStream.schema("ts TIMESTAMP, user_id LONG")
            .option("header", "true")
            .csv(str(src))
        )
        counts = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .count()
            .select(F.col("w.start").cast("string").alias("start"), "count")
        )
        q = (
            counts.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "b1.csv").write_text(
        "ts,user_id\n"
        "2024-01-01 10:30:00,1\n"
        "2024-01-01 11:30:00,2\n"
        "2024-01-01 13:00:00,3\n"  # advances watermark to 12:00
    )
    drain()
    # a 09:10 event arrives after the watermark (12:00) closed its
    # [09:00,10:00) window -> dropped; 14:10 is on time and advances
    # the watermark so the 10:00 window is guaranteed emitted
    (src / "b2.csv").write_text(
        "ts,user_id\n2024-01-01 09:10:00,9\n2024-01-01 14:10:00,4\n"
    )
    drain()

    rows = {r["start"]: r["count"] for r in spark.read.parquet(out).collect()}
    assert not any(s.startswith("2024-01-01 09:") for s in rows), (
        f"late row opened a closed window: {rows}"
    )
    assert rows["2024-01-01 10:00:00"] == 1  # on-time window emitted once


def test_streaming_dropduplicates_within_watermark(spark, tmp_path):
    """Streaming keyed dedup — the W3 ON-CONFLICT semantics as a native
    streaming operator: dropDuplicates over the key suppresses re-sends
    across micro-batches while the watermark bounds the dedup state."""
    src = tmp_path / "dedup_ev"
    src.mkdir()
    ckpt = str(tmp_path / "dedup_ckpt")
    out = str(tmp_path / "dedup_out")

    def drain():
        stream = (
            spark.readStream.schema("ts TIMESTAMP, k STRING, v LONG")
            .option("header", "true")
            .csv(str(src))
        )
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["k"])
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "b1.csv").write_text(
        "ts,k,v\n2024-01-01 10:00:00,a,1\n2024-01-01 10:05:00,b,2\n"
    )
    drain()  # 'a' and 'b' land and enter the dedup state
    (src / "b2.csv").write_text(
        "ts,k,v\n2024-01-01 10:06:00,a,999\n2024-01-01 10:07:00,c,3\n"
    )
    drain()  # re-sent 'a' suppressed by state; 'c' is new

    rows = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}, rows


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join: two watermarked streams joined on key
    plus an event-time range condition — both sides buffer state only up
    to watermark + range, so the join state is bounded at any scale.
    Result must equal the same join run in batch over the same rows."""
    from pyspark.sql import functions as F

    imp_dir = tmp_path / "impressions"
    clk_dir = tmp_path / "clicks"
    imp_dir.mkdir(); clk_dir.mkdir()
    ckpt = str(tmp_path / "ss_ckpt")
    out = str(tmp_path / "ss_out")

    impressions_csv = (
        "ts,ad_id\n"
        "2024-01-01 10:00:00,a\n"
        "2024-01-01 10:01:00,b\n"
        "2024-01-01 11:00:00,c\n"
    )
    clicks_csv = (
        "ts,ad_id\n"
        "2024-01-01 10:04:00,a\n"   # within 10 min of impression a
        "2024-01-01 10:45:00,b\n"   # 44 min after b -> outside range
        "2024-01-01 11:02:00,c\n"   # within range of c
    )
    (imp_dir / "i1.csv").write_text(impressions_csv)
    (clk_dir / "c1.csv").write_text(clicks_csv)

    def src(d):
        return (
            spark.readStream.schema("ts TIMESTAMP, ad_id STRING")
            .option("header", "true")
            .csv(str(d))
        )

    imps = src(imp_dir).withWatermark("ts", "30 minutes").select(
        F.col("ad_id"), F.col("ts").alias("imp_ts")
    )
    clks = src(clk_dir).withWatermark("ts", "30 minutes").select(
        F.col("ad_id").alias("c_ad_id"), F.col("ts").alias("click_ts")
    )
    joined = imps.join(
        clks,
        (F.col("ad_id") == F.col("c_ad_id"))
        & (F.col("click_ts") >= F.col("imp_ts"))
        & (F.col("click_ts") <= F.col("imp_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("ad_id", "imp_ts", "click_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r["ad_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {"a", "c"}, got  # b's click fell outside the 10-min window


def test_update_mode_emits_revised_aggregates(spark, tmp_path):
    """Update output mode: each micro-batch emits only the groups whose
    aggregate CHANGED — the low-latency dashboard mode (vs append's
    watermark-delayed finals). Two single-file micro-batches revise the
    same key; the sink sees both versions, and the last one matches the
    batch aggregate."""
    from pyspark.sql import functions as F

    src = tmp_path / "upd_ev"
    src.mkdir()
    (src / "b1.csv").write_text("k,v\na,1\nb,10\n")
    (src / "b2.csv").write_text("k,v\na,2\n")
    stream = (
        spark.readStream.schema("k STRING, v LONG")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        stream.groupBy("k")
        .agg(F.sum("v").alias("total"))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("upd_sink")
        .option("checkpointLocation", str(tmp_path / "upd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM upd_sink").collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r["k"], []).append(r["total"])
    # 'a' was revised across batches (file order is mtime-arbitrary, so
    # the intermediate value is 1 or 2) and its final total is 3; 'b'
    # emitted once and never re-emitted — update mode's contract
    assert max(per_key["a"]) == 3 and len(per_key["a"]) <= 2, per_key
    assert per_key["b"] == [10], per_key


def test_stateful_twin_final_state_equals_batch_groupby(spark):
    """The batch twin replays the SAME fold_totals transition the
    streaming state machine runs (streaming/stateful.py); its last
    emission per user must equal the plain batch aggregate — closing
    the loop: stream == batch groupBy (test above) == twin's final row
    (here) == DuckDB oracle (test_oracle_parity, via the consolidated
    stateful_twin_surface entry since r12)."""
    from nytimes_batch_processor_spark.operators.sessionize import (
        stateful_running_totals_twin,
    )

    sf = "/root/testdata/sf0.001"
    twin = stateful_running_totals_twin(spark, sf).collect()
    final = {}
    for r in twin:
        if r["user_id"] not in final or r["batch_no"] > final[r["user_id"]][0]:
            final[r["user_id"]] = (r["batch_no"], r["n_events"], r["total_cents"])
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.sources import load_tables

    agg = (
        load_tables(spark, sf, "events")
        .events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    )
    assert final and len(final) == len(agg)
    for r in agg:
        _, n, cents = final[r["user_id"]]
        assert (n, cents) == (r["n"], r["cents"]), r["user_id"]


def test_watermarked_dedup_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must drop a replayed event_id that
    arrives in a LATER micro-batch with a slightly different timestamp
    (the retry/replay shape plain dropDuplicates-on-(id,ts) would let
    through), while keeping genuinely distinct ids."""
    from nytimes_batch_processor_spark.streaming import deduped_stream

    src = tmp_path / "dup_ev"
    src.mkdir()
    (src / "a.csv").write_text(
        "event_id,ts,user_id,value\n"
        "1,2024-01-01 10:00:00,7,1.0\n"
        "2,2024-01-01 10:05:00,7,2.0\n"
    )
    (src / "b.csv").write_text(
        "event_id,ts,user_id,value\n"
        "1,2024-01-01 10:00:03,7,1.0\n"  # replay of id 1, ts drifted 3s
        "3,2024-01-01 10:10:00,8,3.0\n"
    )
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
        )
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        deduped_stream(stream, ["event_id"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dedup_sink").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3], ids


def test_dedup_twin_matches_real_stream(spark, tmp_path):
    """Pin `replay_dedup_within_watermark` (the transition code the
    hash-checked `stream_dedup_watermark_twin` catalog entry replays)
    against the REAL dropDuplicatesWithinWatermark operator on a
    micro-batched file source (mtimes force the batch order — the file
    source orders by modification time, and same-mtime files make the
    batch sequence nondeterministic). The fixture discriminates every
    clause of the replayed contract:
    - id3 (dup while state live): dropped, and must NOT refresh the
      expiry — if it did, id7 would be suppressed too;
    - id5 (11:30, batch 2): still dropped even though batch 2's OWN
      watermark (11:01) already exceeds u7's expiry (11:00) — the
      dedup check ignores the watermark, and eviction with W(b2) only
      runs at the END of batch 2;
    - id7 (11:40, batch 3): KEPT — u7's state was evicted at the end
      of batch 2 (expiry 11:00 < W(b2)=11:01), proving eviction
      becomes visible exactly one batch late (and that id3/id5 never
      refreshed the expiry);
    - id8 (dup of a live key): dropped; id9 (14:00, batch 4): dropped
      because id7's fresh state (expiry 12:40) is live under
      W(b3)=11:01 — a watermark-aware check would have kept it."""
    import os

    from nytimes_batch_processor_spark.streaming import deduped_stream
    from nytimes_batch_processor_spark.streaming.stateful import (
        replay_dedup_within_watermark,
    )

    src = tmp_path / "twin_ev"
    src.mkdir()
    batches = [
        [(1, "2024-01-01 10:00:00", 7), (2, "2024-01-01 10:30:00", 8)],
        [(3, "2024-01-01 10:20:00", 7), (4, "2024-01-01 12:01:00", 9)],
        [(5, "2024-01-01 11:30:00", 7), (6, "2024-01-01 11:20:00", 8)],
        [(7, "2024-01-01 11:40:00", 7), (8, "2024-01-01 12:02:00", 9)],
        [(9, "2024-01-01 14:00:00", 7)],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.csv"
        p.write_text(
            "event_id,ts,user_id,value\n"
            + "".join(f"{e},{ts},{u},1.0\n" for e, ts, u in rows)
        )
        t = 1_700_000_000 + i * 60
        os.utime(p, (t, t))
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
        )
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        deduped_stream(stream, ["user_id"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("twin_dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "twin_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    real_kept = sorted(
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM twin_dedup_sink").collect()
    )

    # replay the same arrival through the shared transition function:
    # the eviction watermark seen by batch b is W(b-1) = max event time
    # through batch b-2, minus the delay
    import datetime as dt

    def us(s):
        return int(
            dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )

    delay = 3_600_000_000
    batch_max = [max(us(ts) for _, ts, _ in rows) for rows in batches]
    wm_eff = []  # eviction watermark in force DURING batch b
    for b in range(len(batches)):
        prior = batch_max[: b - 1] if b >= 2 else []
        wm_eff.append(max(prior) - delay if prior else None)
    per_key = {}
    for b, rows in enumerate(batches):
        for e, ts, u in rows:
            per_key.setdefault(u, []).append((us(ts), wm_eff[b], e))
    twin_kept = []
    for u, recs in per_key.items():
        kept = replay_dedup_within_watermark(
            [r[0] for r in recs], [r[1] for r in recs], delay
        )
        twin_kept += [recs[i][2] for i in kept]

    assert real_kept == sorted(twin_kept), (real_kept, sorted(twin_kept))
    assert real_kept == [1, 2, 4, 7], real_kept


def test_update_twin_matches_real_stream(spark, tmp_path):
    """Pin `stream_update_agg_twin`'s emission model against a REAL
    update-mode streaming aggregate over mtime-ordered micro-batch
    files: the sink must accumulate EXACTLY one row per (group, batch
    with arrivals) carrying the cumulative aggregate as of that batch —
    quiet groups re-emit nothing (the sparsity contract the twin's
    per-(user, day) row set materializes)."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "updtwin_ev"
    src.mkdir()
    batches = [
        [(7, 5), (8, 10)],   # b0: u7 and u8 arrive
        [(7, 2)],            # b1: only u7 -> u8 must NOT re-emit
        [(9, 1), (7, 3)],    # b2: new u9; u7 revised again
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.csv"
        p.write_text(
            "user_id,v\n" + "".join(f"{u},{v}\n" for u, v in rows)
        )
        t = 1_700_000_000 + i * 60
        os.utime(p, (t, t))
    stream = (
        spark.readStream.schema("user_id LONG, v LONG")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    emitted = []
    q = (
        stream.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_cum"), F.sum("v").alias("v_cum"))
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda bdf, bid: emitted.extend(
                (bid, r["user_id"], r["n_cum"], r["v_cum"])
                for r in bdf.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "updtwin_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    real = sorted((u, n, v) for _, u, n, v in emitted)

    # the twin's model: one emission per (group, batch-with-arrivals),
    # cumulative to date
    expect, seen = [], {}
    for rows in batches:
        touched = {}
        for u, v in rows:
            touched.setdefault(u, []).append(v)
        for u, vs in touched.items():
            n, tot = seen.get(u, (0, 0))
            seen[u] = (n + len(vs), tot + sum(vs))
            expect.append((u, *seen[u]))
    assert real == sorted(expect), (real, sorted(expect))


def test_ssj_twin_matches_real_stream(spark, tmp_path):
    """Pin `stream_stream_join_twin`'s emission model against a REAL
    watermarked left-outer stream-stream join (self-joined micro-batched
    file source, mtime-ordered). U (10 min, join bound) != delay
    (5 min, watermark) so the null-extension threshold is unambiguous:
    - v2 (10:00, no click): expire candidates are 10:05 (+delay),
      10:10 (+U), 10:15 (+U+delay); the watermark steps 10:07 (b2),
      10:14 (b3), 10:25 (b4) — emission lands in b3, proving the
      threshold is v_ts + U with the batch's own in-force watermark;
    - v1/c1 (same batch) and v3/c3 (click one batch later) pin
      match-emission = batch of the later arrival;
    - vB/vC emit in the final flush batch (terminal watermark 11:25
      passes their horizons only then); vD (13:30) is never emitted —
      the terminal watermark never passes its horizon."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "ssj_ev"
    src.mkdir()
    batches = [
        [("v1", "2024-01-01 10:00:00", 1, "v"), ("c1", "2024-01-01 10:05:00", 1, "c"),
         ("v2", "2024-01-01 10:00:00", 2, "v"), ("v3", "2024-01-01 10:08:00", 3, "v")],
        [("c3", "2024-01-01 10:12:00", 3, "c"), ("cA", "2024-01-01 10:12:00", 9, "c")],
        [("vA", "2024-01-01 10:19:00", 8, "v"), ("cB", "2024-01-01 10:19:00", 9, "c")],
        [("vB", "2024-01-01 10:30:00", 8, "v"), ("cC", "2024-01-01 10:30:00", 9, "c")],
        [("vC", "2024-01-01 10:40:00", 8, "v"), ("vD", "2024-01-01 13:30:00", 8, "v"),
         ("cD", "2024-01-01 11:30:00", 9, "c")],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.csv"
        p.write_text(
            "id,ts,user_id,kind\n"
            + "".join(f"{r},{ts},{u},{k}\n" for r, ts, u, k in rows)
        )
        t = 1_700_000_000 + i * 60
        os.utime(p, (t, t))
    stream = (
        spark.readStream.schema("id STRING, ts TIMESTAMP, user_id LONG, kind STRING")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    views = (
        stream.filter(F.col("kind") == "v")
        .select(
            F.col("id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "5 minutes")
    )
    clicks = (
        stream.filter(F.col("kind") == "c")
        .select(
            F.col("id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "5 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    emitted = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, bid: emitted.extend(
                (bid, r["v_id"], r["c_id"]) for r in bdf.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    n_batches = len(batches)
    # batches 0..4 are the data batches; anything later is the flush
    real = sorted(
        (v, c, min(b, n_batches)) for b, v, c in emitted
    )
    # expectation computed from the twin's exact rule set:
    # in-force wm(b) = min(side maxes through b-1) - delay
    import datetime as dt

    def us(s):
        return int(
            dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )

    delay, upper = 300_000_000, 600_000_000
    vmax = cmax = None
    wm_by_batch = []
    for rows in batches:
        wm_by_batch.append(
            None if vmax is None or cmax is None else min(vmax, cmax) - delay
        )
        for _, ts, _, k in rows:
            if k == "v":
                vmax = max(vmax or 0, us(ts))
            else:
                cmax = max(cmax or 0, us(ts))
    wm_final = min(vmax, cmax) - delay
    vrows = [
        (r, us(ts), u, b)
        for b, rows in enumerate(batches)
        for r, ts, u, k in rows
        if k == "v"
    ]
    crows = [
        (r, us(ts), u, b)
        for b, rows in enumerate(batches)
        for r, ts, u, k in rows
        if k == "c"
    ]
    model = []
    for v_id, v_ts, v_u, v_b in vrows:
        ms = [
            (c_id, c_b)
            for c_id, c_ts, c_u, c_b in crows
            if c_u == v_u and v_ts <= c_ts <= v_ts + upper
        ]
        if ms:
            model += [(v_id, c_id, max(v_b, c_b)) for c_id, c_b in ms]
            continue
        emit = next(
            (
                b
                for b, wm in enumerate(wm_by_batch)
                if wm is not None and wm > v_ts + upper
            ),
            None,
        )
        if emit is not None:
            model.append((v_id, None, emit))
        elif wm_final > v_ts + upper:
            model.append((v_id, None, n_batches))  # flush batch
    assert real == sorted(model), (real, sorted(model))


def test_transform_with_state_timer_sessions(spark, tmp_path):
    """transformWithStateInPandas (Spark 4): sessions close EITHER via a
    gap-violating newer event (input path) OR via an event-time timer
    when the watermark passes last_ts + gap — each closed session
    emitted exactly once, across real micro-batches (one file per
    trigger). Requires the RocksDB state store provider AND protobuf
    (Spark's transformWithState driver protocol) — the sandbox ships no
    protobuf and installs are banned, so this live-stream test skips
    there; `test_fold_session_transition` pins the transition function
    engine-free either way."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf for its state "
        "protocol; not in the sandbox (no-install constraint)",
    )
    from nytimes_batch_processor_spark.streaming.stateful import (
        sessionize_with_timers,
    )

    src = tmp_path / "tws"
    src.mkdir()
    # b1: user 1 two in-gap events, user 2 one event
    (src / "a.csv").write_text(
        "ts,user_id,value\n"
        "2024-01-01T10:00:00,1,1.0\n"
        "2024-01-01T10:05:00,1,2.0\n"
        "2024-01-01T10:00:00,2,5.0\n"
    )
    # b2: user 1 jumps past the 30-min gap -> closes session via input
    (src / "b.csv").write_text("ts,user_id,value\n2024-01-01T12:00:00,1,3.0\n")
    # b3: sentinel pushes the watermark to 12:00 -> user 2's 10:30 timer fires
    (src / "c.csv").write_text("ts,user_id,value\n2024-01-01T13:00:00,99,0.0\n")

    stream = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG, value DOUBLE")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            sessionize_with_timers(stream, gap_seconds=1800)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    rows = {
        (
            r["user_id"],
            r["session_start_us"],
            r["session_end_us"],
            r["n_events"],
            r["total_value"],
        )
        for r in spark.read.parquet(out).collect()
    }
    h10 = 1704103200000000  # 2024-01-01T10:00:00 UTC in epoch-us
    m5 = 5 * 60 * 1_000_000
    assert rows == {
        (1, h10, h10 + m5, 2, 3.0),  # closed by the 12:00 event (input path)
        (2, h10, h10, 1, 5.0),       # closed by the event-time timer
    }


def test_fold_session_transition():
    """Engine-free pin of the session state machine shared by the
    transformWithState processor: gap closure, out-of-order absorption
    within a session, and multi-closure in one batch."""
    from nytimes_batch_processor_spark.streaming.stateful import fold_session

    M = 60 * 1_000_000  # one minute in us
    gap = 30 * M

    # fresh key, one session
    st, closed = fold_session(None, [0, 5 * M], [1.0, 2.0], gap)
    assert closed == [] and st == (0, 5 * M, 2, 3.0)

    # gap violation closes, new session opens
    st, closed = fold_session(st, [120 * M], [3.0], gap)
    assert closed == [(0, 5 * M, 2, 3.0)] and st == (120 * M, 120 * M, 1, 3.0)

    # an in-gap event with an EARLIER ts than last extends the session
    # start DOWNWARD (min-start, ADVICE r7) and keeps last unchanged
    st, closed = fold_session(st, [110 * M], [1.0], gap)
    assert closed == [] and st == (110 * M, 120 * M, 2, 4.0)

    # two closures within one batch
    st, closed = fold_session(None, [0, 60 * M, 120 * M], [1.0, 1.0, 1.0], gap)
    assert closed == [(0, 0, 1, 1.0), (60 * M, 60 * M, 1, 1.0)]
    assert st == (120 * M, 120 * M, 1, 1.0)


def test_fold_session_unsorted_across_batches():
    """ADVICE r7: a late in-gap event arriving in a LATER micro-batch
    with ts before the stored session start must extend session_start_us
    downward (min-start), matching the batch gaps-and-islands result
    while the watermark delay stays <= the gap; and the boundary beyond
    that — a late event older than start - gap — is absorbed (never a
    retroactive session), which is the documented, pinned divergence."""
    from nytimes_batch_processor_spark.streaming.stateful import fold_session

    M = 60 * 1_000_000
    gap = 30 * M

    # batch 1 opens a session at [100min, 110min]
    st, closed = fold_session(None, [100 * M, 110 * M], [1.0, 1.0], gap)
    assert closed == [] and st == (100 * M, 110 * M, 2, 2.0)

    # batch 2 delivers a late event at 95min (< stored start, within
    # gap of it): start extends down, last/timer horizon unchanged —
    # the batch gaps-and-islands answer for the union of both batches
    st, closed = fold_session(st, [95 * M], [1.0], gap)
    assert closed == [] and st == (95 * M, 110 * M, 3, 3.0)

    # pinned boundary: an event older than start - gap is still
    # absorbed into the open session (the machine cannot split a
    # merged session); unreachable while watermark delay <= gap
    st, closed = fold_session(st, [40 * M], [1.0], gap)
    assert closed == [] and st == (40 * M, 110 * M, 4, 4.0)


def test_state_store_reader_inspects_and_time_travels(spark, tmp_path):
    """Spark 4 state data source: after a 2-micro-batch streaming
    aggregation, format(\"state-metadata\") maps the operator's store and
    format(\"statestore\") reads its contents — latest state equals the
    batch groupBy over all input, and batchId=0 time-travels to the
    post-first-batch state."""
    from nytimes_batch_processor_spark.streaming import read_state, state_metadata

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("k,v\nA,1\nB,2\nA,3\n")
    (src / "b.csv").write_text("k,v\nB,5\nC,7\n")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("k STRING, v LONG")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    from pyspark.sql import functions as F

    q = (
        stream.groupBy("k")
        .agg(F.sum("v").alias("total"))
        .writeStream.format("memory")
        .queryName("state_reader_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    meta = {r["operatorId"]: r for r in state_metadata(spark, ckpt).collect()}
    assert meta[0]["operatorName"] == "stateStoreSave"
    assert meta[0]["maxBatchId"] == 1  # two micro-batches ran

    # the value struct carries the PHYSICAL aggregation-buffer name
    # ("sum"), not the query's output alias — pinned here because any
    # state-repair tooling must address columns by these names.
    latest = {
        (r["key_k"], r["value_sum"]) for r in read_state(spark, ckpt).collect()
    }
    assert latest == {("A", 4), ("B", 7), ("C", 7)}

    first = {
        (r["key_k"], r["value_sum"])
        for r in read_state(spark, ckpt, batch_id=0).collect()
    }
    assert first == {("A", 4), ("B", 2)}


def test_stream_static_join_enriches_and_tracks_dim_updates(spark, tmp_path):
    """Stream-static join: each micro-batch joins against the CURRENT
    state of a file-backed dimension — batch 1 sees dim v1, batch 2
    (a restarted AvailableNow run after the dim is overwritten) sees
    dim v2 — a file-backed static side resolves its listing at query
    START, so dim refresh rides query restarts; no watermark, no join
    state. The final output must equal the per-run batch joins."""
    from nytimes_batch_processor_spark.streaming import enriched_stream

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_path)

    src = tmp_path / "ev"
    src.mkdir()
    (src / "a.csv").write_text("user_id,v\n1,10\n2,20\n3,30\n")
    stream = (
        spark.readStream.schema("user_id LONG, v LONG")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_batch():
        # re-resolve the dim frame per run: the static side snapshots
        # its file listing when the query starts
        dim = spark.read.parquet(dim_path)
        q = (
            enriched_stream(stream, dim, "user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    got1 = {(r["user_id"], r["v"], r["tier"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, 10, "gold"), (2, 20, "silver"), (3, 30, None)}

    # dim update between batches: user 3 appears, user 1 re-tiers
    spark.createDataFrame(
        [(1, "platinum"), (2, "silver"), (3, "bronze")],
        "user_id long, tier string",
    ).write.mode("overwrite").parquet(dim_path)
    (src / "b.csv").write_text("user_id,v\n1,11\n3,31\n")
    run_batch()
    got2 = {(r["user_id"], r["v"], r["tier"]) for r in spark.read.parquet(out).collect()}
    assert got2 == got1 | {(1, 11, "platinum"), (3, 31, "bronze")}


def test_ssj_watermark_stalls_while_one_side_is_absent(spark, tmp_path):
    """The one-side-absent edge of the stream-stream join watermark
    (review r7): the global watermark under multipleWatermarkPolicy=min
    must NOT advance while the click side has reported no data — a
    null-skipping LEAST over the side maxima would null-extend v1 one
    batch early (b2, right after two views-only batches); the real
    operator emits it only in b3, after the first click lets the min
    advance. Distinguishing fixture: two views-only batches, then the
    first click."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "ssj2_ev"
    src.mkdir()
    batches = [
        [("v1", "2024-01-01 10:00:00", 1, "v"), ("v2", "2024-01-01 10:02:00", 2, "v")],
        [("v3", "2024-01-01 10:20:00", 3, "v")],
        [("c9", "2024-01-01 10:21:00", 9, "c")],
        [("c8", "2024-01-01 11:30:00", 8, "c")],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.csv"
        p.write_text(
            "id,ts,user_id,kind\n"
            + "".join(f"{r},{ts},{u},{k}\n" for r, ts, u, k in rows)
        )
        t = 1_700_100_000 + i * 60
        os.utime(p, (t, t))
    stream = (
        spark.readStream.schema("id STRING, ts TIMESTAMP, user_id LONG, kind STRING")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    views = (
        stream.filter(F.col("kind") == "v")
        .select(
            F.col("id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "5 minutes")
    )
    clicks = (
        stream.filter(F.col("kind") == "c")
        .select(
            F.col("id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "5 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    emitted = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, bid: emitted.extend(
                (bid, r["v_id"], r["c_id"]) for r in bdf.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ssj2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    real = sorted((v, c, min(b, len(batches))) for b, v, c in emitted)
    # in-force wm stays None through b2 (click side silent); at b3 it is
    # min(10:20, 10:21) - 5m = 10:15, past v1 (10:10) and v2 (10:12)
    # horizons but not v3's (10:30) — which the terminal wm never passes
    assert real == [("v1", None, 3), ("v2", None, 3)], real


def test_fold_session_batch_split_invariance():
    """The foundation every streaming twin rests on: folding a SORTED
    event sequence through fold_session in arbitrarily split batches
    (state carried across) must equal folding it in one batch — state
    transition composition is associative over batch boundaries."""
    import itertools

    from nytimes_batch_processor_spark.streaming.stateful import fold_session

    M = 60 * 1_000_000
    gap = 30 * M
    ts = [0, 5 * M, 20 * M, 70 * M, 75 * M, 200 * M, 205 * M, 290 * M]
    vals = [1.0] * len(ts)

    ref_state, ref_closed = fold_session(None, ts, vals, gap)

    for cut1, cut2 in itertools.combinations(range(len(ts) + 1), 2):
        state, closed = None, []
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, len(ts))):
            state, c = fold_session(state, ts[lo:hi], vals[lo:hi], gap)
            closed.extend(c)
        assert (state, closed) == (ref_state, ref_closed), (cut1, cut2)


def test_checkpoint_rollback_repairs_corrupted_state(spark, tmp_path):
    """The state-repair round-trip (VERDICT r9 stretch 8): corrupt the
    latest state version of a 3-batch aggregation checkpoint, prove the
    restarted query FAILS on it, roll the checkpoint back to the last
    good batch with rollback_checkpoint, and prove the replayed query
    converges to the batch ground truth over all input — the
    introspection mouth (state_metadata / read_state time-travel)
    upgraded to an operational repair capability."""
    import glob as _glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from nytimes_batch_processor_spark.streaming import (
        read_state,
        rollback_checkpoint,
        state_metadata,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("k,v\nA,1\nB,2\nA,3\n")
    (src / "b.csv").write_text("k,v\nB,5\nC,7\n")
    (src / "c.csv").write_text("k,v\nA,10\nC,1\n")
    ckpt = str(tmp_path / "ckpt")

    def run(name):
        stream = (
            spark.readStream.schema("k STRING, v LONG")
            .option("header", "true")
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        q = (
            stream.groupBy("k")
            .agg(F.sum("v").alias("total"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("repair_initial")
    meta = state_metadata(spark, ckpt).collect()[0]
    assert meta["maxBatchId"] == 2  # three micro-batches committed

    # corrupt the newest state version (batch 2 -> store version 3)
    victims = _glob.glob(f"{ckpt}/state/0/*/3.delta")
    assert victims, "expected version-3 delta files"
    for path in victims:
        with open(path, "wb") as f:
            f.write(b"\x00garbage\x00")

    # new data arrives; the restart must hit the corruption and die
    (src / "d.csv").write_text("k,v\nD,100\nA,1\n")
    with _pytest.raises(Exception):
        run("repair_fails")

    # repair offline: batch 1's state is still good...
    good = {
        (r["key_k"], r["value_sum"])
        for r in read_state(spark, ckpt, batch_id=1).collect()
    }
    assert good == {("A", 4), ("B", 7), ("C", 7)}
    # ...so roll back to it (drops offsets/commits > 1, versions > 2)
    removed = rollback_checkpoint(spark, ckpt, to_batch_id=1)
    assert any(p.endswith("3.delta") for p in removed)
    assert not _glob.glob(f"{ckpt}/state/0/*/3.delta")

    # replay: batch 2 re-executes (file c, from the source's own log),
    # then the new file d — final state equals the batch ground truth
    run("repair_replayed")
    final = {
        (r["key_k"], r["value_sum"]) for r in read_state(spark, ckpt).collect()
    }
    truth = {
        (r["k"], r["total"])
        for r in spark.read.schema("k STRING, v LONG")
        .option("header", "true")
        .csv(str(src))
        .groupBy("k")
        .agg(F.sum("v").alias("total"))
        .collect()
    }
    assert final == truth == {("A", 15), ("B", 7), ("C", 8), ("D", 100)}


def test_file_sink_rollback_prevents_replay_duplicates(spark, tmp_path):
    """The sink half of the offline repair (ADVICE r10): rolling back
    only the CHECKPOINT of an append-mode file sink replays batches
    whose original output is still committed in the sink's
    _spark_metadata log — duplicates downstream. rollback_file_sink
    trims the sink log to the target batch and deletes the un-committed
    output files, so checkpoint + sink roll back together and the
    replayed run converges to the batch ground truth with no
    duplicates. Also pins the safety refusal: a rollback that would
    drop the only (compact) record of kept history must raise."""
    import pytest as _pytest

    from nytimes_batch_processor_spark.streaming import (
        rollback_checkpoint,
        rollback_file_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("k,v\nA,1\nB,2\n")
    (src / "b.csv").write_text("k,v\nB,5\nC,7\n")
    (src / "c.csv").write_text("k,v\nA,10\nC,1\n")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        stream = (
            spark.readStream.schema("k STRING, v LONG")
            .option("header", "true")
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()  # batches 0..2 committed to both checkpoint and sink log
    assert spark.read.parquet(out).count() == 6

    # roll BOTH halves back to batch 0 (keep only a.csv's output)
    rollback_checkpoint(spark, ckpt, to_batch_id=0)
    removed = rollback_file_sink(spark, out, to_batch_id=0)
    assert any("_spark_metadata" in p for p in removed)
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == {
        ("A", 1),
        ("B", 2),
    }

    # idempotent: nothing left to drop
    assert rollback_file_sink(spark, out, to_batch_id=0) == []

    # new data arrives; the replay re-runs batches 1..2 then the new file
    (src / "d.csv").write_text("k,v\nD,100\n")
    run()
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    truth = sorted(
        tuple(r)
        for r in spark.read.schema("k STRING, v LONG")
        .option("header", "true")
        .csv(str(src))
        .collect()
    )
    assert got == truth, f"replay duplicated or lost rows: {got}"

    # safety refusal: synthesize a sink whose only record of batch 0 is
    # a compact AFTER the rollback target — trimming it would destroy
    # kept history, so the function must refuse
    out2 = tmp_path / "out2" / "_spark_metadata"
    out2.mkdir(parents=True)
    (out2 / "1.compact").write_text(
        'v1\n{"path":"file:///x/p0.parquet","size":1,"isDir":false,'
        '"modificationTime":0,"blockReplication":1,"blockSize":1,'
        '"action":"add"}\n'
    )
    with _pytest.raises(RuntimeError, match="destroy"):
        rollback_file_sink(spark, str(tmp_path / "out2"), to_batch_id=0)


def test_file_sink_rollback_compact_keeps_relisted_history(spark, tmp_path):
    """The positive compact path of rollback_file_sink: a dropped
    ``.compact`` entry re-lists EARLIER batches' files — those must
    survive the trim (only files no kept log references are deleted),
    the standalone kept entries must remain, and the log must be
    un-committed BEFORE any data file disappears (crash-order
    contract: every deleted data file's log entry is already gone)."""
    from nytimes_batch_processor_spark.streaming import rollback_file_sink

    sink = tmp_path / "sink"
    meta = sink / "_spark_metadata"
    meta.mkdir(parents=True)

    def entry(p):
        return (
            '{"path":"file://%s","size":1,"isDir":false,'
            '"modificationTime":0,"blockReplication":1,"blockSize":1,'
            '"action":"add"}' % p
        )

    files = {}
    for name in ("a", "b", "c"):
        f = sink / f"{name}.parquet"
        f.write_text("x")
        files[name] = str(f)
    (meta / "0").write_text(f"v1\n{entry(files['a'])}\n")
    (meta / "1").write_text(f"v1\n{entry(files['b'])}\n")
    (meta / "2.compact").write_text(
        "v1\n" + "\n".join(entry(files[n]) for n in ("a", "b", "c")) + "\n"
    )

    removed = rollback_file_sink(spark, str(sink), to_batch_id=1)
    # the compact log entry is dropped, and it is removed BEFORE the
    # data file in the returned (chronological) deletion order
    assert [p.split("/")[-1] for p in removed] == ["2.compact", "c.parquet"]
    import os

    assert os.path.exists(files["a"]) and os.path.exists(files["b"])
    assert not os.path.exists(files["c"])
    assert sorted(p.name for p in meta.iterdir()) == ["0", "1"]

    # crash-retry reconcile: a mid-rollback kill can leave data files
    # whose log entries a previous attempt already deleted (no dropped
    # log references them anymore). A plain re-run drops no log entries,
    # so it must REFUSE the reconcile sweep (against a live stream,
    # log-unreferenced files are in-flight output — ADVICE r11); the
    # explicit force_reconcile flag is the stopped-stream assertion
    # that unlocks the orphan sweep.
    orphan = sink / "orphan.parquet"
    orphan.write_text("x")
    assert rollback_file_sink(spark, str(sink), to_batch_id=1) == []
    assert orphan.exists(), "no-op rollback must not touch unreferenced files"
    removed2 = rollback_file_sink(
        spark, str(sink), to_batch_id=1, force_reconcile=True
    )
    assert [p.split("/")[-1] for p in removed2] == ["orphan.parquet"]
    assert not orphan.exists()
    assert os.path.exists(files["a"]) and os.path.exists(files["b"])


def test_stream_admission_dedups_across_microbatches(spark, tmp_path):
    """The REAL-STREAM run of the admission composition (VERDICT r11
    item 3; batch-twin oracle: catalog `stream_admission_twin`): a
    JSONL file stream over a persisted MinHash index must (a) admit
    novel docs, (b) drop near-dups of the INITIAL corpus, (c) drop
    within-batch near-dups keeping the smaller doc_id, (d) drop a
    LATER batch's near-dup of an EARLIER batch's admission — the
    index-growth path — and (e) stay idempotent under batch replay
    (the at-least-once story)."""
    import json as _json
    import time as _time

    from nytimes_batch_processor_spark.operators.dedup import (
        admit_minhash_batch,
        build_minhash_index,
    )
    from nytimes_batch_processor_spark.streaming import (
        stream_document_admission,
    )

    src = tmp_path / "drops"
    src.mkdir()
    index_path = str(tmp_path / "index")
    admitted_path = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    corpus_text = "the quick brown fox jumps over the lazy dog tonight"
    novel_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel_b = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(1, corpus_text), (2, "totally different words about spark engines")],
        "doc_id long, text string",
    )
    build_minhash_index(corpus, index_path)

    def drop(name, rows):
        p = src / name
        p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
        return p

    # batch 0: novel_a admitted; 101 dups the corpus; 102 dups novel_a
    # WITHIN the batch (larger id loses)
    drop("a.json", [
        {"doc_id": 100, "text": novel_a},
        {"doc_id": 101, "text": corpus_text},
        {"doc_id": 102, "text": novel_a},
    ])
    _time.sleep(1.1)  # distinct mtimes: file order = batch order
    # batch 1: 200 dups batch 0's ADMISSION (index must have grown);
    # 201 is novel
    drop("b.json", [
        {"doc_id": 200, "text": novel_a},
        {"doc_id": 201, "text": novel_b},
    ])

    q = stream_document_admission(
        spark, str(src), index_path, admitted_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    admitted = {r["doc_id"] for r in spark.read.parquet(admitted_path).collect()}
    assert admitted == {100, 201}, admitted
    indexed = {r["doc_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 2, 100, 201}, indexed

    # replay idempotency: re-admitting batch 0 with its batch_id (the
    # shape a real foreachBatch replay always has) verdicts everything
    # 'dup' against its own indexed copy — sink and index unchanged
    batch0 = spark.createDataFrame(
        [(100, novel_a), (101, corpus_text), (102, novel_a)],
        "doc_id long, text string",
    )
    ledger = admit_minhash_batch(
        spark, index_path, batch0, admitted_path, batch_id=0
    )
    assert {(r["doc_id"], r["status"]) for r in ledger.collect()} == {
        (100, "dup"), (101, "dup"), (102, "dup"),
    }
    assert {r["doc_id"] for r in spark.read.parquet(admitted_path).collect()} == {100, 201}
    assert {r["doc_id"] for r in spark.read.parquet(index_path).collect()} == {1, 2, 100, 201}

    # a third drop continues from the checkpoint: 300 dups the grown
    # index's 201; 301 is novel
    drop("c.json", [
        {"doc_id": 300, "text": novel_b},
        {"doc_id": 301, "text": "red orange yellow green blue indigo violet pink"},
    ])
    q = stream_document_admission(
        spark, str(src), index_path, admitted_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(admitted_path).collect()} == {100, 201, 301}


def test_ann_stream_admission_dedups_across_microbatches(spark, tmp_path):
    """The embedding twin of the MinHash streaming admission: a JSONL
    (vec_id, embedding) stream over a persisted cell-partitioned IVF
    index must admit novel vectors, drop cosine-duplicates of the
    corpus, of earlier batch members (smaller vec_id wins), and of an
    EARLIER batch's admission (the grown index), and stay idempotent
    under replay — with the index's cell= layout preserved across
    appends."""
    import json as _json
    import os as _os
    import time as _time

    from nytimes_batch_processor_spark.operators.similarity import (
        admit_ivf_batch,
        build_ivf_parquet_index,
    )
    from nytimes_batch_processor_spark.streaming import (
        stream_embedding_admission,
    )

    def vec(seed):
        # deterministic 64-dim unit-ish vectors; distinct seeds are
        # near-orthogonal (random signs), duplicates are exact copies
        import hashlib

        out = []
        for i in range(64):
            h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
            out.append(((h % 2000) - 1000) / 1000.0)
        return out

    corpus_v, novel_a, novel_b = vec("corpus"), vec("a"), vec("b")
    corpus = spark.createDataFrame(
        [(1, corpus_v), (2, vec("other"))],
        "vec_id long, embedding array<double>",
    )
    index_path = str(tmp_path / "ivf_index")
    build_ivf_parquet_index(corpus, index_path)

    src = tmp_path / "drops"
    src.mkdir()
    admitted_path = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    # batch 0: 100 novel; 101 dups the corpus (exact copy, cosine 1.0);
    # 102 dups 100 within the batch
    drop("a.json", [
        {"vec_id": 100, "embedding": novel_a},
        {"vec_id": 101, "embedding": corpus_v},
        {"vec_id": 102, "embedding": novel_a},
    ])
    _time.sleep(1.1)
    # batch 1: 200 dups batch 0's ADMISSION (index grew); 201 novel
    drop("b.json", [
        {"vec_id": 200, "embedding": novel_a},
        {"vec_id": 201, "embedding": novel_b},
    ])

    q = stream_embedding_admission(
        spark, str(src), index_path, admitted_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    admitted = {r["vec_id"] for r in spark.read.parquet(admitted_path).collect()}
    assert admitted == {100, 201}, admitted
    indexed = {r["vec_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 2, 100, 201}, indexed
    # appends preserved the inverted-file layout
    assert any(
        d.startswith("cell=") for d in _os.listdir(index_path)
    ), "append flattened the cell partitioning"

    # replay idempotency: everything verdicts 'dup' against its own
    # indexed copy; sink and index unchanged (batch_id=0, the real
    # foreachBatch replay shape — see the MinHash twin's note)
    batch0 = spark.createDataFrame(
        [(100, novel_a), (101, corpus_v), (102, novel_a)],
        "vec_id long, embedding array<double>",
    )
    ledger = admit_ivf_batch(spark, index_path, batch0, admitted_path, batch_id=0)
    assert {(r["vec_id"], r["status"]) for r in ledger.collect()} == {
        (100, "dup"), (101, "dup"), (102, "dup"),
    }
    assert {r["vec_id"] for r in spark.read.parquet(admitted_path).collect()} == {100, 201}
    assert {r["vec_id"] for r in spark.read.parquet(index_path).collect()} == {1, 2, 100, 201}

    # a third drop continues from the checkpoint: 300 dups the grown
    # index's 201; 301 is novel; 302 is a ZERO-NORM vector — the
    # poison-pill case (cosine undefined, ANSI division throws): it
    # must be verdicted 'invalid', never crash the micro-batch, and
    # reach neither the sink nor the index
    _time.sleep(1.1)
    drop("c.json", [
        {"vec_id": 300, "embedding": novel_b},
        {"vec_id": 301, "embedding": vec("c")},
        {"vec_id": 302, "embedding": [0.0] * 64},
    ])
    q = stream_embedding_admission(
        spark, str(src), index_path, admitted_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert {r["vec_id"] for r in spark.read.parquet(admitted_path).collect()} == {100, 201, 301}
    assert {r["vec_id"] for r in spark.read.parquet(index_path).collect()} == {1, 2, 100, 201, 301}


def test_ann_admission_catches_asymmetric_within_batch_pairs(spark, tmp_path):
    """Self-review r12 regression: the IVF cell probe is DIRECTION-
    ASYMMETRIC (A's nprobe cells can reach B's cell while B's never
    reach A's), and the first draft's ``nn_id < qid`` filter silently
    dropped pairs found only in the discarded direction — both members
    got admitted. The test CONSTRUCTS such a pair against the fixed
    centroids (searching with the same argmin/probe/cosine math) with
    ids ordered so only the formerly-discarded direction finds it, and
    requires exactly one admission."""
    from nytimes_batch_processor_spark.operators.similarity import (
        _IVF_FIXED_NPROBE,
        _SIM_PROBE_DUP_COS,
        admit_ivf_batch,
        build_ivf_parquet_index,
        ivf_fixed_centers,
    )

    centers = ivf_fixed_centers()

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def nrm(a):
        return sum(x * x for x in a) ** 0.5

    def cell_and_probe(e):
        d = [sum((x - c) ** 2 for x, c in zip(e, cv)) for cv in centers]
        order = sorted(range(len(centers)), key=lambda i: (d[i], i))
        return order[0], set(order[:_IVF_FIXED_NPROBE])

    u = list(centers[0])
    cu, pu = cell_and_probe(u)
    w = None
    for j in range(len(centers)):
        if j in pu:
            continue
        for alpha in (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9):
            cand = [alpha * a + b for a, b in zip(u, centers[j])]
            cw, pw = cell_and_probe(cand)
            cos = dot(u, cand) / (nrm(u) * nrm(cand))
            if cw not in pu and cu in pw and cos >= _SIM_PROBE_DUP_COS:
                w = cand
                break
        if w is not None:
            break
    assert w is not None, (
        "no asymmetric pair constructible against the fixed centroids — "
        "revisit the search grid"
    )
    # corpus: a centroid nearly orthogonal to both, so the index probe
    # contributes no matches and the pair is decided WITHIN the batch
    corpus_k = next(
        k
        for k in range(len(centers))
        if abs(dot(centers[k], u)) / nrm(u) < 0.3
        and abs(dot(centers[k], w)) / (nrm(centers[k]) * nrm(w)) < 0.3
    )
    index_path = str(tmp_path / "ivf_index")
    build_ivf_parquet_index(
        spark.createDataFrame(
            [(1, list(centers[corpus_k]))], "vec_id long, embedding array<double>"
        ),
        index_path,
    )
    # w gets the SMALLER id: the pair is found only as (qid=w, nn_id=u)
    # with nn_id > qid — exactly the direction the old filter dropped
    batch = spark.createDataFrame(
        [(10, w), (20, u)], "vec_id long, embedding array<double>"
    )
    ledger = {
        (r["vec_id"], r["status"])
        for r in admit_ivf_batch(spark, index_path, batch).collect()
    }
    assert ledger == {(10, "admitted"), (20, "dup")}, ledger


def test_admission_survives_index_compaction_between_drains(spark, tmp_path):
    """The round's two maintenance stories composed: streaming
    admission grows the index one file-set per batch; compaction runs
    between drain windows (the stream is stopped — availableNow
    drains); the NEXT drain must still dedup against everything
    admitted before the compaction, and continue appending."""
    import json as _json
    import time as _time

    from nytimes_batch_processor_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
    )
    from nytimes_batch_processor_spark.streaming import (
        stream_document_admission,
    )

    src = tmp_path / "drops"
    src.mkdir()
    index_path = str(tmp_path / "index")
    admitted_path = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    novel_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel_b = "one two three four five six seven eight nine ten"
    build_minhash_index(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog tonight")],
            "doc_id long, text string",
        ),
        index_path,
    )
    (src / "a.json").write_text(
        _json.dumps({"doc_id": 100, "text": novel_a}) + "\n"
    )
    q = stream_document_admission(
        spark, str(src), index_path, admitted_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    n_after = compact_minhash_index(spark, index_path, target_files=1)
    assert n_after == 1

    _time.sleep(1.1)
    (src / "b.json").write_text(
        _json.dumps({"doc_id": 200, "text": novel_a})
        + "\n"
        + _json.dumps({"doc_id": 201, "text": novel_b})
        + "\n"
    )
    q = stream_document_admission(
        spark, str(src), index_path, admitted_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    admitted = {r["doc_id"] for r in spark.read.parquet(admitted_path).collect()}
    assert admitted == {100, 201}, admitted  # 200 deduped vs the COMPACTED index
    indexed = {r["doc_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 100, 201}, indexed


def test_curation_pipeline_admission_semantics(spark, tmp_path):
    """The composed curation pipeline's r14 admission semantics (the
    r12/r13 verdicts' weak mark, closed): across two pipeline calls
    against one growing index, (a) a quality-failing doc never reaches
    the manifest OR the index, (b) a near-dup of indexed content drops,
    (c) a WITHIN-batch near-dup drops keeping the smaller doc_id — the
    pre-r14 pipeline shipped both copies to training — and (d) a later
    batch's near-dup of an earlier batch's ADMISSION drops because the
    pipeline grew the index, while a near-dup of an earlier REJECT does
    not match it (rejects never enter the index)."""
    from nytimes_batch_processor_spark.operators.dedup import (
        build_minhash_index,
    )
    from nytimes_batch_processor_spark.operators.text import (
        curate_admission_pipeline,
    )

    corpus_text = "the quick brown fox jumps over the lazy dog tonight"
    novel_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel_b = "one two three four five six seven eight nine ten"
    index_path = str(tmp_path / "index")
    build_minhash_index(
        spark.createDataFrame([(1, corpus_text)], "doc_id long, text string"),
        index_path,
    )

    # batch 0: 100 novel (admitted); 101 dups the corpus (rejected);
    # 102 dups 100 WITHIN the batch (rejected, the pre-r14 blind spot);
    # 103 fails quality (one giant token)
    batch0 = spark.createDataFrame(
        [
            (100, novel_a),
            (101, corpus_text),
            (102, novel_a),
            (103, "supercalifragilisticexpialidocious"),
        ],
        "doc_id long, text string",
    )
    man0 = curate_admission_pipeline(spark, index_path, batch0)
    assert {r["doc_id"] for r in man0.collect()} == {100}

    indexed = {r["doc_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 100}, indexed  # grew by the admission ONLY

    # batch 1: 200 dups batch 0's ADMISSION (drops only because the
    # pipeline grew the index); 201 dups batch 0's REJECT 101 via the
    # corpus (still dup — but through doc 1, not the never-indexed
    # 101); 202 is novel
    batch1 = spark.createDataFrame(
        [(200, novel_a), (201, corpus_text), (202, novel_b)],
        "doc_id long, text string",
    )
    metrics: dict = {}
    man1 = curate_admission_pipeline(
        spark, index_path, batch1, metrics_out=metrics
    )
    assert {r["doc_id"] for r in man1.collect()} == {202}
    led = {
        r["doc_id"]: (r["status"], r["canon_id"])
        for r in metrics["ledger"].collect()
    }
    assert led[200] == ("dup", 100)  # canon = the grown-index admission
    assert led[201] == ("dup", 1)  # via the corpus, NOT the reject 101
    assert led[202][0] == "admitted"
    indexed = {r["doc_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 100, 202}, indexed


def test_admit_sink_footerless_dir_recovers(spark, tmp_path):
    """ADVICE r12: a crash during the very FIRST admitted-sink write
    can leave the sink ROOT existing with only ``_temporary`` contents.
    That husk must neither trip the flat-layout refusal nor poison
    partition discovery: the replay writes the admissions into its
    batch partition and a SECOND replay stays idempotent."""
    from nytimes_batch_processor_spark.operators.dedup import (
        admit_minhash_batch,
        build_minhash_index,
    )

    index_path = str(tmp_path / "index")
    build_minhash_index(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog tonight")],
            "doc_id long, text string",
        ),
        index_path,
    )
    admitted_path = tmp_path / "admitted"
    # the crash husk, shaped as a real mid-write crash leaves it: an
    # UNCOMMITTED task attempt under the committer's pending dir (a
    # file directly under _temporary/0 would claim to be a COMMITTED
    # task — a state no crash produces, and one the next job's
    # commit-merge rightly chokes on)
    husk = admitted_path / "_temporary" / "0" / "_temporary" / "attempt_0_t0_m_0"
    husk.mkdir(parents=True)
    (husk / "part-00000").write_bytes(b"junk")

    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    admit_minhash_batch(spark, index_path, batch, str(admitted_path), batch_id=0)
    sink = spark.read.parquet(str(admitted_path))
    assert {r["doc_id"] for r in sink.collect()} == {10}
    # replay: verdict 'dup' vs its own indexed copy; sink unchanged
    admit_minhash_batch(spark, index_path, batch, str(admitted_path), batch_id=0)
    assert [r["doc_id"] for r in spark.read.parquet(str(admitted_path)).collect()] == [10]


def test_admit_sink_batch_partition_is_o1_and_idempotent(spark, tmp_path):
    """The batch-partition sink (`ingest.admit_sink_upsert`): a
    committed ``batch_id=N`` partition makes the replay's sink step a
    pure skip (no sink scan, no rewrite — pinned by handing the replay
    DIFFERENT rows and seeing the committed partition untouched), while
    an UNCOMMITTED partition (crash mid-write left only ``_temporary``)
    is rewritten via overwrite. An admission given a sink but no
    batch_id is refused after its ledger pin and before either write:
    sink and index stay untouched."""
    import pytest as _pytest

    from nytimes_batch_processor_spark.ingest import admit_sink_upsert
    from nytimes_batch_processor_spark.operators.dedup import (
        admit_minhash_batch,
        build_minhash_index,
    )

    sink = tmp_path / "admitted"
    rows = spark.createDataFrame([(10, "a"), (11, "b")], "doc_id long, text string")
    admit_sink_upsert(spark, rows, str(sink), batch_id=0)
    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(str(sink)).collect()}
    assert got == {(10, "a"), (11, "b")}

    # committed partition: the replay SKIPS (different rows prove no
    # rewrite happened — a real replay recomputes identical ones)
    other = spark.createDataFrame([(99, "z")], "doc_id long, text string")
    admit_sink_upsert(spark, other, str(sink), batch_id=0)
    got = {(r["doc_id"], r["text"]) for r in spark.read.parquet(str(sink)).collect()}
    assert got == {(10, "a"), (11, "b")}

    # crash husk in a NEW partition: only _temporary inside -> the
    # replay must rewrite it, not skip it and not fail on it
    husk = sink / "batch_id=1" / "_temporary"
    husk.mkdir(parents=True)
    (husk / "part-00000").write_bytes(b"junk")
    rows1 = spark.createDataFrame([(20, "c")], "doc_id long, text string")
    admit_sink_upsert(spark, rows1, str(sink), batch_id=1)
    got = {(r["doc_id"], r["batch_id"]) for r in spark.read.parquet(str(sink)).collect()}
    assert got == {(10, 0), (11, 0), (20, 1)}

    # a sink but no batch_id: refused, nothing written anywhere
    index_path = str(tmp_path / "index")
    build_minhash_index(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog tonight")],
            "doc_id long, text string",
        ),
        index_path,
    )
    novel = spark.createDataFrame(
        [(30, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="batch_id"):
        admit_minhash_batch(spark, index_path, novel, str(sink))
    got = {(r["doc_id"], r["batch_id"]) for r in spark.read.parquet(str(sink)).collect()}
    assert got == {(10, 0), (11, 0), (20, 1)}
    assert {r["doc_id"] for r in spark.read.parquet(index_path).collect()} == {1}


def test_admit_sink_batch_path_refuses_flat_legacy_sink(spark, tmp_path):
    """Layout guard (self-review r14): a path holding flat part files at
    its root is not an admitted sink; writing batch_id= dirs next to
    them would break partition discovery for every later read, so the
    write must refuse loudly instead. A partial JOB commit (part file
    present, no _SUCCESS) must also NOT count as committed — the replay
    rewrites it rather than dropping the missing tasks' rows."""
    import pytest as _pytest

    from nytimes_batch_processor_spark.ingest import (
        admit_sink_upsert,
        job_commit_succeeded,
    )

    rows = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    flat = str(tmp_path / "flat_sink")
    rows.write.parquet(flat)  # part files directly at the root
    with _pytest.raises(ValueError, match="flat"):
        admit_sink_upsert(spark, rows, flat, batch_id=0)
    # the trailing-slash variant of the path is refused too
    with _pytest.raises(ValueError, match="flat"):
        admit_sink_upsert(spark, rows, flat + "/", batch_id=0)

    # mid-JOB-commit husk: a data file exists but no _SUCCESS marker —
    # not committed, so the replay overwrites (converging) instead of
    # skipping (losing the other tasks' rows)
    sink = tmp_path / "sink"
    part = sink / "batch_id=0"
    part.mkdir(parents=True)
    both = spark.createDataFrame(
        [(10, "x"), (11, "y")], "doc_id long, text string"
    )
    both.coalesce(1).write.mode("overwrite").parquet(str(part) + ".stage")
    import shutil as _sh
    import glob as _glob

    staged = _glob.glob(str(part) + ".stage/part-*.parquet")[0]
    _sh.copy(staged, str(part / "part-00000.parquet"))  # one task's output, no marker
    assert not job_commit_succeeded(spark, str(part))
    admit_sink_upsert(spark, both, str(sink), batch_id=0)
    got = {r["doc_id"] for r in spark.read.parquet(str(sink)).collect()}
    assert got == {10, 11}, got
    assert job_commit_succeeded(spark, str(part))


def test_compact_admitted_sink_preserves_markers(spark, tmp_path):
    """Sink compaction must keep the PER-PARTITION _SUCCESS markers the
    idempotency test reads (r14): after compacting, every batch
    partition is still 'committed' (a replay with different rows still
    skips), rows are byte-identical, files are fewer, and a partition
    stranded mid-swap (live dir missing, hidden old dir present) is
    restored on the next run."""
    from nytimes_batch_processor_spark.ingest import (
        admit_sink_upsert,
        compact_admitted_sink,
        job_commit_succeeded,
    )

    sink = str(tmp_path / "admitted")
    for b in range(3):
        rows = spark.createDataFrame(
            [(b * 10 + i, f"doc {b}-{i}") for i in range(8)],
            "doc_id long, text string",
        ).repartition(4)  # multiple part files per batch partition
        admit_sink_upsert(spark, rows, sink, batch_id=b)

    before = sorted(
        (r["doc_id"], r["text"], r["batch_id"])
        for r in spark.read.parquet(sink).collect()
    )
    stats = compact_admitted_sink(spark, sink)
    assert stats["partitions_compacted"] == 3, stats
    assert stats["files_after"] < stats["files_before"], stats
    after = sorted(
        (r["doc_id"], r["text"], r["batch_id"])
        for r in spark.read.parquet(sink).collect()
    )
    assert after == before
    for b in range(3):
        assert job_commit_succeeded(spark, f"{sink}/batch_id={b}"), b
    # the idempotency ledger survived: a replay of batch 1 with
    # DIFFERENT rows must still skip (partition untouched)
    other = spark.createDataFrame([(99, "z")], "doc_id long, text string")
    admit_sink_upsert(spark, other, sink, batch_id=1)
    assert sorted(
        (r["doc_id"], r["text"], r["batch_id"])
        for r in spark.read.parquet(sink).collect()
    ) == before
    # a second compaction is a no-op (already at target)
    stats = compact_admitted_sink(spark, sink)
    assert stats["partitions_compacted"] == 0, stats

    # crash between the two swap renames: live partition gone, old dir
    # holds the (marked) data -> next run restores it before compacting
    import os as _os

    _os.rename(f"{sink}/batch_id=2", f"{sink}/.batch_id=2._swap_old")
    assert {r["batch_id"] for r in spark.read.parquet(sink).collect()} == {0, 1}
    # ...plus the two stale-leftover shapes: a tmp dir (always garbage)
    # and an old dir whose live partition exists (post-swap crash)
    _os.makedirs(f"{sink}/.batch_id=0._swap_new")
    _os.makedirs(f"{sink}/.batch_id=1._swap_old")
    compact_admitted_sink(spark, sink)
    assert sorted(
        (r["doc_id"], r["text"], r["batch_id"])
        for r in spark.read.parquet(sink).collect()
    ) == before
    assert job_commit_succeeded(spark, f"{sink}/batch_id=2")
    assert not _os.path.exists(f"{sink}/.batch_id=0._swap_new")
    assert not _os.path.exists(f"{sink}/.batch_id=1._swap_old")


def test_compact_admitted_sink_files_after_is_recounted(spark, tmp_path):
    """files_after must COUNT the swapped-in partition's data files,
    not assume target_files (ADVICE r14): coalesce(n) emits one file
    per non-empty input partition, and Spark's small-file packing reads
    many tiny part files as few input partitions — so a compaction with
    a large target_files still produces few files, and the assumption
    would report files_after > files_before."""
    import glob as _glob

    from nytimes_batch_processor_spark.ingest import (
        admit_sink_upsert,
        compact_admitted_sink,
    )

    sink = str(tmp_path / "admitted")
    rows = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(64)], "doc_id long, text string"
    ).repartition(8)  # 8 tiny part files in the partition
    admit_sink_upsert(spark, rows, sink, batch_id=0)
    stats = compact_admitted_sink(spark, sink, target_files=6)
    actual = len(
        [
            p
            for p in _glob.glob(f"{sink}/batch_id=0/*")
            if not _glob.os.path.basename(p).startswith(("_", "."))
        ]
    )
    assert stats["partitions_compacted"] == 1, stats
    assert stats["files_after"] == actual, (stats, actual)
    assert stats["files_after"] <= stats["files_before"], stats


def test_stream_curation_perplexity_filter(spark, tmp_path):
    """r19 (VERDICT r18 item 5): the statistical-LM filter composed
    into the REAL stream — `stream_curation(perplexity=...)` drops a
    high-perplexity document before it signs, probes, or enters
    anything: not the admitted sink, not the manifest, and above all
    never the index (a later fluent near-rephrase must not dedup
    against gibberish). A fluent novel doc in the same batch admits
    normally, so the drop is the LM's, not the batch's."""
    import json as _json
    import time as _time

    from nytimes_batch_processor_spark.operators.dedup import (
        build_minhash_index,
    )
    from nytimes_batch_processor_spark.operators.text import (
        perplexity_counts,
        perplexity_scores,
    )
    from nytimes_batch_processor_spark.streaming import stream_curation

    src = tmp_path / "drops"
    src.mkdir()
    index_path = str(tmp_path / "index")
    admitted_path = str(tmp_path / "admitted")
    manifest_path = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")

    corpus_text = "the quick brown fox jumps over the lazy dog tonight"
    build_minhash_index(
        spark.createDataFrame(
            [(1, corpus_text)], "doc_id long, text string"
        ),
        index_path,
    )
    # reference corpus: a small fluent register the LM learns
    ref = spark.createDataFrame(
        [
            (10, "the cat sat on the mat and the dog sat on the rug"),
            (11, "the dog ran to the cat and the cat ran to the mat"),
            (12, "a cat and a dog sat on the mat near the rug"),
        ],
        "doc_id long, text string",
    )
    lm = perplexity_counts(ref)
    fluent = "the cat ran to the rug and the dog sat on the mat"
    gibberish = "zxqv jqwk fplm vvtr qqzx mmnb rrty uuio ppas ddfg"
    scores = {
        r["doc_id"]: r["xent"]
        for r in perplexity_scores(
            spark.createDataFrame(
                [(100, fluent), (101, gibberish)],
                "doc_id long, text string",
            ),
            lm,
        ).collect()
    }
    assert scores[101] > scores[100]  # the LM really separates them
    bar = (scores[100] + scores[101]) / 2

    def drop(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    drop("a.json", [
        {"doc_id": 100, "text": fluent},
        {"doc_id": 101, "text": gibberish},
    ])
    _time.sleep(1.1)
    # batch 1: a verbatim copy of the gibberish — were 101 indexed, 201
    # would verdict dup; with the LM filter, 201 is dropped by its OWN
    # xent too, and the index never holds either
    drop("b.json", [{"doc_id": 201, "text": gibberish}])
    q = stream_curation(
        spark, str(src), index_path, admitted_path, manifest_path, ckpt,
        perplexity=lm, xent_bar=bar,
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    sink = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(admitted_path).collect()
    }
    assert sink == {(100, 0)}, sink
    man0 = spark.read.schema(
        "doc_id long, shard long, pos long, n_tokens long, "
        "tok_offset long, bin_id long"
    ).parquet(f"{manifest_path}/batch_id=0")
    assert {r["doc_id"] for r in man0.collect()} == {100}
    man1 = spark.read.schema(man0.schema).parquet(
        f"{manifest_path}/batch_id=1"
    )
    assert man1.count() == 0  # zero-admission batch, committed empty
    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(index_path)
        .select("doc_id").distinct().collect()
    }
    assert 101 not in indexed and 201 not in indexed
    assert {1, 100} <= indexed  # corpus + the fluent admission grew it


def test_stream_curation_composes_and_recovers(spark, tmp_path):
    """The streaming wrapper of the COMPOSED curation pipeline (VERDICT
    r14 item 3): a JSONL document stream runs quality -> redact ->
    admission -> per-batch committed manifest. Checks: (a) quality-fail
    docs never reach sink/manifest/index; (b) near-dups of the corpus,
    of the batch, and of EARLIER batches' admissions are dropped;
    (c) each manifest partition holds exactly its batch's admitted
    set; (d) a zero-admission batch publishes an EMPTY committed
    manifest (the explicit-schema read path); (e) a restart on the
    same checkpoint is a pure fast-path no-op; (f) the
    crash-window replay (manifest partition lost + checkpoint wiped)
    rebuilds the manifest from the COMMITTED sink partition — the
    original admitted rows, not the re-verdicted (all-dup, empty)
    ledger."""
    import json as _json
    import shutil as _shutil
    import time as _time

    from nytimes_batch_processor_spark.ingest import job_commit_succeeded
    from nytimes_batch_processor_spark.operators.dedup import (
        build_minhash_index,
    )
    from nytimes_batch_processor_spark.streaming import stream_curation

    src = tmp_path / "drops"
    src.mkdir()
    index_path = str(tmp_path / "index")
    admitted_path = str(tmp_path / "admitted")
    manifest_path = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")

    corpus_text = "the quick brown fox jumps over the lazy dog tonight"
    novel_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel_b = "one two three four five six seven eight nine ten"
    build_minhash_index(
        spark.createDataFrame(
            [(1, corpus_text), (2, "totally different words about spark engines")],
            "doc_id long, text string",
        ),
        index_path,
    )

    def drop(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def run():
        q = stream_curation(
            spark, str(src), index_path, admitted_path, manifest_path, ckpt
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    # batch 0: 100 novel (admit); 101 corpus dup (drop); 102 quality-fail
    # (4 tokens < the 5-token bar — dropped BEFORE admission)
    drop("a.json", [
        {"doc_id": 100, "text": novel_a},
        {"doc_id": 101, "text": corpus_text},
        {"doc_id": 102, "text": "too few tokens here"},
    ])
    _time.sleep(1.1)  # distinct mtimes: file order = batch order
    # batch 1: 200 dups batch 0's admission (grown index); 201 novel
    drop("b.json", [
        {"doc_id": 200, "text": novel_a},
        {"doc_id": 201, "text": novel_b},
    ])
    _time.sleep(1.1)
    # batch 2: only a corpus dup -> ZERO admissions
    drop("c.json", [{"doc_id": 300, "text": corpus_text}])
    run()

    sink = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(admitted_path).collect()
    }
    assert sink == {(100, 0), (201, 1)}, sink
    manifest = {
        (r["doc_id"], r["n_tokens"], r["batch_id"])
        for r in spark.read.parquet(manifest_path).collect()
    }
    assert manifest == {(100, 10, 0), (201, 10, 1)}, manifest
    # the zero-admission batch still published a COMMITTED empty manifest
    assert job_commit_succeeded(spark, f"{manifest_path}/batch_id=2")
    indexed = {r["doc_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 2, 100, 201}, indexed  # 102 never indexed

    # (e) restart on the same checkpoint: nothing to do, nothing changes
    run()
    assert {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(manifest_path).collect()
    } == {(100, 0), (201, 1)}

    # (f) crash window: manifest 0 lost, checkpoint wiped -> the replay
    # re-runs batch 0, whose ledger now verdicts everything 'dup' (the
    # docs are indexed); the manifest MUST come from the committed sink
    # partition — doc 100 — not the empty re-verdicted admitted set
    _shutil.rmtree(f"{manifest_path}/batch_id=0")
    _shutil.rmtree(ckpt)
    run()
    manifest = {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(manifest_path).collect()
    }
    assert manifest == {(100, 0), (201, 1)}, manifest
    # sink and index untouched by the full replay
    assert {
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(admitted_path).collect()
    } == {(100, 0), (201, 1)}
    assert {
        r["doc_id"] for r in spark.read.parquet(index_path).collect()
    } == {1, 2, 100, 201}


def test_stream_span_reports_vs_previously_indexed(spark, tmp_path):
    """The streaming ExactSubstr wrapper (r15): per-batch span reports
    are computed against PREVIOUSLY indexed docs only (within-batch
    pairs excluded — the whole-batch anti-join that makes replay
    deterministic), every batch's windows are admitted, a later batch
    reports spans against an earlier batch's docs, replay from a wiped
    checkpoint converges (committed partitions skipped; the
    at-least-once re-append's duplicate windows are span-neutral), and
    maintain_window_index reclaims the duplicates without changing any
    probe result."""
    import json as _json
    import shutil as _shutil
    import time as _time

    from nytimes_batch_processor_spark.ingest import job_commit_succeeded
    from nytimes_batch_processor_spark.operators.dedup import (
        build_window_index,
        maintain_window_index,
        probe_window_index,
    )
    from nytimes_batch_processor_spark.streaming import stream_span_reports

    src = tmp_path / "drops"
    src.mkdir()
    index_path = str(tmp_path / "window_index")
    spans_path = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")

    passage = " ".join(f"p{i}" for i in range(30))
    other = " ".join(f"q{i}" for i in range(30))
    build_window_index(
        spark.createDataFrame(
            [(1, "c0 c1 " + passage)], "doc_id long, text string"
        ),
        index_path,
    )

    def drop(name, rows):
        (src / name).write_text("\n".join(_json.dumps(r) for r in rows) + "\n")

    def run():
        q = stream_span_reports(
            spark, str(src), index_path, spans_path, ckpt
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    # batch 0: 100 shares the passage with CORPUS doc 1 (span); 101 and
    # 102 share `other` WITH EACH OTHER only (within-batch -> NO span)
    drop("a.json", [
        {"doc_id": 100, "text": "x0 " + passage},
        {"doc_id": 101, "text": other + " y0"},
        {"doc_id": 102, "text": "z0 z1 " + other},
    ])
    _time.sleep(1.1)
    # batch 1: 200 shares `other` with batch 0's docs (now indexed)
    drop("b.json", [{"doc_id": 200, "text": other}])
    run()

    s0 = {
        tuple(r)
        for r in spark.read.schema(
            "id1 long, id2 long, start1 long, start2 long, span_len long"
        ).parquet(f"{spans_path}/batch_id=0").collect()
    }
    assert s0 == {(100, 1, 2, 3, 30)}, s0
    s1 = {
        tuple(r)
        for r in spark.read.schema(
            "id1 long, id2 long, start1 long, start2 long, span_len long"
        ).parquet(f"{spans_path}/batch_id=1").collect()
    }
    assert s1 == {(200, 101, 1, 1, 30), (200, 102, 1, 3, 30)}, s1
    indexed = {r["doc_id"] for r in spark.read.parquet(index_path).collect()}
    assert indexed == {1, 100, 101, 102, 200}, indexed

    # replay from a wiped checkpoint: committed partitions short-circuit
    rows_before_replay = spark.read.parquet(index_path).count()
    _shutil.rmtree(ckpt)
    run()
    assert spark.read.parquet(index_path).count() == rows_before_replay
    # crash-window replay: span partition 1 lost -> re-probe re-appends
    # (duplicate windows) but reports the SAME spans
    _shutil.rmtree(f"{spans_path}/batch_id=1")
    _shutil.rmtree(ckpt)
    run()
    assert {
        tuple(r)
        for r in spark.read.schema(
            "id1 long, id2 long, start1 long, start2 long, span_len long"
        ).parquet(f"{spans_path}/batch_id=1").collect()
    } == s1
    assert job_commit_succeeded(spark, f"{spans_path}/batch_id=1")
    dup_rows = spark.read.parquet(index_path).count()
    assert dup_rows > rows_before_replay  # at-least-once append

    # maintenance reclaims the duplicates; probe results are unchanged
    probe = spark.createDataFrame(
        [(900, other + " w0 w1")], "doc_id long, text string"
    )
    before = {
        tuple(r)
        for r in probe_window_index(
            spark.read.parquet(index_path), probe
        ).collect()
    }
    report = maintain_window_index(spark, index_path)
    assert report["dropped_duplicates"] == dup_rows - rows_before_replay
    assert report["rows_after"] == rows_before_replay - report["valved_out"]
    after = {
        tuple(r)
        for r in probe_window_index(
            spark.read.parquet(index_path), probe
        ).collect()
    }
    assert after == before


def test_stream_span_reports_bootstraps_fresh_index(spark, tmp_path):
    """ADVICE r15: stream_span_reports on a FRESH deployment — no
    build_window_index call, no index path on disk — must not fail on
    its first micro-batch. Batch 0 probes an empty bootstrap frame
    (zero spans) and its own append CREATES the index under the hb=
    bucket layout; batch 1 then reports spans against batch 0's docs,
    proving the bootstrapped index is the same probe-able shape a
    built one has."""
    import json as _json
    import time as _time

    from nytimes_batch_processor_spark.ingest import job_commit_succeeded
    from nytimes_batch_processor_spark.streaming import stream_span_reports

    src = tmp_path / "drops"
    src.mkdir()
    index_path = str(tmp_path / "window_index")  # never created
    spans_path = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")

    passage = " ".join(f"p{i}" for i in range(30))

    def drop(name, rows):
        (src / name).write_text("\n".join(_json.dumps(r) for r in rows) + "\n")

    drop("a.json", [{"doc_id": 100, "text": "x0 x1 " + passage}])
    _time.sleep(1.1)
    drop("b.json", [{"doc_id": 200, "text": passage + " y0"}])
    q = stream_span_reports(
        spark, str(src), index_path, spans_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    schema = "id1 long, id2 long, start1 long, start2 long, span_len long"
    s0 = spark.read.schema(schema).parquet(f"{spans_path}/batch_id=0").collect()
    assert s0 == [], s0
    assert job_commit_succeeded(spark, f"{spans_path}/batch_id=0")
    s1 = {
        tuple(r)
        for r in spark.read.schema(schema)
        .parquet(f"{spans_path}/batch_id=1")
        .collect()
    }
    assert s1 == {(200, 100, 1, 3, 30)}, s1
    # the bootstrapped index carries the standard bucket layout
    idx = spark.read.parquet(index_path)
    assert {"doc_id", "pos", "h", "hb"} <= set(idx.columns)
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == {
        100,
        200,
    }


def test_stream_span_reports_recovers_footerless_index(spark, tmp_path):
    """ADVICE r16: if batch 0's bootstrapping `append_to_window_index`
    crashes mid-write, the index dir EXISTS but holds only `_temporary`
    droppings — zero parquet footers. A schema-inferring read would
    fail 'Unable to infer schema' on every replay, permanently
    poisoning the stream. `window_index_or_empty` must instead read
    the footerless dir as ZERO rows under the builder-derived explicit
    schema, so the replay re-probes the empty frame and its re-append
    creates the real index."""
    import json as _json
    import time as _time

    from nytimes_batch_processor_spark.operators.dedup import (
        window_index_or_empty,
    )
    from nytimes_batch_processor_spark.streaming import stream_span_reports

    index_path = tmp_path / "window_index"
    # the crash shape: dir present, only _temporary contents, no footers
    junk = index_path / "_temporary" / "0" / "attempt_0"
    junk.mkdir(parents=True)
    (junk / "part-00000.parquet").write_bytes(b"not a parquet footer")

    docs_like = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    boot = window_index_or_empty(spark, str(index_path), docs_like)
    assert boot.count() == 0
    assert {"doc_id", "pos", "h", "hb"} <= set(boot.columns)

    # and the full stream replays through it: batch 0 re-bootstraps,
    # batch 1 reports spans against batch 0's docs (the fresh-deploy
    # contract, unchanged by the poisoned dir)
    src = tmp_path / "drops"
    src.mkdir()
    spans_path = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")
    passage = " ".join(f"p{i}" for i in range(30))

    def drop(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    drop("a.json", [{"doc_id": 100, "text": "x0 x1 " + passage}])
    _time.sleep(1.1)
    drop("b.json", [{"doc_id": 200, "text": passage + " y0"}])
    q = stream_span_reports(
        spark, str(src), str(index_path), spans_path, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)

    schema = "id1 long, id2 long, start1 long, start2 long, span_len long"
    s0 = spark.read.schema(schema).parquet(f"{spans_path}/batch_id=0").collect()
    assert s0 == [], s0
    s1 = {
        tuple(r)
        for r in spark.read.schema(schema)
        .parquet(f"{spans_path}/batch_id=1")
        .collect()
    }
    assert s1 == {(200, 100, 1, 3, 30)}, s1
    idx = spark.read.parquet(str(index_path))
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == {
        100,
        200,
    }


def test_window_index_corrupt_footer_propagates(spark, tmp_path):
    """ADVICE r18 #4: only AnalysisException (UNABLE_TO_INFER_SCHEMA —
    the `_temporary`-droppings case above) may fall through to the
    pinned zero-row read. A dir holding a REAL top-level part file
    with a corrupt footer is a genuine read failure (SparkException
    FAILED_READ_FILE) and must propagate, not be silently reclassified
    as a fresh bootstrap that then re-creates the index around the
    corruption."""
    import pytest

    from nytimes_batch_processor_spark.operators.dedup import (
        window_index_or_empty,
    )

    docs_like = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    corrupt = tmp_path / "corrupt_index"
    corrupt.mkdir()
    (corrupt / "part-00000-bad.snappy.parquet").write_bytes(
        b"not a parquet file: no magic footer"
    )
    with pytest.raises(Exception, match="footer"):
        window_index_or_empty(spark, str(corrupt), docs_like)


def test_window_index_rejects_schema_drifted_dir(spark, tmp_path):
    """ADVICE r17 #3 (closed r18): the pinned-schema read that fixes
    the footerless poison pill must NOT silently null-read a
    SCHEMA-DRIFTED existing index (column renamed by another builder
    version) — that feeds null hashes into the probe join. When the
    dir holds real footers with the wrong column set,
    `window_index_or_empty` fails loud naming both schemas."""
    import pytest

    from nytimes_batch_processor_spark.operators.dedup import (
        window_index_or_empty,
    )

    docs_like = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    drifted = str(tmp_path / "drifted_index")
    spark.createDataFrame(
        [(1, 0, 7)], "doc_id long, pos long, h_renamed long"
    ).write.parquet(drifted)
    with pytest.raises(ValueError, match="drifted schema"):
        window_index_or_empty(spark, drifted, docs_like)
