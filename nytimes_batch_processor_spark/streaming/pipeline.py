"""Structured Streaming: the reference's micro-batch loop done natively.

The reference "streams" by cron-re-running the whole batch job every 15
minutes with an idempotent keyed sink (O3/O4/W3, SURVEY.md §2.1) —
functionally an at-least-once micro-batch pipeline that ignores late
updates (first write wins). Here that becomes:

- a file-source ``readStream`` over CSV drops (new files = new data),
- ``Trigger.AvailableNow`` for the cron-equivalent drain-and-stop run,
- ``foreachBatch`` running the same anti-join upsert as batch ingest —
  idempotent per key, so at-least-once delivery is safe,
- watermarked tumbling/sliding/session windows for the L1 analytics the
  reference's cron model could not express (late data handled instead of
  ignored).

Scale notes: file-source listing is incremental (checkpointed); state
stores for windows/dedup are bounded by the watermark horizon; the
foreachBatch upsert is `ingest.upsert_append`, whose anti-join scans
every key of the target per micro-batch (no partition is pruned; a
last-N-days bound is an open item there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter

from .. import schemas
from ..ingest import typed_batch, upsert_append


def foreach_batch_upsert(target_path: str, keys: list[str], *, has_county: bool):
    """Returns the foreachBatch function: the batch ingest's typed chain
    (`ingest.typed_batch`), then the anti-join upsert into the target —
    the W3 sink as a streaming sink.
    Replay safety comes from the upsert itself (existing keys always
    win), so a retried micro-batch is a no-op regardless of batch_id.
    A row with a NULL key part fails its micro-batch before any write,
    as in batch ingest."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert_append(typed_batch(batch_df, keys, has_county=has_county), target_path, keys)

    return _apply


def stream_covid_ingest(
    spark: SparkSession,
    src_dir: str,
    target_path: str,
    checkpoint_dir: str,
    *,
    has_county: bool = False,
) -> DataStreamWriter:
    """File-source streaming ingest with the reference's semantics.
    Caller starts it with .trigger(availableNow=True).start() for the
    cron-equivalent run, or processingTime='15 minutes' for live mode."""
    schema = schemas.COVID_COUNTIES_CSV if has_county else schemas.COVID_STATES_CSV
    keys = schemas.COVID_COUNTIES_KEYS if has_county else schemas.COVID_STATES_KEYS
    raw = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", 16)
        .csv(src_dir)
    )
    return raw.writeStream.foreachBatch(
        foreach_batch_upsert(target_path, keys, has_county=has_county)
    ).option("checkpointLocation", checkpoint_dir)


def windowed_event_counts(events: DataFrame, *, sliding: bool = False) -> DataFrame:
    """Watermarked tumbling (1h) or sliding (1h every 15min) counts per
    event_type. Works on a streaming *or* batch events DataFrame with
    (ts, event_type, value) — the batch form is what the DuckDB oracle
    checks (operators/sessionize.py); this is the streaming form."""
    win = (
        F.window("ts", "1 hour", "15 minutes") if sliding else F.window("ts", "1 hour")
    )
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (state-store backed in streaming mode) —
    the streaming twin of operators/sessionize.py's gaps-and-islands."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def deduped_stream(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """At-least-once -> effectively-once per key within the watermark
    horizon: ``dropDuplicatesWithinWatermark`` drops any record whose
    key was already seen less than `watermark` of event-time ago, even
    when the duplicate carries a slightly different timestamp (retries
    and replays usually do). This is the streaming counterpart of the
    batch `dedup_exact_union` / W3 upsert pair.

    Why not plain dropDuplicates: on a stream it must keep EVERY key
    ever seen (unbounded state). WithinWatermark evicts state older
    than the horizon, so the state store is bounded by (keys arriving
    per horizon), which is what survives an unbounded run at scale."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enriched_stream(
    events: DataFrame, dim: DataFrame, on: str, *, hint_broadcast: bool = True
) -> DataFrame:
    """Stream-static enrichment: join a streaming frame to a BATCH
    dimension table — no watermark and no join state, because the
    static side is wholly available every batch. A file-backed static
    side resolves its FILE LISTING at query start: an overwritten dim
    is seen by the next query (re)start, NOT mid-run (pinned in
    tests/test_streaming.py) — so the Trigger.AvailableNow restart
    loop gets slowly-refreshing-dim behavior for free, while an
    always-on query must restart (or read a snapshot-isolated format)
    to pick up dim updates.

    Scale notes: ``hint_broadcast=True`` (the default, for the common
    small-dim case) pins a broadcast join — correct while the dim fits
    the broadcast budget, a driver-OOM trap past it. For a big dim pass
    ``hint_broadcast=False`` and let Catalyst pick the per-batch
    shuffle join; pre-bucket the dim on the key (`write_bucketed`) so
    each micro-batch co-locates without a full dim shuffle. At
    100 TB-of-stream scale the dominant cost is the stream side's
    scan; the dim side is amortized per micro-batch."""
    from pyspark.sql import functions as F

    right = F.broadcast(dim) if hint_broadcast else dim
    return events.join(right, on, "left")


def foreach_batch_admission(index_path: str, admitted_path: str):
    """foreachBatch form of the near-dup ADMISSION pipeline (VERDICT
    r11 item 3): each micro-batch of (doc_id, text) documents runs
    `operators.dedup.admit_minhash_batch` — probe the persisted MinHash
    index (band equi-join, never batch x corpus), drop near-dups of
    indexed or earlier-in-batch content, upsert admissions into
    ``admitted_path/batch_id=N`` (the O(1) idempotent batch-partition
    sink of `ingest.admit_sink_upsert` — foreachBatch's batch_id is
    exactly the replay-stable key that layout needs, and it keeps the
    per-micro-batch sink cost at one existence check), and grow the
    index with them so LATER micro-batches dedup against this one
    without any corpus rescan.
    Exactly-once under foreachBatch's at-least-once replay comes from
    admit_minhash_batch's ledger -> sink -> index write ordering (see
    its docstring; the batch-twin oracle for the semantics is the
    catalog's `stream_admission_twin`).

    Sink uniqueness is CONTENT-level, not key-level (ADVICE r14): a
    doc_id re-arriving in a later micro-batch with text divergent
    enough to clear the near-dup threshold is a fresh admission into
    that batch's partition, so the sink can hold one doc_id in two
    batch partitions — see `ingest.admit_sink_upsert`'s uniqueness
    note for the rationale and the latest-batch-wins read recipe."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import admit_minhash_batch

        admit_minhash_batch(
            batch_df.sparkSession,
            index_path,
            batch_df,
            admitted_path,
            batch_id=batch_id,
        )

    return _apply


def stream_document_admission(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    admitted_path: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Streaming document admission: a JSONL file-source stream (new
    files = new document batches, the reference's 15-minute-drop shape)
    admitted through `foreach_batch_admission`. Caller starts it with
    ``.trigger(availableNow=True).start()`` for the drain-and-stop run.
    ``maxFilesPerTrigger 1`` keeps one dropped file = one admission
    batch, so cross-file duplicates exercise the index-growth path
    rather than collapsing into one within-batch dedup."""
    raw = spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).json(src_dir)
    return raw.writeStream.foreachBatch(
        foreach_batch_admission(index_path, admitted_path)
    ).option("checkpointLocation", checkpoint_dir)


def foreach_batch_curation(
    index_path: str,
    admitted_path: str,
    manifest_path: str,
    quality_model=None,
    perplexity=None,
    xent_bar: float | None = None,
):
    """foreachBatch form of the COMPOSED curation pipeline (VERDICT r14
    item 3 — the steady-state production shape of
    `operators.text.curate_admission_pipeline`): each micro-batch runs
    quality -> redact -> admission (ledger -> sink -> index, the
    exactly-once ordering of `admit_minhash_batch`) and then publishes
    that batch's training manifest under
    ``manifest_path/batch_id=N`` with the same ``_SUCCESS``-marker
    idempotency as the admitted sink.

    Crash convergence — the manifest is NOT the pipeline's returned
    plan but is REBUILT from the committed admitted-sink partition
    (`manifest_from_admitted` over the sink rows):

    - manifest partition committed -> the whole batch fully published;
      the replay is ONE existence check (the fast path);
    - crash anywhere inside the admission -> `admit_minhash_batch`'s
      own replay analysis converges the sink/index; the re-run ledger
      may verdict everything 'dup' (the batch is indexed by then), but
      the manifest derives from the SINK partition — which holds the
      original admitted rows — so it publishes the correct rows, not
      the empty re-verdicted set (deriving from the returned plan
      would ship an EMPTY manifest in exactly that crash window);
    - crash between sink commit and manifest write -> same: re-run
      skips the committed sink write and rebuilds the manifest from it.

    The sink-partition read uses an explicit schema so a zero-admission
    batch (empty committed partition) reads as empty instead of failing
    inference.

    The three optional curation stages compose here exactly as in the
    batch pipeline (r19, the quality_model= -> perplexity= arc):
    ``quality_model`` a fitted `quality_classifier_train` pipeline
    scored map-only per batch; ``perplexity`` a `perplexity_counts`
    triple — the add-k bigram LM whose rounded cross-entropy drops the
    high-perplexity tail (bar ``xent_bar``, default the operator's
    `_PPLX_BAR`) BEFORE any document signs or probes the index, so a
    gibberish doc never enters the admission machinery at all. Both
    are driver-held artifacts (a few KiB of coefficients / two
    count DataFrames); at 100 TB the LM counts persist bucketed by w1
    and load once per stream, not per batch."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..ingest import job_commit_succeeded
        from ..operators.text import (
            curate_admission_pipeline,
            manifest_from_admitted,
        )

        spark = batch_df.sparkSession
        man_part = f"{manifest_path.rstrip('/')}/batch_id={batch_id}"
        if job_commit_succeeded(spark, man_part):
            return
        # admission runs AT CALL TIME (the pipeline pins its ledger);
        # the returned manifest plan is deliberately discarded — see
        # the crash analysis above
        curate_admission_pipeline(
            spark,
            index_path,
            batch_df,
            admitted_path=admitted_path,
            batch_id=batch_id,
            quality_model=quality_model,
            perplexity=perplexity,
            xent_bar=xent_bar,
        )
        sink_part = f"{admitted_path.rstrip('/')}/batch_id={batch_id}"
        admitted = spark.read.schema("doc_id long, text string").parquet(
            sink_part
        )
        manifest_from_admitted(admitted).write.mode("overwrite").parquet(
            man_part
        )

    return _apply


def stream_curation(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    admitted_path: str,
    manifest_path: str,
    checkpoint_dir: str,
    quality_model=None,
    perplexity=None,
    xent_bar: float | None = None,
) -> DataStreamWriter:
    """Streaming composed curation: the JSONL document stream of
    `stream_document_admission` routed through the FULL curation chain
    (`foreach_batch_curation`) — one dropped file = one curated batch
    with its own committed manifest partition. Caller starts it with
    ``.trigger(availableNow=True).start()`` for the drain-and-stop
    run; a killed-and-restarted run resumes from the checkpoint and
    converges via the per-partition markers."""
    raw = spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).json(src_dir)
    return raw.writeStream.foreachBatch(
        foreach_batch_curation(
            index_path,
            admitted_path,
            manifest_path,
            quality_model=quality_model,
            perplexity=perplexity,
            xent_bar=xent_bar,
        )
    ).option("checkpointLocation", checkpoint_dir)


def foreach_batch_window_admission(index_path: str, spans_path: str):
    """foreachBatch form of the incremental ExactSubstr story (r15):
    each micro-batch of (doc_id, text) documents is probed against the
    persisted window index for maximal shared spans vs PREVIOUSLY
    indexed documents, its windows are appended under the index's
    bucket layout, and the batch's span report publishes under
    ``spans_path/batch_id=N`` with the ``_SUCCESS``-marker idempotency
    of the other streaming sinks. The span report is ADVISORY (the
    ExactSubstr contract — removal is the consumer's choice), so
    nothing is dropped: every batch doc's windows are admitted.

    Determinism under replay — the probe excludes the WHOLE batch's
    doc ids from the index side (one broadcast anti-join), not just
    per-row self-matches: a replay that crashed after the index append
    re-probes with the batch already indexed, and excluding only
    self-matches would surface within-batch pairs the original run
    never emitted. 'Spans vs previously indexed docs' is the invariant
    both runs compute.

    Crash convergence: committed span partition -> whole batch done
    (one existence check); crash after the append -> the replay
    re-probes identically (above), RE-APPENDS — at-least-once, so the
    index may hold duplicate window rows, which are correctness-neutral
    for span merging (`merge_collision_spans` is dense_rank-immune by
    design) and reclaimed by `maintain_window_index` — then publishes
    the span partition.

    Fresh deployment (ADVICE r15): no pre-built window index is
    required — an absent ``index_path`` bootstraps as an empty window
    frame (`window_index_or_empty`), so batch 0 reports no spans and
    its own append creates the index; `build_window_index` remains the
    right starting point when a corpus pre-exists (its build-time
    frequency valve filters boilerplate that appends never re-check)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..ingest import job_commit_succeeded
        from ..operators.dedup import (
            append_to_window_index,
            probe_window_index,
            window_index_or_empty,
        )

        spark = batch_df.sparkSession
        part = f"{spans_path.rstrip('/')}/batch_id={batch_id}"
        if job_commit_succeeded(spark, part):
            return
        batch = batch_df.localCheckpoint(eager=True)  # file-source read once
        index = window_index_or_empty(spark, index_path, batch).join(
            F.broadcast(batch.select("doc_id")), "doc_id", "left_anti"
        )
        spans = probe_window_index(index, batch)
        append_to_window_index(batch, index_path)
        spans.write.mode("overwrite").parquet(part)

    return _apply


def stream_span_reports(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    spans_path: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Streaming ExactSubstr span reporting: the JSONL document stream
    of `stream_document_admission` routed through
    `foreach_batch_window_admission` — one dropped file = one probed +
    indexed batch with its own committed span-report partition. Same
    drain-and-stop usage as the other streams."""
    raw = spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).json(src_dir)
    return raw.writeStream.foreachBatch(
        foreach_batch_window_admission(index_path, spans_path)
    ).option("checkpointLocation", checkpoint_dir)


def foreach_batch_ann_admission(index_path: str, admitted_path: str):
    """The embedding twin of `foreach_batch_admission`: each micro-batch
    of (vec_id, embedding) rows runs
    `operators.similarity.admit_ivf_batch` — probe the persisted
    cell-partitioned IVF index, drop near-dups (cosine >= the admission
    bar) of indexed or earlier-in-batch vectors, upsert admissions into
    ``admitted_path/batch_id=N`` (the same O(1) idempotent
    batch-partition sink as the document twin), grow the index under
    its cell partitioning. Exactly-once from the same
    ledger -> sink -> index ordering; same CONTENT-level (not
    key-level) cross-batch sink uniqueness — see
    `foreach_batch_admission` / `ingest.admit_sink_upsert`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import admit_ivf_batch

        admit_ivf_batch(
            batch_df.sparkSession,
            index_path,
            batch_df,
            admitted_path,
            batch_id=batch_id,
        )

    return _apply


def stream_embedding_admission(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    admitted_path: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Streaming embedding admission: a JSONL file-source stream of
    (vec_id, embedding array) rows admitted through
    `foreach_batch_ann_admission` — the ANN counterpart of
    `stream_document_admission`, same drain-and-stop usage."""
    raw = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).option("maxFilesPerTrigger", 1).json(src_dir)
    return raw.writeStream.foreachBatch(
        foreach_batch_ann_admission(index_path, admitted_path)
    ).option("checkpointLocation", checkpoint_dir)
