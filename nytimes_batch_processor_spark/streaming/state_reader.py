"""Offline state-store introspection (Spark 4 state data source).

A 100 TB streaming job's hardest question is "what does the operator
state LOOK like right now — and what did it look like three batches
ago?". Spark 4 answers it with two batch read formats over a streaming
checkpoint, no query restart and no state-store API code:

- ``format("state-metadata")``: one row per stateful operator
  (operatorId/name, store name, partition count, batch range) — the
  map of what is inspectable;
- ``format("statestore")``: the store contents as (key struct, value
  struct, partition_id) rows, optionally time-traveled to a past
  ``batchId`` (bounded by the checkpoint's retained versions).

Scale notes: the state source reads the SAME per-partition snapshot +
delta files the restarted query would load, in parallel, one task per
state partition — so inspecting a 10k-partition store is a normal
distributed scan, and a selective filter on the flattened key columns
prunes driver-side work to the matched partitions' files only. This is
the debugging/repair mouth for every stateful operator in this package
(windowed aggs, dropDuplicates*, session windows, stream-stream joins,
applyInPandasWithState / transformWithState).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def state_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """The stateful-operator map of a checkpoint: what stores exist,
    how they are partitioned, and which batch range is readable."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_state(
    spark: SparkSession,
    checkpoint: str,
    *,
    operator_id: int = 0,
    batch_id: int | None = None,
    store_name: str | None = None,
    flatten: bool = True,
) -> DataFrame:
    """State rows of one operator's store at a checkpoint.

    ``batch_id=None`` reads the latest committed batch; an explicit id
    time-travels to that batch's post-commit state (must be within the
    checkpoint's retained range — see ``state_metadata``'s
    min/maxBatchId). ``flatten=True`` lifts the key/value structs to
    top-level ``key_*`` / ``value_*`` columns so state is directly
    filterable/joinable against the domain tables.
    """
    reader = (
        spark.read.format("statestore")
        .option("path", checkpoint)
        .option("operatorId", operator_id)
    )
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    df = reader.load()
    if not flatten:
        return df
    key_cols = [
        df["key"][f.name].alias(f"key_{f.name}")
        for f in df.schema["key"].dataType.fields
    ]
    value_cols = [
        df["value"][f.name].alias(f"value_{f.name}")
        for f in df.schema["value"].dataType.fields
    ]
    return df.select(*key_cols, *value_cols, "partition_id")


def rollback_checkpoint(
    spark: SparkSession, checkpoint: str, to_batch_id: int
) -> list[str]:
    """Roll a streaming checkpoint back to ``to_batch_id``, the offline
    repair for a corrupted or wrong-results batch: delete every
    offsets/commits entry past the target batch and
    every state-store version file past ``to_batch_id + 1`` (batch N
    commits store version N+1), so the restarted query re-executes
    batch ``to_batch_id + 1`` onward from the last good state. Replay
    is deterministic for replayable sources: the file source's own
    metadata log (``sources/``) is left intact, so re-run batches see
    the exact file lists they saw originally.

    This is the repair half of the introspection mouth above: use
    ``state_metadata`` to find the batch range, ``read_state(...,
    batch_id=N)`` to locate the last GOOD version, roll back, restart.
    Works on any Hadoop filesystem (the checkpoint is usually on HDFS/
    object storage at scale); version files are matched structurally
    (``<n>.delta`` / ``<n>.snapshot`` at any depth under a numeric
    partition dir, covering multi-store operators like stream-stream
    joins) and checksum siblings are removed with their files so a
    later rewrite of the same version cannot trip stale-CRC errors.
    Returns the deleted paths. The tests drive the full round-trip:
    corrupt the latest version, prove the restart fails, roll back,
    prove the replayed query converges to the batch ground truth.

    Sink scope: this trims the checkpoint only, never the
    sink's own commit log. That is correct for the sinks the repair is
    meant for — memory/complete-mode sinks (replayed batches overwrite
    the result) and ``foreachBatch`` upserts (first-write-wins/MERGE
    makes the replay idempotent). It is NOT safe for an append-mode
    FILE sink: the files the rolled-back batches already wrote stay
    committed in the sink's ``_spark_metadata`` log, so the replay
    would append duplicates next to them. Repairing a file sink needs
    the sink-side log trimmed too — pair this call with
    ``rollback_file_sink(spark, sink_path, to_batch_id)`` below; this
    function does not attempt to discover sink paths from the
    checkpoint."""
    import re

    from ..tables import _hfs

    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = _hfs(spark, checkpoint)[0]
    removed: list[str] = []

    def _delete(p) -> None:
        parent, name = p.getParent(), p.getName()
        fs.delete(p, False)
        removed.append(str(p))
        crc = hpath(parent, f".{name}.crc")
        if fs.exists(crc):
            fs.delete(crc, False)

    for sub in ("offsets", "commits"):
        d = hpath(f"{checkpoint.rstrip('/')}/{sub}")
        if not fs.exists(d):
            continue
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if name.isdigit() and int(name) > to_batch_id:
                _delete(st.getPath())

    version_re = re.compile(r"^(\d+)\.(delta|snapshot)$")
    max_version = to_batch_id + 1

    def _trim_versions(dir_path) -> None:
        for st in fs.listStatus(dir_path):
            name = st.getPath().getName()
            if st.isDirectory():
                if not name.startswith("_"):  # skip _metadata/_stateSchema
                    _trim_versions(st.getPath())
                continue
            m = version_re.match(name)
            if m and int(m.group(1)) > max_version:
                _delete(st.getPath())

    state_root = hpath(f"{checkpoint.rstrip('/')}/state")
    if fs.exists(state_root):
        for op in fs.listStatus(state_root):  # operatorId dirs
            if not op.isDirectory():
                continue
            for part in fs.listStatus(op.getPath()):
                if part.isDirectory() and part.getPath().getName().isdigit():
                    _trim_versions(part.getPath())
    return removed


def rollback_file_sink(
    spark: SparkSession,
    sink_path: str,
    to_batch_id: int,
    *,
    force_reconcile: bool = False,
) -> list[str]:
    """The SINK half of ``rollback_checkpoint`` for FILE sinks: trim the
    sink's own commit log (``_spark_metadata``) back to ``to_batch_id``
    and delete the output files the dropped batches wrote, so a
    replayed batch cannot leave duplicates committed next to its
    originals (rolling back an append-mode file sink's checkpoint alone
    replays batches whose original output is still committed
    downstream).

    Mechanics: a file sink logs one entry per batch under
    ``<sink>/_spark_metadata/<batchId>`` (``v1`` header + one JSON
    ``add`` action per file; every ``compactInterval``-th batch is a
    ``<batchId>.compact`` that re-lists ALL live files). Dropping a log
    ``> to_batch_id`` un-commits its files; a file is physically
    deleted only when NO kept log still references it (compact entries
    re-list earlier batches' files — deleting those would corrupt kept
    history). Readers consult only this log for such directories, so
    after the trim ``spark.read`` sees exactly batches
    ``0..to_batch_id``.

    SAFETY: if a dropped ``.compact`` is the only remaining record of
    some batch ``<= to_batch_id`` (the sink already garbage-collected
    that batch's standalone log), the rollback would destroy committed
    history — the function refuses with RuntimeError instead of
    guessing. CRASH ORDER: log entries are deleted FIRST, highest batch
    id first, data files after — a kill at any point leaves the log a
    consistent prefix (worst case: orphaned data files no kept log
    references, which log-honoring readers ignore and which a RE-RUN
    with ``force_reconcile=True`` deletes — the final pass reconciles
    the directory listing against the remaining log instead of trusting
    the dropped entries' file lists; the flag is required on re-run
    because a rollback that drops no log entries otherwise refuses the
    reconcile sweep, since against a live stream log-unreferenced files
    are in-flight task output, not orphans), never a
    committed entry whose files are gone (that would both break reads
    AND make a restarted stream skip re-writing the batch, since the
    sink skips any batchId <= its log's latest entry). Works on any
    Hadoop filesystem, same as ``rollback_checkpoint``. Returns the
    deleted paths (log entries and data files)."""
    import json
    import re

    from ..tables import _hfs

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = _hfs(spark, sink_path)[0]
    meta_dir = f"{sink_path.rstrip('/')}/_spark_metadata"
    if not fs.exists(hpath(meta_dir)):
        raise ValueError(f"not a file-sink output (no _spark_metadata): {sink_path}")

    log_re = re.compile(r"^(\d+)(\.compact)?$")
    # a batch id normally has ONE entry (N or N.compact); tolerate both
    # appearing by tracking every path so a dropped batch loses ALL its
    # log files, and a kept batch contributes files from all of them
    logs: dict[int, list[tuple[object, bool]]] = {}
    for st in fs.listStatus(hpath(meta_dir)):
        m = log_re.match(st.getPath().getName())
        if m:
            logs.setdefault(int(m.group(1)), []).append(
                (st.getPath(), bool(m.group(2)))
            )

    dropped = {b: v for b, v in logs.items() if b > to_batch_id}
    kept = {b: v for b, v in logs.items() if b <= to_batch_id}
    if not dropped and not force_reconcile:
        # No-op rollback (to_batch_id >= the sink's latest committed
        # batch): nothing to un-commit, so the reconcile pass below
        # would ONLY delete log-unreferenced files — which, against a
        # live stream, are in-flight task output about to be committed
        # (nothing else enforces the documented stopped-stream
        # precondition on this path). Deleting them here
        # repairs nothing and can corrupt a running job, so refuse the
        # sweep unless the caller explicitly asserts the stream is
        # stopped and wants orphans cleaned (force_reconcile=True —
        # e.g. re-running after a mid-rollback kill whose first attempt
        # already trimmed the log to the target).
        return []
    if dropped:
        # SAFETY: every batch 0..to_batch_id must still be covered by a
        # kept log — either its own entry, or a kept compact at a
        # later-or-equal batch id (compacts re-list everything up to
        # themselves).
        max_kept_compact = max(
            (b for b, entries in kept.items() if any(c for _, c in entries)),
            default=-1,
        )
        for b in range(0, to_batch_id + 1):
            if b not in kept and b > max_kept_compact:
                raise RuntimeError(
                    f"cannot roll back sink to batch {to_batch_id}: batch "
                    f"{b}'s log entry was compacted into a batch > "
                    f"{to_batch_id} and its standalone entry is gone — "
                    "trimming would destroy committed history; roll back "
                    "to a batch covered by the remaining log instead"
                )

    def _log_files(log_path) -> set[str]:
        # driver-side LINE-STREAMED read (no Spark job per entry, and
        # bounded memory — a .compact re-lists every live sink file, so
        # materializing it as one string would scale with the sink)
        out: set[str] = set()
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(log_path), "UTF-8")
        )
        try:
            while True:
                line = reader.readLine()
                if line is None:
                    break
                s = line.strip()
                if not s or s.startswith("v"):
                    continue
                entry = json.loads(s)
                if entry.get("action", "add") == "add":
                    out.add(entry["path"])
        finally:
            reader.close()
        return out

    def _norm(uri: str) -> str:
        return hpath(uri).toUri().getPath()

    kept_files: set[str] = set()
    for entries in kept.values():
        for p, _ in entries:
            kept_files |= {_norm(f) for f in _log_files(p)}

    removed: list[str] = []

    def _delete(p) -> None:
        parent, name = p.getParent(), p.getName()
        if fs.exists(p):
            fs.delete(p, False)
            removed.append(str(p))
        crc = hpath(parent, f".{name}.crc")
        if fs.exists(crc):
            fs.delete(crc, False)

    # pass 1: un-commit the dropped LOG entries, highest batch id first
    # (the log's latest entry only ever moves down toward the target, so
    # any crash point is a consistent state).
    for b in sorted(dropped, reverse=True):
        for p, _ in sorted(dropped[b], key=lambda e: str(e[0])):
            _delete(p)
    # pass 2: reconcile — delete every data file under the sink that NO
    # remaining log entry references. Listing the directory (rather
    # than trusting the dropped entries' file lists) makes a re-run
    # after a mid-rollback kill clean the orphans whose log entries a
    # previous attempt already removed; with the stream stopped (the
    # offline-repair precondition) an unreferenced file is either
    # rolled-back or uncommitted-in-flight output, and replay rewrites
    # both.
    def _data_files(dir_path) -> list:
        out = []
        for st in fs.listStatus(dir_path):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # _spark_metadata, _temporary, hidden/crc
            if st.isDirectory():
                out.extend(_data_files(st.getPath()))
            else:
                out.append(st.getPath())
        return out

    for p in sorted(_data_files(hpath(sink_path)), key=lambda q: str(q)):
        if _norm(str(p)) not in kept_files:
            _delete(p)
    return removed
