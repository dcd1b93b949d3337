"""The reference's whole pipeline, Spark-first (SURVEY.md §7 phase 1).

Reference: chunked CSV -> typed record -> batched JDBC insert with
ON CONFLICT DO NOTHING (S1-S3, P1-P5, W1-W3, O1-O3 in SURVEY.md §2.1).
Engine: one declarative pipeline — CSV scan with explicit schema ->
projection/cast/null handling -> deterministic first-write-wins dedup ->
anti-join against the existing table -> append, partitioned by date.

Semantics preserved:
- P3 null-safe int parse: '' -> NULL (Spark cast does this natively).
- P4 ISO date parse: to_date('y-M-d') — the *intent* of the reference's
  parseDateString (…kt:52-61), not its 0-based-month bug (SURVEY.md §1.2).
- P5 null->-1 fips sentinel at the sink (…kt:133,171), so key dedup
  fires for null fips exactly as Postgres' unique index did.
- Keys: a NULL key part other than the sentinel'd fips fails the batch
  before any write (the reference's ``state``/``county`` are NOT NULL
  and a blank date fails its parse; see `upsert_append`).
- W3 first-write-wins: within a batch the winner is pinned by arrival
  order (row position), across batches by the anti-join (existing rows
  always win).
- O3/O4 idempotent re-run: ingesting the same file twice is a no-op.

Scale notes: a cron re-delivers the same published file ~95 times for
each time it grows, so every ingest call first checks the target's
delivery ledger (`_ingest_ledger` at the target root, one JSON record).
The record holds a content fingerprint of the last delivery the target
committed through the full path: the path, length and SHA-256 of every
file the source expands to, hashed in the JVM over the Hadoop stream, so
a re-fetched file with a new mtime but the same bytes still matches. A
matching delivery returns without a Spark job and fills ``metrics_out``
from the record. That is exact because every engine operation that can
remove rows deletes the ledger first (`tables._swap_paths`,
`tables.drop_partitions_older_than`): since the recorded commit the
table has only gained keys, so the anti-join would land nothing. A
target changed out of band (files deleted or corrupted by hand) is
therefore found by the next delivery that misses, not by a re-delivery.
Any other delivery takes the full path: the anti-join in
`upsert_append` reads every key of the target (no date predicate is
pushed, so no partition is pruned), then the ledger is rewritten. Each
call returns nothing; a caller that needs the table reads it. Open: at
100 TB the anti-join right side should be the dates in the batch, and a
grown file should parse only its new suffix.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import schemas
from .catalog import query
from .sources import load_tables, read_csv
from .tables import (
    INGEST_LEDGER,
    _commit_swap,
    _hfs,
    _read_json,
    _swap_dirs,
    _swap_paths,
    _write_json,
    delete_rows_partition_scoped,
)


def parse_covid_rows(
    raw: DataFrame, *, has_county: bool, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """P1-P5: positional projection + typed casts for the two NYT CSV
    layouts (counties: date,county,state,fips,cases,deaths; states:
    date,state,fips,cases,deaths — …kt:126-128,164-166).

    Built from SQL text, as is `first_write_wins`: the Column chains
    they replace sent ~270 py4j calls per ingest call."""
    return raw.selectExpr(
        "to_date(date, 'y-M-d') AS date",
        *(["county"] if has_county else []),
        "state",
        # '' -> NULL int (P3, …kt:49-50); sentinel applied at sink (P5).
        "CAST(fips AS INT) AS fips",
        "CAST(cases AS BIGINT) AS cases",
        "CAST(deaths AS BIGINT) AS deaths",
        *[f"`{c}`" for c in passthrough],
    )


def first_write_wins(df: DataFrame, keys: list[str], arrival_col: str) -> DataFrame:
    """W3 within-batch dedup with a deterministic winner: first arrival
    per key (the reference's DO NOTHING keeps the first inserted row;
    dropDuplicates alone would keep an arbitrary one)."""
    part = ", ".join(f"`{k}`" for k in keys)
    rn = F.expr(f"row_number() OVER (PARTITION BY {part} ORDER BY `{arrival_col}` ASC)")
    return df.withColumn("_rn", rn).filter("_rn = 1").drop("_rn")


def typed_batch(
    raw: DataFrame, keys: list[str], *, has_county: bool, lineage: dict | None = None
) -> DataFrame:
    """One NYT batch typed and deduplicated, the chain every ingest path
    shares: arrival order stamped on the raw rows, the P1-P5 parse, the
    P5 null-fips sentinel (-1, so a NULL fips takes part in the key as
    in Postgres' unique index, …kt:133,171), then W3 first write per
    key. ``lineage`` maps extra column names to expressions computed on
    the raw rows and carried through (the audited ingest's source file
    and batch id)."""
    raw = raw.withColumn("_arrival", F.monotonically_increasing_id())
    if lineage:
        raw = raw.withColumns(lineage)
    typed = parse_covid_rows(
        raw, has_county=has_county, passthrough=("_arrival", *(lineage or ()))
    )
    typed = typed.withColumn("fips", F.expr("coalesce(fips, -1)"))
    return first_write_wins(typed, keys, "_arrival").drop("_arrival")


def job_commit_succeeded(spark: SparkSession, path: str) -> bool:
    """True iff a Spark write to ``path`` ran its job commit to
    completion, i.e. the ``_SUCCESS`` marker exists. This is the only
    safe 'already written' test for an idempotent sink partition:

    - a dir holding only ``_temporary`` contents (crash mid-task) has
      no marker -> rewrite;
    - a dir holding some part files but no marker (crash mid-job-commit,
      after the committer moved task 1's output but before task 2's)
      has no marker -> rewrite. A test for 'any committed-looking data
      file' would call this half-published state done and drop the
      missing tasks' rows for good;
    - a fully committed dir (marker present) -> skip.

    If ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` is disabled
    the marker never appears and every replay rewrites: wasted work,
    never lost rows (the overwrite is deterministic), which is the
    right failure direction for an exactly-once sink."""
    fs, p = _hfs(spark, f"{path.rstrip('/')}/_SUCCESS")
    return bool(fs.exists(p))


def _flat_data_files_at_root(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds non-hidden data FILES directly at its
    root — flat data a ``batch_id=`` partitioned sink must not mix with."""
    fs, p = _hfs(spark, path)
    if not fs.exists(p):
        return False
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isFile() and not (name.startswith("_") or name.startswith(".")):
            return True
    return False


# Normalized admitted-sink paths whose root has been checked for flat
# data files this process: the check runs ONCE per path, because a
# per-batch root listing would re-introduce an O(#partitions) metadata
# cost. A batch write never creates root data files, so a pass cannot
# go stale through this module's own writes. It can go stale through
# someone else's: the cache is process-local, so a sink deleted and
# recreated with flat files at the same path, or flat files dropped
# there by another process, are not re-checked. Admitted sinks are
# single-writer by construction (one streaming query owns a
# checkpoint/sink pair).
_LAYOUT_CHECKED: set[str] = set()


def admit_sink_upsert(
    spark: SparkSession,
    admitted_rows: DataFrame,
    admitted_path: str,
    batch_id: int | None,
) -> None:
    """Idempotent admitted-rows sink write — ONE copy shared by
    `operators.dedup.admit_minhash_batch` and
    `operators.similarity.admit_ivf_batch` (a per-operator copy is how
    the r12 footerless-dir bug shipped twice).

    Admissions land under ``admitted_path/batch_id=N`` — the standard
    idempotent-sink layout, and the sink's only one. A replay whose
    partition's JOB COMMIT completed (``_SUCCESS`` marker — see
    `job_commit_succeeded` for why any weaker file-presence test loses
    rows on a mid-job-commit crash) skips the write entirely; anything
    less is rewritten with mode=overwrite. Per-micro-batch sink cost is
    ONE existence check — O(1) in sink size. Replay case analysis
    composes with the caller's ledger->sink->index ordering: a replay
    before the index append recomputes the SAME admissions (partition
    committed -> skip, anything less -> identical overwrite); a replay
    after it verdicts everything dup, writes nothing, and the committed
    partition is untouched.

    Refused with ``ValueError``, before anything is written:
    - ``batch_id`` None — without it there is no partition to make the
      replay idempotent;
    - a sink holding flat (un-partitioned) data files at its root —
      ``batch_id=`` dirs next to them would break partition discovery
      for every later read. Checked once per path per process
      (`_LAYOUT_CHECKED`).

    UNIQUENESS GUARANTEE (weaker than the reference's keyed
    ON CONFLICT DO NOTHING, …kt:138-141, by design — ADVICE r14):
    across micro-batches the sink is deduplicated at CONTENT level
    only, via the caller's index probe (a re-arriving doc is near-dup
    of its own indexed copy and verdicts 'dup'). A key re-arriving with
    content DIVERGENT enough to clear the near-dup threshold is
    admitted again into its batch's partition, so the sink can hold the
    same key in two partitions. A keyed cross-batch check would
    re-introduce an O(sink) scan per micro-batch, and for an admission
    pipeline 'same id, genuinely new content' is usually a new training
    document, not a conflict. Readers needing key-level uniqueness take
    latest-batch-wins at read time (``row_number() over (partition by
    key order by batch_id desc)`` — batch_id is a partition column, so
    the scan prunes).

    Maintenance constraint: the per-partition ``_SUCCESS`` markers ARE
    the idempotency ledger — a rewrite that drops them (e.g.
    `tables.compact_parquet`, which re-emits the partition layout but
    leaves one marker at the ROOT) makes every batch partition look
    un-committed again, and a subsequent replay of an already-indexed
    batch would overwrite it with the EMPTY admitted set (the docs are
    all dup against their own indexed copies by then). Use
    `compact_admitted_sink`, whose per-partition rewrite publishes each
    partition's own marker atomically with its data."""
    if batch_id is None:
        raise ValueError(
            f"admitted sink {admitted_path} needs a batch_id: the sink is "
            "batch_id= partitioned, and a replay is idempotent only per "
            "committed partition"
        )
    # trailing-slash variants of one path share one entry (ADVICE r14)
    cache_key = admitted_path.rstrip("/") or "/"
    if cache_key not in _LAYOUT_CHECKED:
        if _flat_data_files_at_root(spark, admitted_path):
            raise ValueError(
                f"admitted sink {admitted_path} holds flat "
                "(un-partitioned) data files at its root; writing "
                "batch_id= partitions next to them would break "
                "partition discovery for every later read — use a fresh path"
            )
        _LAYOUT_CHECKED.add(cache_key)
    part_dir = os.path.join(admitted_path, f"batch_id={batch_id}")
    if job_commit_succeeded(spark, part_dir):
        return
    admitted_rows.write.mode("overwrite").parquet(part_dir)


def compact_admitted_sink(
    spark: SparkSession, admitted_path: str, target_files: int = 1
) -> dict:
    """MARKER-PRESERVING small-files compaction for the
    batch-partitioned admitted sink (r14): steady-state streaming
    admission writes one file-set per micro-batch, so the sink accretes
    small files exactly like the indexes do — but `tables.compact_parquet`
    must NOT be used here, because its partition-layout rewrite leaves
    ONE ``_SUCCESS`` at the root while `admit_sink_upsert`'s idempotency
    test is the PER-PARTITION marker: every batch would look
    un-committed again, and a checkpoint-reset replay of an
    already-indexed batch would overwrite its partition with the empty
    admitted set (see admit_sink_upsert's maintenance constraint).

    This compacts partition BY partition: each ``batch_id=N`` dir with
    more than ``target_files`` data files is rewritten (coalesced) into
    its hidden swap dir — whose own ``_SUCCESS`` marker Spark writes as
    part of the rewrite, BEFORE any rename — and promoted by the one
    rewrite-in-place protocol (`tables._swap_paths` heals first,
    `tables._commit_swap` promotes). At every crash point a partition
    is therefore wholly old (marked) or wholly new (marked); the
    idempotency ledger is never stripped.

    Offline maintenance, like the index compactions: do not run it
    concurrently with the writing stream. Returns
    ``{"partitions_compacted", "files_before", "files_after"}``."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs, root, _, _, children = _swap_paths(spark, admitted_path)

    def _n_data_files(dir_path) -> int:
        return sum(
            1
            for f in fs.listStatus(dir_path)
            if f.isFile()
            and not f.getPath().getName().startswith("_")
            and not f.getPath().getName().startswith(".")
        )

    stats = {"partitions_compacted": 0, "files_before": 0, "files_after": 0}
    for name, st in children.items():
        if not name.startswith("batch_id=") or not st.isDirectory():
            continue
        n_files = _n_data_files(st.getPath())
        stats["files_before"] += n_files
        if n_files <= target_files:
            stats["files_after"] += n_files
            continue
        tmp, old = _swap_dirs(Path, root, name)
        pdir = st.getPath().toUri().getPath()
        # the rewrite itself creates tmp's _SUCCESS — the marker is in
        # place before the swap publishes anything
        spark.read.parquet(pdir).coalesce(target_files).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        _commit_swap(fs, st.getPath(), tmp, old, pdir)
        stats["partitions_compacted"] += 1
        # re-count the swapped-in partition rather than assuming
        # target_files: coalesce(n) emits one file per NON-EMPTY input
        # partition, so a small batch can land under target_files and
        # the assumption would overstate (even exceed files_before for
        # a large target_files) — ADVICE r14
        stats["files_after"] += _n_data_files(st.getPath())
    return stats


def upsert_append(new_rows: DataFrame, target_path: str, keys: list[str]) -> None:
    """Cross-batch W3: append only rows whose key is absent from the
    target (left_anti = the ON CONFLICT DO NOTHING membership test,
    …kt:138-141). Existing rows always win.

    A NULL key part fails the batch before anything is written: the
    equi anti-join never matches NULL, so such a row would land again on
    every re-delivery. The reference cannot hold one either (NOT NULL
    ``state``/``county``, ``schema.sql:4,15-16``; a blank date fails its
    parse). The guard is a filter in the write plan, so it adds no job.

    The target is healed first (`tables._swap_paths`): a partition a
    crashed rewrite parked at ``.date=X._swap_old`` is restored, so its
    rows are read as existing keys instead of landing again. The heal
    also deletes the delivery ledger; the ingest calls rewrite it after
    the append commits.

    The first-write branch is taken only when that heal lists an empty
    or missing root — never by swallowing read errors: a transient
    failure reading an EXISTING target must propagate, not silently
    disable dedup and append duplicates (the one corruption the
    reference's ON CONFLICT could never produce).

    The existing side is read with ``new_rows``' schema, so the read
    lists the target's directories and infers nothing from a footer. A
    corrupt target therefore raises when the scan reaches it, while the
    append runs, and nothing is committed."""
    spark = new_rows.sparkSession
    # SQL text, not a Column chain: one py4j call instead of ~120
    null_key = " OR ".join(f"`{k}` IS NULL" for k in keys)
    checked = new_rows.filter(
        F.expr(
            f"CASE WHEN {null_key} THEN raise_error("
            f"'ingest batch has a NULL key part in ({', '.join(keys)})') ELSE true END"
        )
    )
    children = _swap_paths(spark, target_path)[4]
    if children:
        existing = spark.read.schema(new_rows.schema).parquet(target_path).select(*keys)
        to_insert = checked.join(existing, on=keys, how="left_anti")
    else:
        to_insert = checked
    to_insert.write.mode("append").partitionBy("date").parquet(target_path)


def _delivery_files(spark: SparkSession, src_path: str) -> list | None:
    """The content fingerprint of a delivery: sorted ``[path, length,
    sha256]`` of every file ``src_path`` expands to, directories listed
    recursively with hidden files included (a superset of what Spark
    reads, so an extra file can only cause a miss). Hashed in the JVM
    over the Hadoop stream: no Spark job, any Hadoop filesystem. None
    when ``src_path`` matches nothing, which never hits."""
    fs, pattern = _hfs(spark, src_path)
    matches = fs.globStatus(pattern)
    if not matches:
        return None
    sha256 = spark._jvm.org.apache.commons.codec.digest.DigestUtils.sha256Hex
    out = []

    def add(st) -> None:
        stream = fs.open(st.getPath())
        try:
            out.append([st.getPath().toString(), st.getLen(), sha256(stream)])
        finally:
            stream.close()

    for m in matches:
        if m.isDirectory():
            it = fs.listFiles(m.getPath(), True)
            while it.hasNext():
                add(it.next())
        else:
            add(m)
    return sorted(out)


def _read_ledger(spark: SparkSession, ledger: str):
    """The ledger record at ``ledger``, or None when it is missing,
    unreadable or not JSON. Each of those is a miss, and a miss only
    costs one full-path call, which is exact."""
    try:
        return _read_json(spark, ledger)
    except (Py4JJavaError, ValueError):
        return None


def _ingest_delivery(
    spark: SparkSession,
    src_path: str,
    target_path: str,
    *,
    variant: str,
    has_county: bool,
    deduped: Callable[[], DataFrame],
    metrics_out: dict | None,
) -> None:
    """The one ingest path behind both ingest calls: a delivery equal to
    the target's ledger record returns at once; any other runs
    ``deduped()`` through `upsert_append` and records its ledger entry.

    The entry is written after the append's job commit, and only if the
    delivery's bytes are unchanged across the write (a re-fetch landing
    mid-call must not be recorded as what was read). A missing, torn or
    foreign record is a miss, so a crash before the record is written
    costs one full-path call and never loses a row."""
    keys = schemas.COVID_COUNTIES_KEYS if has_county else schemas.COVID_STATES_KEYS
    ledger = f"{target_path.rstrip('/')}/{INGEST_LEDGER}"
    files = _delivery_files(spark, src_path)
    entry = {"variant": variant, "has_county": has_county, "keys": keys, "files": files}
    record = _read_ledger(spark, ledger)
    if (
        files is not None
        and isinstance(record, dict)
        and isinstance(record.get("metrics"), dict)
        and all(record.get(k) == v for k, v in entry.items())
    ):
        if metrics_out is not None:
            metrics_out.update(record["metrics"])
        return
    obs = Observation("ingest_quality")
    # SQL text, not Column chains: 18 py4j calls instead of ~150. The
    # coalesce: on an empty batch SUM is NULL, and arithmetic on the
    # counters must see 0, not None.
    rows = deduped().observe(
        obs,
        F.expr("count(1) AS batch_rows"),
        F.expr("coalesce(sum(CAST(fips = -1 AS BIGINT)), 0) AS null_fips_rows"),
        F.expr("coalesce(sum(CAST(date IS NULL AS BIGINT)), 0) AS null_date_rows"),
    )
    upsert_append(rows, target_path, keys)
    metrics = dict(obs.get)
    if files is not None and _delivery_files(spark, src_path) == files:
        _write_json(spark, ledger, {**entry, "metrics": metrics})
    if metrics_out is not None:
        metrics_out.update(metrics)


def ingest_covid_csv(
    spark: SparkSession,
    src_path: str,
    target_path: str,
    *,
    has_county: bool,
    metrics_out: dict | None = None,
) -> None:
    """EP1/EP2 collapsed into one declarative pipeline: scan -> type ->
    sentinel -> in-batch dedup -> cross-batch anti-join append.

    Returns ``None``: the call is a command, like the reference's job.
    A caller that needs the table reads ``target_path`` itself.

    A re-delivery (the same bytes as the target's last full-path
    delivery, see the module's scale notes) runs no Spark job and
    lands nothing, exactly as the full path would. A target corrupted
    out of band is found by the next delivery that misses, not by a
    re-delivery.

    Pass ``metrics_out={}`` to collect batch data-quality counters via
    ``df.observe`` — row count, sentinel'd null-fips count, null-date
    count — measured DURING the append's single pass over the batch
    (an accumulator-style side channel, not a second scan: at 100 TB a
    separate QC count would double the read). The observed node sits
    after dedup and before the anti-join, so the numbers describe the
    batch as written on first ingest and the whole candidate batch on
    re-runs. A re-delivery reports the counters its ledger record kept
    from the full-path call, which are the same numbers."""
    schema = schemas.COVID_COUNTIES_CSV if has_county else schemas.COVID_STATES_CSV
    keys = schemas.COVID_COUNTIES_KEYS if has_county else schemas.COVID_STATES_KEYS

    def deduped() -> DataFrame:
        return typed_batch(read_csv(spark, src_path, schema), keys, has_county=has_county)

    _ingest_delivery(
        spark, src_path, target_path, variant="plain", has_county=has_county,
        deduped=deduped, metrics_out=metrics_out,
    )


def derive_states_fixture(orders: DataFrame) -> DataFrame:
    """The deterministic NYT-states-shaped fixture both ingest entries
    feed: a (month, priority, custkey-derived-fips) aggregate of the
    `orders` table — key-level, so duplicate CSV rows are byte-identical
    and the dedup winner is arrival-independent. ~1/10 of fips values
    are NULL to exercise P3/P5."""
    fips = F.when(F.col("o_custkey") % 10 == 0, F.lit(None)).otherwise(
        (F.col("o_custkey") % 100).cast("int")
    )
    return orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date").alias("date"),
        F.col("o_orderpriority").alias("state"),
        fips.alias("fips"),
    ).agg(F.sum("o_orderkey").alias("cases"), F.count(F.lit(1)).alias("deaths"))


# The DuckDB twin of derive_states_fixture (fips nulls already -1 via
# COALESCE — the ingested table's P5 shape). ONE copy: the flat oracle
# of ingest_covid_states and the `derived` CTE of both audited entries
# (lineage, rollback) are built from this string, so a fixture-rule
# tweak cannot silently desynchronize their oracles (self-review r11).
_DERIVED_STATES_SQL = """SELECT CAST(date_trunc('month', o_orderdate) AS DATE)   AS date,
       o_orderpriority                                  AS state,
       COALESCE(CASE WHEN o_custkey % 10 = 0 THEN NULL
                     ELSE CAST(o_custkey % 100 AS INT) END, -1) AS fips,
       CAST(SUM(o_orderkey) AS BIGINT)                  AS cases,
       CAST(COUNT(*) AS BIGINT)                         AS deaths
FROM orders
GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE), o_orderpriority,
         CASE WHEN o_custkey % 10 = 0 THEN NULL
              ELSE CAST(o_custkey % 100 AS INT) END"""


@query(
    "ingest_covid_states",
    tables=("orders",),
    oracle=f"\n{_DERIVED_STATES_SQL}\n",
)
def ingest_covid_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LITERAL pipeline under the driver's oracle gate:
    S1-S3 CSV scan (explicit schema, header, comma) -> P1-P5 typed
    projection (ISO date parse, ''->NULL fips, null->-1 sentinel) -> W3
    first-write-wins dedup + anti-join upsert -> date-partitioned table,
    ingested TWICE to exercise the O3/O4 idempotent re-run live (the
    second call is the cron's re-delivery: a ledger hit, no Spark job).

    The input CSV is derived deterministically from the `orders` fixture
    (key-level aggregate, so duplicate rows are byte-identical and the
    dedup winner is arrival-independent), unioned with itself so the
    in-batch dedup does real work. Fixture generation is fully
    Spark-side (distributed CSV write — nulls as '', ISO dates, the NYT
    file shape) — nothing is ever collected to the driver, so the entry
    scales with the fixture like every other catalog query.
    """
    t = load_tables(spark, sf_dir, "orders")
    # Month grain, not day: the target is partitioned by `date`, and ~80
    # month partitions exercise partition pruning exactly like ~2400 day
    # partitions while keeping the twice-run fixture pipeline fast (the
    # 55s day-grain variant spent its time creating 2x2405 tiny
    # partition directories — the small-files antipattern compact_parquet
    # exists to fix, not something the gate entry should manufacture).
    derived = derive_states_fixture(t.orders)
    workdir = tempfile.mkdtemp(prefix="ingest_covid_states_")
    csv_path = os.path.join(workdir, "states_csv")
    # Each row twice: byte-identical in-batch duplicates for W3 to kill.
    # Spark's CSV writer emits NULL as '' (P3's inverse) and dates as ISO.
    (
        derived.unionByName(derived)
        .coalesce(1)  # one part-file: the reference reads ONE remote CSV
        .write.option("header", True)
        .csv(csv_path)
    )
    target = os.path.join(workdir, "covid_states")
    ingest_covid_csv(spark, csv_path, target, has_county=False)
    ingest_covid_csv(spark, csv_path, target, has_county=False)
    return spark.read.parquet(target).select(
        F.col("date").cast("date").alias("date"),
        "state",
        F.col("fips").cast("int").alias("fips"),
        F.col("cases").cast("long").alias("cases"),
        F.col("deaths").cast("long").alias("deaths"),
    )


def _write_named_csv(df: DataFrame, directory: str, filename: str) -> None:
    """Write ``df`` as ONE named CSV file (header, '' for NULL) inside
    ``directory`` — the fixture shape for lineage tests: a *stable
    basename* that input_file_name() can be checked against. Spark names
    its part files itself, so write to a scratch dir and rename the
    single part file into place."""
    import glob as _glob
    import shutil

    scratch = tempfile.mkdtemp(prefix="named_csv_")
    df.coalesce(1).write.option("header", True).mode("overwrite").csv(scratch)
    parts = _glob.glob(os.path.join(scratch, "part-*.csv"))
    if len(parts) != 1:  # pragma: no cover - coalesce(1) guarantees one
        raise IOError(f"expected one part file, found {parts}")
    os.makedirs(directory, exist_ok=True)
    shutil.move(parts[0], os.path.join(directory, filename))
    shutil.rmtree(scratch, ignore_errors=True)


def ingest_covid_csv_audited(
    spark: SparkSession,
    src_path: str,
    target_path: str,
    *,
    batch_id: int,
    has_county: bool,
) -> None:
    """The ingest chain with lineage/audit columns (O3 made queryable):
    every row written to the target carries

    - ``source_file``: basename of the CSV file the row came from,
      captured at scan time via ``input_file_name()`` — per-ROW file
      lineage, not per-job bookkeeping, so a multi-file batch stays
      attributable after the union;
    - ``batch_id``: the ingest run that FIRST wrote the row. The
      first-write-wins upsert means a re-delivered row keeps its
      original batch_id forever — exactly the provenance question a
      takedown or bad-batch rollback asks ("which rows did batch 7
      introduce?"), answerable by a partition-pruned filter instead of
      replaying job logs.

    Same S1-P5-W3 semantics as ``ingest_covid_csv``; the audit columns
    ride through dedup and the anti-join unchanged. Scale notes: both
    columns are scan-time literals/metadata — no extra shuffle, no
    second pass; a delete of "everything batch N wrote" is then
    ``delete_rows_partition_scoped(..., F.col('batch_id') == N)``.
    Returns ``None`` and shares its ledger contract with
    ``ingest_covid_csv``: a re-delivery of the same bytes runs no Spark
    job, whatever ``batch_id`` it carries, since it could land nothing.
    """
    schema = schemas.COVID_COUNTIES_CSV if has_county else schemas.COVID_STATES_CSV
    keys = schemas.COVID_COUNTIES_KEYS if has_county else schemas.COVID_STATES_KEYS

    def deduped() -> DataFrame:
        lineage = {
            "source_file": F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1),
            "batch_id": F.lit(batch_id).cast("int"),
        }
        return typed_batch(
            read_csv(spark, src_path, schema), keys, has_county=has_county, lineage=lineage
        )

    _ingest_delivery(
        spark, src_path, target_path, variant="audited", has_county=has_county,
        deduped=deduped, metrics_out=None,
    )


_HIGH_STATES = ("1-URGENT", "2-HIGH")


def _two_batch_audited_fixture(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Write the two-batch lineage fixture and run both audited ingests
    into a fresh target; returns the target path. Batch 1 = the
    high-priority slice (one named CSV); batch 2 = the grown full
    snapshot (re-delivers the high file + the rest — the NYT shape,
    where the published file only grows). ONE copy shared by
    `ingest_lineage_audit` and `ingest_rollback_batch`, so the slice
    rule their oracles hardcode cannot drift between them."""
    t = load_tables(spark, sf_dir, "orders")
    derived = derive_states_fixture(t.orders)
    workdir = tempfile.mkdtemp(prefix=prefix)
    batch1_dir = os.path.join(workdir, "batch1")
    batch2_dir = os.path.join(workdir, "batch2")
    high = derived.filter(F.col("state").isin(*_HIGH_STATES))
    rest = derived.filter(~F.col("state").isin(*_HIGH_STATES))
    _write_named_csv(high, batch1_dir, "batch_high.csv")
    _write_named_csv(high, batch2_dir, "batch_high.csv")
    _write_named_csv(rest, batch2_dir, "batch_rest.csv")

    target = os.path.join(workdir, "covid_states_audited")
    ingest_covid_csv_audited(spark, batch1_dir, target, batch_id=1, has_county=False)
    ingest_covid_csv_audited(spark, batch2_dir, target, batch_id=2, has_county=False)
    return target


def _three_batch_audited_fixture(
    spark: SparkSession, sf_dir: str, prefix: str
) -> tuple[str, dict[int, str]]:
    """The INTERIOR-rollback fixture: batch 1 = the high-priority slice,
    batch 2 (the bad batch) re-delivers it plus the medium slice, batch
    3 = the full snapshot in one file. Returns (target path, replay
    sources for the later batches) — batch 2's own source dir is
    deliberately NOT in the replay map: rolling IT back must not need
    it."""
    t = load_tables(spark, sf_dir, "orders")
    derived = derive_states_fixture(t.orders)
    workdir = tempfile.mkdtemp(prefix=prefix)
    b1, b2, b3 = (os.path.join(workdir, f"batch{i}") for i in (1, 2, 3))
    high = derived.filter(F.col("state").isin(*_HIGH_STATES))
    med = derived.filter(F.col("state") == "3-MEDIUM")
    _write_named_csv(high, b1, "batch_high.csv")
    _write_named_csv(high, b2, "batch_high.csv")
    _write_named_csv(med, b2, "batch_med.csv")
    _write_named_csv(derived, b3, "batch_full.csv")
    target = os.path.join(workdir, "covid_states_audited")
    for i, d in ((1, b1), (2, b2), (3, b3)):
        ingest_covid_csv_audited(spark, d, target, batch_id=i, has_county=False)
    return target, {3: b3}


@query(
    "ingest_rollback_replay",
    tables=("orders",),
    oracle=f"""
WITH derived AS (
{_DERIVED_STATES_SQL}
)
SELECT CASE WHEN state IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 3 END AS batch_id,
       CASE WHEN state IN ('1-URGENT', '2-HIGH') THEN 'batch_high.csv'
            ELSE 'batch_full.csv' END                              AS source_file,
       state,
       CAST(COUNT(*) AS BIGINT)    AS n_rows,
       CAST(SUM(cases) AS BIGINT)  AS cases_sum,
       CAST(SUM(deaths) AS BIGINT) AS deaths_sum
FROM derived
GROUP BY 1, 2, 3
""",
)
def ingest_rollback_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERIOR-batch rollback under the driver's gate (VERDICT r11
    item 5): batch 1 ingests the high slice, batch 2 re-delivers it
    plus the medium slice, batch 3 delivers the full snapshot — then
    batch 2 is declared bad and `rollback_interior_batch` undoes it
    while KEEPING batch 3, replaying batch 3 from its original source
    files. The post-repair table must equal never-having-run batch 2:
    high rows still (batch 1, batch_high.csv); the medium rows batch 2
    introduced come BACK — re-attributed (batch 3, batch_full.csv),
    because in the counterfactual batch 3 would have first-written
    them; every other row is batch 3's. The oracle derives that end
    state from the slice rule alone, so a delete-only rollback (medium
    rows vanish), a replay that loses re-deliveries, or an identity
    leak (medium rows keeping batch 2's id or file) each break the
    hash.

    Scale notes: the delete rewrites only the partitions batch 2's
    rows live in; the replay's anti-join re-inserts exactly the
    re-delivered rows (writes ∝ those rows; the anti-join still scans
    every key of the table, see `upsert_append`); landing-zone
    retention supplies the replay sources (`rollback_interior_batch`
    docstring)."""
    target, sources = _three_batch_audited_fixture(spark, sf_dir, "ingest_replay_")
    rollback_interior_batch(spark, target, 2, sources, has_county=False)
    return spark.read.parquet(target).groupBy(
        "batch_id", "source_file", "state"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cases").alias("cases_sum"),
        F.sum("deaths").alias("deaths_sum"),
    )


@query(
    "ingest_lineage_audit",
    tables=("orders",),
    oracle=f"""
WITH derived AS (
{_DERIVED_STATES_SQL}
)
SELECT CASE WHEN state IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 2 END AS batch_id,
       CASE WHEN state IN ('1-URGENT', '2-HIGH') THEN 'batch_high.csv'
            ELSE 'batch_rest.csv' END                              AS source_file,
       state,
       CAST(COUNT(*) AS BIGINT)   AS n_rows,
       CAST(SUM(cases) AS BIGINT) AS cases_sum,
       CAST(SUM(deaths) AS BIGINT) AS deaths_sum
FROM derived
GROUP BY 1, 2, 3
""",
)
def ingest_lineage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run lineage under the driver's gate: batch 1 ingests the
    high-priority slice (one named CSV), batch 2 re-delivers the FULL
    snapshot (both files — the NYT shape, where the published file only
    grows). First-write-wins means every high-priority row must still
    carry ``(batch_id=1, source_file='batch_high.csv')`` after batch 2
    re-delivered it, and the remaining rows carry batch 2's identity —
    the oracle derives both labels from the slice rule alone, so a
    lineage column lying about who wrote a row (or the anti-join
    letting batch 2 overwrite batch 1) is a hash mismatch, not a log
    archaeology exercise.

    Scale notes: lineage costs zero extra passes (scan-time metadata);
    the audit aggregate is bounded by #batches x #files x #states."""
    target = _two_batch_audited_fixture(spark, sf_dir, "ingest_lineage_")
    out = spark.read.parquet(target)
    return out.groupBy("batch_id", "source_file", "state").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cases").alias("cases_sum"),
        F.sum("deaths").alias("deaths_sum"),
    )


def rollback_ingest_batch(spark: SparkSession, target_path: str, batch_id: int) -> int:
    """Undo everything ingest batch ``batch_id`` wrote to an audited
    target — the batch-side twin of the streaming
    ``rollback_checkpoint`` repair (VERDICT r10 item 6). Because
    first-write-wins pins ``batch_id`` to the run that FIRST wrote each
    row, deleting ``batch_id == N`` removes exactly the rows batch N
    introduced and nothing a prior batch owns — so the table reverts to
    its pre-batch-N state without a snapshot: the lineage column IS the
    undo log. Implemented as a partition-scoped predicate delete
    (``delete_rows_partition_scoped``): one column-pruned scan finds
    the date partitions batch N touched, only those rewrite. Returns
    rows deleted.

    The inverse direction (undo batch N-1 but keep batch N) is NOT
    expressible this way: rows batch N re-delivered but batch N-1 wrote
    first would vanish with their first writer — rolling back an
    interior batch needs the re-deliveries replayed afterwards
    (`rollback_interior_batch` below), exactly like the streaming
    repair replays post-rollback batches."""
    return delete_rows_partition_scoped(
        spark, target_path, "date", F.col("batch_id") == batch_id
    )


def rollback_interior_batch(
    spark: SparkSession,
    target_path: str,
    batch_id: int,
    replay_sources: dict[int, str],
    *,
    has_county: bool,
) -> dict:
    """Undo INTERIOR batch ``batch_id`` while KEEPING later batches —
    the redelivery-replay direction `rollback_ingest_batch` documents
    as inexpressible by deletion alone (VERDICT r11 item 5). Deleting
    batch N-1's rows would also lose every row a LATER batch
    re-delivered but N-1 first-wrote (first-write-wins pinned those
    rows to N-1), so the repair is delete-then-replay:

    1. determine the later batches to replay as the UNION of (a) every
       ``replay_sources`` key > ``batch_id`` and (b) every later batch
       observed in the lineage column (one column-pruned distinct), and
       REFUSE if any observed one is missing from ``replay_sources`` —
       a partial replay would silently lose the unreplayable batch's
       re-deliveries. The union matters: a later batch whose rows were
       ALL shadowed by earlier first-writers leaves no lineage row, so
       the table alone cannot enumerate it — yet the counterfactual
       needs it replayed (it would have first-written what N-1 did).
       The caller's ingest ledger (here: ``replay_sources``) is the
       source of truth for which batches ran; the lineage check is the
       guard for ledger omissions that DID leave rows;
    2. delete EXACTLY batch ``batch_id``'s rows (the same partition-
       scoped predicate delete as the exact-batch rollback — later
       batches' rows are never touched);
    3. re-run the audited ingest for each later batch in ascending
       order from its ORIGINAL source files with its ORIGINAL batch
       id: the upsert's anti-join re-inserts ONLY the rows the delete
       removed that the later batch re-delivered, now attributed to
       that batch — replay writes ∝ re-delivered rows (its anti-join
       still scans every key of the target, like every ingest). The
       delete dropped the target's delivery ledger, so no replay can
       be skipped as a re-delivery.

    First-write-wins makes the outcome exact, case by case: rows only
    batch N-1 introduced are gone (nothing re-delivers them — and if a
    later batch DID deliver one, it comes back under that batch, which
    is precisely the counterfactual identity); rows N-1 first-wrote
    but a later batch re-delivered return with the EARLIEST replaying
    batch's identity (ascending order = the counterfactual first
    writer); rows later batches introduced are untouched. The table
    equals the state of NEVER HAVING RUN batch N-1, row for row
    (pinned in tests/test_ingest.py against an independently built
    counterfactual target, and by the `ingest_rollback_replay` oracle
    entry).

    ``replay_sources`` is the landing-zone retention contract: at
    100 TB the ingest queue keeps source files addressable by batch
    (the reference's published-CSV shape trivially does — the file
    only grows in place). Returns ``{"rows_deleted",
    "batches_replayed"}``."""
    observed = {
        r["batch_id"]
        for r in spark.read.parquet(target_path)
        .filter(F.col("batch_id") > batch_id)
        .select("batch_id")
        .distinct()
        .collect()
    }
    missing = sorted(b for b in observed if b not in replay_sources)
    if missing:
        raise ValueError(
            f"cannot roll back interior batch {batch_id}: later batches "
            f"{missing} have no replay source — deleting without replaying "
            "them would lose their re-delivered rows"
        )
    # observed ∪ declared: a fully-shadowed later batch (zero surviving
    # rows) is invisible to the lineage scan but still must replay
    later = sorted(observed | {b for b in replay_sources if b > batch_id})
    deleted = delete_rows_partition_scoped(
        spark, target_path, "date", F.col("batch_id") == batch_id
    )
    for b in later:
        ingest_covid_csv_audited(
            spark, replay_sources[b], target_path, batch_id=b, has_county=has_county
        )
    return {"rows_deleted": deleted, "batches_replayed": len(later)}


@query(
    "ingest_rollback_batch",
    tables=("orders",),
    oracle=f"""
WITH derived AS (
{_DERIVED_STATES_SQL}
)
SELECT 1 AS batch_id,
       state,
       CAST(COUNT(*) AS BIGINT)    AS n_rows,
       CAST(SUM(cases) AS BIGINT)  AS cases_sum,
       CAST(SUM(deaths) AS BIGINT) AS deaths_sum
FROM derived
WHERE state IN ('1-URGENT', '2-HIGH')
GROUP BY state
""",
)
def ingest_rollback_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-batch rollback under the driver's gate: batch 1 ingests the
    high-priority slice, batch 2 delivers the full snapshot (re-
    delivering batch 1's rows plus the rest), then batch 2 is declared
    bad and ``rollback_ingest_batch`` undoes it. The post-rollback
    table must equal the post-batch-1 state EXACTLY: the oracle derives
    that state from the slice rule alone (high states only, every row
    batch_id 1), so a rollback that leaves any batch-2 row behind
    produces extra groups, and one that deletes a batch-1 row from a
    rewritten partition breaks the per-state checksums. Proves the
    lineage column is a working undo log, not just an audit answer.

    Scale notes: the rollback rewrites only the date partitions batch 2
    touched (partition-scoped predicate delete, cost ∝ touched
    partitions); at 100 TB an ingest-date-partitioned layout makes the
    same undo a directory drop."""
    target = _two_batch_audited_fixture(spark, sf_dir, "ingest_rollback_")
    rollback_ingest_batch(spark, target, 2)
    return (
        spark.read.parquet(target)
        .groupBy("batch_id", "state")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cases").alias("cases_sum"),
            F.sum("deaths").alias("deaths_sum"),
        )
    )
