"""The benchmark's workloads: set-up, one timed op, and output checks.

Each workload is a closed loop with one client. ``WARMUP_OPS`` is how
many untimed ops its op CPU takes to settle (JIT compilation of the
engine's code paths). ``kind(i)`` names op ``i``'s kind and ``MIX``
gives each kind's share of the traffic the workload stands for; the
loop times every kind and weights them by ``MIX``. ``prepare(i)`` delivers
op number ``i``'s input outside the timed window; ``op(i, tr)`` runs
the op (the op sequence depends only on the seed, never on timing) and
returns the number of items it completed; ``check(i)``
verifies that op's output outside the timed window and returns a list
of failures; ``final_check()`` verifies state the whole run built.
Every call into a package module goes through ``tr.span(<boundary>)``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from nytimes_batch_processor_spark import ingest
from nytimes_batch_processor_spark.operators import dedup, text


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _data_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


_DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def _write_docs(spark, rows: list, path: str):
    """Deliver document rows as one parquet file (the documents fixture
    schema); return the engine's DataFrame over it."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(pa.table(cols, schema=_DOC_SCHEMA), os.path.join(path, "part-0.parquet"))
    return spark.read.parquet(path)


class NytCronIngest:
    """One op = one cron tick: ingest the counties snapshot, then the
    states snapshot, into date-partitioned targets. On a growth tick
    the snapshot has grown by one day; a re-delivery tick delivers the
    same file unchanged. Every fourth tick is a growth tick, so a short
    run times both kinds; ``MIX``, not this sampling, weights them."""

    name = "nyt_cron_ingest"
    # op CPU falls by a fifth over the first two ticks after the backfill
    WARMUP_OPS = 2
    # The reference crons the job every 15 minutes (SURVEY.md O4,
    # ``deploy/deploy.sh:29``) over a file published once a day: one
    # growth tick in 96.
    MIX = {"growth": 1 / 96, "redeliver": 95 / 96}
    # Above 32 date partitions every read of a target lists its files
    # with a Spark job (spark.sql.sources.parallelPartitionDiscovery
    # .threshold), a step in tick cost. Real targets hold hundreds of
    # days, so the backfill starts past the step.
    INITIAL_DAYS = 34
    COUNTIES_PER_STATE = 10

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work = spark, work
        self.gen = gen.CovidGenerator(seed, self.COUNTIES_PER_STATE)
        self.csv = {k: os.path.join(work, "delivery", f"us-{k}.csv")
                    for k in ("counties", "states")}
        self.target = {k: os.path.join(work, "tables", k) for k in ("counties", "states")}
        os.makedirs(os.path.dirname(self.csv["counties"]), exist_ok=True)
        self.days = self.INITIAL_DAYS
        self.landed: list[tuple[str, int, int]] = []  # (kind, landed, delivered) per tick
        self._expect = (0, 0)
        self._rows = {}

    def _deliver(self, days: int) -> None:
        self.snap = self.gen.write(days, self.csv["counties"], self.csv["states"])

    def _count(self, k: str) -> int:
        return self.spark.read.parquet(self.target[k]).count()

    def setup(self) -> None:
        """Backfill: the first delivery lands the initial snapshot."""
        self._deliver(self.days)
        for k in ("counties", "states"):
            ingest.ingest_covid_csv(
                self.spark, self.csv[k], self.target[k], has_county=k == "counties"
            )
        self._rows = {k: self._count(k) for k in ("counties", "states")}

    @staticmethod
    def kind(i: int) -> str:
        return "growth" if i % 4 == 0 else "redeliver"

    def prepare(self, i: int) -> None:
        grow = self.kind(i) == "growth"
        if grow:  # the publisher's daily file grew by one day
            self.days += 1
            self._deliver(self.days)
        self._expect = self.snap.day_keys[-1] if grow else (0, 0)

    def op(self, i: int, tr) -> int:
        with tr.span("ingest.counties", i):
            ingest.ingest_covid_csv(
                self.spark, self.csv["counties"], self.target["counties"], has_county=True
            )
        with tr.span("ingest.states", i):
            ingest.ingest_covid_csv(
                self.spark, self.csv["states"], self.target["states"], has_county=False
            )
        return self.snap.counties_rows + self.snap.states_rows

    def check(self, i: int) -> list[str]:
        rows = {k: self._count(k) for k in ("counties", "states")}
        got = (rows["counties"] - self._rows["counties"], rows["states"] - self._rows["states"])
        self._rows = rows
        self.landed.append((self.kind(i), sum(got),
                            self.snap.counties_rows + self.snap.states_rows))
        if got != self._expect:
            return [f"tick {i}: landed {got}, expected {self._expect}"]
        return []

    def final_check(self) -> list[str]:
        errs = []
        for k, keys, nulls, cols in (
            ("counties", self.snap.counties_keys, self.snap.counties_null_fips_keys,
             ["date", "county", "state", "fips"]),
            ("states", self.snap.states_keys, self.snap.states_null_fips_keys,
             ["date", "state", "fips"]),
        ):
            t = self.spark.read.parquet(self.target[k])
            r = t.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(*cols).alias("keys"),
                F.sum((F.col("fips") == -1).cast("long")).alias("nulls"),
                F.sum(F.col("fips").isNull().cast("long")).alias("raw_nulls"),
            ).first()
            if (r["n"], r["keys"]) != (len(keys), len(keys)):
                errs.append(f"{k}: {r['n']} rows / {r['keys']} keys, expected {len(keys)}")
            if r["nulls"] != nulls or r["raw_nulls"]:
                errs.append(f"{k}: {r['nulls']} fips=-1 rows, expected {nulls}")
        date, county, state, fips = self.snap.collision
        won = (
            self.spark.read.parquet(self.target["counties"])
            .filter(
                (F.col("date") == F.lit(date).cast("date")) & (F.col("county") == county)
                & (F.col("state") == state) & (F.col("fips") == fips)
            )
            .select("cases").collect()
        )
        if [r.cases for r in won] != [self.snap.collision_first_cases]:
            errs.append(f"collision: {won}, first arrival had {self.snap.collision_first_cases}")
        return errs

    def extra(self) -> dict:
        # per-kind means, weighted by the kind's share of the traffic
        landed = delivered = 0.0
        for k, w in self.MIX.items():
            ticks = [(a, b) for kind, a, b in self.landed if kind == k]
            if ticks:
                landed += w * sum(a for a, _ in ticks) / len(ticks)
                delivered += w * sum(b for _, b in ticks) / len(ticks)
        input_bytes = sum(os.path.getsize(p) for p in self.csv.values())
        stored = sum(_dir_bytes(p) for p in self.target.values())
        return {
            "ingest.landed_ratio": landed / delivered if delivered else 0.0,
            "stored_bytes_per_input_byte": stored / input_bytes,
        }


class DocAdmission:
    """One op = one arriving document batch through the composed
    curation pipeline with an admitted sink and a batch id (what the
    streaming foreachBatch sink runs per micro-batch), then the batch's
    manifest executed through the noop sink, then
    ``packed_offsets(bpe_token_counts(...))`` over the batch's admitted
    documents, collected. Each batch is its own probe window and ends
    with index maintenance, so every op does the same work. The BPE
    pack is the only step that runs Python workers."""

    name = "doc_admission"
    # the first batch costs twice a later one, the second up to a third more
    WARMUP_OPS = 2
    MIX = {"batch": 1.0}
    BASE_DOCS = 1000
    BATCH_DOCS = 300
    BPE_SAMPLE = 20

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.gen = gen.DocGenerator(seed, self.BASE_DOCS, self.BATCH_DOCS)
        self.index = os.path.join(work, "minhash_index")
        self.sink = os.path.join(work, "admitted")
        self.admitted_total = 0
        self.index_files: list[int] = []
        self.input_bytes = 0

    def setup(self) -> None:
        base = _write_docs(self.spark, self.gen.base, os.path.join(self.work, "base"))
        dedup.build_minhash_index(base, self.index)
        self.input_bytes += sum(len(r[1]) for r in self.gen.base)

    @staticmethod
    def kind(i: int) -> str:
        return "batch"

    def prepare(self, i: int) -> None:
        self.batch = batch = self.gen.next_batch()
        self.input_bytes += sum(len(r[1]) for r in batch.rows if r[0] in batch.expected_admitted)
        self.docs = _write_docs(
            self.spark, batch.rows, os.path.join(self.work, "arrivals", f"b{i}")
        )

    def op(self, i: int, tr) -> int:
        self.metrics: dict = {}
        with tr.span("text.curate_call", i):
            manifest = text.curate_admission_pipeline(
                self.spark, self.index, self.docs, metrics_out=self.metrics,
                admitted_path=self.sink, batch_id=i,
            )
        with tr.span("text.curate_manifest", i):
            manifest.write.format("noop").mode("overwrite").save()
        with tr.span("dedup.maintain", i):
            dedup.maintain_minhash_index(self.spark, self.index)
        admitted = self.metrics["ledger"].filter(F.col("status") == "admitted").select("doc_id")
        with tr.span("text.bpe_pack", i):
            self.packed = (
                text.packed_offsets(text.bpe_token_counts(self.docs.join(admitted, "doc_id")))
                .select("doc_id", "n_tokens", "start_offset").collect()
            )
        return len(self.batch.rows)

    def check(self, i: int) -> list[str]:
        self.index_files.append(_data_files(self.index))
        ledger = self.metrics["ledger"].select("doc_id", "status").collect()
        got = {r.doc_id for r in ledger if r.status == "admitted"}
        self.admitted_total += len(got)
        errs = []
        if len(ledger) != len(self.batch.rows) or len({r.doc_id for r in ledger}) != len(ledger):
            errs.append(f"batch {i}: {len(ledger)} ledger rows for {len(self.batch.rows)} docs")
        if got != self.batch.expected_admitted:
            errs.append(
                f"batch {i}: admitted {len(got)}, expected {len(self.batch.expected_admitted)}"
                f" ({len(got ^ self.batch.expected_admitted)} differ)"
            )
        return errs + self._check_packing(i, got)

    def _check_packing(self, i: int, admitted: set) -> list[str]:
        """Packing conserves tokens (offsets are the running sum of
        token counts from 0) and a seeded sample of documents agrees
        with the reference encoder ``bpe_encode_word_by_rank``."""
        out = sorted(self.packed)
        if [r.doc_id for r in out] != sorted(admitted):
            return [f"batch {i}: {len(out)} packed docs for {len(admitted)} admitted"]
        offset = 0
        for r in out:
            if r.start_offset != offset:
                return [f"batch {i}: doc {r.doc_id} starts at {r.start_offset}, not {offset}"]
            offset += r.n_tokens
        by_id = {r.doc_id: r.n_tokens for r in out}
        bodies = {r[0]: r[1] for r in self.batch.rows}
        rng = random.Random(self.seed * 101 + i)
        errs = []
        for doc_id in rng.sample(sorted(by_id), min(self.BPE_SAMPLE, len(by_id))):
            want = sum(len(text.bpe_encode_word_by_rank(w)) for w in bodies[doc_id].lower().split())
            if by_id[doc_id] != want:
                errs.append(f"batch {i}: doc {doc_id} has {by_id[doc_id]} tokens, reference {want}")
        return errs

    def final_check(self) -> list[str]:
        errs = []
        sink = self.spark.read.parquet(self.sink)
        r = sink.agg(F.count(F.lit(1)).alias("n"), F.count_distinct("doc_id").alias("d")).first()
        if r["n"] != r["d"] or r["n"] != self.admitted_total:
            errs.append(f"sink: {r['n']} rows, {r['d']} distinct, admitted {self.admitted_total}")
        n_index = self.spark.read.parquet(self.index).count()
        if n_index != self.BASE_DOCS + self.admitted_total:
            errs.append(f"index: {n_index} rows, expected {self.BASE_DOCS + self.admitted_total}")
        return errs

    def extra(self) -> dict:
        stored = _dir_bytes(self.sink) + _dir_bytes(self.index)
        return {
            "dedup.index_files": self.index_files[-1] if self.index_files else 0,
            "stored_bytes_per_input_byte": stored / self.input_bytes,
        }


class AnalyticQueries:
    """Traced runs only: a fixed mix of relational and window catalog
    entries over seeded sf0.1-shaped tables.
    ``check()`` runs each entry untraced (it warms the entry up) and
    compares its result with the entry's DuckDB oracle; ``run(tr)`` then
    builds each entry (``catalog.query_build``) and executes it through
    the noop sink (``catalog.query_exec``)."""

    ENTRIES = (
        "agg_pricing_summary", "filter_project_revenue", "join_broadcast_star",
        "join_theta_range", "agg_distinct_counts", "window_rank_topk_per_group",
        "window_range_rolling_7d", "q3_shipping_priority",
    )
    TABLES = ("orders", "lineitem", "customer", "nation", "region")

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.dir = spark, seed, work

    def setup(self) -> None:
        gen.write_analytic_tables(self.seed, self.dir)

    def check(self) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        fns, oracle = entry.queries(), entry.oracle_sql()
        errs = []
        with duckdb.connect() as con:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.dir, t)}.parquet')")
            for name in self.ENTRIES:
                df = fns[name](self.spark, self.dir)
                got = _result_hash(df.columns, [tuple(r) for r in df.collect()])
                cur = con.execute(oracle[name])
                want = _result_hash([d[0] for d in cur.description], cur.fetchall())
                if got != want:
                    errs.append(f"{name}: result hash {got} != oracle {want}")
        return errs

    def run(self, tr) -> None:
        import __spark_entry__ as entry

        fns = entry.queries()
        for name in self.ENTRIES:
            with tr.span("catalog.query_build"):
                df = fns[name](self.spark, self.dir)
            with tr.span("catalog.query_exec"):
                df.write.format("noop").mode("overwrite").save()


def _result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats
    rounded to 6 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return round(v, 6) + 0.0
        if isinstance(v, (dt.date, dt.datetime)):
            return v.isoformat()
        return v

    canon = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    return hashlib.sha256(repr(([cols[i] for i in order], canon)).encode()).hexdigest()[:16]
