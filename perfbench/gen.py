"""Seeded input generators for the workload benchmark.

Everything here is pure Python (no Spark): the benchmark hands the
engine only the files these functions write.

- NYT-shaped counties and states CSV snapshots (FIXTURES.md Family A).
  A snapshot of ``days`` days is a prefix of every longer snapshot with
  the same seed, so a cron "growth tick" is the old file plus one day.
- A near-dup document corpus: a base corpus plus arriving batches that
  mix fresh documents with re-deliveries of documents seen before.
- ``orders``, ``lineitem``, ``customer``, ``nation`` and ``region``
  tables shaped like the sf0.1 fixtures the analytic catalog entries read.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from itertools import accumulate
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The day the first snapshot starts: 2020-12-31 -> 2021-01-01 and the
# January -> February boundary fall inside every snapshot of 34 days or
# more (the benchmark's backfill), so the month-boundary date parse is
# always exercised.
START_DATE = dt.date(2020, 12, 30)

STATES = (
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Connecticut", "Delaware", "District of Columbia", "Florida", "Georgia",
    "Guam", "Hawaii", "Idaho", "Illinois", "Indiana", "Iowa", "Kansas",
    "Kentucky", "Louisiana", "Maine", "Maryland", "Massachusetts",
    "Michigan", "Minnesota", "Mississippi", "Missouri", "Montana",
    "Nebraska", "Nevada", "New Hampshire", "New Jersey", "New Mexico",
    "New York", "North Carolina", "North Dakota", "Northern Mariana Islands",
    "Ohio", "Oklahoma", "Oregon", "Pennsylvania", "Puerto Rico",
    "Rhode Island", "South Carolina", "South Dakota", "Tennessee", "Texas",
    "Utah", "Vermont", "Virgin Islands", "Virginia", "Washington",
    "West Virginia", "Wisconsin", "Wyoming", "American Samoa",
)


@dataclass
class CovidSnapshot:
    """One counties + states snapshot and the facts its checks need.

    Keys are post-ingest keys: blank fips already mapped to -1."""

    counties_rows: int
    states_rows: int
    counties_keys: set = field(default_factory=set)
    states_keys: set = field(default_factory=set)
    counties_null_fips_keys: int = 0
    states_null_fips_keys: int = 0
    # (date, county, state, fips) -> cases of the FIRST arriving row
    collision: tuple = ()
    collision_first_cases: int = 0
    # distinct new (counties, states) keys per day: what a tick that
    # delivers that day must land
    day_keys: list = field(default_factory=list)


class CovidGenerator:
    """NYT-shaped daily rows, deterministic in (seed, day).

    ``counties_per_state`` sizes the counties table. About 40% of states
    carry an ``Unknown`` county with blank fips (~2% of county rows),
    one state always has blank fips in the states table, about 1% of
    rows are re-emitted as exact duplicates, and day 3 carries one key
    collision whose second copy has different case counts."""

    def __init__(self, seed: int, counties_per_state: int = 12):
        self.seed = seed
        rng = random.Random(seed)
        self.counties = []  # (county, state, fips or "")
        for si, state in enumerate(STATES):
            sf = si + 1
            for ci in range(counties_per_state):
                name = f"{_word(rng)} County"
                self.counties.append((f"{name} {ci}", state, f"{sf:02d}{ci * 2 + 1:03d}"))
            if rng.random() < 0.4:
                self.counties.append(("Unknown", state, ""))
        self.blank_state = STATES[rng.randrange(len(STATES))]
        self.collision_day = 3

    def _days(self, days: int):
        """Yield (date, counties rows, states rows) for days 0..days-1;
        rows are CSV field tuples, cumulative counts per key."""
        c_tot = {c: [0, 0] for c in self.counties}
        for d in range(days):
            rng = random.Random(self.seed * 1_000_003 + d)
            date = (START_DATE + dt.timedelta(days=d)).isoformat()
            crow, s_tot = [], {}
            for c in self.counties:
                tot = c_tot[c]
                tot[0] += rng.randrange(0, 40)
                tot[1] = min(tot[0], tot[1] + rng.randrange(0, 3))
                crow.append((date, c[0], c[1], c[2], tot[0], tot[1]))
                st = s_tot.setdefault(c[1], [0, 0])
                st[0] += tot[0]
                st[1] += tot[1]
            srow = []
            for si, state in enumerate(STATES):
                tot = s_tot.get(state, [0, 0])
                fips = "" if state == self.blank_state else f"{si + 1:02d}"
                # state totals disagree with the county sum by a little,
                # as the real files do
                srow.append((date, state, fips, tot[0] + rng.randrange(0, 5), tot[1]))
            yield d, _with_dups(rng, crow, d == self.collision_day), _with_dups(
                rng, srow, False
            )

    def write(self, days: int, counties_path: str, states_path: str) -> CovidSnapshot:
        """Write both CSV snapshots (header + rows, NYT column order)."""
        snap = CovidSnapshot(0, 0)
        with open(counties_path, "w", encoding="utf-8") as cf, open(
            states_path, "w", encoding="utf-8"
        ) as sf:
            cf.write("date,county,state,fips,cases,deaths\n")
            sf.write("date,state,fips,cases,deaths\n")
            for d, crow, srow in self._days(days):
                new_c = new_s = 0
                for r in crow:
                    cf.write(",".join(map(str, r)) + "\n")
                    key = (r[0], r[1], r[2], int(r[3]) if r[3] else -1)
                    if key not in snap.counties_keys:
                        snap.counties_keys.add(key)
                        new_c += 1
                        snap.counties_null_fips_keys += key[3] == -1
                for r in srow:
                    sf.write(",".join(map(str, r)) + "\n")
                    key = (r[0], r[1], int(r[2]) if r[2] else -1)
                    if key not in snap.states_keys:
                        snap.states_keys.add(key)
                        new_s += 1
                        snap.states_null_fips_keys += key[2] == -1
                snap.counties_rows += len(crow)
                snap.states_rows += len(srow)
                snap.day_keys.append((new_c, new_s))
                if d == self.collision_day:
                    first = crow[0]
                    snap.collision = (first[0], first[1], first[2], int(first[3]))
                    snap.collision_first_cases = first[4]
        return snap


def _with_dups(rng: random.Random, rows: list, collide: bool) -> list:
    """Re-emit ~1% of rows as exact duplicates right after the original
    (the NYT re-publication shape). With ``collide`` the day's first row
    is re-emitted at the END of the day with different case counts:
    the first-arriving copy must win."""
    out = []
    for r in rows:
        out.append(r)
        if rng.random() < 0.01:
            out.append(r)
    if collide:
        r = rows[0]
        out.append((*r[:-2], r[-2] + 1000, r[-1]))
    return out


_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ro", "su", "ta", "vi", "wen", "dor", "ham",
    "ber", "lin", "ford", "ton", "ville", "mar", "cas", "pel", "gra",
)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 4))).title()


# --- documents ---------------------------------------------------------------

# Words of the engine's text fixtures (the BPE merge table was learned on
# them), so the encoder's merges fire on generated text too.
_BASE_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window order data column join small customer query big "
    "group stream filter vector lower upper index shard token"
).split()
_VOCAB = tuple(_BASE_WORDS) + tuple(
    a + b for a in _BASE_WORDS for b in _BASE_WORDS if a != b and len(a) > 1
)
# Zipf-like word frequencies: a shared head, a long distinct tail, so
# two unrelated documents stay far below the near-dup threshold.
_CUM_WEIGHTS = tuple(accumulate(1.0 / (r + 1) ** 0.8 for r in range(len(_VOCAB))))


def _doc_text(rng: random.Random) -> str:
    n = rng.randrange(40, 120)
    return " ".join(rng.choices(_VOCAB, cum_weights=_CUM_WEIGHTS, k=n))


@dataclass
class DocBatch:
    rows: list  # (doc_id, text, lang, source, n_chars)
    expected_admitted: set  # doc_ids the admission must admit


class DocGenerator:
    """Base corpus plus arriving batches, deterministic in (seed, batch).

    Each arriving document is, by a seeded draw, fresh with probability
    ``FRESH_SHARE``, or else a RE-DELIVERY: an exact copy, under a new
    doc_id, of a document delivered earlier (the base corpus, an earlier
    batch, or earlier in its own batch). Ground truth is exact: a fresh
    document is admitted, every re-delivery is a near-dup (Jaccard 1) of
    something indexed or of a smaller doc_id in its own batch. Like the
    engine's documents fixture, the text carries no PII."""

    # Admitted share of one batch of the sf0.1 documents fixture through
    # the composed curation pipeline: 148 of 500 documents
    # (``pipe_admitted_docs`` / ``pipe_batch_docs`` at x1, BENCH_sf1.json).
    FRESH_SHARE = 148 / 500

    def __init__(self, seed: int, base_docs: int, batch_docs: int):
        self.seed = seed
        self.batch_docs = batch_docs
        rng = random.Random(seed * 7 + 1)
        self.base = [self._row(i, _doc_text(rng)) for i in range(base_docs)]
        self._seen = [r[1] for r in self.base]  # texts delivered so far
        self._next_id = base_docs
        self._made = 0

    @staticmethod
    def _row(doc_id: int, text: str) -> tuple:
        return (doc_id, text, "en", f"src{doc_id % 20}", len(text))

    def next_batch(self) -> DocBatch:
        """The next arriving batch (call in order: re-deliveries draw on
        every document delivered before)."""
        rng = random.Random(self.seed * 1_000_003 + 7919 * self._made)
        self._made += 1
        rows, admitted = [], set()
        for _ in range(self.batch_docs):
            doc_id = self._next_id
            self._next_id += 1
            if rng.random() < self.FRESH_SHARE:
                text = _doc_text(rng)
                admitted.add(doc_id)
                self._seen.append(text)
            else:
                text = rng.choice(self._seen)
            rows.append(self._row(doc_id, text))
        return DocBatch(rows, admitted)


# --- analytic tables ---------------------------------------------------------

# Row counts, value ranges and layout (one row group per file) of the
# sf0.1 fixtures: every column is drawn independently and uniformly, as
# there.
ORDERS_ROWS = 150_000
LINEITEM_ROWS = 600_000
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def write_analytic_tables(seed: int, out_dir: str, orders: int = ORDERS_ROWS,
                          lines: int = LINEITEM_ROWS) -> None:
    """Write the analytic tables as ``<table>.parquet`` under ``out_dir``
    (the fixture directory layout the catalog entries read); customers
    number a tenth of the orders."""
    rng = np.random.default_rng(seed)

    def pick(values, n):
        return np.asarray(list(values), dtype=object)[rng.integers(0, len(values), n)]

    o = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, orders // 10, orders),
        "o_orderstatus": pick("OPF", orders),
        "o_totalprice": _money(rng, 1000, 500_000, orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", orders),
        "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                                orders),
    })
    li = pa.table({
        "l_orderkey": rng.integers(0, orders, lines),
        "l_partkey": rng.integers(0, 20_000, lines),
        "l_suppkey": rng.integers(0, 1_000, lines),
        "l_linenumber": rng.integers(1, 8, lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, lines),
        "l_discount": rng.integers(0, 11, lines) / 100.0,
        "l_tax": rng.integers(0, 9, lines) / 100.0,
        "l_returnflag": pick("ANR", lines),
        "l_linestatus": pick("OF", lines),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", lines),
    })
    customers = orders // 10
    c = pa.table({
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(customers)],
        "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": pick(SEGMENTS, customers),
    })
    n = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % len(REGIONS),
    })
    r = pa.table({
        "r_regionkey": np.arange(len(REGIONS), dtype=np.int32),
        "r_name": list(REGIONS),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("orders", o), ("lineitem", li), ("customer", c),
                        ("nation", n), ("region", r)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(table))
