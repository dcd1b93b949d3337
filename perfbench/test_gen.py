"""Tests of the seeded input generators (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import csv
import os
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


def _write(tmp_path, seed: int, days: int, tag: str):
    c, s = tmp_path / f"c{tag}.csv", tmp_path / f"s{tag}.csv"
    snap = gen.CovidGenerator(seed).write(days, str(c), str(s))
    return c, s, snap


def test_same_seed_byte_identical_other_seed_differs(tmp_path):
    a = _write(tmp_path, 7, 20, "a")
    b = _write(tmp_path, 7, 20, "b")
    c = _write(tmp_path, 8, 20, "c")
    for i in (0, 1):
        assert a[i].read_bytes() == b[i].read_bytes()
        assert a[i].read_bytes() != c[i].read_bytes()


def test_snapshot_grows_by_appending_one_day(tmp_path):
    short = _write(tmp_path, 3, 12, "s")
    long = _write(tmp_path, 3, 13, "l")
    for i in (0, 1):
        old, new = short[i].read_bytes(), long[i].read_bytes()
        assert new.startswith(old) and len(new) > len(old)
    new_c, new_s = long[2].day_keys[-1]
    assert len(long[2].counties_keys) - len(short[2].counties_keys) == new_c
    assert len(long[2].states_keys) - len(short[2].states_keys) == new_s


def test_family_a_edge_rows(tmp_path):
    c, s, snap = _write(tmp_path, 5, 34, "e")  # the benchmark's backfill length
    with open(c, newline="") as f:
        rows = list(csv.DictReader(f))
    keys = Counter((r["date"], r["county"], r["state"], r["fips"]) for r in rows)
    dup_rows = sum(n - 1 for n in keys.values())
    assert 0.005 < dup_rows / len(rows) < 0.02  # ~1% duplicate key rows
    blank = sum(1 for r in rows if r["fips"] == "") / len(rows)
    assert 0.01 < blank < 0.04  # ~2% blank fips
    assert any(r["county"] == "Unknown" and r["fips"] == "" for r in rows)
    dates = {r["date"] for r in rows}
    assert {"2020-12-31", "2021-01-01", "2021-01-31", "2021-02-01"} <= dates
    # exactly one key arrives twice with different values; first wins
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["date"], r["county"], r["state"], r["fips"]), set()).add(
            (r["cases"], r["deaths"])
        )
    collided = [k for k, v in by_key.items() if len(v) > 1]
    assert len(collided) == 1
    first = next(r for r in rows if (r["date"], r["county"], r["state"], r["fips"]) == collided[0])
    assert int(first["cases"]) == snap.collision_first_cases
    # post-ingest keys: blank fips -> -1, duplicates collapse
    assert len(snap.counties_keys) == len(keys)
    assert snap.counties_null_fips_keys == sum(1 for k in keys if k[3] == "")
    with open(s, newline="") as f:
        states = list(csv.DictReader(f))
    assert any(r["fips"] == "" for r in states)
    assert len(snap.states_keys) == len({(r["date"], r["state"], r["fips"]) for r in states})


def test_cases_are_cumulative_and_deaths_bounded(tmp_path):
    c, _, _ = _write(tmp_path, 2, 15, "m")
    last: dict = {}
    with open(c, newline="") as f:
        for r in csv.DictReader(f):
            key, cases, deaths = (r["county"], r["state"], r["fips"]), int(r["cases"]), int(r["deaths"])
            assert deaths <= cases
            prev = last.get(key)
            if prev is None or prev[0] != r["date"]:  # first arrival of the day
                assert prev is None or cases >= prev[1]
                last[key] = (r["date"], cases)


def test_doc_batches_are_seeded_with_exact_ground_truth():
    a, b = gen.DocGenerator(4, 300, 100), gen.DocGenerator(4, 300, 100)
    other = gen.DocGenerator(5, 300, 100)
    seen = {r[1] for r in a.base}
    admitted = []
    for _ in range(8):
        ba, bb, bo = a.next_batch(), b.next_batch(), other.next_batch()
        assert ba.rows == bb.rows and ba.expected_admitted == bb.expected_admitted
        assert ba.rows != bo.rows
        first_copy = set()
        for doc_id, text, *_ in ba.rows:
            if text not in seen and text not in first_copy:
                first_copy.add(text)
                assert doc_id in ba.expected_admitted
            else:
                assert doc_id not in ba.expected_admitted
        seen |= first_copy
        admitted.append((len(ba.expected_admitted), len(bo.expected_admitted)))
    # the seed sets the mix around the fixture's admitted share
    share = sum(x for x, _ in admitted) / (8 * 100)
    assert abs(share - gen.DocGenerator.FRESH_SHARE) < 0.08
    assert [x for x, _ in admitted] != [y for _, y in admitted]


def test_analytic_tables_are_seeded_and_fixture_shaped(tmp_path):
    import pyarrow.parquet as pq

    from nytimes_batch_processor_spark.schemas import EXPECTED_COLUMNS

    tables = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_analytic_tables(seed, str(tmp_path / tag), orders=500, lines=2000)
        tables[tag] = {t: pq.read_table(tmp_path / tag / f"{t}.parquet")
                       for t in ("orders", "lineitem", "customer", "nation", "region")}
    for t, n in (("orders", 500), ("lineitem", 2000), ("customer", 50), ("nation", 25),
                 ("region", 5)):
        a = tables["a"][t]
        assert a.num_rows == n and a.column_names == EXPECTED_COLUMNS[t]
        assert a.equals(tables["b"][t])
        assert t in ("nation", "region") or not a.equals(tables["c"][t])
    li = tables["a"]["lineitem"].to_pydict()
    assert set(li["l_returnflag"]) == set("ANR") and set(li["l_linestatus"]) == set("OF")
    assert set(li["l_discount"]) <= {k / 100 for k in range(11)}
    assert max(li["l_orderkey"]) < 500
