"""Hygiene of the driver-facing contract surface itself: the one file
the correctness driver actually imports (`__spark_entry__.py`) and the
catalog invariants it relies on — cheap, Spark-free checks that catch a
broken registration before the driver does."""

from __future__ import annotations

import re

FIXTURES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _entry_module():
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return importlib.import_module("__spark_entry__")


def test_oracle_keys_subset_of_queries():
    E = _entry_module()
    qs, osql = E.queries(), E.oracle_sql()
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    # zero rows-only entries since r11 (the float-k-means IVF became
    # self-judging with a constant-TRUE oracle); a new one should be a
    # conscious decision, not a dropped oracle
    rows_only = sorted(set(qs) - set(osql))
    assert rows_only == [], rows_only


def _strip_noise(sql: str) -> str:
    """Remove `-- line comments` and single-quoted string literals (a
    regex class like '[^.!?,;]' is data, not syntax), and mask the FROM
    inside EXTRACT/SUBSTRING/TRIM function syntax, so the scans below
    only see relational SQL."""
    sql = re.sub(r"--[^\n]*", "", sql)
    sql = re.sub(r"'(?:[^']|'')*'", "''", sql)
    return re.sub(
        r"\b(EXTRACT|SUBSTRING|TRIM)(\s*\(\s*[A-Za-z_]+\s+)FROM\b",
        r"\1\2OF",
        sql,
        flags=re.I,
    )


def test_every_oracle_references_only_fixture_tables():
    """Each oracle must read only the pre-registered fixture views —
    a typo'd table name would surface as a cryptic driver error."""
    E = _entry_module()
    ident = re.compile(r"\b(?:FROM|JOIN)\s+([A-Za-z_][A-Za-z0-9_]*)", re.I)
    for name, raw in E.oracle_sql().items():
        sql = _strip_noise(raw)
        # strip CTE names defined in the query itself
        ctes = set(
            re.findall(
                r"(?:WITH(?:\s+RECURSIVE)?|,)\s*([A-Za-z_][A-Za-z0-9_]*)"
                r"(?:\s*\([^)]*\))?\s+AS\s*\(",
                sql,
                re.I,
            )
        )
        ctes |= set(re.findall(r"^([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", sql, re.M))
        for tbl in ident.findall(sql):
            assert tbl.lower() in FIXTURES or tbl in ctes or tbl.lower() in {
                t.lower() for t in ctes
            }, f"{name}: oracle references unknown table {tbl!r}"


def test_catalog_tables_metadata_matches_fixtures():
    from nytimes_batch_processor_spark.catalog import all_specs

    for name, spec in all_specs().items():
        for tbl in spec.tables:
            assert tbl in FIXTURES, f"{name}: unknown fixture table {tbl!r}"


def test_oracles_are_single_statements():
    """The driver feeds each oracle to duckdb.execute as ONE statement;
    a stray semicolon (outside comments) would truncate it silently."""
    E = _entry_module()
    for name, raw in E.oracle_sql().items():
        sql = _strip_noise(raw)
        assert ";" not in sql.rstrip().rstrip(";"), f"{name}: embedded semicolon"


def test_bench_headline_names_resolve():
    """bench.py fails loudly at RUNTIME on a stale HEADLINE name (by
    design); catch it at test time instead — every headline query must
    be a registered catalog entry, with no duplicates, and the two
    deliberate Python-path entries must stay annotated as such by
    existing in the catalog (their cost model lives in docstrings the
    bench comments point to)."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    bench = importlib.import_module("bench")

    from nytimes_batch_processor_spark.catalog import all_specs

    specs = all_specs()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert not missing, f"HEADLINE names not in catalog: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "duplicate headline"


def test_entry_flagship_schema_is_pinned(spark):
    """The driver smoke-checks entry() for >=0 rows and a STABLE schema
    round-over-round — pin the exact column names and type classes so a
    refactor cannot silently change what the driver compares."""
    E = _entry_module()
    df = E.entry(spark)
    got = [(f.name, f.dataType.simpleString()) for f in df.schema]
    assert got == [
        ("ship_date", "date"),
        ("day_revenue", "double"),
        ("avg_7d", "double"),
    ], got


FINAL_LINE_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "env_anchor",
    "env_anchor_drift",
    "env_factor",
    "value_env_corrected",
    "value_env_corrected_by_class",
}


def test_bench_final_line_key_set_is_pinned():
    """The keys of bench.py's final JSON line are a driver contract:
    pin the exact set with and without anchors, and with and without
    failed queries (which add only `errors` and `failed_count`)."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _ANCHOR_REF, final_record

    timings = {"agg_pricing_summary": 1.25, "flagship": 0.75}
    anchors = {k: 2 * v for k, v in _ANCHOR_REF.items()}  # host 2x slower
    out = final_record(timings, {}, 0.1, anchors, anchors)
    assert set(out) == FINAL_LINE_KEYS
    assert out["metric"] == "headline_queries_wall_total"
    assert out["unit"] == "sec"
    assert out["value"] == 2.0
    assert out["env_anchor"] == anchors
    assert out["env_anchor_drift"] == {k: 1.0 for k in anchors}
    assert out["env_factor"] == 2.0
    assert out["value_env_corrected"] == 1.0
    assert out["value_env_corrected_by_class"] == out["value_env_corrected"]
    json.dumps(out)  # the line must serialize

    # no anchor in either bracket: no factor, corrected == raw
    failed = {"agg_pricing_summary": None, "flagship": 0.75}
    errors = {"agg_pricing_summary": "AnalysisException: boom"}
    out = final_record(failed, errors, 0.01, {}, {})
    assert set(out) == FINAL_LINE_KEYS | {"errors", "failed_count"}
    assert out["env_factor"] is None
    assert out["value"] == 0.75
    assert out["value_env_corrected"] == out["value"]
    assert out["value_env_corrected_by_class"] == out["value_env_corrected"]
    assert out["errors"] == errors and out["failed_count"] == 1
    assert out["queries"]["agg_pricing_summary"] is None
