#!/usr/bin/env python
"""Scoped driver-contract verifier (the /verify recipe, reusable):
runs the named catalog entries through __spark_entry__ at sf0.01 and
compares against the DuckDB oracle the way the driver does — columns
sorted by name, floats rounded to 6dp, dates normalized to ISO, rows
order-insensitively. Usage: python tools/quick_verify.py name [name...]
(no names = every entry in the upcoming sweep window)."""
import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

import __spark_entry__ as E
from nytimes_batch_processor_spark.session import get_spark


def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.date().isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "item"):
        v = v.item()
        return norm(v) if not isinstance(v, (int, str, bytes, bool)) else v
    return v


def main() -> int:
    names = sys.argv[1:]
    spark = get_spark("verify", cpus=8)
    qs, osql = E.queries(), E.oracle_sql()
    if not names:
        names = [n for n in qs if n in osql]
    SF = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    bad = 0
    for name in names:
        sdf = qs[name](spark, SF)
        cols = sorted(sdf.columns)
        s_rows = sorted(
            repr(tuple(norm(r[c]) for c in cols)) for r in sdf.collect()
        )
        if name not in osql:
            print(f"{name}: rows-only, {len(s_rows)} rows")
            continue
        cur = con.execute(osql[name])
        onames = [d[0] for d in cur.description]
        raw = cur.fetchall()
        idx = {c: onames.index(c) for c in cols}
        o_rows = sorted(
            repr(tuple(norm(row[idx[c]]) for c in cols)) for row in raw
        )
        ok = s_rows == o_rows
        bad += not ok
        print(f"{name}: spark={len(s_rows)} oracle={len(o_rows)} "
              f"{'OK' if ok else 'MISMATCH'}")
        if not ok:
            sdiff = [r for r in s_rows if r not in set(o_rows)][:3]
            odiff = [r for r in o_rows if r not in set(s_rows)][:3]
            print("  spark-only:", sdiff)
            print("  oracle-only:", odiff)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
