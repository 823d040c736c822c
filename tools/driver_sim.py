"""Simulate the driver's verify loop against __spark_entry__.py.

Usage: python tools/driver_sim.py [sf_dir]

Runs entry() as smoke (sf0.001), then every queries() entry at the
given sf_dir (default sf0.01) compared against its oracle_sql() via
DuckDB: row count + column names + order-insensitive value compare.
Prints one line per query and a final summary.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

import __spark_entry__ as e  # noqa: E402
from oracle_compare import assert_matches_oracle, duckdb_con  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from monday_etl_automation_spark.session import get_spark

    spark = get_spark("driver_sim")

    t0 = time.time()
    smoke = e.entry(spark)
    n = smoke.count()
    schema = [f"{f.name}:{f.dataType.simpleString()}" for f in smoke.schema.fields]
    print(f"SMOKE entry(): rows={n} schema={schema} ({time.time() - t0:.1f}s)")
    assert n > 0, "entry() must return >0 rows"

    qs, oracles = e.queries(), e.oracle_sql()
    ok = failed = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                assert_matches_oracle(df, oracles[name], sf_dir)
                print(f"PASS  {name} (oracle, {time.time() - t0:.1f}s)")
            else:
                rows = df.count()
                print(f"PASS  {name} (rows-only={rows}, {time.time() - t0:.1f}s)")
            ok += 1
        except Exception as ex:  # noqa: BLE001
            failed += 1
            print(f"FAIL  {name}: {type(ex).__name__}: {str(ex)[:300]}")
    print(f"\n{ok}/{ok + failed} queries pass at {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
