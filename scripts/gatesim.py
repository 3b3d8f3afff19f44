"""Local mirror of the driver's CORRECTNESS gate: run registry queries AND
their DuckDB oracles at a given sf dir, compare rows/schema/values
(order-insensitive, floats rounded to 9dp like tests/test_oracle_xcheck.py).

Usage: python scripts/gatesim.py [SF_DIR] [query ...]
Defaults: /root/testdata/sf0.01, all queries.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rossete_rdf_spark.registry import QUERIES, oracle_sql  # noqa: E402
from rossete_rdf_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    names = [a for a in args if not a.startswith("/")] or sorted(oracle_sql())

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracles = oracle_sql()
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            odf = con.sql(oracles[name])
            ocols = list(odf.columns)
            orows = odf.fetchall()
            ok_schema = sorted(scols) == sorted(ocols)
            ok_rows = len(srows) == len(orows)
            got = _rows_multiset(scols, [[r[c] for c in scols] for r in srows])
            exp = _rows_multiset(ocols, orows)
            ok_vals = got == exp
            status = "OK" if (ok_schema and ok_rows and ok_vals) else "FAIL"
            if status == "FAIL":
                failures += 1
            print(
                f"{status} {name}: rows {len(srows)}/{len(orows)} "
                f"schema={ok_schema} vals={ok_vals} {time.time() - t0:.1f}s",
                flush=True,
            )
            if not ok_schema:
                print(f"  spark cols {sorted(scols)} vs oracle {sorted(ocols)}")
            if ok_schema and not ok_vals:
                mism = [(g, e) for g, e in zip(got, exp) if g != e][:3]
                print(f"  first mismatches: {mism}")
        except Exception as e:  # noqa: BLE001 — report and keep gating
            failures += 1
            print(f"ERR {name}: {type(e).__name__}: {e}", flush=True)
    print(f"done: {len(names) - failures}/{len(names)} green")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
