"""Self-check harness mimicking the driver's correctness gate:
runs every __spark_entry__.queries() entry at sf0.01 on Spark AND the matching
oracle_sql() on DuckDB, compares row count, schema (column names), and an
order-insensitive value hash (floats rounded to 9 sig decimals *after* the
queries' own explicit rounding — both engines must already agree textually).

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseriestokenizer_spark.oracle.compare import rows_sorted, value_hash  # noqa: E402

SF_DIR = sys.argv[1] if sys.argv[1:] and "/" in sys.argv[1] else "/root/testdata/sf0.01"
ONLY = [a for a in sys.argv[1:] if "/" not in a]

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from timeseriestokenizer_spark.session import get_spark

    spark = get_spark("check-contract", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"{name}: SPARK ERROR {type(ex).__name__}: {str(ex)[:200]}")
            failures.append(name)
            continue
        if name not in osql:
            print(f"{name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(osql[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"{name}: DUCKDB ERROR {type(ex).__name__}: {str(ex)[:200]}")
            failures.append(name)
            continue
        ok_rows = len(srows) == len(drows)
        ok_schema = sorted(scols) == sorted(dcols)
        ok_vals = ok_schema and value_hash(srows, scols) == value_hash(drows, dcols)
        status = "MATCH" if (ok_rows and ok_schema and ok_vals) else "MISMATCH"
        print(
            f"{name}: {status} rows={len(srows)}/{len(drows)} "
            f"schema={'ok' if ok_schema else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"values={'ok' if ok_vals else 'DIFF'} ({time.time()-t0:.1f}s)"
        )
        if status == "MISMATCH":
            failures.append(name)
            if ok_schema and ok_rows:
                # print first few differing rows for debugging
                sset, dset = rows_sorted(srows, scols), rows_sorted(drows, dcols)
                diffs = [
                    (a, b) for a, b in zip(sset, dset) if a != b
                ][:3]
                for a, b in diffs:
                    print(f"   spark: {a[:220]}\n   duck : {b[:220]}")
    print(f"\n{len(names) - len(failures)}/{len(names)} ok")

    # driver-proof ledger as an executable check (VERDICT r3 item 8): every
    # registry row must be green in some CORRECTNESS_r*.json or still sit
    # inside the driver's 50-row recording cap
    import check_ledger

    ledger_rc = check_ledger.main()
    sys.exit(1 if failures or ledger_rc else 0)


if __name__ == "__main__":
    main()
