"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark AND its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count, column names, and an order-insensitive value
hash. Run: ``python tools/selfcheck.py [sf_dir] [query ...]``.

Each line carries the query's Spark-side value hash, so the outputs of two
checkouts diff line by line (``diff <(python tools/selfcheck.py) ...``)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive: sort columns by name, rows by all columns, hash a
    canonical text rendering (floats via repr of float64)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for _, row in pdf.iterrows():
        cells = []
        for v in row:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                cells.append("∅")
            elif isinstance(v, (float, np.floating)):
                cells.append(repr(float(v)))
            elif isinstance(v, (int, np.integer)):
                cells.append(str(int(v)))
            else:
                cells.append(str(v))
        rows.append("|".join(cells))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from sed_binning_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')",
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows {value_hash(sdf)} (rows-only, no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            n_fail += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        s_hash = value_hash(sdf)
        ok_hash = ok_rows and ok_cols and s_hash == value_hash(odf)
        status = "pass" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "pass":
            n_pass += 1
        else:
            n_fail += 1
        detail = ""
        if not ok_rows:
            detail = f" rows {len(sdf)} vs {len(odf)}"
        elif not ok_cols:
            detail = f" cols {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        elif not ok_hash:
            detail = " value-hash mismatch"
        print(f"{status}  {name}: {len(sdf)} rows {s_hash}{detail} [{time.time() - t0:.1f}s]")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
