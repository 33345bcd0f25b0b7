"""Local stand-in for the driver's correctness gate.

Runs every declared query in Spark at the given SF and its oracle SQL in
DuckDB, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values canonicalized).

Usage: python tools/verify_oracle.py [sf_dir] [query_name ...]
       VANILLA=1 python tools/verify_oracle.py ...   # driver simulation:
       plain default SparkSession instead of the tuned one (catches any
       accidental dependence on session config)
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jetstream_spark.session import get_spark  # noqa: E402
from jetstream_spark.tables import TABLE_NAMES  # noqa: E402


def canonical(df: pd.DataFrame) -> tuple[int, list[str], int]:
    cols = sorted(df.columns)
    df = df[cols].copy()

    def canon_val(v):
        # DTYPE-STRICT on purpose: a float 5.0 must NOT canonicalize to "5".
        # The driver's value hash distinguishes float from int (that is how
        # sessionization failed two rounds while passing here — DuckDB
        # HUGEINT window sums materialize as float64 in pandas). Keeping the
        # float/int distinction makes local green predict driver green.
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "\x00NULL"
        if pd.isna(v) if not isinstance(v, (list, tuple, dict, set)) else False:
            return "\x00NULL"
        if isinstance(v, float):
            return repr(float(v))
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    rows = sorted(tuple(canon_val(v) for v in row) for row in df.itertuples(index=False, name=None))
    return len(df), cols, hash(tuple(rows))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    if os.environ.get("VANILLA"):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("verify_vanilla").getOrCreate()
    else:
        spark = get_spark("verify_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_rowsonly = 0
    for name, build in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = build(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        s_n, s_cols, s_h = canonical(sdf)
        o_n, o_cols, o_h = canonical(odf)
        ok = (s_n, s_cols, s_h) == (o_n, o_cols, o_h)
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status}  {name}: spark={s_n} oracle={o_n} rows [{time.time()-t0:.1f}s]")
        if not ok:
            if s_cols != o_cols:
                print(f"      cols spark={s_cols}")
                print(f"      cols duck ={o_cols}")
            elif s_n == o_n:
                merged = sdf[sorted(sdf.columns)].astype(str).value_counts().sub(
                    odf[sorted(odf.columns)].astype(str).value_counts(), fill_value=0
                )
                diff = merged[merged != 0]
                print(f"      value diffs (spark-minus-oracle counts), first 6:\n{diff.head(6)}")
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
