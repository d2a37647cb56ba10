"""Side-by-side harness mimicking the driver's correctness gate:
run each queries()[name] on Spark and oracle_sql()[name] on DuckDB at the
given sf dir, compare row count + schema + order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["lineitem", "documents"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # absorb representation noise far below the in-query rounding
        return round(v, 9)
    if isinstance(v, bool):
        return bool(v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from languagedetection_spark.plans.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark(
        master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures.append(name)
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: "
                  f"{type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        sc, sr = norm_rows(spark_cols, spark_rows)
        dc, dr = norm_rows(duck_cols, duck_rows)
        if sc != dc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
            failures.append(name)
        elif len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(dr)}")
            failures.append(name)
        elif sr != dr:
            bad = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {bad}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(sr)} rows match [{time.time()-t0:.1f}s]")

    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
