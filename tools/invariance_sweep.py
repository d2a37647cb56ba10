"""Partition-layout invariance sweep: run EVERY contract query against its
DuckDB oracle under a deliberately awkward execution layout (odd core count,
prime shuffle-partition count, tiny Arrow batches).  Any query whose result
depends on partitioning, batch boundaries, or evaluation order fails here
even if the default-layout gate is green.

Usage: python tools/invariance_sweep.py [sf_dir] [master] [shuffle] [batch]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools")
)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from check_contract import TABLES, norm_rows
    from languagedetection_spark.plans.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    master = sys.argv[2] if len(sys.argv) > 2 else "local[3]"
    shuffle = int(sys.argv[3]) if len(sys.argv) > 3 else 7
    batch = sys.argv[4] if len(sys.argv) > 4 else "111"

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    spark = get_spark(
        master=master, shuffle_partitions=shuffle,
        extra_conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": batch,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    bad = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            s_cols, s_rows = norm_rows(
                df.columns, [tuple(r) for r in df.collect()]
            )
            res = con.execute(oracles[name])
            d_cols, d_rows = norm_rows(
                [d[0] for d in res.description], res.fetchall()
            )
            if s_cols != d_cols or s_rows != d_rows:
                bad.append(name)
                print(f"MISMATCH {name}: spark {len(s_rows)} rows, "
                      f"oracle {len(d_rows)} rows")
            else:
                print(f"OK    {name}")
        except Exception as e:  # noqa: BLE001 - report and continue
            bad.append(name)
            print(f"ERROR {name}: {str(e)[:200]}")
    print(f"checked {len(qs)} queries under {master}/shuffle={shuffle}/"
          f"batch={batch}; mismatches: {bad or 'none'}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
