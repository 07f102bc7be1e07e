"""One-off key checker: run named registry keys against their DuckDB
oracles with the driver_sim hash, at an arbitrary sf dir.

Usage: python scripts/check_keys.py key1 key2 ... [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import os
import sys
import time

SCRIPTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(SCRIPTS))
sys.path.insert(0, SCRIPTS)

import duckdb  # noqa: E402

from driver_sim import TABLES, value_hash  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        args = args[:i] + args[i + 2 :]

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("check_keys")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = e.queries(), e.oracle_sql()
    fail = 0
    for key in args:
        t0 = time.time()
        sdf = qs[key](spark, sf_dir).toPandas()
        spark_s = time.time() - t0
        if key not in oracles:
            print(f"{key}: rows-only rows={len(sdf)} spark={spark_s:.2f}s")
            continue
        t0 = time.time()
        ddf = con.execute(oracles[key]).fetchdf()
        duck_s = time.time() - t0
        sh, dh = value_hash(sdf), value_hash(ddf)
        ok = (
            sh == dh
            and len(sdf) == len(ddf)
            and sorted(sdf.columns) == sorted(ddf.columns)
        )
        print(
            f"{key}: {'OK' if ok else 'FAIL'} rows={len(sdf)}/{len(ddf)} "
            f"hash={sh}/{dh} spark={spark_s:.2f}s duck={duck_s:.2f}s"
        )
        if not ok:
            fail += 1
            if sorted(sdf.columns) != sorted(ddf.columns):
                print(f"  spark cols: {sorted(sdf.columns)}")
                print(f"  duck  cols: {sorted(ddf.columns)}")
            else:
                merged = sdf.sort_values(list(sorted(sdf.columns))).head(5)
                print("  spark head:\n", merged.to_string())
                print(
                    "  duck head:\n",
                    ddf.sort_values(list(sorted(ddf.columns))).head(5).to_string(),
                )
    spark.stop()
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
