"""Driver simulation: exercise the __spark_entry__ contract end-to-end
exactly as the round driver does — import the module from the repo root,
smoke `entry(spark)`, then run every `queries()` entry at sf0.01 against
its `oracle_sql()` twin in DuckDB with an order-insensitive value hash.

Usage: python scripts/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return f"{round(v, 9):.9f}"
    if isinstance(v, (pd.Timestamp, datetime, date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _norm(tuple(v.asDict().items()))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in v.items()) + "}"
    if hasattr(v, "item"):
        return _norm(v.item())
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    # Driver-canon FIRST (r11 verdict item 2): the round driver sorts
    # the frame with pandas sort_values over all columns before
    # hashing, and that step raises TypeError('unhashable type: list')
    # on any nested cell. r11's keyword_tag shipped green under this
    # sim's old list-normalizing hash and red under the driver —
    # driver_sim must fail exactly where the driver fails, so run the
    # identical step and let the exception propagate to the per-key
    # handler (recorded as a failure, not a sim crash).
    pdf = pdf[cols].sort_values(cols)
    rows = sorted("|".join(_norm(v) for v in row) for row in pdf.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    # usage: driver_sim.py [sf_dir] [key1,key2,...] [--out mirror.json]
    # the optional key filter runs the identical per-key check over a
    # subset — single-key verification without the full-registry sweep.
    # --out serializes the per-key results (incl. both engines' value
    # hashes) so the round ships a diffable MIRROR_r{N}.json artifact
    # instead of asking the judge to re-run the 20-minute sweep
    # (r7 verdict item 7).
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_path = None
    for i, a in enumerate(sys.argv):
        if a == "--out" and i + 1 < len(sys.argv):
            out_path = sys.argv[i + 1]
    if out_path:
        args = [a for a in args if a != out_path]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    only = set(args[1].split(",")) if len(args) > 1 else None
    import __spark_entry__ as e

    # VANILLA session on purpose — the round driver builds its own plain
    # SparkSession (no labelmain_spark.session configs). Round 1 died on
    # exactly that gap (nanosAsLong only set in build_session), so the
    # simulation must not use build_session.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver_sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    t0 = time.time()
    edf = e.entry(spark)
    rows = edf.collect()
    print(f"entry: {len(rows)} rows, schema={[f.name for f in edf.schema]}, {time.time()-t0:.1f}s")
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    results, failures = {}, []
    if only is not None:
        unknown = only - qs.keys()
        if unknown:
            print(f"unknown keys: {sorted(unknown)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    for key in sorted(qs):
        t0 = time.time()
        sdf = qs[key](spark, sf_dir).toPandas()
        spark_s = time.time() - t0
        if key not in oracles:
            try:
                sh = value_hash(sdf)
            except TypeError as exc:
                # nested output column — the driver's canon would die
                results[key] = {"mode": "rows_only", "rows": len(sdf), "err": str(exc)}
                failures.append(key)
                print(f"  {key:24s} FAIL (driver canon: {exc})")
                continue
            results[key] = {
                "mode": "rows_only", "rows": len(sdf),
                "spark_hash": sh, "spark_s": round(spark_s, 2),
            }
            print(f"  {key:24s} rows-only rows={len(sdf)} {spark_s:.2f}s")
            continue
        t0 = time.time()
        ddf = con.execute(oracles[key]).fetchdf()
        duck_s = time.time() - t0
        try:
            sh, dh = value_hash(sdf), value_hash(ddf)
        except TypeError as exc:
            # the driver's sort_values canon raises on nested cells —
            # record as a red row exactly like CORRECTNESS_r11 did
            results[key] = {"mode": "oracle", "ok": False, "rows": len(sdf),
                            "oracle_rows": len(ddf), "err": str(exc)}
            failures.append(key)
            print(f"  {key:24s} FAIL (driver canon: {exc})")
            continue
        ok = sh == dh and len(sdf) == len(ddf) and sorted(sdf.columns) == sorted(ddf.columns)
        results[key] = {
            "mode": "oracle", "ok": ok, "rows": len(sdf), "oracle_rows": len(ddf),
            "spark_hash": sh, "duck_hash": dh,
            "spark_s": round(spark_s, 2), "duck_s": round(duck_s, 2),
        }
        mark = "OK " if ok else "FAIL"
        print(f"  {key:24s} {mark} rows={len(sdf)}/{len(ddf)} hash={sh}/{dh} spark={spark_s:.2f}s duck={duck_s:.2f}s")
        if not ok:
            failures.append(key)

    print(json.dumps({"sf_dir": sf_dir, "n_queries": len(qs), "failures": failures}))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(qs),
                    "failures": failures,
                    "keys": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"mirror written: {out_path}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
