"""Profile the bench-flagged queries (dedup_minhash, join_range) stage
by stage at sf0.1 to separate real plan cost from box contention."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from labelmain_spark.session import build_session

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def t(label, fn):
    t0 = time.time()
    out = fn()
    print(f"{label:35s} {time.time()-t0:6.2f}s  {out}")
    return out


def main():
    spark = build_session(app_name="profile_hot")
    spark.read.parquet(f"{SF}/lineitem.parquet").count()  # warm

    from pyspark.sql import functions as F

    from labelmain_spark.functions import dedup
    from labelmain_spark.operators import joins
    from labelmain_spark.sources.readers import load_table

    # ---- join_range, 3 runs
    for i in range(3):
        t(f"join_range run{i}", lambda: joins.join_range(spark, SF).count())

    # ---- dedup_minhash end-to-end, cold cache
    spark.catalog.clearCache()
    for i in range(3):
        spark.catalog.clearCache()
        t(f"dedup_minhash run{i} (cold cache)", lambda: dedup.dedup_minhash(spark, SF).count())

    # ---- stage decomposition (cold)
    spark.catalog.clearCache()
    n_docs = t("n_docs count", lambda: load_table(spark, SF, "documents").count())
    e = None

    def build_e():
        nonlocal e
        e = dedup._exploded_shingles(spark, SF)
        return e.count()

    t("exploded shingles + persist+count", build_e)
    ep = dedup._pruned_index(e, dedup._max_df(n_docs))
    t("pruned index count", lambda: ep.count())
    sig = dedup.minhash_signatures(ep)
    t("signatures count", lambda: sig.count())

    cand = dedup._band_pairs(sig, dedup.BANDS)
    t("candidates count", lambda: cand.count())
    t("pair jaccard + filter", lambda: dedup._pair_jaccard(e, cand).filter(F.col("jaccard") >= dedup.JACCARD_THRESHOLD).count())

    spark.stop()


if __name__ == "__main__":
    main()
