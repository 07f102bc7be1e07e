"""Physical layout for the label store — the engine-side answer to the
reference's MongoDB B-tree index on ``addr`` (the ``filter={"addr": x}``
point lookups at bitcoinabuse/main.go:245, walletexplorer/main.go:111,
chainabuse/main.py:85).

Two layouts, two query patterns:

1. **Hash-bucket partitioned parquet** (``write_partitioned`` /
   ``lookup_partitioned``): the store is written under
   ``bucket=N/`` directories where ``N = pmod(xxhash64(addr), buckets)``.
   A point lookup hashes the address on the driver (a Python XXH64
   that matches Spark's ``xxhash64``, so no Spark job), then reads only
   the ``bucket=N/`` directory: the file index lists one directory
   instead of all ``buckets`` of them, so no listing job runs however
   many buckets the store has. The partition filter and the addr
   equality pushed to parquet row groups stay in the plan. A bucket
   that was never written has no directory; the lookup then falls back
   to the pruned read of the store root, which returns zero rows.

2. **Bucketed managed table** (``write_bucketed``): ``bucketBy(addr)``
   pre-shuffles the store ONCE at write time. Every later
   consolidation merge (full-outer join on addr — the reference's
   per-refresh upsert) then plans with NO Exchange on the store side:
   the join reads co-located buckets. At 100 TB the store-side shuffle
   is the single biggest cost of a refresh, and this removes it from
   every refresh forever in exchange for one write-time shuffle.

Both are config/layout choices around plain DataFrames — no engine
code, which is the point: Spark's planner exploits the layout
automatically (partition pruning; bucket-aware SortMergeJoin).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "bucket"
DEFAULT_BUCKETS = 64  # local demo size; thousands at 100 TB


def _bucket_expr(addr, buckets: int):
    return F.pmod(F.xxhash64(addr), F.lit(buckets)).cast("int")


_SEED = 42  # Spark's xxhash64 seed
_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(s: str) -> int:
    """Spark's ``xxhash64`` of one string, on the driver: XXH64 over the
    UTF-8 bytes with Spark's seed, returned as a signed long."""
    b = s.encode("utf-8")
    n, i = len(b), 0
    if n >= 32:
        v = [(_SEED + _P1 + _P2) & _M64, _SEED + _P2, _SEED, (_SEED - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(b[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = _SEED + _P5
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(b[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(b[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for c in b[i:]:
        h ^= c * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def write_partitioned(store: DataFrame, path: str, buckets: int = DEFAULT_BUCKETS) -> None:
    """Land the store as bucket=N/ partitioned parquet.

    ``repartition(bucket)`` before ``partitionBy`` keeps it to one file
    per partition directory (without it every task writes a sliver of
    every bucket — the classic small-files trap at scale)."""
    (
        store.withColumn(BUCKET_COL, _bucket_expr(F.col("addr"), buckets))
        .repartition(F.col(BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )


def lookup_partitioned(
    spark: SparkSession, path: str, addr: str, buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Point lookup that lists and reads one partition directory.

    The bucket is hashed on the driver (``_xxh64``, no Spark job) and
    only ``bucket=N/`` is read; ``basePath`` keeps ``bucket`` a
    partition column, so the bucket predicate is still a
    PartitionFilter and the addr equality is pushed to parquet as a
    data filter. An address whose bucket was never written has no
    directory: that one error falls back to the pruned read of the
    store root, which yields zero rows with the store's columns."""
    bucket = _xxh64(addr) % buckets
    pred = (F.col(BUCKET_COL) == F.lit(bucket)) & (F.col("addr") == F.lit(addr))
    try:
        df = spark.read.option("basePath", path).parquet(f"{path}/{BUCKET_COL}={bucket}")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        df = spark.read.parquet(path)
    return df.filter(pred).drop(BUCKET_COL)


def write_bucketed(
    store: DataFrame, table: str, buckets: int | None = None, sorted_by: str = "addr"
) -> None:
    """Save the store as a managed table bucketed+sorted on addr —
    the write-once shuffle that makes every subsequent addr-join
    shuffle-free on this side.

    Bucket count must equal ``spark.sql.shuffle.partitions`` (the
    default here): with a mismatch the planner falls back to a plain
    scan ("Bucketed: false — disabled by query planner") and shuffles
    BOTH join sides, which silently forfeits the whole point (verified
    in tests/test_layout.py: 8 buckets under 32 shuffle partitions →
    2 exchanges; 32 → 1)."""
    if buckets is None:
        buckets = int(store.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        store.write.mode("overwrite")
        .bucketBy(buckets, "addr")
        .sortBy(sorted_by)
        .format("parquet")
        .saveAsTable(table)
    )


def write_digest_history(
    digests: DataFrame, table: str, buckets: int | None = None
) -> None:
    """Persist a corpus DIGEST history (1 column ``h``, 32 B/doc) as a
    bucketed+sorted managed table — the production artifact behind
    every incremental-dedup docstring's "history probe is co-located"
    claim (functions/dedup.py::dedup_incremental,
    pipeline.py::corpus_incremental stage 2,
    streaming/incremental.py::incremental_dedup_stream). Written once
    per snapshot; every day's batch then anti-joins it with NO
    Exchange under the history scan (asserted in
    tests/test_layout.py::test_digest_history_probe_is_colocated).
    Same bucket-count contract as write_bucketed."""
    if buckets is None:
        buckets = int(digests.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        digests.write.mode("overwrite")
        .bucketBy(buckets, "h")
        .sortBy("h")
        .format("parquet")
        .saveAsTable(table)
    )


def probe_history_digests(
    spark: SparkSession, table: str, batch: DataFrame
) -> DataFrame:
    """Incremental-dedup history probe against the bucketed digest
    store: batch rows whose digest history has never seen (the 'new'
    survivors). The store side reads its buckets in place — only the
    (small) batch shuffles, and historical TEXT never exists in this
    plan at all: the store IS digests."""
    return batch.join(spark.table(table), "h", "left_anti")


def consolidate_against_bucketed(
    spark: SparkSession, table: str, fresh: DataFrame
) -> DataFrame:
    """The refresh merge against a bucketed store: full-outer join on
    addr where the store side reads its buckets in place (no Exchange
    under the store scan — asserted in tests/test_layout.py). The
    fresh side still shuffles, but fresh ≪ store at every refresh."""
    from labelmain_spark.labelstore.store import consolidate

    return consolidate(spark.table(table), fresh)
