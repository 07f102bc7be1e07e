"""Physical layout for the label store — the engine-side answer to the
reference's MongoDB B-tree index on ``addr`` (the ``filter={"addr": x}``
point lookups at bitcoinabuse/main.go:245, walletexplorer/main.go:111,
chainabuse/main.py:85).

The layout is hash-bucket partitioned parquet (``write_partitioned`` /
``lookup_partitioned``): the store is written under ``bucket=N/``
directories where ``N = pmod(xxhash64(addr), buckets)`` and ``buckets``
is the writing session's ``spark.sql.shuffle.partitions``, so a refresh
writes one file per shuffle partition (2 at the benchmark's
``local[2]``), not a fixed 64 small files. That rule is measured only at
local bucket counts: a small store written from a session with
thousands of shuffle partitions gets thousands of tiny files, and
sizing the count from the store's rows or bytes is still open (ROADMAP
item 2). After the data commit a ``_layout.json`` manifest next to the
data records the bucket count and the store schema (Spark's file index
ignores ``_``-prefixed names, so a plain ``spark.read.parquet(version)``
is unchanged).

A point lookup reads the manifest, hashes the address on the driver (a
Python XXH64 that matches Spark's ``xxhash64``, so no Spark job) with
the manifest's bucket count, and reads only ``bucket=N/`` with the
manifest schema: no listing job, no schema-inference job, one scan
task. The partition filter and the addr equality pushed to parquet row
groups stay in the plan. A bucket that was never written has no
directory; the lookup then returns an empty frame with the manifest
schema without running anything.

The layout serves lookups only. The refresh merge
(``store.consolidate``) reads a version as plain parquet and shuffles
it on addr: the bucket directories are not a Spark bucketing the
planner can use to skip that exchange.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "bucket"
MANIFEST = "_layout.json"


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


def _manifest_file(spark: SparkSession, path: str):
    """The version's manifest as a Hadoop (FileSystem, Path) pair, so it
    lives on whatever store Spark writes the data to."""
    p = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/{MANIFEST}")
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    fs, p = _manifest_file(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()


def _read_manifest(spark: SparkSession, path: str) -> dict:
    fs, p = _manifest_file(spark, path)
    try:
        inp = fs.open(p)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.io.FileNotFoundException":
            raise
        raise FileNotFoundError(f"store version {path} has no {MANIFEST}") from None
    try:
        return json.loads(bytes(inp.readAllBytes()).decode("utf-8"))
    finally:
        inp.close()


def write_partitioned(store: DataFrame, path: str) -> None:
    """Land the store as bucket=N/ partitioned parquet, one bucket per
    shuffle partition of the writing session, then its manifest.

    ``repartition(bucket)`` before ``partitionBy`` keeps it to one file
    per partition directory (without it every task writes a sliver of
    every bucket — the classic small-files trap at scale)."""
    spark = store.sparkSession
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        store.withColumn(BUCKET_COL, _bucket_expr(F.col("addr"), buckets))
        .repartition(F.col(BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    # The schema as a parquet read returns it (every field nullable), so
    # a hit and a never-written bucket agree on it.
    schema = json.loads(store._jdf.schema().asNullable().json())
    _write_manifest(spark, path, {"buckets": buckets, "schema": schema})


def lookup_partitioned(spark: SparkSession, path: str, addr: str) -> DataFrame:
    """Point lookup that lists and reads one partition directory.

    The bucket is hashed on the driver (``_xxh64``, no Spark job) with
    the bucket count the manifest recorded at write time, and only
    ``bucket=N/`` is read, with the manifest schema, so no schema
    footer is read before the scan. ``basePath`` keeps ``bucket`` a
    partition column, so the bucket predicate is still a
    PartitionFilter and the addr equality is pushed to parquet as a
    data filter. An address whose bucket was never written has no
    directory: that one error returns an empty local frame with the
    store's columns. A version without a manifest raises
    ``FileNotFoundError`` naming it."""
    manifest = _read_manifest(spark, path)
    schema = T.StructType.fromJson(manifest["schema"])
    bucket = _xxh64(addr) % manifest["buckets"]
    try:
        df = (
            spark.read.schema(schema)
            .option("basePath", path)
            .parquet(f"{path}/{BUCKET_COL}={bucket}")
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        # limit(0) plans an empty local relation: nothing runs.
        return spark.createDataFrame([], schema).limit(0)
    pred = (F.col(BUCKET_COL) == F.lit(bucket)) & (F.col("addr") == F.lit(addr))
    return df.filter(pred).drop(BUCKET_COL)
