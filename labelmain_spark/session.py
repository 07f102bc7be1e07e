"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM; the configs are chosen so the
same code is correct on a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, join-strategy switch).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so the setting is a
  local-mode nicety, not a correctness knob.
- Arrow on for every pandas interchange (Pandas UDFs, toPandas).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) and are stable across machines.

It also owns the one scratch-cache rule: every operator persist in the
library goes through :func:`track_persist` / :func:`persist_counted`
(one storage level, session-tracked) and is dropped by
:func:`unpersist` or :func:`release_caches`.

And the one small-input rule, :func:`collect_if_small`. No loop
rewrites the caller's SQL conf.
"""

from __future__ import annotations

import os
import tempfile
import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "labelmain_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Scan-split sizing (r8): with the 4 MB default openCostInBytes,
        # a single mid-size file (the ×20-×100 fixtures: 12-57 MB) is
        # capped at totalBytes/4MB splits — 15 tasks on a 32-core box,
        # idling half of it through every CPU-dense narrow map. 1 MB
        # lets bytesPerCore drive the split count in the mid-size
        # regime while leaving both extremes unchanged: sub-MB bench
        # fixtures still scan as one task, and multi-TB corpora split
        # on maxPartitionBytes long before open-cost matters.
        # (Prerequisite, found the same round: splits only parallelize
        # MULTI-ROW-GROUP parquet — the scale fixtures were one giant
        # row group, silently serializing every scan through ONE task
        # in both engines; the scripts/scale.py tiers write 16k-row groups.
        # See PERF.md r8.)
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        # Fixture events.ts is parquet TIMESTAMP(NANOS), which the Spark
        # reader rejects; read as long and convert in the loader (the
        # same ns→µs truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A deployment path: Spark's warehouse (managed tables, and the
        # spark-warehouse dir a session may create) goes under
        # SPARK_GRAFT_WAREHOUSE or tmp, never the working directory.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "labelmain_warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Tracked persists, KEYED BY OWNING SESSION (r10 advisor item): a
# WeakKeyDictionary{SparkSession: [handle, ...]}. The r9 flat list
# had two defects — release_caches(spark) unpersisted frames belonging
# to OTHER live sessions, and a stopped-but-never-released session's
# entries (plus their persisted RDD handles) stayed reachable forever.
# Weak keys make the session itself the lifetime: when a session is
# garbage-collected its tracked list vanishes with it, and releasing
# one session can never touch another's caches.
#
# The handle is the py4j JVM Dataset (``df._jdf``), NOT the Python
# DataFrame (r10 self-review): a classic DataFrame strongly references
# its SparkSession (``_session``), so DataFrame values would pin the
# weak key forever — the documented WeakKeyDictionary caveat — and the
# abandoned-session entry the weak keying exists to collect would
# never be collected. The JVM handle references only the py4j gateway,
# keeps the cache releasable, and dies with the JVM context. Under
# Spark Connect (no ``_jdf``) the DataFrame itself is stored — there
# the entry then lives until release_caches or process exit, a
# documented Connect limitation, not a correctness issue.
_TRACKED_PERSISTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

STORAGE_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER
"""The one level every library persist uses: Spark's DataFrame
default (cached columnar batches kept as objects in memory, spilled to
disk under pressure). PERF.md has the A/B against the serialized
``MEMORY_AND_DISK``."""


def _handle(df):
    handle = getattr(df, "_jdf", None)
    return handle if handle is not None else df


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at :data:`STORAGE_LEVEL` and register it under
    ``df.sparkSession`` for :func:`release_caches`. Every operator
    persist in the library goes through here (or through
    :func:`persist_counted` / :func:`unpersist`), so one release drops
    exactly what the session's queries cached. A frame the RESULT plan
    still reads (e.g. ``bm25_topk``'s tokenized tf projection) stays
    cached until that release; a frame dropped before its operator
    returns goes through :func:`unpersist` instead."""
    df = df.persist(STORAGE_LEVEL)
    _TRACKED_PERSISTS.setdefault(df.sparkSession, []).append(_handle(df))
    return df


def persist_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`track_persist` plus ONE count job, returning (cached
    frame, exact row count). The count is the cache prime: without it
    the first action's concurrent branches each recompute the frame
    instead of reading the cache.

    It is also the ADAPTIVE companion to
    ``readers.broadcast_if_bounded`` for frames whose plan-time size
    estimate is hopeless (r10: Catalyst estimates an aggregate over an
    EXPLODE at the explode's inflated output bytes — 817 MB at ×200 /
    1.6 GB at ×400 for a unigram frequency table that is actually a
    few KB — so the stats gate refuses the broadcast and the planner
    degrades the scoring join to a full token-row SortMergeJoin; worse,
    below the threshold crossover Catalyst broadcast the 55M-row
    EXPLODED side, whose estimate is the pre-explode file bytes). The
    caller decides the broadcast on the returned EXACT count instead.
    At 100 TB this is the only sound gate for vocabulary-shaped
    frames: plan-time stats cannot bound a distinct-count, the runtime
    count can."""
    df = track_persist(df)
    return df, df.count()


def persist_round(df: DataFrame) -> DataFrame:
    """:func:`track_persist` of ``df``'s rows behind a one-scan plan,
    for a loop that builds each round from the last round's cache.
    Under AQE a cached plan prints its parent's plan twice (initial and
    final), and Spark renders it to name each cache entry, so chained
    rounds grow the string as 2^k: the hash-min loop ran out of driver
    heap within 8 rounds. Run an action over the result before
    dropping the parent's cache. Under Spark Connect there is no JVM
    RDD to re-root on: the frame is tracked as it is and keeps the
    plan-string growth."""
    if getattr(df, "_jdf", None) is None:
        return track_persist(df)
    flat = DataFrame(
        df.sparkSession._jsparkSession.createDataFrame(
            df._jdf.javaRDD(), df._jdf.schema()
        ),
        df.sparkSession,
    )
    return track_persist(flat)


def unpersist(df: DataFrame) -> None:
    """Drop ``df``'s cache now and its tracked entry with it — for
    frames released before their operator returns (loop rounds, driver
    arms, per-epoch frames), so the tracked list stays bounded in a
    loop or stream that never ends."""
    handle = _handle(df)
    tracked = _TRACKED_PERSISTS.get(df.sparkSession)
    if tracked:
        tracked[:] = [h for h in tracked if h is not handle]
    df.unpersist()


def release_caches(spark: SparkSession) -> None:
    """Drop every persist tracked under ``spark`` — the scratch caches
    its queries left behind (shared explodes, pad tables, signature
    tables, result-read projections). Spark's CacheManager keys them
    by canonical plan, so repeat calls share one entry per input, but
    entries from DIFFERENT queries/inputs accumulate for the lifetime
    of the session. Long-lived sessions iterating many registry keys
    call this between keys (``perfbench/`` and the parity tests do).
    Other live sessions' tracked frames are untouched."""
    for h in _TRACKED_PERSISTS.pop(spark, []):
        try:
            if isinstance(h, DataFrame):  # Connect fallback: DataFrame
                h.unpersist()
            else:  # py4j JVM Dataset handle (hasattr lies on py4j objects)
                h.unpersist(False)
        except Exception:
            pass  # session of the tracked frame may already be stopped


SMALL_PLAN_ROWS = 200_000
"""Input rows up to which a driver-coordinated loop (union-find,
integer PageRank, BPE merges) runs in the driver: ~200k narrow rows
is single-digit MB. See :func:`collect_if_small`."""


def collect_if_small(df: DataFrame):
    """The one small-input rule: ``df`` (already persisted) as pandas
    when it has at most :data:`SMALL_PLAN_ROWS` rows, else ``None`` and
    the caller runs its distributed loop under the caller's own conf.
    One action, ``limit(B + 1).toPandas()``: ≤ B rows back proves the
    limit dropped nothing. Below the bound each distributed round is
    pure job dispatch (PERF.md, the driver-tier sections); the bound is
    a runtime row count, so at 100 TB the same calls run distributed."""
    pdf = df.limit(SMALL_PLAN_ROWS + 1).toPandas()
    return pdf if len(pdf) <= SMALL_PLAN_ROWS else None
