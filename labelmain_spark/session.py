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
"""

from __future__ import annotations

import os
import tempfile
import weakref
from contextlib import contextmanager

from pyspark.sql import SparkSession


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
        # in both engines; scripts/*_scale* now write 16k-row groups.
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


def track_persist(df):
    """Register an operator-persisted DataFrame for release via
    :func:`release_caches`. Operators whose RESULT plan still reads the
    persisted frame (e.g. ``bm25_topk``'s tokenized tf projection)
    cannot unpersist before returning — the caller's action would
    recompute the projection and lose the single-tokenization plan —
    so they register here instead; a ``release_caches(owner_session)``
    call (and only it) drops the entry. Long-lived library sessions
    that never call ``release_caches`` would otherwise accumulate one
    cache entry per distinct invocation (r8 advice item); entries are
    scoped to ``df.sparkSession`` so concurrent sessions cannot
    release each other's frames (r10 advice item)."""
    handle = getattr(df, "_jdf", None)
    _TRACKED_PERSISTS.setdefault(df.sparkSession, []).append(
        handle if handle is not None else df
    )
    return df


def release_caches(spark: SparkSession, clear_shared: bool = True) -> None:
    """Drop every persisted intermediate OWNED BY ``spark`` (shared
    explodes, cumsum level caches). Several operators persist
    diamond-shaped intermediates (``_exploded_shingles``,
    ``_exploded_paragraphs``, ``exclusive_cumsum`` levels); Spark's
    CacheManager keys them by canonical plan so repeat calls share one
    entry per input, but entries from DIFFERENT queries/inputs
    accumulate for the lifetime of the session. Long-lived sessions
    iterating many registry keys must call this between keys — bench.py
    and the test fixtures do; the correctness driver's per-key runs are
    short-lived.

    Scoping is two-tier, and the tiers differ (r10 self-review): the
    TRACKED-release step unpersists only the caller's frames — other
    live sessions' tracked lists are untouched. The final
    ``catalog.clearCache()`` backstop, however, is APPLICATION-WIDE in
    classic Spark (SharedState.cacheManager is per-SparkContext, not
    per-session) — it exists because many operators persist
    self-managed intermediates that never enter the tracked list, and
    a long bench run must be able to reset storage to zero. In a
    process hosting multiple concurrent sessions over one JVM, pass
    ``clear_shared=False`` to release only the caller's tracked frames
    and leave sibling sessions' cached data alone."""
    from pyspark.sql import DataFrame as _DF

    for h in _TRACKED_PERSISTS.pop(spark, []):
        try:
            if isinstance(h, _DF):  # Connect fallback: DataFrame
                h.unpersist()
            else:  # py4j JVM Dataset handle (hasattr lies on py4j objects)
                h.unpersist(False)
        except Exception:
            pass  # session of the tracked frame may already be stopped
    if clear_shared:
        spark.catalog.clearCache()


SMALL_PLAN_ROWS = 200_000
"""Row-count threshold below which an iterative/driver-coordinated
plan over an already-MEASURED tiny table runs single-partition with
AQE off — see ``small_plan_conf``."""


@contextmanager
def small_plan_conf(spark: SparkSession, small: bool):
    """Run a block of tiny-table actions with 1 shuffle partition and
    AQE disabled, restoring the session confs afterwards.

    Why this exists: AQE materializes every exchange as its own job to
    re-plan the next stage. That is exactly right for TB-scale stages
    and exactly wrong for a driver-coordinated fixpoint loop whose
    label table is a few hundred cached rows — each loop round became
    7+ scheduling-bound jobs of 32 near-empty tasks (measured 2-3.7 s
    per round on 512 rows at sf0.1; 1.3 s with this conf, and the
    final cluster join dropped 3.2 s → 0.8 s).

    This is NOT hand-scheduling the big-data path: callers gate on a
    row count they have already measured (the same runtime statistic
    AQE itself would use), so at 100 TB — where the same tables carry
    billions of rows — the block runs with the session's normal AQE
    conf. The decision is per-measurement, not per-SF.
    """
    if not small:
        yield
        return
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
