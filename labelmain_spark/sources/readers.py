"""Table readers over the parquet landing zone.

The reference ingests from paginated HTTP/GraphQL sources straight into a
document store (bitcoinabuse/main.go:86-119, chainabuse/main.py:10-39).
Spark-first, ingestion lands raw pages as files (bronze) and every
relational operator reads columnar parquet — Catalyst then gets predicate
pushdown, column pruning and partition pruning for free.

At 100 TB the only changes are paths (object store) and layout (tables
partitioned by ingest date, big facts additionally bucketed by their join
key); the reader API is identical.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Broadcast discipline (r10, closing the r9 verdict's star-schema
# gating item): the ONLY tables safe to broadcast unconditionally are
# the schema-bounded dims — region (5 rows) and nation (25), whose
# cardinality is fixed by the data model, NOT by scale factor. The r9
# sweep's "schema-bounded dims (region/nation/supplier)" claim wrongly
# included supplier: customer/supplier/part all scale linearly with SF
# (150k/10k/200k rows per SF unit) and every frame derived from them
# rides ``broadcast_if_bounded`` (enforced by
# tests/test_plans.py::test_star_schema_broadcasts_are_size_gated).


def _enable_nanos_as_long(spark: SparkSession) -> None:
    """events.parquet carries TIMESTAMP(NANOS) which vanilla Spark rejects
    (PARQUET_TYPE_ILLEGAL). The legacy conf is runtime-settable, so set it
    here rather than relying on a builder-time config — callers (the
    correctness driver included) hand us arbitrary sessions. The session
    timezone is pinned to UTC for the same reason: timestamp formatting /
    truncation must match the tz-naive DuckDB oracle even on a session
    built on a non-UTC box."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Give the events ``ts`` column ONE type whatever the fixture
    vintage — the rule the batch reader (:func:`load_table`) and the
    stream (streaming/incremental.py ``stream_events``) both apply to a
    frame read with the file's own schema, so every downstream
    consumer (epoch casts, watermarks — which reject NTZ) sees plain
    TIMESTAMP. Needs :func:`_enable_nanos_as_long` on the session that
    read ``df``."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) read as long ns; truncate to µs exactly as
        # DuckDB does. div is exact integer floor-division.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # parquet timestamp[us] infers as TIMESTAMP_NTZ; the session tz
        # is pinned UTC, so the cast is the identity on stored values.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Resolved-relation memo — the engine's mini-catalog. Every
# ``spark.read.parquet`` call re-lists the path and re-reads parquet
# footers ON THE DRIVER (~70-90 ms/table measured at sf0.1), and a
# 50-key bench run re-creates the same ten relations hundreds of
# times; that listing was the single biggest slice of the trivial-key
# dispatch floor (see PERF.md r7 attribution: 0.44 s join_inner =
# ~0.20 s plan build, of which ~0.15 s relation creation). A real
# deployment reads through a metastore catalog whose file index is
# cached — this memo is the same contract: table paths are immutable
# landing zones (regenerated fixtures get NEW paths; scale_crossover
# complies). Keyed by applicationId so a new session never sees a dead
# session's plans.
_RELATION_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain columnar scan — filters/projections
    applied by callers reach the parquet reader via Catalyst pushdown.
    The resolved relation is memoized per (session, path): see
    ``_RELATION_MEMO``."""
    if name == "events":
        _enable_nanos_as_long(spark)
    memo_key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _RELATION_MEMO.get(memo_key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    _RELATION_MEMO[memo_key] = df
    if len(_RELATION_MEMO) > 4096:  # pathological many-path sessions
        _RELATION_MEMO.clear()
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


# Row-count memo, the _RELATION_MEMO companion (r14b): four dedup-family
# operators open with `load_table(...).count()` to size their df-prune
# threshold — a metadata-only count, but still one dispatched job per
# key invocation (~0.1 s of the sub-second floor), re-counting the same
# immutable landing-zone path a long bench session has already counted.
# Same catalog contract as the relation memo (a metastore caches table
# statistics; regenerated fixtures get NEW paths), same applicationId
# scoping so a new session never trusts a dead session's numbers.
_ROWCOUNT_MEMO: dict[tuple[str, str, str], int] = {}


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of one fixture table, memoized per
    (session, path, table) — see ``_ROWCOUNT_MEMO``."""
    memo_key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _ROWCOUNT_MEMO.get(memo_key)
    if cached is None:
        cached = load_table(spark, sf_dir, name).count()
        _ROWCOUNT_MEMO[memo_key] = cached
        if len(_ROWCOUNT_MEMO) > 4096:  # pathological many-path sessions
            _ROWCOUNT_MEMO.clear()
    return cached


REBALANCE_MIN_BYTES = 32 << 20


def rebalance_dense_scan(df: DataFrame, min_bytes: int = REBALANCE_MIN_BYTES) -> DataFrame:
    """Repartition a CPU-dense narrow-map input to the core count when
    the file scan UNDER-SPLITS the box (r8, generalizing knn_join's
    measured fix): Spark sizes scan partitions by BYTES, so a dense
    per-row transform over a single mid-size file runs on a fraction
    of the cores while the rest idle — the dominant stage of every
    flat map-constant key on the r7 weak list (bm25_topk 18→5.8 s at
    ×100 from this alone, measured on the old single-row-group
    fixture whose scan was ONE indivisible task; with realistic
    multi-row-group files the gate usually never fires because the
    scan splits natively — this helper remains the guard for
    unsplittable inputs: single-row-group uploads, gzip JSON, small
    dense side-tables).

    Both gate arms keep the shuffle off the paths where it would only
    add cost: (a) plan-stats bytes below ``min_bytes`` = the work is
    sub-second and the extra stage is pure dispatch floor (the sf0.1
    bench keys); (b) scan splits already ≥ parallelism = a real
    multi-TB corpus, which never pays the shuffle. The stats probe is
    driver-side only (optimizer statistics, no job)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # non-JVM-backed plan oddity: skip, never fail the key
        return df
    if size >= min_bytes and df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


BROADCAST_MAX_BYTES = 64 << 20


def broadcast_if_bounded(df: DataFrame, max_bytes: int | None = None) -> DataFrame:
    """Broadcast-hint a join side ONLY when the optimizer's size
    estimate says it is actually small (r9, closing the r8 verdict's
    unbounded-vocab-broadcast defect): ``chi2_keywords`` /
    ``cluster_topics`` join a per-term marginal table whose
    cardinality is the corpus DISTINCT VOCABULARY — tiny on fixtures,
    billions of rows on a real web corpus, where an unconditional
    ``F.broadcast`` hint fails outright (8 GB broadcast hard cap,
    driver OOM). Same gate discipline as :func:`rebalance_dense_scan`:
    a driver-side plan-stats probe (no job), hint applied only under
    ``max_bytes``; above it the join falls back to a plain shuffle
    join — correct-by-construction because the callers already key
    the probe side by the same column (the contingency table is keyed
    (slice, term), the marginal by term, so the shuffle co-partitions
    on term). Unknown stats => NOT broadcast: at 100 TB the safe
    default is the shuffle, never the driver.

    r10 hardening (advisor items): (a) a failed probe is LOGGED at
    warning level instead of silently degrading — under Spark Connect
    the private ``_jdf`` handle does not exist, so every call takes
    the shuffle fallback; that is the correct conservative plan but it
    must be visible, not silent. (b) The probe result is memoized on
    the DataFrame object (``_lm_stats_bytes``): the probe runs full
    driver-side analysis + optimization of the subtree, and several
    keys probe the same frame twice while assembling one plan — the
    memo makes the second probe free. The memo is per-object, not
    per-logical-plan: call sites construct their frames fresh per
    plan build, so object identity is exactly the reuse scope."""
    limit = BROADCAST_MAX_BYTES if max_bytes is None else max_bytes
    size = getattr(df, "_lm_stats_bytes", None)
    if size is None:
        try:
            size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception as exc:  # Spark Connect (no _jdf) or analysis failure
            logging.getLogger(__name__).warning(
                "broadcast_if_bounded: plan-stats probe failed (%s: %s); "
                "falling back to a shuffle join for this side — expected "
                "under Spark Connect, where the private _jdf handle is "
                "unavailable", type(exc).__name__, exc,
            )
            return df
        try:
            df._lm_stats_bytes = size
        except Exception:
            pass  # frozen/slotted DataFrame subclass: probe just re-runs
    if size <= limit:
        return F.broadcast(df)
    return df


def persist_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Persist + session-track ``df`` and run ONE count job, returning
    (cached frame, exact row count) — the ADAPTIVE companion to
    :func:`broadcast_if_bounded` for frames whose plan-time size
    estimate is hopeless (r10: Catalyst estimates an aggregate over an
    EXPLODE at the explode's inflated output bytes — 817 MB at ×200 /
    1.6 GB at ×400 for a unigram frequency table that is actually a
    few KB — so the stats gate refuses the broadcast and the planner
    degrades the scoring join to a full token-row SortMergeJoin; worse,
    below the threshold crossover Catalyst broadcast the 55M-row
    EXPLODED side, whose estimate is the pre-explode file bytes). The
    caller decides the broadcast on the returned EXACT count instead.
    Cost: one extra job over an aggregate the plan computes anyway;
    the cache makes the second consumption free and is released by
    ``release_caches`` (session-tracked). At 100 TB this is the only
    sound gate for vocabulary-shaped frames: plan-time stats cannot
    bound a distinct-count, the runtime count can."""
    from labelmain_spark.session import track_persist

    df = df.persist()
    track_persist(df)
    return df, df.count()


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
