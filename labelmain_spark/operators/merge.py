"""Merge / upsert semantics — the heart of the reference (SURVEY.md §2.1
S6-S8, M2).

The reference maintains its label store with two distinct upsert
policies into the same collection:

- S6 `$set` whole-doc overwrite, last write wins
  (bitcoinabuse/main.go:244-245; chainabuse/main.py:83-89 keyed on
  node.id) → :func:`upsert` — full-outer join on the key, update
  columns coalesced new-over-old.
- S7 `$addToSet` set-union append (walletexplorer/main.go:96-117)
  → :func:`merge_add_to_set` — array_union of the per-key sets;
  idempotent by construction (re-applying the same batch is a no-op,
  the property MongoDB's $addToSet gives the reference).

Production form on a table store is a single Delta/Iceberg
`MERGE INTO t USING s ON t.key = s.key` (no full-outer rewrite of the
untouched partitions); the DataFrame form here is the engine-agnostic,
oracle-checkable core with identical semantics. Both merges are
full-outer joins on the key, which Spark does not broadcast, so the
state side is shuffled on the key in every merge however small the
updates side is.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from labelmain_spark.operators.parity import dsum, sql_dsum
from labelmain_spark.sources.readers import load_table


def upsert(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Last-write-wins upsert (Mongo UpdateOne $set, upsert:true).

    Both inputs must share a schema. Returns one row per key: the
    updates row when present, else the current row.
    """
    cols = [c for c in current.columns if c != key]
    cur = current.alias("cur")
    upd = updates.alias("upd")
    joined = cur.join(upd, F.col(f"cur.{key}") == F.col(f"upd.{key}"), "full_outer")
    return joined.select(
        F.coalesce(F.col(f"upd.{key}"), F.col(f"cur.{key}")).alias(key),
        *[
            F.when(F.col(f"upd.{key}").isNotNull(), F.col(f"upd.{c}"))
            .otherwise(F.col(f"cur.{c}"))
            .alias(c)
            for c in cols
        ],
    )


def merge_add_to_set(
    current: DataFrame, updates: DataFrame, key: str, set_col: str
) -> DataFrame:
    """Set-union merge (Mongo $addToSet): per-key sorted distinct union
    of two array columns. Idempotent: merging the same updates twice
    yields the same result."""
    empty = F.array().cast(current.schema[set_col].dataType)
    cur = current.alias("cur")
    upd = updates.alias("upd")
    joined = cur.join(upd, F.col(f"cur.{key}") == F.col(f"upd.{key}"), "full_outer")
    return joined.select(
        F.coalesce(F.col(f"upd.{key}"), F.col(f"cur.{key}")).alias(key),
        F.array_sort(
            F.array_union(
                F.coalesce(F.col(f"cur.{set_col}"), empty),
                F.coalesce(F.col(f"upd.{set_col}"), empty),
            )
        ).alias(set_col),
    )


_CUTOFF = "2024-01-15 00:00:00"


def _user_doc(ev: DataFrame) -> DataFrame:
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
        dsum("value", "total_value"),
    )


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 last-write-wins: per-user docs from the first half of the
    month (current state) overwritten by docs from the second half
    (new batch) where the user reappears."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    current = _user_doc(ev.filter(F.col("ts") < cutoff))
    updates = _user_doc(ev.filter(F.col("ts") >= cutoff))
    return upsert(current, updates, "user_id")


def merge_addtoset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 $addToSet: per-user label sets from two batches, set-union
    merged, then re-merged with the second batch to prove idempotence
    (applying the same batch twice must be a no-op)."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")

    def labels(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.array_sort(F.collect_set("event_type")).alias("labels")
        )

    a = labels(ev.filter(F.col("ts") < cutoff))
    b = labels(ev.filter(F.col("ts") >= cutoff))
    merged = merge_add_to_set(a, b, "user_id", "labels")
    merged = merge_add_to_set(merged, b, "user_id", "labels")  # idempotent re-apply
    return merged.select(
        "user_id",
        F.array_join("labels", "|").alias("labels"),
        F.size("labels").alias("n_labels"),
    )


def dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 TTL dedup as a batch query: first event per
    (user, event_type, day) — the 12 h ttlcache keyed by addr
    (bitcoinabuse/main.go:43-45) with a calendar-day TTL window.
    Deterministic: keeps the earliest (ts, event_id) row, unlike
    dropDuplicates which keeps an arbitrary one."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    w = W.partitionBy("user_id", "event_type", day).orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


QUERIES = {
    "merge_upsert": merge_upsert,
    "merge_addtoset": merge_addtoset,
    "dedup_ttl": dedup_ttl,
}

ORACLE = {
    "merge_upsert": f"""
        WITH cur AS (
            SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts,
                   {sql_dsum('value')} AS total_value
            FROM events WHERE ts < TIMESTAMP '{_CUTOFF}' GROUP BY user_id
        ), upd AS (
            SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts,
                   {sql_dsum('value')} AS total_value
            FROM events WHERE ts >= TIMESTAMP '{_CUTOFF}' GROUP BY user_id
        )
        SELECT COALESCE(upd.user_id, cur.user_id) AS user_id,
               CASE WHEN upd.user_id IS NOT NULL THEN upd.n_events ELSE cur.n_events END AS n_events,
               CASE WHEN upd.user_id IS NOT NULL THEN upd.last_ts ELSE cur.last_ts END AS last_ts,
               CASE WHEN upd.user_id IS NOT NULL THEN upd.total_value ELSE cur.total_value END AS total_value
        FROM cur FULL OUTER JOIN upd ON cur.user_id = upd.user_id
    """,
    "merge_addtoset": """
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), '|') AS labels,
               CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_labels
        FROM events GROUP BY user_id
    """,
    "dedup_ttl": """
        SELECT event_id, user_id, event_type, ts FROM (
            SELECT event_id, user_id, event_type, ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type, date_trunc('day', ts)
                       ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
}
