"""The label store — the reference's end product as a Spark pipeline.

labelmain's output is one MongoDB collection of address-label documents
`{addr, labels: [{name, date?, type, desc?, src}]}` written by two
connectors with incompatible policies (bitcoinabuse $set-overwrites the
whole array, bitcoinabuse/main.go:239-245; walletexplorer $addToSet-
appends, walletexplorer/main.go:98-113). This module is what a user of
the reference would switch to:

- per-source extractors building label tables from landed data, one
  doc per addr with a sorted `labels` array of
  `{name, date, type, desc, src}` structs,
- `consolidate` — the cross-source merge with an explicit policy for
  the $set-vs-$addToSet wrinkle (SURVEY.md §7 M2): labels live in
  per-source namespaces; consolidation unions namespaces and dedups
  within them, so one source's refresh can never clobber another's
  labels (the bug waiting to happen in the reference).
- the query surface: per-source/type stats (the point lookup is
  ``layout.lookup_partitioned`` over a stored version).

Scale layout (labelstore/layout.py): each store version is hash-bucketed
on addr into one bucket per shuffle partition of the writing session,
with a ``_layout.json`` manifest recording the bucket count and
schema, so a point lookup reads one bucket directory in one task. The
consolidate merge is a full-outer join on addr, which Spark does not
broadcast: against a stored version both sides are shuffled on addr,
whatever the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.operators.merge import merge_add_to_set
from labelmain_spark.sources.readers import load_table


def _addr(col) -> Column:
    """Deterministic address surrogate for fixture keys."""
    return F.format_string("addr%06d", col)


def abuse_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitcoinabuse-shaped extractor: every error event is an abuse
    report; one doc per address with the nested labels array
    (bitcoinabuse/main.go:226-242)."""
    ev = load_table(spark, sf_dir, "events")
    label = F.struct(
        F.lit("abuse").alias("name"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("date"),
        F.col("event_type").alias("type"),
        F.get_json_object("props", "$.k").alias("desc"),
        F.lit("bitcoinAbuse").alias("src"),
    )
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(_addr(F.col("user_id")).alias("addr"))
        .agg(F.array_sort(F.collect_list(label)).alias("labels"))
    )


def wallet_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """walletexplorer-shaped extractor: wallet-name/type labels per
    address (walletexplorer/main.go:98-107), set semantics."""
    part = load_table(spark, sf_dir, "part")
    label = F.struct(
        F.col("p_brand").alias("name"),
        F.lit(None).cast("string").alias("date"),
        F.col("p_type").alias("type"),
        F.lit(None).cast("string").alias("desc"),
        F.lit("walletExplorer").alias("src"),
    )
    return part.groupBy(_addr(F.col("p_partkey") % 200).alias("addr")).agg(
        F.array_sort(F.array_distinct(F.collect_list(label))).alias("labels")
    )


def consolidate(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cross-source consolidation keyed by addr: the $addToSet merge
    (sorted distinct union of the two label arrays). Because each label
    carries its `src`, sources occupy disjoint namespaces — a $set
    refresh from one source replaces only its own namespace
    (replace-by-source policy), never the other's."""
    return merge_add_to_set(a, b, "addr", "labels")


def refresh_source(store: DataFrame, src: str, fresh: DataFrame) -> DataFrame:
    """Replace-by-source refresh: drop `src`'s namespace from every doc,
    then consolidate the fresh extract in — the correct form of the
    reference's $set overwrite (which would clobber other sources)."""
    stripped = store.select(
        "addr",
        F.filter("labels", lambda l: l["src"] != F.lit(src)).alias("labels"),
    ).filter(F.size("labels") > 0)
    return consolidate(stripped, fresh)


def label_stats_df(store: DataFrame) -> DataFrame:
    """Per-source/type label counts over the whole store."""
    return (
        store.select("addr", F.explode("labels").alias("l"))
        .groupBy(F.col("l.src").alias("src"), F.col("l.type").alias("type"))
        .agg(
            F.count(F.lit(1)).alias("n_labels"),
            F.countDistinct("addr").alias("n_addrs"),
        )
    )


# ---- driver-contract queries ------------------------------------------------


def _canonical(store: DataFrame) -> DataFrame:
    # ignoreNullFields=false: Spark's to_json drops null struct fields
    # by default, DuckDB's renders them — emit them on both engines.
    return store.select(
        "addr",
        F.to_json("labels", {"ignoreNullFields": "false"}).alias("labels_json"),
        F.size("labels").alias("n_labels"),
    )


def label_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = abuse_labels(spark, sf_dir)
    b = wallet_labels(spark, sf_dir)
    return _canonical(consolidate(a, b))


def label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = consolidate(abuse_labels(spark, sf_dir), wallet_labels(spark, sf_dir))
    return label_stats_df(store)


QUERIES = {
    "label_consolidate": label_consolidate,
    "label_stats": label_stats,
}

# DuckDB (v1.0) cannot list_distinct/list(DISTINCT) over struct lists,
# so the oracle dedups FLAT label rows (SELECT DISTINCT over scalars)
# and nests afterwards — semantically identical to the engine's
# concat → array_distinct → array_sort.
_FLAT_LABELS_SQL = """
    SELECT DISTINCT addr, name, date, type, "desc", src FROM (
        SELECT printf('addr%06d', user_id) AS addr,
               'abuse' AS name,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS date,
               event_type AS type,
               json_extract_string(props, '$.k') AS "desc",
               'bitcoinAbuse' AS src
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT printf('addr%06d', p_partkey % 200) AS addr,
               p_brand, CAST(NULL AS VARCHAR), p_type,
               CAST(NULL AS VARCHAR), 'walletExplorer'
        FROM part
    )
"""

_CONSOLIDATED_SQL = f"""
    SELECT addr,
           list_sort(list({{
               'name': name, 'date': date, 'type': type,
               'desc': "desc", 'src': src
           }})) AS labels
    FROM ({_FLAT_LABELS_SQL})
    GROUP BY addr
"""

ORACLE = {
    "label_consolidate": f"""
        SELECT addr, to_json(labels) AS labels_json,
               CAST(len(labels) AS INTEGER) AS n_labels
        FROM ({_CONSOLIDATED_SQL})
    """,
    "label_stats": f"""
        SELECT l.src AS src, l.type AS type,
               COUNT(*) AS n_labels, COUNT(DISTINCT addr) AS n_addrs
        FROM (
            SELECT addr, unnest(labels) AS l FROM ({_CONSOLIDATED_SQL})
        ) GROUP BY l.src, l.type
    """,
}
