"""Heavier analytical queries over the star schema — the bench anchors
that exercise multi-operator plans end-to-end (scan → filter → join →
agg → sort/limit), in the shape of classic warehouse queries.

These stand in for the analytics a label store serves at 100 TB
("revenue per label source per month", "top reported addresses by
segment"):

- `pricing_summary` — TPC-H-Q1-shaped: one wide scan, grouped multi-agg
  with exact decimal sums. The plan to want: partial HashAggregate →
  single exchange on the tiny group key → final HashAggregate, filter
  pushed to parquet.
- `shipping_priority` — TPC-H-Q3-shaped: 3-way join (dim filter →
  broadcast) → agg → top-10 (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.operators.parity import (
    DEC,
    dsum,
    micro_units,
    sql_dsum,
    sql_micro_units,
    stable_round,
)
from labelmain_spark.sources.readers import broadcast_if_bounded, load_table


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1. Exact sums via TWO-LEVEL micro-unit longs (late-r11
    re-plan, the time_rollup lesson generalized to unbounded groups):
    the old per-row DECIMAL(28,6) casts were the hot path's heaviest
    expressions — measured 4.20 s decimal vs 1.75 s two-level vs
    1.37 s plain-double floor on the sf0.1 fixture (7 aggregates,
    /tmp-A/B r11) — so each value becomes floor(x·1e6+0.5) as a LONG
    once, partitions sum longs map-side keyed (group, partition_id),
    and only the ≤ groups·partitions partial rows pay the decimal
    merge. Q1's four groups grow unboundedly with SF (a single-level
    long sum overflows past ~7e7 rows/group ≈ SF 120), but the
    per-PARTITION partial is bounded by maxPartitionBytes (~1.3e6
    rows ≈ 1.7e17 micro-units at worst-case values — 50× headroom),
    and the decimal merge is exact at any scale. Values are
    bit-identical to the old decimal plan on the fixture; the oracle
    is re-spelled to the same floor fixed-point so agreement is by
    construction, not fixture luck (micro_units docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    part = (
        li.filter(
            F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
        )
        .groupBy(
            "l_returnflag", "l_linestatus", F.spark_partition_id().alias("_pid")
        )
        .agg(
            F.sum(micro_units(F.col("l_quantity"))).alias("mq"),
            F.sum(micro_units(F.col("l_extendedprice"))).alias("mp"),
            F.sum(micro_units(disc_price)).alias("md"),
            F.sum(micro_units(charge)).alias("mc"),
            F.sum(micro_units(F.col("l_discount"))).alias("mdisc"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    dsum_partial = lambda c: F.sum(F.col(c).cast(DEC)).cast("double") / F.lit(1e6)  # noqa: E731
    g = part.groupBy("l_returnflag", "l_linestatus").agg(
        dsum_partial("mq").alias("sum_qty"),
        dsum_partial("mp").alias("sum_base_price"),
        dsum_partial("md").alias("sum_disc_price"),
        dsum_partial("mc").alias("sum_charge"),
        dsum_partial("mdisc").alias("_sum_disc"),
        F.sum("n").alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        stable_round(F.col("sum_qty") / F.col("count_order"), 4).alias("avg_qty"),
        stable_round(F.col("sum_base_price") / F.col("count_order"), 4).alias(
            "avg_price"
        ),
        stable_round(F.col("_sum_disc") / F.col("count_order"), 4).alias("avg_disc"),
        "count_order",
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            # size-gated (r10): BUILDING-segment customers are ~1/5 of
            # an SF-proportional table — still unbounded at scale; the
            # gate broadcasts on fixtures, shuffles at 100 TB.
            broadcast_if_bounded(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped (adapted: the fixture has no commit/receipt
    dates, so the EXISTS predicate is "has a returned lineitem"):
    orders with ≥1 'R' lineitem, counted per priority. The plan to
    want: the semi-join dedups l_orderkey DURING the join (no distinct
    pre-agg), and the filter on l_returnflag is pushed to the lineitem
    scan so the semi-join's build side is already small."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: orders-per-customer via left outer join
    (customers with no orders count as 0), then the histogram of those
    counts — two cascaded aggregations where the second's key is the
    first's output. The first groupBy reuses the join's partitioning on
    c_custkey (no extra exchange); the second shuffles a tiny
    (count, freq) set."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: revenue per supplier, keep the max-revenue
    supplier(s). The max is a one-row broadcast joined back against the
    per-supplier aggregate (exact decimal revenue ⇒ the equality join
    on the max is deterministic); supplier names come from a broadcast
    dim join."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        # max_rev is a 1-row aggregate — always broadcast; supplier is
        # SF-proportional (10k rows per SF unit, NOT schema-bounded) —
        # size-gated (r10).
        .join(broadcast_if_bounded(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation computed EXACTLY: Σx, Σy, Σxy,
    Σx², Σy² accumulated in DECIMAL (order-independent), the final
    corr assembled from those five scalars with plain IEEE ops both
    engines evaluate identically. Built-in `F.corr` accumulates in
    float (partition-order-dependent final ulps — unhashable across
    engines); this decomposition is also the textbook distributed
    form: five mergeable partial sums, one shuffle, no second pass
    for the means."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.col("value").cast("decimal(28,6)")
    y = (F.col("user_id") % 100).cast("decimal(28,6)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        stable_round(num / den, 6).alias("corr_value_bucket"),
    )


QUERIES = {
    "corr_stats": corr_stats,
    "pricing_summary": pricing_summary,
    "shipping_priority": shipping_priority,
    "order_priority_count": order_priority_count,
    "customer_distribution": customer_distribution,
    "top_supplier": top_supplier,
}

ORACLE = {
    "corr_stats": """
        WITH g AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(user_id % 100 AS DECIMAL(28,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))
                            * CAST(user_id % 100 AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(value AS DECIMAL(28,6))
                            * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(user_id % 100 AS DECIMAL(28,6))
                            * CAST(user_id % 100 AS DECIMAL(28,6))) AS DOUBLE) AS syy
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               (FLOOR(((n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                      * 1000000.0 + 0.5) / 1000000.0) AS corr_value_bucket
        FROM g
    """,
    # same floor-fixed-point spelling as the Spark plan (micro_units):
    # DuckDB's BIGINT sum accumulates in 128 bits, so one level
    # suffices oracle-side; the exact integer total → double → /1e6
    # sequence matches Spark's decimal-merged partials op for op.
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM({sql_micro_units('l_quantity')}) AS DOUBLE) / 1000000.0 AS sum_qty,
               CAST(SUM({sql_micro_units('l_extendedprice')}) AS DOUBLE) / 1000000.0 AS sum_base_price,
               CAST(SUM({sql_micro_units('l_extendedprice * (1.0 - l_discount)')}) AS DOUBLE) / 1000000.0 AS sum_disc_price,
               CAST(SUM({sql_micro_units('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')}) AS DOUBLE) / 1000000.0 AS sum_charge,
               (FLOOR((CAST(SUM({sql_micro_units('l_quantity')}) AS DOUBLE) / 1000000.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0) AS avg_qty,
               (FLOOR((CAST(SUM({sql_micro_units('l_extendedprice')}) AS DOUBLE) / 1000000.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0) AS avg_price,
               (FLOOR((CAST(SUM({sql_micro_units('l_discount')}) AS DOUBLE) / 1000000.0 / COUNT(*)) * 10000.0 + 0.5) / 10000.0) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "order_priority_count": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
        )
        GROUP BY o_orderpriority
    """,
    "customer_distribution": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS total_revenue
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
}


FUNNEL_STEPS = ["click", "view", "purchase"]
FUNNEL_WINDOW_S = 86_400  # steps must complete within one day


def funnel_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style ordered-sequence detection without the
    clause (Spark has none): per user, the earliest click → the
    earliest view AFTER that click → the earliest purchase AFTER that
    view, all within FUNNEL_WINDOW_S of the click. Output one row per
    user with per-step timestamps (nulls where the funnel stalls) and
    the terminal step index — the conversion-funnel table.

    Shape: ONE filtered scan (only the three step types survive
    pushdown) and ONE shuffle on user_id. The NFA runs as chained
    RUNNING-MIN windows over the per-user time-sorted stream — the
    running min of click timestamps marks each later event's matched
    first click; a view qualifies against that running min; the
    running min of QUALIFYING views marks each purchase's matched
    view — then one plain min-aggregate per user collapses the stream.
    Every operator is O(1) state per row: the window sort spills to
    disk on a hot user and the final mins partial-aggregate map-side,
    so a bot account with 10^7 events costs sort time, not executor
    memory. (The r4 fold collected each user's full event array before
    a JVM ``aggregate`` NFA — same answer, but the array was the one
    hot-key memory exposure in the round; r4 verdict item 3. The
    range frame includes equal-ts rows, so the strict ``>`` step
    comparisons reproduce the fold's tie behavior exactly — verified
    by the hot-user property test.) The join-chained first draft
    scanned events 7× — plan-pinned down to 1 (tests/test_plans.py)."""
    from pyspark.sql import Window as W

    steps = FUNNEL_STEPS
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .filter(F.col("event_type").isin(steps))
    )
    # ROWS frame over (ts, event_id) — r11 re-plan. The r4-r10 form
    # used a RANGE frame on microseconds so equal-ts rows were all
    # in-frame; the ×200 A/B (PERF.md, events flat-wall quartet) measured the
    # range evaluator at 1.6× the rows evaluator (2.84 vs 1.77 s for
    # one running min on 12M rows) because it re-resolves the frame
    # boundary per order-value group. The switch is outcome-identical
    # BECAUSE every match comparison below is STRICT (>): an equal-ts
    # element in the frame can never enable a match (ts > ts is
    # false) and can never change a running min that an earlier
    # element already set — so in-frame vs out-of-frame for ties is
    # unobservable in the output. event_id makes the intra-ts order
    # deterministic; the hot-user property test and the DuckDB oracle
    # (which still evaluates the tie-insensitive set form) pin the
    # equivalence.
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")), F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_S} SECONDS")
    ts, typ = F.col("ts"), F.col("event_type")
    c_run = F.min(F.when(typ == steps[0], ts)).over(w)
    staged = ev.withColumn("c_run", c_run).withColumn(
        "qv_ts",
        F.when(
            (typ == steps[1])
            & (ts > F.col("c_run"))
            & (ts <= F.col("c_run") + win),
            ts,
        ),
    )
    staged = staged.withColumn("v_run", F.min("qv_ts").over(w)).withColumn(
        "qp_ts",
        F.when(
            (typ == steps[2])
            & (ts > F.col("v_run"))
            & (ts <= F.col("c_run") + win),
            ts,
        ),
    )
    agg = staged.groupBy("user_id").agg(
        F.min(F.when(typ == steps[0], ts)).alias("click_ts"),
        F.min("qv_ts").alias("view_ts"),
        F.min("qp_ts").alias("purchase_ts"),
    )
    depth = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("view_ts").isNotNull(), 2)
        .otherwise(1)
    )
    return agg.filter(F.col("click_ts").isNotNull()).select(
        "user_id",
        "click_ts",
        "view_ts",
        "purchase_ts",
        depth.cast("int").alias("funnel_depth"),
    )


QUERIES["funnel_match"] = funnel_match
ORACLE["funnel_match"] = f"""
        WITH c AS (
            SELECT user_id, MIN(ts) AS click_ts FROM events
            WHERE event_type = 'click' GROUP BY user_id
        ), v AS (
            SELECT e.user_id, MIN(e.ts) AS view_ts
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'view' AND e.ts > c.click_ts
              AND e.ts <= c.click_ts + INTERVAL {FUNNEL_WINDOW_S} SECONDS
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS purchase_ts
            FROM events e
            JOIN c ON c.user_id = e.user_id
            JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > v.view_ts
              AND e.ts <= c.click_ts + INTERVAL {FUNNEL_WINDOW_S} SECONDS
            GROUP BY e.user_id
        )
        SELECT c.user_id, c.click_ts, v.view_ts, p.purchase_ts,
               CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                         WHEN v.view_ts IS NOT NULL THEN 2
                         ELSE 1 END AS INTEGER) AS funnel_depth
        FROM c LEFT JOIN v ON v.user_id = c.user_id
        LEFT JOIN p ON p.user_id = c.user_id
    """
