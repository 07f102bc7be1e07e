"""Advanced relational patterns (pyspark_guide common-OLAP set):
sessionization, pivot/unpivot, approximate aggregates, multi-dim join
chains.

- `sessionize` — gap-based sessionization (lag + cumulative sum over a
  per-user window). The batch twin of streaming `session_window`; one
  shuffle on user_id, state linear in events-per-user.
- `pivot_counts` / `unpivot_metrics` — wide↔long reshaping with an
  explicit value list (pivot with an unspecified list triggers an extra
  distinct scan — never at 100 TB).
- `approx_distinct` — HLL `approx_count_distinct` vs exact, per group;
  at 100 TB the approx form avoids the per-key expansion shuffle
  entirely. Rows-only (HLL internals differ per engine); the accuracy
  bound is property-tested.
- `region_revenue` — 4-table star join chain with broadcast dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from labelmain_spark.operators.parity import (
    dsum,
    micro_units,
    sql_dsum,
    sql_stable_round,
    stable_round,
)
from labelmain_spark.session import track_persist
from labelmain_spark.sources.readers import broadcast_if_bounded, load_table

SESSION_GAP_S = 1800.0  # 30 min


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    from the previous event exceeds 30 min."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Epoch seconds w/ µs fraction, same as DuckDB epoch(). The double
    # cast is illegal straight from TIMESTAMP_NTZ (the fixtures'
    # parquet timestamp[us] type), so hop through TIMESTAMP first —
    # the session tz is pinned UTC (readers.py), so NTZ→LTZ is the
    # identity and the epoch value is tz-stable. The same expression is
    # a no-op prefix when ts is already TIMESTAMP (nanos-fallback path).
    sec = F.col("ts").cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    sessions = ev.withColumn(
        "session_seq",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value", "session_value"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily counts pivoted wide by event type (explicit value list)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long: part numeric attributes as (key, metric, value)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retailprice', CAST(p_retailprice AS DOUBLE)) AS (metric, value)"
        ),
    )


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct users per event type, with the exact count alongside
    (accuracy bound asserted in tests; rows-only for the driver)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantiles per event type — the
    100 TB form of udaf_grouped's exact median/IQR: `percentile_approx`
    is a mergeable JVM-side sketch (partial per partition → merged at
    the reducer), so no group ever materializes in one worker and no
    Python boundary is crossed. Rows-only for the driver (DuckDB's
    approx_quantile is a different sketch — t-digest); the error bound
    vs the exact quantiles is asserted in tests."""
    ev = load_table(spark, sf_dir, "events")
    q = F.percentile_approx("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        q.getItem(0).alias("p25"),
        q.getItem(1).alias("p50"),
        q.getItem(2).alias("p75"),
    )


def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles (p50/p90/p99) — the oracle-checkable
    complement to :func:`approx_quantiles`, and the scale-safe way to
    get exact percentiles: the canonical plan (sort each group, index
    into it) materializes whole groups; this one never does. Values
    round to 4 dp, so the per-(group, value) histogram is BOUNDED by
    the discretized value space; the running sum is a window over
    that histogram (not the raw rows); each percentile is then
    ``min{v : 100·cum(v) ≥ p·n}`` — a pure integer predicate,
    engine-exact, the perplexity_buckets machinery generalized to
    arbitrary p. This is the type-1 (lower) quantile on the rounded
    values, the one quantile definition that needs no interpolation
    arithmetic and therefore survives a cross-engine hash gate.

    Scale shape: one partial-agg shuffle keyed (group, v) — raw rows
    collapse map-side onto histogram cells; the window and threshold
    scan run over histogram rows only, and the histogram is bounded
    by the DISCRETIZED VALUE SPACE (≤ range·10^4 cells per group),
    not the corpus — MEASURED: the events tiers carry the identical
    21,606 cells at 1M and 5M rows (PERF.md events table, note ³), so
    a group with 10^9 raw events costs the window exactly what 10^6
    did."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = stable_round(F.col("value"), 4)
    hist = ev.groupBy("event_type", v.alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            W.partitionBy("event_type")
            .orderBy("v")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    tot = hist.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    j = cum.join(F.broadcast(tot), "event_type")

    def pick(p: int):
        return F.min(
            F.when(F.col("cum") * 100 >= F.lit(p) * F.col("n"), F.col("v"))
        ).alias(f"p{p}")

    return j.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"), pick(50), pick(90), pick(99)
    )


BIN_WIDTH = 50.0


def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — numeric binning via
    floor division (portable to any engine, unlike width_bucket).
    Shuffle key is (type, bin): bounded cardinality, perfectly
    combinable map-side."""
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / BIN_WIDTH).cast("int")
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.col("bin") * BIN_WIDTH)
    )


def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation within one region: lineitem ⋈ orders ⋈
    customer ⋈ nation ⋈ region, dims broadcast, fact never re-shuffled
    except for the final small-key aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            cust.c_nationkey == nation.n_nationkey,
        )
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # size-gated (r10): dims carries one row per ASIA customer —
        # customer-cardinality, SF-proportional. The inner nation⋈region
        # broadcasts above stay unconditional (schema-bounded, ≤25 rows).
        .join(broadcast_if_bounded(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — the classic 8-table market-share query: for
    PROMO-type parts sold to ASIA-region customers, NATION_2's share
    of supply volume per order year. The hardest join plan in the
    analytics family: the lineitem fact joins orders (fact-fact,
    sort-merge on the order key) while part, supplier and BOTH nation
    roles (customer's via region, supplier's for the share label)
    broadcast — five dims, two of them the same table under different
    roles. The share is a conditional-sum ratio: both numerator and
    denominator are decimal-exact partials (parity.dsum), the final
    division one deterministic IEEE op, stable_round-ed — so the
    cross-engine hash can't flap on summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    cust_dims = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            cust.c_nationkey == nation.n_nationkey,
        )
        .select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")

    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    share_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0))
    joined = (
        # size-gated ×3 (r10): PROMO parts (~SF·200k/5 rows), ASIA
        # customers (~SF·150k/5) and supplier⋈nation (SF·10k) are ALL
        # SF-proportional — at 100 TB each must be free to fall back to
        # a shuffle join keyed on the fact's join column. On fixtures
        # the gate picks the same five-broadcast star plan as before.
        li.join(broadcast_if_bounded(part.filter(F.col("p_type") == "PROMO")), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_bounded(cust_dims), orders.o_custkey == F.col("c_custkey"))
        .join(broadcast_if_bounded(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("vol"),
            share_vol.alias("svol"),
        )
    )
    return joined.groupBy("o_year").agg(
        stable_round(
            dsum("svol") / dsum("vol"), 6
        ).alias("mkt_share"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup (continuous-aggregate
    pattern): aggregate the raw events ONCE at the finest grain (hour),
    then derive day from hour and month from day by re-aggregating the
    already-aggregated rows — sum-of-sums and sum-of-counts are exact
    because count/sum are mergeable. At 100 TB this is the difference
    between one scan of the fact table and three: the hour table is
    ~10^4× smaller than raw, so the day/month passes are ~free, and a
    materialized hour table serves every coarser ad-hoc grain.
    Output: all three grains unioned with a grain tag.

    The hour table is persisted: the three union branches would
    otherwise each recompute the chain back to the raw scan (verified —
    3× Scan parquet, zero ReusedExchange, because per-branch column
    pruning de-canonicalizes the subtrees). The persist is the query
    form of materializing the continuous aggregate.

    Value sums are EXACT MICRO-UNIT LONGS (r11 re-plan): the per-row
    DECIMAL(28,6) cast was the hot path's heaviest expression — the
    ×200-events A/B (PERF.md, events flat-wall quartet) measured the hour agg
    at 2.2 s decimal vs 1.2 s long on 20M rows, with the long sum
    matching the unhinted double-sum floor. floor(value·1e6 + 0.5) is
    the repo's stable-round idiom (bit-identical in both engines);
    integer partial sums are order-independent so the merge tree stays
    exact, and the final /1e6 is one deterministic IEEE division per
    OUTPUT row. Overflow bound: a single (bucket, event_type) group
    overflows int64 only past ~4.6e13 rows at value ≈ 200 — three
    orders beyond any hour bucket at 100 TB corpus scale; domains
    beyond it take the decimal(28,6) form (operators/parity.py), which
    this plan replaced precisely because events-scale groups never get
    there."""
    micro = micro_units(F.col("value"))  # the shared fixed-point idiom
    ev = load_table(spark, sf_dir, "events")
    hour = track_persist(
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            F.col("event_type"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(micro).alias("_sum_micro"),
        )
    )
    day = (
        hour.groupBy(
            F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("_sum_micro").alias("_sum_micro"))
    )
    month = (
        day.groupBy(
            F.date_trunc("month", F.col("bucket")).alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("_sum_micro").alias("_sum_micro"))
    )

    def final(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            "event_type",
            "n",
            (F.col("_sum_micro") / F.lit(1e6)).alias("sum_value"),
        )

    return final(hour, "hour").unionByName(final(day, "day")).unionByName(
        final(month, "month")
    )


QUERIES = {
    "sessionize": sessionize,
    "pivot_counts": pivot_counts,
    "unpivot_metrics": unpivot_metrics,
    "approx_distinct": approx_distinct,  # rows-only: HLL sketches differ across engines
    "approx_quantiles": approx_quantiles,  # rows-only: GK vs t-digest sketches differ
    "region_revenue": region_revenue,
    "market_share": market_share,
    "histogram_bins": histogram_bins,
    "time_rollup": time_rollup,
    "group_quantiles": group_quantiles,
}

_PIVOT_COLS = ",\n".join(
    f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in EVENT_TYPES
)

_MKT_NUM = sql_dsum(
    "CASE WHEN n2.n_name = 'NATION_2' "
    "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END"
)
_MKT_DEN = sql_dsum("l_extendedprice * (1.0 - l_discount)")
_MKT_SHARE_SQL = sql_stable_round(f"{_MKT_NUM} / {_MKT_DEN}", 6)

ORACLE = {
    # identical discretized type-1 quantile: integer predicate
    # 100·cum ≥ p·n over the per-group 4-dp histogram
    "group_quantiles": f"""
        WITH h AS (
            SELECT event_type, {sql_stable_round("value", 4)} AS v,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, {sql_stable_round("value", 4)}
        ), c AS (
            SELECT event_type, v, cnt,
                   SUM(cnt) OVER (
                       PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM h
        ), t AS (
            SELECT event_type, SUM(cnt) AS n FROM h GROUP BY event_type
        )
        SELECT c.event_type, CAST(MAX(t.n) AS BIGINT) AS n,
               MIN(CASE WHEN c.cum * 100 >= 50 * t.n THEN c.v END) AS p50,
               MIN(CASE WHEN c.cum * 100 >= 90 * t.n THEN c.v END) AS p90,
               MIN(CASE WHEN c.cum * 100 >= 99 * t.n THEN c.v END) AS p99
        FROM c JOIN t ON t.event_type = c.event_type
        GROUP BY c.event_type
    """,
    "time_rollup": """
        SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket, event_type,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) / 1e6 AS sum_value
        FROM events GROUP BY date_trunc('hour', ts), event_type
        UNION ALL
        SELECT 'day', date_trunc('day', ts), event_type,
               COUNT(*),
               SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) / 1e6
        FROM events GROUP BY date_trunc('day', ts), event_type
        UNION ALL
        SELECT 'month', date_trunc('month', ts), event_type,
               COUNT(*),
               SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) / 1e6
        FROM events GROUP BY date_trunc('month', ts), event_type
    """,
    "sessionize": f"""
        WITH seq AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL
                             OR epoch(ts) - LAG(epoch(ts)) OVER w > {SESSION_GAP_S}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM seq
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               {sql_dsum('value')} AS session_value
        FROM sess GROUP BY user_id, session_seq
    """,
    "pivot_counts": f"""
        SELECT date_trunc('day', ts) AS day,
               {_PIVOT_COLS}
        FROM events GROUP BY date_trunc('day', ts)
    """,
    "unpivot_metrics": """
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice', CAST(p_retailprice AS DOUBLE) FROM part
    """,
    "histogram_bins": f"""
        SELECT event_type,
               CAST(FLOOR(value / {BIN_WIDTH}) AS INTEGER) AS bin,
               COUNT(*) AS n,
               CAST(FLOOR(value / {BIN_WIDTH}) AS INTEGER) * {BIN_WIDTH} AS bin_lo
        FROM events
        GROUP BY event_type, CAST(FLOOR(value / {BIN_WIDTH}) AS INTEGER)
    """,
    "region_revenue": f"""
        SELECT n_name,
               {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "market_share": f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {_MKT_SHARE_SQL} AS mkt_share,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        GROUP BY 1
    """,
}
