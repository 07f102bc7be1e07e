"""Connected components — the wallet-clustering operator.

The reference's walletexplorer source is precisely this: addresses
belong to one wallet when they co-occur (walletexplorer/main.go:73-106
wallet → addresses pages — the site itself derives clusters from
co-spending). The engine form: a bipartite co-occurrence graph
(user ↔ attribute) and hash-min label propagation to a fixpoint —
every node ends labeled with the smallest user id reachable from it.

Algorithm (alternating hash-min on the bipartite graph):
  comp(u) := u
  repeat: comp(p) := min comp(u) over edges; comp(u) := min(comp(u),
  min comp(p) over edges) — converges in O(component diameter) rounds.
Each round is two keyed aggregations + joins (all shuffles on u or p,
map-side combinable); the driver only counts changed labels to detect
the fixpoint — the same driver-coordinated loop structure GraphX/
GraphFrames use for iterative algorithms. Lineage is truncated every
round by materializing the persisted label table (otherwise the plan
doubles per iteration and planning time explodes by round ~15).

The DuckDB oracle computes the identical fixpoint with a recursive
CTE (propagate smaller labels through 2-hop bipartite edges, take the
per-node minimum) — a full value-hash oracle for an iterative graph
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from labelmain_spark.session import (
    collect_if_small,
    persist_counted,
    persist_round,
    track_persist,
    unpersist,
)
from labelmain_spark.sources.readers import load_table

MAX_ITER = 30


def connected_components(
    edges: DataFrame,
    max_iter: int = MAX_ITER,
    stats: dict | None = None,
) -> DataFrame:
    """edges: (u long, p *) bipartite adjacency. Returns (u, component)
    where component = min u in the connected component.

    Two arms on the session's one small-input rule
    (``session.collect_if_small``), output-identical because the
    connected-components fixpoint (component = min u) is unique:

    - at most ``SMALL_PLAN_ROWS`` (200k) distinct edge rows: DRIVER
      union-find over the collected edges. The distributed loop costs
      O(diameter) rounds of 2 joins + 2 partial aggs + a fixpoint-probe
      action EACH — pure dispatch at this size (measured r12:
      dedup_clusters 7.36 → ~3.4 s at sf0.1, the loop was HALF the
      key's wall on a graph of a few thousand edges). Path-compressed
      union-find labels it in one driver pass and ships the labels
      back as one small frame.
    - above the bound: the distributed hash-min loop below, under the
      caller's own session conf — at 100 TB the LSH-pruned pair graph
      blows the bound and this is the arm that runs (tests force it by
      patching ``session.SMALL_PLAN_ROWS`` to 0).

    The distributed arm raises RuntimeError if the fixpoint is not
    reached within ``max_iter`` rounds — silently returning
    half-propagated labels would be a WRONG answer for any component
    with diameter beyond the budget (each alternating round
    propagates labels ~2 hops, so max_iter=30 covers diameter ≈ 60;
    real co-occurrence graphs are far shallower). ``stats['rounds']``
    reports the rounds actually used (0 = driver arm;
    ``stats['tier']`` names the arm), so tests can pin convergence =
    O(diameter) — in particular that a giant star component (one hub
    attribute, the 100 TB skew hazard) converges in 2 effective
    rounds, not O(n): both per-round aggregations are Catalyst
    partial-agg (map-side local min, then global min per key), so the
    hub key receives one partial row per upstream partition rather
    than the whole membership."""
    edges = track_persist(edges.select("u", "p").distinct())
    pdf = collect_if_small(edges)
    if pdf is None:
        return _hash_min_loop(edges, max_iter, stats)
    unpersist(edges)
    # each attribute p links its members through the first u seen
    # with it (pair-nodes are never labeled)
    anchor: dict = {}
    labels = _union_find(
        (anchor.setdefault(p, u), u) for u, p in zip(pdf["u"], pdf["p"])
    )
    if stats is not None:
        stats.update(rounds=0, tier="driver")
    return label_frame(edges.sparkSession, labels.items(), edges.schema["u"])


def label_frame(
    spark: SparkSession, rows, id_field: StructField, *extra: StructField
) -> DataFrame:
    """A driver arm's labels as one ``(u, component, *extra)``
    LocalRelation: ``rows`` of (id, label, *extra values), both id
    columns typed like ``id_field`` (the input frame's id column, so
    the two arms return the same schema)."""
    schema = StructType(
        [
            StructField("u", id_field.dataType, id_field.nullable),
            StructField("component", id_field.dataType, True),
            *extra,
        ]
    )
    return spark.createDataFrame(list(rows), schema)


def _union_find(pairs) -> dict:
    """{node: min node of its component} over an iterable of (a, b)
    edges — path-compressed union-find that attaches the larger root
    under the smaller, so every root IS its component's minimum. Numpy
    scalars come back as plain python values."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        a, b = _py(a), _py(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {u: find(u) for u in parent}


def _py(v):
    """numpy scalar → plain python for createDataFrame."""
    return v.item() if hasattr(v, "item") else v


def _hash_min_loop(edges: DataFrame, max_iter: int, stats: dict | None) -> DataFrame:
    """The distributed arm over a persisted (u, p) edge frame, which it
    releases: every u starts labeled with itself, then alternating
    hash-min rounds until no label changes."""
    comp, _ = persist_counted(
        edges.select("u").distinct().select("u", F.col("u").alias("comp"))
    )
    if stats is not None:
        stats["tier"] = "distributed"
    rounds = 0
    for _ in range(max_iter):
        comp_p = (
            edges.join(comp, "u").groupBy("p").agg(F.min("comp").alias("pcomp"))
        )
        proposed = (
            edges.join(comp_p, "p").groupBy("u").agg(F.min("pcomp").alias("newcomp"))
        )
        merged = persist_round(
            comp.join(proposed, "u", "left").select(
                "u",
                F.least(F.col("comp"), F.coalesce(F.col("newcomp"), F.col("comp"))).alias("comp"),
                (F.col("newcomp") < F.col("comp")).alias("moved"),
            )
        )
        # fixpoint probe — one scalar per round, as in GraphX; the scan
        # also fills merged's cache before comp's is dropped
        changed = merged.filter("moved").count()
        unpersist(comp)
        comp = merged
        rounds += 1
        if changed == 0:
            break
    else:
        unpersist(edges)
        unpersist(comp)
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"({changed} labels still changing) — component diameter exceeds "
            f"the iteration budget; raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    unpersist(edges)
    return comp.select("u", F.col("comp").alias("component"))


def user_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wallet-cluster analog: users linked by sharing a props attribute
    on signup events; output per-component membership plus size."""
    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("u"),
        F.get_json_object("props", "$.k").cast("long").alias("p"),
    ).filter(F.col("p").isNotNull())
    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("component_size"))
    return cc.join(sizes, "component").select(
        F.col("u").alias("user_id"), "component", "component_size"
    )


PR_ITERS = 5
PR_SCALE = 1_000_000_000  # rank carried as integer 1e-9 units
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an exact ratio


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (Brin/Page 1998) over the directed
    user → attribute graph (src = user_id, dst = props.k — the same
    co-occurrence edges user_components clusters, directed): influence
    scoring for wallet-graph / citation-graph analytics.

    INTEGER PageRank: rank is carried as exact 1e-9 units (longs) and
    every operation is integer — r0 = SCALE DIV N, per-edge
    contribution = units DIV outdeg, damping = (85·Σ) DIV 100 — so
    the five unrolled iterations are bit-exact in ANY engine (no
    float sum order, nothing to round; the ≤1e-9-per-step quantization
    is far below any ranking-relevant difference). Dangling mass
    (nodes without out-edges) is dropped rather than redistributed —
    the common simplification; the Google-matrix variant adds one
    broadcast 1-row dangling aggregate per iteration.

    Scale: per iteration — one shuffle join of ranks onto edges keyed
    src, one map-side-combinable long-sum agg keyed dst, one left
    join back onto the node set. Edges/degrees/node-base persist once
    (the connected_components lineage discipline); five iterations =
    bounded plan depth, no fixpoint probe (the iteration count is
    fixed by contract, matching the oracle's unrolled CTEs). A graph of
    at most SMALL_PLAN_ROWS distinct edges runs the same recurrence in
    the driver (:func:`integer_pagerank`)."""
    ev = load_table(spark, sf_dir, "events")
    e = (
        ev.select(
            F.col("user_id").alias("src"),
            F.get_json_object("props", "$.k").cast("long").alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
    )
    return integer_pagerank(spark, e)


def integer_pagerank(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """The integer-PageRank core over an arbitrary ``(src, dst)`` edge
    frame (node type free — longs for the event graph, domain strings
    for the web graph): the :func:`pagerank` contract (exact 1e-9-unit
    longs, fixed PR_ITERS, dangling mass dropped) factored out so every
    graph source shares one verified loop.

    Two arms on the session's one small-input rule, like
    connected_components (r12): at most SMALL_PLAN_ROWS distinct edges
    (``session.collect_if_small``) and the five iterations run as
    driver-side integer arithmetic — the SAME exact math (floor-div
    contributions, integer damping ratio; integer sums are
    order-free, so the result is bit-identical by construction,
    pinned by an arm-equivalence pytest) — because at this size each
    distributed iteration is one join + one agg + one left join of
    pure dispatch. The returned frame still computes ``pr`` with the
    Spark-side stable_round expression so the one float in the
    output has a single engine spelling. Above the bound the
    distributed loop below runs under the caller's session conf."""
    from labelmain_spark.operators.parity import stable_round

    e = track_persist(edges)
    pdf = collect_if_small(e)
    if pdf is not None:
        unpersist(e)
        return _driver_pagerank(spark, pdf, e.schema["src"].dataType)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # cached: every iteration joins it, and AQE does not reuse the
    # join's exchanges across iterations (events:x4, local[4]: exec
    # 4.6 → 2.6 s)
    deg, _ = persist_counted(e.join(outdeg, "src"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    st = nodes.agg(F.count(F.lit(1)).alias("n"))
    base_nodes, _ = persist_counted(  # materializes the corpus passes too
        nodes.crossJoin(F.broadcast(st)).select(
            "node",
            F.expr(f"{PR_SCALE} DIV n").alias("units"),
            F.expr(
                f"(({PR_SCALE} DIV n) * {PR_D_DEN - PR_D_NUM}) DIV {PR_D_DEN}"
            ).alias("base"),
        )
    )
    r = base_nodes.select("node", "units")
    for _ in range(PR_ITERS):
        s = (
            deg.join(r, deg["src"] == r["node"])
            .select(F.col("dst"), F.expr("units DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        r = (
            base_nodes.select("node", "base")
            .join(s, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.col("base")
                    + F.expr(f"({PR_D_NUM} * coalesce(s, 0)) DIV {PR_D_DEN}")
                ).alias("units"),
            )
        )
    return r.select(
        "node",
        F.col("units").alias("rank_units"),
        stable_round(F.col("units").cast("double") / F.lit(1e9), 9).alias("pr"),
    )


def _driver_pagerank(spark: SparkSession, pdf, ntype) -> DataFrame:
    """PR_ITERS of the integer-PageRank recurrence on the collected
    ``(src, dst)`` edges — every operation the distributed loop does
    (r0 = SCALE DIV N, contribution = units DIV outdeg, damping =
    85·Σ DIV 100, dangling mass dropped) as python ints, which are
    exact and order-free, so the rank_units are bit-identical."""
    from collections import Counter, defaultdict

    from labelmain_spark.operators.parity import stable_round

    src = [_py(v) for v in pdf["src"]]
    dst = [_py(v) for v in pdf["dst"]]
    outdeg = Counter(src)
    nodes = set(src) | set(dst)
    # empty graph → r0 irrelevant (no nodes to seed), empty typed
    # frame below — matching the distributed arm whose DIV n never
    # evaluates on zero rows
    r0 = PR_SCALE // len(nodes) if nodes else 0
    base = (r0 * (PR_D_DEN - PR_D_NUM)) // PR_D_DEN
    units = dict.fromkeys(nodes, r0)
    for _ in range(PR_ITERS):
        s: dict = defaultdict(int)
        for a, b in zip(src, dst):
            s[b] += units[a] // outdeg[a]
        units = {v: base + (PR_D_NUM * s[v]) // PR_D_DEN for v in nodes}
    frame = spark.createDataFrame(
        list(units.items()),
        StructType(
            [StructField("node", ntype, True), StructField("rank_units", LongType(), True)]
        ),
    )
    # pr via the SAME Spark expression as the distributed arm — one
    # engine spelling for the output's only float
    return frame.select(
        "node",
        "rank_units",
        stable_round(F.col("rank_units").cast("double") / F.lit(1e9), 9).alias("pr"),
    )


def _pagerank_oracle(
    edge_sql: str = """
            SELECT DISTINCT user_id AS src,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS dst
            FROM events
            WHERE json_extract(props, '$.k') IS NOT NULL
    """,
) -> str:
    """Unrolled-CTE integer-PageRank oracle over an arbitrary edge CTE
    (the :func:`integer_pagerank` twin — same parameterization)."""
    from labelmain_spark.operators.parity import sql_stable_round

    its = []
    for i in range(1, PR_ITERS + 1):
        its.append(f"""r{i} AS (
            SELECT b.node,
                   CAST(b.base + (({PR_D_NUM} * COALESCE(s.s, 0))
                        // {PR_D_DEN}) AS BIGINT) AS units,
                   b.base
            FROM r{i - 1} b LEFT JOIN (
                SELECT e.dst, CAST(SUM(r.units // d.outdeg) AS BIGINT) AS s
                FROM e JOIN r{i - 1} r ON e.src = r.node
                       JOIN deg d ON e.src = d.src
                GROUP BY e.dst
            ) s ON b.node = s.dst
        )""")
    chain = ",\n        ".join(its)
    return f"""
        WITH e AS (
            {edge_sql}
        ),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        st AS (SELECT COUNT(*) AS n FROM nodes),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
        r0 AS (
            SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS units,
                   CAST((({PR_SCALE} // n) * {PR_D_DEN - PR_D_NUM})
                        // {PR_D_DEN} AS BIGINT) AS base
            FROM nodes, st
        ),
        {chain}
        SELECT node, units AS rank_units,
               {sql_stable_round("CAST(units AS DOUBLE) / 1e9", 9)} AS pr
        FROM r{PR_ITERS}
    """


QUERIES = {"user_components": user_components, "pagerank": pagerank}

ORACLE = {
    "pagerank": _pagerank_oracle(),
    "user_components": """
        WITH edges AS (
            SELECT DISTINCT user_id AS u,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS p
            FROM events
            WHERE event_type = 'signup'
              AND json_extract(props, '$.k') IS NOT NULL
        ),
        reach AS (
            WITH RECURSIVE r(u, comp) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e2.u, r.comp
                FROM r
                JOIN edges e1 ON e1.u = r.u
                JOIN edges e2 ON e2.p = e1.p
                WHERE r.comp < e2.u
            )
            SELECT u, MIN(comp) AS component FROM r GROUP BY u
        )
        SELECT reach.u AS user_id, component,
               COUNT(*) OVER (PARTITION BY component) AS component_size
        FROM reach
    """,
}
