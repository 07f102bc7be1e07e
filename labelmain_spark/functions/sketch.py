"""Mergeable sketches as relational operators (SURVEY §2.11 north-star
"novel sketch" class): Count-Min (frequency), exact heavy hitters
through the CMS candidate filter (point queries), and native
HyperLogLog registers (cardinality, below) — next to the built-in
HLL/GK forms in operators/advanced.py, which stay rows-only because
their engine internals differ.

A CMS is d hash rows × w buckets of counters; point frequency estimate
= min over rows of the addressed counter — never under-estimates,
over-estimates by ≤ εN with ε = e/w at the usual depth. As a DataFrame
op the sketch IS a (seed, bucket, n) table: the groupBy is map-side
combinable, the shuffle carries ≤ d·w rows per partition, and two
sketches merge by adding cells — the mergeability that makes it work as
a distributed partial aggregate at any scale.

Engine-reproducible hashing (re-planned r11): ONE md5(key) per row,
row i's bucket = (hex digits 4i+1..4i+4 of the digest) mod w — the
standard one-digest/d-slices construction (md5's 128 bits are far more
than d·log2(w) = 24 need, and disjoint slices of one strong digest are
the textbook way to derive d hash rows). The r7-r10 form hashed
md5(seed:key) per (row, seed): d full digest computations per row, and
the ×200-events tier showed the ratio vs DuckDB RISING (2.4× → 3.3× →
6.2×) because the wall IS the digest arithmetic — both engines linear,
Spark's md5-over-UTF8String constant ~6× DuckDB's C md5. Measured at
×200 (PERF.md, events flat-wall quartet): 4 md5/row 5.2 s → 1 md5/row 3.3 s.
Two parity-safe spelling choices per engine: Spark computes the digest
ONCE via a projected column (codegen does NOT common-subexpression a
repeated md5 — respelling it per digit measured 8.9 s) and slices with
``conv(hex4, 16, 10)``; DuckDB re-derives the same integer with the
``instr('0123456789abcdef', c) - 1`` fold (it has no conv), positions
computed from the seed. Same integers, each engine's cheapest path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.sources.readers import load_table

CMS_D = 4   # hash rows (depth): P(overestimate > εN) ≤ 2^-d-ish
CMS_W = 64  # buckets per row (width): ε = e/w


def _duck_bucket_expr(seed_col: str, key_col: str) -> str:
    """DuckDB spelling of row ``seed``'s bucket: the instr-fold over
    hex digits 4·seed+1 .. 4·seed+4 of one md5(key) digest (DuckDB has
    no conv; its optimizer CSEs the repeated md5)."""
    m = f"md5(CAST({key_col} AS VARCHAR))"
    digit = f"(instr('0123456789abcdef', substr({m}, 4 * {seed_col} + {{j}} + 1, 1)) - 1)"
    val = " + ".join(
        digit.format(j=j) + f" * {16 ** (3 - j)}" for j in range(4)
    )
    return f"(({val}) % {CMS_W})"


def _spark_bucket_list(key_col: str, d: int) -> list[Column]:
    """Spark spelling: conv() on 4-hex-digit slices of a SHARED digest
    column (caller must have projected ``md5(key)`` as ``key_col`` —
    codegen does not CSE a respelled md5; see the module docstring)."""
    return [
        (F.conv(F.substring(F.col(key_col), 1 + 4 * i, 4), 16, 10)
         .cast("int") % CMS_W)
        for i in range(d)
    ]


def _spark_buckets(key_col: str, d: int) -> Column:
    return F.array(*_spark_bucket_list(key_col, d))


def cms_build(df: DataFrame, key_col: str, d: int = CMS_D) -> DataFrame:
    """Build the (seed, bucket, n) sketch table over a key column:
    one digest per row, posexplode of the d sliced buckets (a 2-int
    explode AFTER the hash — the expensive work is not duplicated),
    map-side-combinable groupBy carrying ≤ d·w rows per partition."""
    digests = df.select(
        F.md5(F.col(key_col).cast("string")).alias("m")
    )
    return (
        digests.select(F.posexplode(_spark_buckets("m", d)).alias("seed", "bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_point_estimate(sketch: DataFrame, key, d: int = CMS_D) -> int:
    """Frequency estimate for one key: min over rows of its cell."""
    spark = sketch.sparkSession
    probe = spark.createDataFrame([(str(key),)], "k string").select(
        F.md5(F.col("k")).alias("m")
    )
    cells = probe.select(
        F.posexplode(_spark_buckets("m", d)).alias("seed", "bucket")
    ).join(sketch, ["seed", "bucket"], "left")
    row = cells.agg(F.min(F.coalesce(F.col("n"), F.lit(0)))).first()
    return int(row[0])


def cms_user_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS over events.user_id — the heavy-hitter pre-filter a label
    pipeline runs before exact per-key work."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return cms_build(ev, "user_id")


HH_THRESHOLD = 80  # events per key: 1 / 13 / 104 hitters at the three SFs
# Tier boundary: below this many DISTINCT keys the exact groupBy's
# exchange is trivially affordable (map-side combine collapses to one
# partial row per key per partition) and the sketch prefilter is pure
# overhead — measured at ev×400 (40M rows, 600k keys): sketch tier
# 12.3 s vs naive-class agg ~1.6 s. The sketch pays only when the
# DISTINCT-KEY count itself makes the exchange the bottleneck.
HH_SKETCH_MIN_KEYS = 5_000_000


def _hh_exact(ev: DataFrame, key_col: str) -> DataFrame:
    return (
        ev.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(HH_THRESHOLD))
    )


def _hh_sketch_selectivity(cells: list, d: int = CMS_D) -> float:
    """Estimated admit fraction of the min-cell-estimate filter,
    computed FREE from the already-collected cells: a row passes only
    if ALL d of its cells hold ≥ T, and under independent hash rows
    that probability is the product of each row's ≥T cell-mass
    fraction. ≈1.0 means the sketch is SATURATED for this (N, w, T)
    — ε·N ≳ T, every cell looks heavy — and the filter prunes
    nothing."""
    frac = []
    for i in range(d):
        row = [r["n"] for r in cells if r["seed"] == i]
        heavy = sum(1 for n in row if n >= HH_THRESHOLD)
        frac.append(heavy / CMS_W)
    sel = 1.0
    for f in frac:
        sel *= f
    return sel


def _hh_sketch_from_cells(
    ev: DataFrame, key_col: str, cells: list, d: int = CMS_D
) -> DataFrame:
    """The sketch-prefiltered tier over collected CMS ``cells``: inline
    them as a DENSE d·w array literal (cells are dense integers
    0..d·w-1, so element_at is one O(1) positional access — the first
    cut used a create_map literal, whose GetMapValue is a LINEAR key
    scan, and 4 lookups × ~128 expected depth × 40M rows measured
    12.3 s at ev×400; the same lesson as the unigram map-tier cap),
    then filter rows by the min cell estimate BEFORE the exact count's
    exchange. No false negatives (CMS never under-estimates) → output
    equals the naive form exactly."""
    dense = [0] * (d * CMS_W)
    for r in cells:
        dense[r["seed"] * CMS_W + r["bucket"]] = r["n"]
    # ONE parsed SQL string, not F.array(*[F.lit(c) for c in dense]):
    # the per-element form costs ~2 py4j round-trips per cell of pure
    # driver chatter per plan construction (measured 2.4 s at 1024
    # elements building the bloom bitset literal — same trap, caught
    # there r11); one expr parse is ~1 ms and constant-folds to the
    # identical ArrayData.
    arr = F.expr("array(" + ",".join(f"{int(c)}L" for c in dense) + ")")
    keyed = ev.select(
        key_col, F.md5(F.col(key_col).cast("string")).alias("m")
    )
    est = None
    for i, b in enumerate(_spark_bucket_list("m", d)):
        cell_est = F.element_at(arr, F.lit(i * CMS_W + 1) + b)
        est = cell_est if est is None else F.least(est, cell_est)
    return _hh_exact(
        keyed.filter(est >= F.lit(HH_THRESHOLD)).select(key_col), key_col
    )


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters, sketch-prefiltered where that helps (r11):
    the production pattern the standalone sketch exists for. Because a
    CMS never under-estimates, a min-cell-estimate filter has no
    false negatives, so EITHER tier's output is exactly ``GROUP BY
    key HAVING count ≥ T`` — one trivial full oracle, the sketch only
    ever changes which rows shuffle.

    Tiering (the quality_unigram_nll discipline — pick the plan by
    measured cardinality, never by hope): one cheap pre-scan takes
    approx_count_distinct(key); below HH_SKETCH_MIN_KEYS the naive
    exact groupBy wins outright (its exchange carries ≤ one combined
    partial per key per partition — the ev×400 measurement above) and
    is what ships at every local SF. Past the gate — the 10^9+
    distinct-URL/user regimes where per-key partials ARE the
    bottleneck — the sketch tier prefilters map-side so only
    candidate-key rows reach the exchange. Its d·w = 256-cell literal
    prunes effectively while N ≲ w·T/e (ε = e/w over-admits beyond);
    production sizing raises w ∝ N/T, whose cell table outgrows a
    literal and rides a broadcast join probed from the same digest
    slices — the documented third tier, same ladder as the unigram
    broadcast/shuffle tiers. Past the gate a SECOND guard reads the
    already-collected cells before committing to the filter scan: if
    the estimated admit fraction (`_hh_sketch_selectivity` — the
    product of per-seed ≥T cell-mass fractions) shows the sketch
    SATURATED for this (N, w, T) — ε·N ≳ T, every cell looks heavy —
    the filter would prune nothing, and the tier falls back to naive
    rather than pay the per-row estimate math for free: a mis-sized
    sketch must never make the plan WORSE than not having one. The
    gates cannot affect correctness (every tier is exact); the plan
    test pins the sketch tier's filter-below-exchange shape by
    calling it directly."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    n_keys = ev.agg(F.approx_count_distinct("user_id").alias("k")).first()["k"]
    if n_keys < HH_SKETCH_MIN_KEYS:
        return _hh_exact(ev, "user_id")
    cells = cms_build(ev, "user_id").collect()
    if not cells:
        return _hh_exact(ev, "user_id").filter(F.lit(False))
    if _hh_sketch_selectivity(cells) > 0.5:
        return _hh_exact(ev, "user_id")
    return _hh_sketch_from_cells(ev, "user_id", cells)


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet-Fusy-Gandouet-Meunier 2007) — the cardinality
# member of the mergeable-sketch family (CMS = frequency, heavy_hitters
# = point queries, HLL = distinct count). Same engine-reproducible
# construction as the CMS: ONE md5(key) per row, the register index is
# the first p hex bits, the rank input w is the next HLL_W_BITS bits.
# The sketch IS the (bucket, max_rho) register table: groupBy(bucket)
# .max(rho) is algebraic (map-side partial max, ≤ m rows per partition
# reach the exchange), and two sketches merge by cell-wise MAX — the
# same mergeability that lets it run as a distributed partial aggregate
# or a streaming per-micro-batch partial (streaming/incremental.py::
# run_hll_sink). The register table is pure integers, so unlike the
# estimator (float alpha_m · m² / Σ2^-rho) it is hash-checkable against
# a DuckDB twin digit-for-digit; the estimate itself is driver-side
# scalar math over ≤ m collected rows (hll_estimate), property-tested
# against the exact distinct count rather than oracle-hashed.
#
# rho (rank of the first 1-bit of w, 1-based) is spelled EXACTLY, no
# float log2: rho = HLL_W_BITS + 1 - bit_length(w), and bit_length(w)
# = length(bin(w)) in both engines (Spark F.bin / DuckDB bin() both
# render a BIGINT without leading zeros; w = 0 is the all-zeros case,
# rho = HLL_W_BITS + 1). Integer in, integer out — none of the exp/log
# cross-engine rounding risk the NLL family carries.

HLL_P = 8                    # register-index bits: m = 2^p registers
HLL_M = 1 << HLL_P           # 256 registers -> ~6.5% standard error
HLL_W_BITS = 48              # rank-input bits: digest hex digits 3..14
HLL_RHO_MAX = HLL_W_BITS + 1


def _duck_hex_int(md5_expr: str, start: int, ndigits: int) -> str:
    """DuckDB spelling of ``int(hexdigest[start-1 : start-1+ndigits],
    16)``: the instr fold (DuckDB has no conv; its optimizer CSEs the
    repeated md5)."""
    digit = (
        f"(instr('0123456789abcdef', substr({md5_expr}, {start} + {{j}}, 1)) - 1)"
    )
    val = " + ".join(
        digit.format(j=j) + f" * {16 ** (ndigits - 1 - j)}" for j in range(ndigits)
    )
    return f"({val})"


def _hll_parts(digest_col: str) -> tuple[Column, Column]:
    """(bucket, rho) from a projected md5 hex digest column: register
    index from hex digits 1-2 (8 bits = HLL_P), rank input w from hex
    digits 3-14 (48 bits, exact in a long), rho via length(bin(w)) —
    exact integer bit-length, no float log."""
    w = F.conv(
        F.substring(digest_col, 1 + HLL_P // 4, HLL_W_BITS // 4), 16, 10
    ).cast("long")
    bucket = F.conv(F.substring(digest_col, 1, HLL_P // 4), 16, 10).cast("int")
    rho = (
        F.when(w == 0, F.lit(HLL_RHO_MAX))
        .otherwise(F.lit(HLL_RHO_MAX) - F.length(F.bin(w)))
        .cast("int")
    )
    return bucket, rho


def hll_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build the (bucket, max_rho) register table over a key column.
    One digest per row (projected once — codegen does not CSE a
    respelled md5; the CMS measurement above)."""
    digests = df.select(F.md5(F.col(key_col).cast("string")).alias("m"))
    bucket, rho = _hll_parts("m")
    return (
        digests.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_build_grouped(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """One register table PER GROUP — the sketch as a grouped
    aggregate: (group…, bucket, max_rho), ≤ m rows per group
    regardless of group size, still algebraic (map-side partial max
    keyed (group…, bucket)), still cell-wise-MAX mergeable within
    each group. This is the form a 100 TB pipeline actually stores:
    per-domain / per-day distinct-count registers that roll up to any
    coarser grouping by re-grouping MAX over the SAME table — no
    re-scan of raw keys, ever."""
    digests = df.select(
        *group_cols, F.md5(F.col(key_col).cast("string")).alias("m")
    )
    bucket, rho = _hll_parts("m")
    return (
        digests.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """sketch(A ∪ B) = cell-wise MAX of the register tables — the HLL
    mergeability property (union of observed rank maxima). Bit-equal
    to hll_build over the concatenated rows (pinned in pytest)."""
    return (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_estimate(registers: list) -> float:
    """Driver-side estimator over the ≤ m collected register rows
    (bounded by construction — the sketch never exceeds HLL_M cells
    regardless of corpus size): raw = alpha_m·m²/Σ2^-M_j with absent
    registers contributing 2^0, linear counting below 2.5m when empty
    registers remain (the standard small-range correction). Scalar
    float math on the driver, NEVER in the oracle-hashed output."""
    import math

    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    got = {r["bucket"]: r["max_rho"] for r in registers}
    s = sum(2.0 ** -got.get(j, 0) for j in range(HLL_M))
    raw = alpha * HLL_M * HLL_M / s
    zeros = HLL_M - len(got)
    if raw <= 2.5 * HLL_M and zeros > 0:
        return HLL_M * math.log(HLL_M / zeros)
    return raw


def hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register table over events.user_id — the distinct-count
    sketch a pipeline keeps per shard/day and merges instead of ever
    re-shuffling raw keys for a COUNT(DISTINCT)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return hll_build(ev, "user_id")


def hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL registers over user_id — the grouped
    distinct-count sketch (the oracle-checkable twin of the built-in
    approx_count_distinct key, whose HLL internals differ per
    engine)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_build_grouped(ev, ["event_type"], "user_id")


def _hll_oracle_sql(group_cols: str = "") -> str:
    m = "md5(CAST(user_id AS VARCHAR))"
    bucket = _duck_hex_int(m, 1, HLL_P // 4)
    w = _duck_hex_int(m, 1 + HLL_P // 4, HLL_W_BITS // 4)
    g = f"{group_cols}, " if group_cols else ""
    return f"""
        WITH h AS (
            SELECT {g}{bucket} AS bucket, {w} AS w FROM events
        )
        SELECT {g}bucket,
               MAX(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                        ELSE {HLL_RHO_MAX} - length(bin(w)) END) AS max_rho
        FROM h GROUP BY {g}bucket
    """


QUERIES = {
    "cms_user_sketch": cms_user_sketch,
    "heavy_hitters": heavy_hitters,
    "hll_registers": hll_registers,
    "hll_grouped": hll_grouped,
}

ORACLE = {
    "cms_user_sketch": f"""
        SELECT seed, {_duck_bucket_expr("seed", "user_id")} AS bucket,
               COUNT(*) AS n
        FROM events CROSS JOIN (SELECT unnest(range({CMS_D})) AS seed)
        GROUP BY seed, {_duck_bucket_expr("seed", "user_id")}
    """,
    # the sketch is a plan accelerator, never a semantics change: the
    # oracle is the naive exact form the CMS candidate filter must
    # reproduce bit-for-bit (no false negatives by construction).
    "heavy_hitters": f"""
        SELECT user_id, COUNT(*) AS n
        FROM events GROUP BY user_id
        HAVING COUNT(*) >= {HH_THRESHOLD}
    """,
    # pure-integer register table: fully hash-checkable (the float
    # estimator stays driver-side; see hll_estimate).
    "hll_registers": _hll_oracle_sql(),
    "hll_grouped": _hll_oracle_sql("event_type"),
}
