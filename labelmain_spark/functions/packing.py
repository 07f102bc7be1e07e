"""Token-budget shard packing for training-data export (SURVEY §2.11
north-star adjunct): assign each document a shard so shards hold ~
``SHARD_TOKENS`` tokens in a deterministic global order — the step that
turns a filtered corpus into evenly sized training shards (and, with a
smaller budget, into GPT-style packed context windows).

The semantic core is a GLOBAL exclusive running sum of token counts in
doc_id order. The naive Spark form —
``sum(tokens) OVER (ORDER BY doc_id)`` with no PARTITION BY — is the
canonical accidental scale-killer: Catalyst plans an un-partitioned
window, which moves EVERY row into one task. (DuckDB on one node can
stream it; a 1000-executor cluster cannot.)

``exclusive_cumsum`` instead computes the identical values with the
classic two-level scan, applied recursively:

1. ``part = key div width`` — fixed-width, data-independent key ranges
   (dense doc_ids make these balanced; retry-stable because the
   grouping is a pure key expression, unlike ``spark_partition_id``).
2. Within each part: a PARTITIONED window running sum — parallel.
3. Part totals (n/width rows) get their own exclusive cumsum: a single
   small window if they fit one task, else the same construction one
   level up — log_width(n) levels, so 3 levels cover 10^9 parts.
4. Per-part offsets join back on the part key; AQE broadcasts the
   offsets side whenever it fits (n/width rows — it virtually always
   does), making the join map-side against the already part-keyed rows.

Everything is built-in expressions; the DuckDB oracle is the plain
global window, proving the decomposition exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from labelmain_spark.session import track_persist
from labelmain_spark.sources.readers import load_table

PACK_PART_W = 1024
SHARD_TOKENS = 4096
# Hard safety net only: the adaptive bucketing below divides the ROW
# COUNT by `width` every level (not just the key range), so real depth
# is ceil(log_width(n)) — 4 levels covers 10^12 rows at width 1024.
# (A fixed `key div width` scheme recursed once per RANGE halving: on
# sparse keys hypothesis drove it 17+ levels deep and the nested plan
# OOMed the driver during optimization.)
_MAX_LEVELS = 64


def exclusive_cumsum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out: str,
    width: int = PACK_PART_W,
    _level: int = 0,
    prune_above: int | None = None,
) -> DataFrame:
    """df + column ``out`` = sum of ``val_col`` over all rows with a
    strictly smaller ``order_col`` (exclusive prefix sum). ``order_col``
    must be unique non-negative integers; gaps are fine (parts just
    get fewer rows).

    ``prune_above`` (r12, the token-budget sampler's lever): REQUIRES
    ``val_col ≥ 0`` — the part-offset bound is monotone only for
    non-negative values (a negative value downstream of a pruned part
    could pull a later row's true prefix back under the bound, and the
    inner offsets join would silently drop it). Every current caller
    sums token counts; a signed-delta caller must leave this None.
    When the caller only consumes rows with ``out < prune_above``,
    parts whose OFFSET already exceeds the bound can never contribute
    one — the
    per-level offsets table (tiny) is filtered before the join, so the
    within-part sort/window runs only over the ~bound-covering prefix
    of parts instead of the whole corpus. Rows with ``out ≥
    prune_above`` MAY be absent from the result (they are exactly the
    rows the caller filters); leave it None for the exact full-table
    contract every packing key relies on."""
    if _level >= _MAX_LEVELS:
        raise RuntimeError("exclusive_cumsum: recursion depth exceeded")
    # Persist the keyed rows: the level stats, the totals aggregation
    # and the final offsets join all consume them, and without the
    # barrier Catalyst re-executes the upstream scan per branch — at
    # 100 TB that is a second full pass over the corpus to recount
    # tokens. Callers pass a NARROW projection (key + value), so the
    # cached footprint is ~16 bytes/row. The stats row doubles as the
    # cache prime.
    df = track_persist(df)
    mn, mx, cnt = df.agg(
        F.min(order_col), F.max(order_col), F.count(F.lit(1))
    ).first()
    if cnt <= width:
        # Fits one task by the width contract — the single-partition
        # window here is over ≤ width rows, never the full input.
        w_top = W.orderBy(order_col).rowsBetween(W.unboundedPreceding, -1)
        return df.withColumn(
            out, F.coalesce(F.sum(val_col).over(w_top), F.lit(0))
        )
    # Bucket the KEY RANGE into ~cnt/width parts so the part count —
    # not merely the key range — shrinks by `width` per level. Buckets
    # are pure key arithmetic (retry/partitioning-stable); per-part row
    # counts track width for near-uniform keys (dense ids) and degrade
    # only to range-partitioning imbalance on clustered keys.
    p, t, o = f"_part{_level}", f"_ptot{_level}", f"_poff{_level}"
    n_parts = -(-cnt // width)
    divisor = max(1, -(-(mx - mn + 1) // n_parts))
    rows = df.withColumn(p, F.expr(f"({order_col} - {mn}) div {divisor}"))
    totals = rows.groupBy(p).agg(F.sum(val_col).alias(t))
    # prune_above propagates down: a totals row's offset is a prefix of
    # the same global sum, so the bound is sound at every level — at
    # 10^12 rows the level-1 totals table is itself 10^9 rows and wants
    # the same pruning
    offs = exclusive_cumsum(totals, p, t, o, width, _level + 1, prune_above)
    if prune_above is not None:
        # inner join below drops every row of a pruned part — sound
        # because part offset ≥ bound ⇒ every row's prefix ≥ bound
        offs = offs.filter(F.col(o) < F.lit(prune_above))
    w_in = (
        W.partitionBy(p).orderBy(order_col).rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        rows.join(offs.select(p, o), p)
        .withColumn(
            out, F.col(o) + F.coalesce(F.sum(val_col).over(w_in), F.lit(0))
        )
        .drop(p, o)
    )


def shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shard assignment: shard = floor(exclusive running
    token total / SHARD_TOKENS) in doc_id order. A document whose
    tokens straddle a budget boundary lands in the shard its FIRST
    token falls in (standard doc-granular packing; token-granular
    splitting reuses the same offsets with one extra explode)."""
    # coalesce BEFORE tokenizing (advisor r12): a NULL text must count
    # as the streaming twin's 1 empty token, not a NULL n_tokens that
    # silently shifts every later doc's offset — batch/stream shard ids
    # stay bit-equal on corpora with NULL rows (fixtures have none, so
    # output is unchanged; both engines changed together).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    packed = exclusive_cumsum(docs, "doc_id", "n_tokens", "start_offset")
    return packed.select(
        "doc_id",
        "n_tokens",
        F.col("start_offset").cast("long").alias("start_offset"),
        F.expr(f"start_offset div {SHARD_TOKENS}").cast("long").alias("shard_id"),
    )


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-manifest over ``shard_pack``'s assignment — the
    integrity index a streaming dataloader consumes (WebDataset /
    MosaicML-streaming style): one row per shard with doc/token
    totals, the id span, and ``content_fp`` — the md5 of the shard's
    member-document fingerprints joined '|' in doc_id order. A reader
    that re-hashes a downloaded shard and mismatches the manifest
    detects corruption/drift BEFORE training consumes it; the id span
    gives random access without opening shards.

    Scale shape: the same one-pass two-level ``exclusive_cumsum``
    (the per-doc md5 rides the cached projection — ~50 bytes/row,
    still narrow), then ONE groupBy(shard_id) whose collect_list is
    bounded by the budget constant itself (a shard spans SHARD_TOKENS
    offset units and every doc carries >= 1 token, so <=
    SHARD_TOKENS + 1 members — the ordered in-shard digest concat is
    O(budget), never O(corpus)). The manifest output is
    corpus_tokens/SHARD_TOKENS rows — trivially collectable at any
    corpus size."""
    # NULL-text handling aligned with fp and the streaming
    # _shard_assign_epoch (advisor r12): coalesce first, 1 empty token.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
    )
    packed = exclusive_cumsum(docs, "doc_id", "n_tokens", "start_offset")
    return manifest_agg(
        packed.select(
            "doc_id",
            "n_tokens",
            "fp",
            F.expr(f"start_offset div {SHARD_TOKENS}").cast("long").alias("shard_id"),
        )
    )


def manifest_agg(assigned: DataFrame) -> DataFrame:
    """The manifest aggregation over any (doc_id, n_tokens, fp,
    shard_id) assignment — shared VERBATIM by the batch key and the
    streaming sink's ``finalize_shard_manifest`` so their parity
    holds by construction. Per-group state bounded by
    SHARD_TOKENS + 1 members (see ``shard_manifest``)."""
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(doc_id, fp))),"
                    " x -> x.fp)"
                ),
                "|",
            )
        ).alias("content_fp"),
    )


SEQ_LEN = 512


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-granular sequence packing — the GPT-pretraining step that
    concatenates the corpus in deterministic doc_id order and cuts it
    into fixed SEQ_LEN context windows, letting documents SPAN window
    boundaries (shard_pack's doc-granular sibling; the spanning form
    is what dense-packing trainers like GPT/Llama dataloaders
    actually consume, with attention-reset masks at the doc joins the
    output's segment map encodes).

    Output: one row per (sequence, document) SEGMENT —
    (seq_id, doc_id, doc_tok_start, seg_len): sequence seq_id carries
    seg_len tokens of doc_id starting at the doc's doc_tok_start.
    GroupBy(seq_id) reassembles whole training rows; every sequence
    except the last sums to exactly SEQ_LEN (property-tested).

    Scale shape: the global order comes from the same two-level
    ``exclusive_cumsum`` (NO un-partitioned window anywhere); the
    segment fan-out is a narrow explode bounded per doc by
    ceil(n_tokens/SEQ_LEN)+1. One wide machinery pass total; the
    DuckDB oracle is the naive global window, proving the
    decomposition exact at token granularity too."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n")
    )
    return pack_segments(docs)


def pack_segments(docs: DataFrame) -> DataFrame:
    """The pack_sequences machinery over any (doc_id, n) count table —
    shared with ``bpe.pack_sequences_bpe`` (same plan, BPE counts)."""
    c = exclusive_cumsum(docs, "doc_id", "n", "s")
    seg = c.select(
        "doc_id",
        "n",
        "s",
        F.explode(
            F.sequence(
                F.expr(f"s div {SEQ_LEN}"), F.expr(f"(s + n - 1) div {SEQ_LEN}")
            )
        ).alias("q"),
    )
    return seg.select(
        F.col("q").cast("long").alias("seq_id"),
        "doc_id",
        (F.greatest(F.col("s"), F.col("q") * SEQ_LEN) - F.col("s"))
        .cast("long")
        .alias("doc_tok_start"),
        (
            F.least(F.col("s") + F.col("n"), (F.col("q") + 1) * SEQ_LEN)
            - F.greatest(F.col("s"), F.col("q") * SEQ_LEN)
        )
        .cast("long")
        .alias("seg_len"),
    )


BIN_BUDGET = 256
HARMONIC_K = 8


def pack_bins_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin packing WITHOUT document splitting — the Harmonic-K
    algorithm (Lee & Lee 1985, JACM): documents are bucketed into
    size classes k = floor(budget / n_tokens) capped at K, and class
    k packs exactly k documents per bin (every class-k doc has
    n_tokens ≤ budget/k, so k of them provably fit). The counterpart
    to `pack_sequences` (which SPLITS documents across windows) for
    trainers that must keep documents whole — SFT/eval batching,
    long-context curricula. Oversized docs (n_tokens > budget) get a
    bin alone with `overflow` flagged.

    Why Harmonic and not first-fit-decreasing: FFD's bin state is
    inherently sequential (each placement depends on all previous
    bins); Harmonic's class rule makes every placement a PURE KEY
    FUNCTION of (class, rank-within-class) — embarrassingly parallel,
    retry-stable, identical in any engine, with the published
    1.691-competitive waste bound. Full bins of class k < K carry
    > budget·k/(k+1) tokens by construction (property-tested); the
    small-item class K is the classic algorithm's loose end.

    Scale shape: class assignment is a narrow map; rank-within-class
    = global exclusive prefix-COUNT over the packed (class, doc_id)
    key (the corpus_shuffle machinery — NO global window, NO
    per-class corpus-width window; class-partitioned row_number would
    serialize the corpus through ≤K sort tasks, the bm25 ×100
    lesson) minus a broadcast K-row class-offset table."""
    from labelmain_spark.functions.sampling import _checked_id_pack

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    cls = F.greatest(
        F.lit(1),
        F.least(F.lit(HARMONIC_K), F.expr(f"{BIN_BUDGET} DIV n_tokens")),
    ).cast("int")
    c = d.select(
        "doc_id",
        "n_tokens",
        cls.alias("size_class"),
        (F.col("n_tokens") > F.lit(BIN_BUDGET)).alias("overflow"),
    )
    keyed = c.select(
        "doc_id",
        "n_tokens",
        "size_class",
        "overflow",
        _checked_id_pack(
            F.col("size_class").cast("long") * F.lit(1 << 31) + F.col("doc_id")
        ).alias("okey"),
        F.lit(1).cast("long").alias("one"),
    )
    pos = exclusive_cumsum(keyed, "okey", "one", "pos")
    counts = c.groupBy("size_class").agg(F.count(F.lit(1)).alias("n"))
    offs = counts.withColumn(
        "class_off",
        F.coalesce(
            # K-row table: this window is over ≤ HARMONIC_K rows by
            # construction, never the corpus
            F.sum("n").over(
                W.orderBy("size_class").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return (
        pos.join(F.broadcast(offs.select("size_class", "class_off")), "size_class")
        .select(
            "doc_id",
            "n_tokens",
            "size_class",
            F.expr("(pos - class_off) DIV size_class").cast("long").alias("bin_seq"),
            "overflow",
        )
    )


QUERIES = {
    "shard_pack": shard_pack,
    "shard_manifest": shard_manifest,
    "pack_sequences": pack_sequences,
    "pack_bins_harmonic": pack_bins_harmonic,
}

ORACLE = {
    # same assignment as shard_pack's naive global window, same
    # ordered in-shard digest concat via string_agg ORDER BY
    "shard_manifest": f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(coalesce(text, ''), ' ')) AS n_tokens,
                   md5(coalesce(text, '')) AS fp
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens, fp,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {SHARD_TOKENS} AS shard_id
            FROM t
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc,
               md5(string_agg(fp, '|' ORDER BY doc_id)) AS content_fp
        FROM c GROUP BY shard_id
    """,
    "pack_bins_harmonic": f"""
        WITH d AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(GREATEST(1, LEAST({HARMONIC_K},
                        {BIN_BUDGET} // n_tokens)) AS INTEGER) AS size_class,
                   (n_tokens > {BIN_BUDGET}) AS overflow
            FROM d
        ), r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY size_class ORDER BY doc_id
            ) - 1 AS rnk FROM c
        )
        SELECT doc_id, n_tokens, size_class,
               CAST(rnk // size_class AS BIGINT) AS bin_seq, overflow
        FROM r
    """,
    "pack_sequences": f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
        ), c AS (
            SELECT doc_id, n,
                   COALESCE(SUM(n) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS s
            FROM t
        ), seg AS (
            SELECT doc_id, n, s,
                   unnest(range(CAST(s // {SEQ_LEN} AS BIGINT),
                                CAST((s + n - 1) // {SEQ_LEN} + 1 AS BIGINT))) AS q
            FROM c
        )
        SELECT CAST(q AS BIGINT) AS seq_id,
               doc_id,
               CAST(greatest(s, q * {SEQ_LEN}) - s AS BIGINT) AS doc_tok_start,
               CAST(least(s + n, (q + 1) * {SEQ_LEN})
                    - greatest(s, q * {SEQ_LEN}) AS BIGINT) AS seg_len
        FROM seg
    """,
    "shard_pack": f"""
        WITH t AS (
            SELECT doc_id, len(string_split(coalesce(text, ''), ' ')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_offset
            FROM t
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(start_offset AS BIGINT) AS start_offset,
               CAST(start_offset // {SHARD_TOKENS} AS BIGINT) AS shard_id
        FROM c
    """,
}
