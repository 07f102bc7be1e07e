"""Deduplication operators for the training-data pipeline (SURVEY.md
§2.11 north-star): exact, MinHash+LSH near-dup, SimHash, n-gram
Jaccard.

Scale design:

- Exact dedup hashes the normalized text once (sha256) and groups on
  the 32-byte digest — the shuffle carries digests, not documents.
- MinHash+LSH is the canonical sub-quadratic near-dup join: per-doc
  signature (K min-hashes over 3-gram shingles) → band buckets →
  candidate pairs only where a band collides → Jaccard verification on
  the candidates. Everything is built-in expressions; the hash family is
  derived from one md5 per shingle so the DuckDB oracle can reproduce
  signatures byte-for-byte (a full oracle check for LSH, not rows-only).
  At 100 TB: the shingle explode is a narrow map; the signature groupBy
  shuffles (doc_id, shingle-digest) pairs; band buckets are tiny
  relative to the corpus, and the candidate join is banded so no
  all-pairs blowup. Skewed buckets (boilerplate shingles) are the known
  hazard — mitigated by distinct-ing shingles per doc and by AQE skew
  splitting on the band join.
- n-gram Jaccard is the blocked all-pairs verifier: only within
  (lang, source) blocks, for corpora where blocking keys exist.
- SimHash packs a doc into a 60-bit signature by per-bit voting over
  token hashes; near-dups differ in ≤ 3 bits. Implemented with 60
  bit-extraction aggregates (JVM-side), grouped by signature bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.operators.parity import stable_round
from labelmain_spark.sources.readers import load_table, table_row_count
# one-directional: sampling → text → parity/readers never reaches back
# into dedup, so this module-level import (the ORACLE literal needs it
# at import time anyway) cannot cycle
from labelmain_spark.functions.sampling import _hash_bp_expr as _sampling_hash_bp_expr


def _sampling_hash_bp(key_col: str, engine: str, salt: str) -> str:
    return _sampling_hash_bp_expr(key_col, engine, salt=salt)

MINHASH_K = 12
BANDS = 4  # rows per band = MINHASH_K // BANDS = 3
JACCARD_THRESHOLD = 0.5

# Candidate generation drops shingles whose document frequency exceeds
# max(5, ceil(n_docs/100)): one boilerplate shingle shared by 1% of a
# 100 TB corpus otherwise yields ~10^14 candidate pairs from a single
# inverted-index posting list. Integer-only arithmetic ((n+99)//100) so
# Spark and the DuckDB oracle compute the identical threshold (float
# literals would be DOUBLE in one engine and DECIMAL in the other).
DF_PRUNE_MIN = 5


def _max_df(n_docs: int) -> int:
    return max(DF_PRUNE_MIN, (n_docs + 99) // 100)


def _sql_max_df(docs_cte: str) -> str:
    """DuckDB twin of :func:`_max_df` as a scalar subquery."""
    return f"(SELECT GREATEST({DF_PRUNE_MIN}, (COUNT(*) + 99) // 100) FROM {docs_cte})"


def _pruned_index(e: DataFrame, max_df: int) -> DataFrame:
    """Inverted index restricted to shingles with df <= max_df.

    Implemented as LEFT ANTI join against the HOT set, not inner join
    against the keep set: with P total postings the hot-shingle count is
    at most P/max_df = P/(n_docs/100) = 100 × (avg shingles per doc) —
    bounded by document shape, INDEPENDENT of corpus size — so the anti
    side broadcasts at any scale, while a keep-side inner join would
    shuffle the full posting table by shingle. Pairs sharing ONLY
    ultra-common shingles are the (deliberate) recall cost, standard for
    df-pruned inverted-index dedup."""
    dfs = e.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    hot = dfs.filter(F.col("df") > max_df).select("s")
    return e.join(hot, "s", "left_anti")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256 over normalized text; survivor = min doc_id.
    Output only duplicate-cluster survivors plus cluster sizes."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    return (
        docs.select(h.alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# Source-priority tiers for cross-source dedup: tier 0 = curated,
# 1 = semi-curated, 2 = raw crawl (deterministic partition of the
# fixture's src0..src19; a real pipeline broadcasts a source → tier
# dim table instead of the inline CASE).
_TIER_SQL = (
    "CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0 "
    "WHEN source IN ('src3', 'src4', 'src5', 'src6', 'src7') THEN 1 "
    "ELSE 2 END"
)


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact dedup with provenance priority — the
    Pile/Dolma multi-source assembly rule: when the same text arrives
    from a curated source AND a raw crawl, keep the curated copy (its
    metadata and licensing survive), never an arbitrary one. Survivor
    per content hash = lowest (tier, doc_id); output adds how many
    tiers the cluster spanned — clusters with tier_spread > 1 are
    exactly the rows where priority CHANGED the survivor vs plain
    min-doc_id dedup.

    Scale shape: identical to dedup_exact — ONE digest-keyed
    partial-agg shuffle; the survivor is a min(struct(tier, doc_id))
    that combines map-side, so a boilerplate text shared by 10^6
    crawl docs collapses to one candidate row per upstream partition.
    The tier expression is a row-local CASE (broadcast dim join in
    production) — no extra shuffle over dedup_exact."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    tier = F.expr(_TIER_SQL)
    return (
        docs.select(h.alias("h"), "doc_id", tier.cast("int").alias("tier"))
        .groupBy("h")
        .agg(
            F.min(F.struct("tier", "doc_id")).alias("w"),
            F.countDistinct("tier").cast("int").alias("tier_spread"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(
            "h",
            F.col("w.doc_id").alias("keep_doc_id"),
            F.col("w.tier").alias("keep_tier"),
            "tier_spread",
            "n_dups",
        )
    )


INCR_NEW_BP = 1000  # newest 10% of the doc_id hash keyspace = today's batch


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the daily-crawl shape: dedupe TODAY'S
    batch against the full historical corpus without re-deduping
    history. "Today" is the lowest ``INCR_NEW_BP`` basis points of the
    doc_id hash keyspace (the fixture stand-in for an arrival
    partition); history is everything else. Each new doc gets a
    status: ``dup_of_history`` (its digest exists anywhere in
    history), ``dup_in_batch`` (another new doc with a smaller doc_id
    shares the digest), else ``new``.

    Scale shape: history flows as a DIGEST-ONLY projection (32 bytes/
    doc) into a distinct + left join keyed by digest. History is
    re-read and re-hashed each run, and the planner broadcasts or
    shuffles the distinct digest set as its size estimate decides;
    the within-batch keep-first is a min partial agg on the (small)
    batch. No historical TEXT reaches the join."""
    from labelmain_spark.functions.sampling import _hash_bp_expr

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    )
    is_new = F.expr(_hash_bp_expr("doc_id", "spark", salt="incr:")) < INCR_NEW_BP
    new = docs.filter(is_new)
    hist = docs.filter(~is_new).select("h").distinct().withColumn("in_hist", F.lit(1))
    first = new.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        new.join(hist, "h", "left")
        .join(first, "h")
        .select(
            "doc_id",
            "h",
            F.when(F.col("in_hist") == 1, "dup_of_history")
            .when(F.col("doc_id") != F.col("first_doc"), "dup_in_batch")
            .otherwise("new")
            .alias("status"),
        )
    )


DELTA_BP = 9000  # each snapshot keeps 90% of the keyspace (overlap ~81%)
DELTA_MUT_BP = 500  # 5% of current-snapshot docs carry revised text


def corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DELTA — the CDC shape between two corpus versions
    (what Dolma/C4 publish per release): every doc_id in either
    snapshot classified ``added`` (current only), ``removed``
    (previous only), ``changed`` (both, digest differs) or
    ``unchanged``. The fixture derives two overlapping 90% snapshots
    from independent hash salts and deterministically revises 5% of
    the current snapshot's texts, so all four classes occur on real
    rows in BOTH engines (the c4_line_filter injection pattern).

    Scale shape: each snapshot flows as a DIGEST-ONLY projection
    (doc_id, 32-byte sha256) into ONE full-outer join keyed on
    doc_id; classification is pure expression work on the joined row.
    A full-outer join is not broadcast, so both digest projections
    are shuffled on doc_id; no snapshot's TEXT crosses the shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prev, cur = delta_snapshots(docs)
    j = prev.join(
        cur.select("doc_id", doc_digest("text").alias("new_digest")),
        "doc_id",
        "full_outer",
    )
    return delta_classify(j)


def doc_digest(col: str) -> Column:
    """The snapshot-identity digest both delta keys and the streaming
    twin share: sha256 of the normalized text."""
    return F.sha2(F.lower(F.trim(F.col(col))), 256)


def delta_snapshots(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The fixture snapshot-pair convention shared VERBATIM by
    `corpus_delta`, `card_drift` and the streaming release sink
    (streaming/incremental.py): overlapping 90% hash snapshots of the
    documents frame, with 5% of the CURRENT snapshot's texts
    deterministically revised. Returns ``prev`` as a digest-only
    projection (doc_id, old_digest) and ``cur`` as the current
    snapshot's doc rows with the revision applied to ``text`` (all
    other columns carried through)."""
    from labelmain_spark.functions.sampling import _hash_bp_expr

    in_prev = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapA:")) < DELTA_BP
    in_cur = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapB:")) < DELTA_BP
    revised = F.expr(_hash_bp_expr("doc_id", "spark", salt="mut:")) < DELTA_MUT_BP
    prev = docs.filter(in_prev).select(
        "doc_id", doc_digest("text").alias("old_digest")
    )
    cur_text = F.when(revised, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
        F.col("text")
    )
    cur = docs.filter(in_cur).withColumn("text", cur_text)
    return prev, cur


def delta_classify(j: DataFrame) -> DataFrame:
    """The CDC classify expression over a (doc_id, old_digest,
    new_digest) joined frame — shared verbatim between the batch
    full-outer merge and the streaming twin's per-batch LEFT join +
    stream-close removed-reconcile (where one digest side is null by
    construction)."""
    return j.select(
        "doc_id",
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") == F.col("new_digest"), "unchanged")
        .otherwise("changed")
        .alias("status"),
        F.coalesce("old_digest", F.lit("")).alias("old_digest"),
        F.coalesce("new_digest", F.lit("")).alias("new_digest"),
    )


def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup — dedup_incremental's fuzzy twin, the
    production daily-crawl shape (Dolma/RefinedWeb run exactly this):
    MinHash-band signatures of TODAY'S batch probe the HISTORY band
    index; only band-colliding (new, hist) pairs are Jaccard-verified;
    each new doc reports its best historical match. History text is
    touched only for verification of its own candidates — the band
    index (doc_id + BANDS short signatures) is what a production
    deployment would persist between crawls. Here it is recomputed
    from the corpus each run, and the planner broadcasts or shuffles
    the history bands as its size estimate decides.

    Batch split: the same ``incr:`` hash keyspace rule as
    dedup_incremental (lowest INCR_NEW_BP basis points = today).
    Output per new doc: status ('near_dup_of_history' | 'new'), the
    best match's doc_id and Jaccard (highest rounded score, lowest
    doc_id tie-break) — NULLs for unmatched docs.

    Scale shape: the band join is new-batch-sized on one side and
    df-pruned on both (no boilerplate hot buckets); the verify join
    ships only candidate ids + per-doc shingle counts
    (_pair_jaccard); best-match is a partial-agg max(struct) keyed by
    the new doc — no windows, no all-pairs, nothing rescans history
    text beyond its candidates."""
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from pyspark import StorageLevel

    n_docs = table_row_count(spark, sf_dir, "documents")
    e = _exploded_shingles(spark, sf_dir, prime=False)  # sig prime fills it
    # r13 (guide §5): persist + prime the signatures — the nb/hb
    # batch/history filters below are differently-keyed consumers, so
    # without the persist BOTH sides re-ran the pruned-index anti-join
    # + 12-window min-aggregate over the full postings (two sig
    # subtrees in plans/r13/dedup_incremental_near_before.txt). One
    # signature row per doc; same cache entry as dedup_minhash's.
    sig = minhash_signatures(_pruned_index(e, _max_df(n_docs))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sig.count()

    rows_per_band = MINHASH_K // BANDS
    band_cols = []
    for b in range(BANDS):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat(*cols).alias("sig"))
        )
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))

    is_new = F.expr(_hash_bp_expr("doc_id", "spark", salt="incr:")) < INCR_NEW_BP
    nb = bands.filter(is_new).select(F.col("doc_id").alias("doc_a"), "band", "sig")
    hb = bands.filter(~is_new).select(F.col("doc_id").alias("doc_b"), "band", "sig")
    cand = nb.join(hb, ["band", "sig"]).select("doc_a", "doc_b").distinct()
    jac = _pair_jaccard(e, cand).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    best = jac.groupBy("doc_a").agg(
        F.max(
            F.struct(F.col("jaccard"), (-F.col("doc_b")).alias("nb"))
        ).alias("m")
    )
    new_docs = (
        load_table(spark, sf_dir, "documents").select("doc_id").filter(is_new)
    )
    return new_docs.join(
        best, new_docs["doc_id"] == best["doc_a"], "left"
    ).select(
        "doc_id",
        F.when(F.col("m").isNotNull(), F.lit("near_dup_of_history"))
        .otherwise(F.lit("new"))
        .alias("status"),
        (-F.col("m.nb")).cast("long").alias("match_doc"),
        F.col("m.jaccard").alias("jaccard"),
    )


def _shingles_from_tokens(t: Column) -> Column:
    """Distinct word 3-gram shingles from a MATERIALIZED token array.

    `t` must be a projected column, not an inline split(...): Catalyst
    does no common-subexpression elimination inside lambda bodies, so an
    inline split would re-tokenize the document for every element_at —
    O(len²) per doc (measured 8 s vs 0.3 s at sf0.1).

    The <3-token fallback rebuilds the original text from the tokens
    (split/concat_ws on ' ' round-trips exactly, including empty
    tokens from consecutive spaces) rather than carrying the raw text
    column through the repartition shuffle — at 100 TB that halves the
    shuffle payload of the shingling stage."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(F.size(t) >= 3, grams).otherwise(F.array(F.concat_ws(" ", t)))
    )


def _shingle_df(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """doc_id → shingle array, ONE shuffle of the raw text keyed by
    doc_id. The repartition (a) spreads the CPU-bound shingling across
    all cores even when the input is a single file split, and (b) keys
    the layout by doc_id so every downstream per-doc groupBy (set
    sizes, signatures) is shuffle-free. Shuffling the raw text beats
    the alternative (shuffle token arrays, or shuffle the exploded
    postings) on bytes: text ≤ tokens < postings.

    split() stays its own projection under the lambda: Spark's
    CollapseProject refuses to merge projects when it would duplicate a
    non-cheap expression (SPARK-36718), so the token array is evaluated
    once per row, not once per element_at — asserted on the optimized
    plan in tests/test_plans.py (a regression here is O(len·w) per
    doc)."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", *extra, "text")
        .repartition(n, F.col("doc_id"))
        .select("doc_id", *extra, F.split(F.col("text"), " ").alias("t"))
        .select(
            "doc_id",
            *extra,
            _shingles_from_tokens(F.col("t")).alias("shingles"),
        )
    )


def _exploded_shingles(
    spark: SparkSession, sf_dir: str, *extra: str, prime: bool = True
) -> DataFrame:
    # explode_outer, not explode: plain explode pushes a size()>0
    # predicate below the repartition exchange, re-evaluating the whole
    # shingle expression on the unparallelized scan side (measured 5 s
    # vs 0.4 s at sf0.1). Shingle arrays are never empty, so the outer
    # variant is semantically identical here.
    #
    # The dedup DAGs are diamonds: signatures, set sizes, and both
    # sides of the common-shingle join all consume this table. Exchange
    # reuse does NOT fire here (column pruning pushes per-branch
    # projections below the exchange, so the subtrees stop being
    # canonical-identical — verified on the physical plan), so the
    # shared table is persisted instead: shingling executes once, every
    # branch reads the in-memory columnar copy. Spark's CacheManager
    # keys entries by canonical plan, so repeated calls share one entry
    # per sf_dir rather than accumulating copies. Explode preserves the
    # upstream hash layout on doc_id, so the cached table satisfies the
    # per-doc groupBys with no further shuffle (no second repartition —
    # r2's explode-then-repartition shape paid an extra postings-sized
    # shuffle for a layout the shingle shuffle already provides;
    # removing it halved the materialization cost at sf0.1).
    from pyspark import StorageLevel

    e = (
        _shingle_df(spark, sf_dir, *extra)
        .select("doc_id", *extra, F.explode_outer("shingles").alias("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Prime eagerly: otherwise the first action runs all diamond
    # branches concurrently against a not-yet-populated cache and each
    # recomputes the shingling (observed 4× work on first run).
    # r14b: callers whose FIRST action on e is itself serial on a
    # single e-reading leaf stage (the minhash signature prime — its
    # hot-shingle broadcast build reads e before the probe stage can
    # start) pass prime=False: the cache fills inside that stage and
    # the separate prime job (one full dispatch + cache-write pass
    # that the signature prime then re-reads) disappears. Callers
    # that fan out on e concurrently in their first action
    # (contamination_check/matrix, bloom_decontaminate,
    # ngram_jaccard) keep the eager prime.
    if prime:
        e.count()
    return e


def _exploded_shingles_of(docs: DataFrame) -> DataFrame:
    """Persisted postings (doc_id, s) for an ARBITRARY (doc_id, text)
    corpus — the `_exploded_shingles` discipline (repartition the raw
    text by doc_id before the CPU-bound shingling; project the token
    array so the lambda never re-tokenizes; persist the diamond and
    prime it eagerly) for callers whose corpus is not the bare
    documents table (containment_dedup runs over the `_prefix_corpus`
    augmented view). r13 origin: containment_dedup inlined this and
    lost all three properties — split() inside the transform lambda
    (O(len²) per doc), no repartition (single-split scan → one core),
    no persist (the plan scanned documents.parquet 16× for the five
    downstream consumers)."""
    from pyspark import StorageLevel

    n = docs.sparkSession.sparkContext.defaultParallelism
    e = (
        docs.select("doc_id", "text")
        .repartition(n, F.col("doc_id"))
        .select("doc_id", F.split(F.col("text"), " ").alias("t"))
        .select("doc_id", _shingles_from_tokens(F.col("t")).alias("shingles"))
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    return e


def _pair_jaccard(e: DataFrame, pairs: DataFrame) -> DataFrame:
    """Jaccard for given (doc_a, doc_b) pairs from the inverted index.

    Arrays never flow through the pair join: common-shingle counts come
    from joining the exploded (doc, shingle) table to the (small) pair
    set, set sizes from a per-doc count, and
    jaccard = common / (|A| + |B| - common). At 100 TB this is the only
    viable shape — per-pair array materialization is O(pairs × doclen)
    memory, while this is three hash joins on scalar keys.

    r13 (guide §3.2, reduce the big side before shuffling it): the
    verification's b-side exchange used to move the FULL postings
    table keyed (doc_b, s) even though only candidate docs can match.
    The pair set is persisted + primed (it is the LSH-pruned
    candidate table — structurally small; also stops the two
    consumers re-running the band join) and the b-side is left-semi
    pruned on doc_b before the wide exchange — lossless for the
    following inner join, and the semi's build side broadcasts under
    AQE whenever it fits (no forced hint, same rationale as below).
    """
    from pyspark import StorageLevel

    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()  # prime: both consumers must read the cache, not race it
    ea = e.select(F.col("doc_id").alias("doc_a"), "s")
    eb = e.select(F.col("doc_id").alias("doc_b"), "s").join(
        pairs.select("doc_b"), "doc_b", "left_semi"
    )
    # No forced broadcast on the pair set: LSH keeps it small in the
    # expected case, but a pathological corpus (pre-pruning) could blow
    # past executor memory with a forced hint. AQE picks broadcast-hash
    # automatically whenever the measured size fits the threshold.
    common = (
        ea.join(pairs, "doc_a")
        .join(eb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable_round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_signatures(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id → k min-hashes.

    Hash family: ONE md5 per shingle, k members derived as 16-hex-char
    windows of the rotated digest (substr(d||d, i+1, 16)) — 12× fewer
    digest computations than md5(seed|shingle) per member, identical
    LSH behavior for near-dup detection, and byte-reproducible in the
    DuckDB oracle.

    Accepts the EXPLODED (doc_id, s) shingle table so callers can share
    one materialized exchange across the whole dedup DAG."""
    d = F.md5(F.col("s"))
    ed = sh.select("doc_id", F.concat(d, d).alias("dd"))
    aggs = [
        F.min(F.substring(F.col("dd"), i + 1, 16)).alias(f"h{i}") for i in range(k)
    ]
    return ed.groupBy("doc_id").agg(*aggs)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with Jaccard verification.

    Signatures (and therefore candidates) are computed over the
    df-PRUNED shingle index — boilerplate shingles cannot form a hot
    band bucket; verification scores full-set Jaccard on the original
    shingles. The n_docs count is parquet-metadata only (no scan).

    r13 (guide §5, the dedup_simhash fix applied here): the signature
    table is persisted + primed before the band self-join — the a/b
    sides of `_band_pairs` are differently-keyed consumers, so
    exchange reuse never fires and each side re-ran the pruned-index
    anti-join + 12-window min-aggregate over the full postings (two
    copies of the sig subtree in the before plan, plans/r13/). One
    (doc_id, 12×16-hex) row per document — signature-sized, never
    corpus-sized; lsh_recall_audit's counterfactual banding reads the
    same cache entry (CacheManager keys by canonical plan)."""
    from pyspark import StorageLevel

    n_docs = table_row_count(spark, sf_dir, "documents")
    e = _exploded_shingles(spark, sf_dir, prime=False)  # sig prime fills it
    sig = minhash_signatures(_pruned_index(e, _max_df(n_docs))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sig.count()  # prime: both self-join sides must read the cache, not race it
    cand = _band_pairs(sig, BANDS)
    return _pair_jaccard(e, cand).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _band_pairs(sig: DataFrame, n_bands: int) -> DataFrame:
    """Banded LSH candidate pairs from a minhash signature table:
    split the k-column signature into ``n_bands`` contiguous bands,
    bucket-join on (band, concatenated band signature), emit distinct
    ordered pairs. Parametrized on band count so the recall audit can
    measure counterfactual configurations against the production one
    from the SAME signatures."""
    rows_per_band = MINHASH_K // n_bands
    band_cols = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat(*cols).alias("sig"))
        )
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked 3-gram Jaccard via df-pruned inverted index.

    Candidate generation self-joins the inverted index on
    (lang, source, shingle) — only after dropping shingles with
    document frequency > max(5, n_docs/100), because one boilerplate
    shingle shared by k docs contributes k² candidate rows; the hot
    0.1% of shingles otherwise dominates the join output at corpus
    scale. Verification then scores FULL-set Jaccard (all shingles,
    including pruned ones) on the surviving candidates, so scores are
    exact; the only recall cost is pairs whose overlap is entirely
    boilerplate. No array payloads cross any join; no forced broadcast
    hints — sizes/common are both unbounded at scale, AQE broadcasts
    whichever side actually fits.
    """
    n_docs = table_row_count(spark, sf_dir, "documents")
    e = _exploded_shingles(spark, sf_dir, "lang", "source")
    ep = _pruned_index(e, _max_df(n_docs))

    a = ep.select(F.col("doc_id").alias("doc_a"), "lang", "source", "s")
    b = ep.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("s").alias("s_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("s") == F.col("s_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "lang", "source")
        .distinct()
    )
    # r14 A/B-REJECTED (VERDICT #4 asked for _pair_jaccard's r13
    # persist + b-side semi prune here): measured 2.0 → 3.05 s idle
    # steady state at sf0.1. Unlike dedup_minhash, the candidate table
    # here has ONE consumer, so the persist+prime added a
    # materialization barrier (and the semi prune added the second
    # consumer that made it necessary) while the verify b-side
    # exchange it would shrink costs only ~0.2 s of the key's 2.0 s
    # (profiled: e 0.79, cand 1.81, full 2.0). The pipelined
    # single-consumer shape stays.

    # Full-set verification over the unpruned index.
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ea = e.select(F.col("doc_id").alias("doc_a"), "s")
    eb = e.select(F.col("doc_id").alias("doc_b2"), F.col("s").alias("s_b"))
    common = (
        ea.join(cand, "doc_a")
        .join(eb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("s") == F.col("s_b")))
        .groupBy("doc_a", "doc_b", "lang", "source")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = stable_round(
        F.col("common").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        4,
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "lang", "source", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(0.3))
    )


SIMHASH_BITS = 60  # fits a signed 64-bit long from 15 hex chars of md5


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc 60-bit SimHash: per-bit majority vote over token hashes.

    Token hash = first 15 hex chars of md5(token) as a long (engine-
    reproducible, unlike xxhash64 which has no DuckDB twin). The 60
    bit-vote aggregates are plain conditional sums — JVM codegen, one
    shuffle on doc_id.
    """
    t = df.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    t = t.select("doc_id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    voted = t.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return voted.select("doc_id", sig.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: candidate generation by identical
    top-16-bit bucket, verified by Hamming distance ≤ 6.

    r13 (guide §5): the signature table is persisted before the
    bucket self-join — the a/b sides are differently-keyed consumers,
    so exchange reuse never fires and each side re-ran the full
    scan→token-explode→60-vote aggregation (two `Scan parquet` +
    two vote aggregates in the before plan). The persisted table is
    one (doc_id, simhash, bucket) row per document — signature-sized,
    not corpus-sized, safe to cache at any scale."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    sig = simhash(docs)
    bucket = F.shiftright(F.col("simhash"), SIMHASH_BITS - 16)
    s = (
        sig.select("doc_id", "simhash", bucket.alias("bucket"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    s.count()  # prime: both join sides must read the cache, not race it
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )


PARA_W = 20  # words per paragraph block
BOILER_DF = 3  # boilerplate_strip: drop paragraphs appearing in > BOILER_DF docs


def _exploded_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, para) — every fixed-width word-block paragraph.
    Persisted: dedup_paragraph and boilerplate_strip are diamonds
    (per-paragraph keying AND per-doc totals both consume this table),
    and without the barrier each branch re-scans the corpus text. Same
    persist-the-shared-explode pattern (and justification) as
    ``_exploded_shingles``."""
    from pyspark import StorageLevel

    # coalesce(text, ''): NULL text would make size(toks) = -1 on Spark
    # (sequence(0, -1) emits a descending 2-array → two bogus rows)
    # while DuckDB's range(NULL) drops the doc — coalescing makes the
    # degenerate row engine-identical (one empty paragraph) (r4 advice).
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("toks")
    )
    paras = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(toks) + {PARA_W - 1}) div {PARA_W} - 1), "
                f"i -> array_join(slice(toks, i * {PARA_W} + 1, {PARA_W}), ' '))"
            )
        ).alias("pos", "para"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    paras.count()  # prime before the diamond branches race the cache
    return paras


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly — the
    Dolma / RefinedWeb recipe step that strips repeated boilerplate
    blocks (headers, navboxes, license footers) while keeping the rest
    of the document. The corpus is single-line synthetic text, so a
    "paragraph" is a fixed ``PARA_W``-word block — the real-corpus
    version swaps the splitter for ``split(text, '\\n\\n')`` and the
    rest of the plan is unchanged.

    Keep rule: a paragraph survives only in its globally FIRST
    occurrence (min (doc_id, position) over all docs sharing the md5).

    Scale shape: split/slice is a narrow map; then exactly two keyed
    shuffles — (1) groupBy paragraph-hash with a min(struct) partial
    agg (the shuffle carries 16-byte digests + winner coordinates, and
    a boilerplate paragraph repeated 10^9 times collapses map-side to
    one row per upstream partition, so hash skew is harmless), and
    (2) regroup by doc_id to reassemble surviving paragraphs in
    position order. The final per-doc totals join reuses the doc_id
    layout. No window over the full posting table, no per-row Python.
    """
    paras = _exploded_paragraphs(spark, sf_dir)
    winners = (
        paras.groupBy(F.md5("para").alias("h"))
        .agg(F.min(F.struct("doc_id", "pos", "para")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.pos").alias("pos"), F.col("w.para").alias("para"))
    )
    kept = winners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, para))), x -> x.para), ' ')"
        ).alias("clean_text"),
    )
    totals = paras.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_para"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_para",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: drop every paragraph that occurs
    in more than ``BOILER_DF`` distinct documents (nav bars, cookie
    banners, license footers — frequency, not position, identifies
    them), keep everything else IN PLACE, and reassemble.

    Unlike dedup_paragraph (first occurrence survives), a boilerplate
    paragraph is deleted EVERYWHERE — the C4/RefinedWeb rule. Shape:
    one distinct-count agg keyed by paragraph hash (partial-agg safe on
    hot keys), a LEFT ANTI join of the postings against the tiny hot
    set (bounded by corpus shape, not size — same argument as
    _pruned_index), and the per-doc reassembly regroup."""
    paras = _exploded_paragraphs(spark, sf_dir)
    out = boiler_cleaned(paras)
    totals = paras.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_para"))
    return totals.join(out, "doc_id", "left").select(
        "doc_id",
        "n_para",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def boiler_cleaned(paras: DataFrame) -> DataFrame:
    """The boilerplate-strip core: (doc_id, n_kept, clean_text) for
    docs with ≥1 surviving paragraph. ``boilerplate_strip`` adds the
    per-doc totals + fully-stripped docs for the audit view;
    pipeline consumers (corpus_pipeline) take this lean form — the
    totals branch would be a second full aggregation over the postings
    purely to report rows the next stage filters out."""
    hot = (
        paras.groupBy(F.md5("para").alias("h"))
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > BOILER_DF)
        .select("h")
    )
    kept = paras.withColumn("h", F.md5("para")).join(hot, "h", "left_anti")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, para))), x -> x.para), ' ')"
        ).alias("clean_text"),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash+LSH pairs → connected
    components → one canonical doc per cluster (min doc_id). Pairwise
    near-dup output alone under-deletes: if A~B and B~C, pair-based
    keep-min retains C. The component closure is how production dedup
    (Dolma, SlimPajama, RefinedWeb) actually deletes.

    Reuses the banded-LSH pair generator (everything upstream stays
    bucketed — no all-pairs) and the hash-min label-propagation
    machinery from functions/graph.py via a pair-node bipartite
    encoding: each verified pair (a, b) becomes edges
    (a, "a:b"), (b, "a:b"). Components converge in O(cluster diameter)
    alternating rounds, each a partial-agg shuffle; near-dup clusters
    are shallow (diameter ~ a few hops), so the iteration count is
    small and independent of corpus size.

    Output: every doc that appears in ≥1 verified pair, its cluster id
    (= min doc_id of the component), the cluster size, and whether
    this doc is the cluster's canonical survivor."""
    from collections import Counter

    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    n_pairs, cc, labels = _pair_components(spark, sf_dir)
    if labels is not None:
        # driver tier (r14): the labels are already in driver memory —
        # sizes and canonicals are two dict passes, shipped back as ONE
        # LocalRelation instead of a groupBy + join + persist + prime
        # over a few-thousand-row frame (the old small_plan_conf block;
        # measured ~1.1 s of pure job dispatch at sf0.1).
        sizes = Counter(labels.values())
        afield = cc.schema["u"]
        schema = StructType(
            [
                StructField("doc_id", afield.dataType, afield.nullable),
                StructField("cluster_id", afield.dataType, True),
                StructField("cluster_size", LongType(), True),
                StructField("is_canonical", BooleanType(), True),
            ]
        )
        return spark.createDataFrame(
            [(u, c, sizes[c], u == c) for u, c in labels.items()], schema
        )
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("u").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("u") == F.col("component")).alias("is_canonical"),
    )


def _pair_components(spark: SparkSession, sf_dir: str):
    """Verified near-dup pairs → connected-component labels — the
    shared closure head of ``dedup_clusters`` and
    ``split_leakage_safe`` (r12 self-review: one construction, one
    maintenance point, so the two keys' cluster labels cannot drift —
    their equality is pinned in pytest). Returns (n_pairs, cc, labels)
    where cc = (u, component) with component = min doc_id of the
    component, and labels = the driver-side {doc_id: component} dict
    when the pair set fits the driver tier (``n_pairs`` ≤
    SMALL_PLAN_ROWS — the same bounded-collect constant the tier
    already gates on), else None.

    Persist + eagerly prime the verified pair set: the bipartite
    union reads it twice, and without the cache both branches
    re-evaluate the whole LSH-verify DAG (band join + 3-way jaccard
    join) concurrently against a cold cache — measured ~3 s of
    duplicated work at sf0.1. The pair table is tiny (near-dup pairs
    only), so this is the cheapest possible diamond point; it is
    RELEASED before returning, so a long driver run does not
    accumulate dead cached pair tables across keys.

    r14 (VERDICT #2, the flat-8→32-scaling attribution): in the
    driver tier the old path still ran THREE dispatch-bound Spark
    jobs over tiny tables (bipartite edges.distinct persist + prime,
    the toPandas collect of those edges, the label-frame ship-back)
    before the consumers added their own. The pairs are already
    persisted and bounded here, so the driver tier now unions
    directly over the collected PAIR list (no bipartite encoding, no
    second distinct/persist) and hands the label dict to
    ``dedup_clusters`` so its sizes/canonical tail is two dict passes
    instead of a groupBy + join + persist over a few-thousand-row
    frame. Labels are identical: component = min doc_id fixpoint,
    which is unique. At scale n_pairs blows the bound and the
    distributed hash-min loop runs unchanged.

    r14b: the tier gate and the driver-tier collect are ONE action —
    a limit(SMALL_PLAN_ROWS + 1).toPandas() probe of the persisted
    pair table. ≤ B rows back proves completeness (the limit dropped
    nothing), so the old count() prime + separate full toPandas
    collapse into the probe; over the bound, the exact count and the
    distributed tier run exactly as before on the cache the probe
    started populating."""
    from pyspark import StorageLevel
    from pyspark.sql.types import StructField, StructType

    from labelmain_spark.functions.graph import connected_components
    from labelmain_spark.session import SMALL_PLAN_ROWS

    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # r14b: the tier gate and the driver-tier collect share ONE action.
    # limit(B+1).toPandas() returns AT MOST B+1 rows: ≤ B rows back
    # means the limit dropped nothing — the collected frame IS the
    # complete pair set AND its length is the exact count — so the
    # driver tier no longer pays a count() prime plus a second
    # toPandas job over the same cached table. Over the bound, the
    # probe cost one bounded collect (the cache it populated is
    # reused) and the distributed tier proceeds exactly as before,
    # including the exact count.
    pdf = pairs.limit(SMALL_PLAN_ROWS + 1).toPandas()
    if len(pdf) <= SMALL_PLAN_ROWS:
        n_pairs = len(pdf)
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
            a = a.item() if hasattr(a, "item") else a
            b = b.item() if hasattr(b, "item") else b
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        labels = {u: find(u) for u in parent}
        afield = pairs.schema["doc_a"]
        schema = StructType(
            [
                StructField("u", afield.dataType, afield.nullable),
                StructField("component", afield.dataType, True),
            ]
        )
        cc = spark.createDataFrame(list(labels.items()), schema)
        pairs.unpersist()
        return n_pairs, cc, labels
    n_pairs = pairs.count()
    pk = F.concat_ws(":", F.col("doc_a"), F.col("doc_b"))
    edges = pairs.select(F.col("doc_a").alias("u"), pk.alias("p")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), pk.alias("p"))
    )
    cc = connected_components(edges, driver_tier=False)
    pairs.unpersist()
    return n_pairs, cc, None


VAL_BP = 1000  # lowest 10% of the keyspace → validation


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation split: near-duplicate documents
    must land on the SAME side of the split, or the validation set
    silently contains paraphrases of training documents and every
    eval number is contaminated (the reason The Pile, RedPajama and
    FineWeb all split AFTER dedup or by url/cluster key, never by raw
    doc id). A plain per-doc hash split (`split_train_val`) leaks by
    construction: two near-dups hash independently, so ~2·p·(1-p) of
    every near-dup cluster straddles the boundary.

    Rule: each doc's split key is its near-dup CLUSTER id (min doc_id
    of the connected component over verified MinHash-LSH pairs, the
    `dedup_clusters` closure) when it has one, else its own doc_id —
    then the standard hash split on that GROUP key. Docs in no cluster
    keep exactly their `split_train_val` assignment (same hash, same
    salt); clustered docs adopt their canonical member's draw, so the
    split stays ~10% by mass while guaranteeing zero cluster
    straddle (pinned in pytest).

    Scale shape: everything upstream is the audited dedup_clusters
    machinery (banded LSH — no all-pairs; hash-min closure =
    O(diameter) partial-agg rounds on the pair-pruned label table,
    tiny next to the corpus). New cost here is ONE left join of the
    corpus against that bounded label table (doc_id-keyed, co-keyed
    with the scan layout) and a narrow hash map — no extra shuffle of
    the corpus beyond the join, nothing driver-side, and the split is
    retry/partition-stable like every hash sample in
    functions/sampling.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    _, cc, _ = _pair_components(spark, sf_dir)
    labeled = docs.join(
        cc.select(F.col("u").alias("doc_id"), F.col("component")), "doc_id", "left"
    )
    group_key = F.coalesce(F.col("component"), F.col("doc_id"))
    split = F.when(
        F.expr(_sampling_hash_bp_expr("group_key", "spark")) < VAL_BP, F.lit("val")
    ).otherwise(F.lit("train"))
    return (
        labeled.withColumn("group_key", group_key)
        .select("doc_id", "group_key", split.alias("split"))
    )


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH near-dup pipeline
    against EXACT ground truth — the dedup-QA twin of
    ``ann_recall_audit``: before a production run trusts a band
    configuration (MINHASH_K, BANDS, the df-pruned signature index),
    it measures what fraction of true >= threshold pairs the bands
    actually surface. Ground truth is exact and complete: every pair
    with Jaccard >= JACCARD_THRESHOLD shares >= 1 shingle, so the
    UNPRUNED inverted-index self-join generates a lossless candidate
    superset and ``_pair_jaccard`` scores it exactly. The LSH side is
    ``dedup_minhash`` verbatim (already hash-checked), so the audit
    nests two checked procedures under one oracle. Counts and basis
    points only — no float surface (the 4-dp jaccard rounding lives
    inside the shared sub-plans).

    Precision is 10000 bp BY CONSTRUCTION (dedup_minhash verifies
    candidates with the same exact Jaccard before emitting) — the
    audit asserts that reading stays true; recall is the lever number:
    misses are band-collision misses plus pairs whose overlap the
    df-pruned signature index cannot see.

    The audit also scores a COUNTERFACTUAL banding — the same
    signatures split 2×6 instead of the production 4×3 — because that
    is how the audit is used: comparing configurations. The 4×3 config
    reads 10000 bp recall on this corpus (a certification, not a
    vacuous row: the 2×6 column reads 9200/9765 bp at sf0.01/0.1 —
    the audit visibly discriminates, and the gap IS the reason the
    production config carries 4 bands: P(collide) at J=0.55 is 0.43
    under 4×3 vs 0.055 under 2×6, compounding over the pair set).

    Scale shape: the ground-truth join is inherently quadratic in hot
    shingles — THE reason LSH exists — so at corpus scale this audit
    runs over a hash-sampled slice (the same sampling-family predicate
    every *_audit consumer composes upstream); the audit's own joins
    past the index are pair-keyed scalar hash joins, and the output is
    one row.

    Cache lifetime (advisor r12): true_pairs / lsh stay
    persisted after the returned aggregate materializes (unpersisting
    inside this function would evict them before the caller's action
    runs). Long-lived sessions invoking the audit repeatedly should
    `spark.catalog.clearCache()` between invocations — the bench and
    the test suite already do."""
    n_docs = table_row_count(spark, sf_dir, "documents")
    # prime=False: dedup_minhash's signature prime below is the first
    # action on e and fills the cache inside its hot-set build stage.
    e = _exploded_shingles(spark, sf_dir, prime=False)
    ea = e.select(F.col("doc_id").alias("doc_a"), "s")
    eb = e.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    # Ground truth, FUSED (r13, guide §2.3/§2.4): the unpruned
    # inverted-index self-join emits each co-occurring pair once PER
    # SHARED SHINGLE, so count(*) per pair over that join IS |A∩B| —
    # the r12 form discarded that information (distinct), then
    # re-joined the full postings table twice via _pair_jaccard to
    # recount it. Partial (map-side) aggregation collapses the pair
    # stream before the exchange; two full-postings joins and the
    # pair-distinct shuffle disappear from the plan. The jaccard
    # expression is _pair_jaccard's verbatim, so the emitted pair set
    # is identical.
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        ea.join(
            eb,
            (F.col("s") == F.col("s_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    true_pairs = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            stable_round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            )
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
        .persist()
    )
    lsh = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").persist()
    hits = true_pairs.join(lsh, ["doc_a", "doc_b"])
    sig = minhash_signatures(_pruned_index(e, _max_df(n_docs)))
    # r14 (guide §2.4): the COUNTERFACTUAL banding's hit set derives
    # from the truth table the audit already pays for — for any band
    # candidate pair, J_full >= threshold IFF the pair is in
    # true_pairs (the unpruned self-join truth is COMPLETE over
    # J >= threshold, and _pair_jaccard scored the identical full-set
    # jaccard), so hits_b2 = band2_candidates ∩ true_pairs. The r13
    # form re-ran the whole _pair_jaccard verify chain (pair persist +
    # prime + 3 joins) only to intersect its output with true_pairs
    # again; one LEFT SEMI against the cached truth replaces it.
    # n_hits_b2 is bit-identical by the equivalence above. The
    # PRODUCTION side (lsh/hits) deliberately stays dedup_minhash
    # verbatim — the audit certifies the real pipeline, so its
    # precision row must be measured, not derived.
    hits_b2 = _band_pairs(sig, AUDIT_ALT_BANDS).join(
        true_pairs, ["doc_a", "doc_b"], "left_semi"
    )
    return (
        true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh")))
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
        .crossJoin(hits_b2.agg(F.count(F.lit(1)).cast("long").alias("n_hits_b2")))
        .select(
            "n_true",
            "n_lsh",
            "n_hits",
            F.expr(
                "CASE WHEN n_true = 0 THEN 10000"
                " ELSE n_hits * 10000 DIV n_true END"
            ).cast("long").alias("recall_bp"),
            F.expr(
                "CASE WHEN n_lsh = 0 THEN 10000"
                " ELSE n_hits * 10000 DIV n_lsh END"
            ).cast("long").alias("precision_bp"),
            F.expr(
                "CASE WHEN n_true = 0 THEN 10000"
                " ELSE n_hits_b2 * 10000 DIV n_true END"
            ).cast("long").alias("recall_b2_bp"),
        )
    )


AUDIT_ALT_BANDS = 2  # counterfactual banding (2×6) the audit scores


PREFIX_W = 4  # blocking prefix width (tokens); the skew/recall lever
PREFIX_TWIN_MOD = 13  # 1/PREFIX_TWIN_MOD of long docs get a truncated twin
PREFIX_TWIN_BASE = 1_000_000_000
PREFIX_MIN_TOKENS = 8  # twin eligibility: the half-doc must clear PREFIX_W


def _prefix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table plus deterministic truncated re-crawl
    twins: every (doc_id % PREFIX_TWIN_MOD = 0) doc of >= 8 tokens
    re-appears as (doc_id + PREFIX_TWIN_BASE, first half of its
    tokens) — the crawl artifact dedup_prefix exists to catch
    (content-length-capped WARC captures, paywall teasers, RSS
    summaries of full pages). Injected row-locally from doc_id (the
    c4_line_filter fixture convention) so the operator fires on real
    rows in BOTH engines; one scan, a 2-element array explode, no
    second pass over documents."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    return (
        docs.select(
            F.explode(
                F.expr(
                    f"""array(
                    struct(doc_id, text),
                    CASE WHEN doc_id % {PREFIX_TWIN_MOD} = 0
                              AND size(split(text, ' ')) >= {PREFIX_MIN_TOKENS}
                         THEN struct(
                             doc_id + {PREFIX_TWIN_BASE} AS doc_id,
                             array_join(slice(split(text, ' '), 1,
                                              size(split(text, ' ')) DIV 2), ' ') AS text)
                         ELSE NULL END)"""
                )
            ).alias("r")
        )
        .filter(F.col("r").isNotNull())
        .select("r.doc_id", "r.text")
    )


def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection — a doc is a PREFIX DUP when a
    strictly longer doc exists whose text starts with it at a token
    boundary (other.text startswith self.text || ' '). The crawl
    failure mode exact dedup misses: re-fetches cut short by
    content-length caps, teaser/summary pages, partial API pages —
    the short capture carries no new tokens and training on both
    double-counts the shared prefix. Exact-equal texts are NOT
    flagged (that is ``dedup_exact``'s job; strict > keeps the two
    keys disjoint).

    Shape: block on the md5 of the first PREFIX_W tokens — a prefix
    of length >= PREFIX_W shares its victim's first PREFIX_W tokens
    by construction, so blocking loses nothing (docs under PREFIX_W
    tokens are ineligible, documented) — then one digest-keyed
    equi-join verifies startswith via substr equality. The shuffle
    carries 16-byte block digests + the candidate texts; per-block
    cost is quadratic, so the skew lever at 100 TB is W itself
    (boilerplate openings -> raise W; recall is unchanged for dups
    longer than W). That quadratic term is an open exposure on a
    corpus with one hot block: PERF.md §"Hostile-block A/B for the
    two prefix-dup paths" measured this join at 22.0 s on a
    32k-doc block, 25.9× slower than a successor-window scan — a
    scan that flags prefixes but cannot name the ``dup_of`` witness.

    Output: one row per augmented-corpus doc (doc_id, n_tokens,
    is_prefix_dup, dup_of) with dup_of = the smallest strictly-longer
    superstring doc's id, -1 when none."""
    return prefix_dups(_prefix_corpus(spark, sf_dir))


def _prefix_keyed(df: DataFrame) -> DataFrame:
    """(doc_id, text, n_tokens, block) with the first-PREFIX_W-token
    blocking digest — shared by the join path and the incremental
    stream probe. Rows under PREFIX_W tokens
    are already filtered (ineligible by the blocking contract)."""
    toks = F.split(F.col("text"), " ")
    return df.select(
        "doc_id",
        "text",
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.slice(toks, 1, PREFIX_W), " ")).alias("block"),
    ).filter(F.col("n_tokens") >= PREFIX_W)


def prefix_dups(aug: DataFrame) -> DataFrame:
    """The dedup_prefix detection core over any (doc_id, text) frame
    (text non-null) — separated so the boundary/strictness rules are
    unit-testable on engineered frames."""
    keyed = _prefix_keyed(aug)
    hits = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("b.n_tokens") > F.col("a.n_tokens"))
            & (F.expr("substr(b.text, 1, length(a.text) + 1) = concat(a.text, ' ')")),
            "inner",
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.min(F.col("b.doc_id")).cast("long").alias("dup_of"))
    )
    return (
        aug.select(
            "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("dup_of").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
                "is_prefix_dup"
            ),
            F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
        )
    )


CONTAIN_T = 0.9  # containment threshold (common / smaller set)


def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle CONTAINMENT —
    C(A,B) = |A∩B| / min(|A|,|B|) — the measure that catches what
    Jaccard structurally cannot: a short document embedded in a much
    longer one (quotes, aggregator pages, truncated re-crawls) has
    containment ≈ 1 but Jaccard ≈ |short|/|long|, under any sane
    threshold once the size ratio passes ~2×. Runs over the
    ``_prefix_corpus`` augmented view (the truncation twins are
    exactly this pair class), and the fixture DISCRIMINATES: 68
    pairs at containment ≥ 0.9 at sf0.01, of which 42 sit BELOW the
    Jaccard-0.5 gate — flagged here, invisible to the whole
    Jaccard-based family. Output carries both scores so a consumer
    sees which family caught each pair.

    Shape: candidate generation is PREFIX FILTERING (the AllPairs /
    PPJoin family, Bayardo-Ma-Srikant 2007, public algorithm): a pair
    with containment >= t over its smaller set S can miss at most
    (1-t)·|S| of S's shingles, so ANY floor((1-t)·|S|)+1-subset of S
    — in particular S's globally RAREST shingles — must intersect the
    other doc. Candidates therefore join each doc's rarest-(1-t)
    prefix postings against the full index, never full×full: hot
    shingles almost never appear in a prefix (they are by definition
    common), so the per-shingle candidate product is
    |prefix postings| × |full postings| with a structurally tiny left
    factor — the lever that holds where a df-threshold prune does not
    (a uniform-df synthetic corpus defeats the threshold entirely;
    measured in PERF.md). Verification counts stay exact on the
    unpruned index via three scalar-keyed hash joins; the filter is
    LOSSLESS for containment >= t, and the oracle's candidates are the
    naive unpruned self-join (lossless by construction — the
    lsh_recall_audit ground-truth shape), so the value hash pins the
    pruned plan against a provably complete one.

    r13 plan (guide §1/§2.4/§5): postings are built ONCE via
    `_exploded_shingles_of` (persisted diamond — the r12 inline form
    re-scanned parquet 16× across its five downstream consumers and
    re-tokenized inside the transform lambda, O(len²) per doc), and
    the prefix selection is a min-k struct aggregate per doc —
    `slice(array_sort(collect_list(struct(_df, s))), 1,
    floor((1-t)*cnt)+1)` — one hash aggregate on the doc_id exchange,
    replacing a row_number() window that shuffle-sorted the ENTIRE
    df-joined postings table to pick ~(1-t)·|S|+1 rows per doc."""
    aug = _prefix_corpus(spark, sf_dir)
    e = _exploded_shingles_of(aug)
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_tbl = e.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    prefix = (
        e.join(df_tbl, "s")
        .groupBy("doc_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("_df", "s"))),
                F.lit(1),
                (F.floor(F.lit(1.0 - CONTAIN_T) * F.count(F.lit(1))) + 1).cast(
                    "int"
                ),
            ).alias("pre")
        )
        .select("doc_id", F.explode(F.col("pre.s")).alias("s"))
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), "s")
    b = e.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    cand = (
        a.join(b, (F.col("s") == F.col("s_b")) & (F.col("doc_a") != F.col("doc_b")))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    ea = e.select(F.col("doc_id").alias("doc_a"), "s")
    eb = e.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        ea.join(cand, "doc_a")
        .join(eb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable_round(
                F.col("common").cast("double") / F.least("sz_a", "sz_b"), 4
            ).alias("containment"),
            stable_round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
    )


def _sql_shingles(src: str = "text") -> str:
    return f"""
        list_distinct(CASE WHEN len(string_split({src}, ' ')) >= 3
            THEN list_transform(range(1, len(string_split({src}, ' ')) - 1),
                 i -> string_split({src}, ' ')[i] || ' ' ||
                      string_split({src}, ' ')[i+1] || ' ' ||
                      string_split({src}, ' ')[i+2])
            ELSE [{src}] END)
    """


_SIG_COLS = ",\n".join(
    f"min(substr(dd, {i + 1}, 16)) AS h{i}" for i in range(MINHASH_K)
)
def _sql_band_selects(n_bands: int) -> str:
    """SQL twin of :func:`_band_pairs`' banding — parametrized on band
    count for the recall audit's counterfactual configuration."""
    rpb = MINHASH_K // n_bands
    return "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {concat} AS sig FROM sig".format(
            b=b,
            concat=" || ".join(f"h{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(n_bands)
    )


_BAND_SELECTS = _sql_band_selects(BANDS)

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_cross_source": dedup_cross_source,
    "dedup_minhash": dedup_minhash,
    "ngram_jaccard": ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_paragraph": dedup_paragraph,
    "boilerplate_strip": boilerplate_strip,
    "dedup_clusters": dedup_clusters,
    "dedup_prefix": dedup_prefix,
    "containment_dedup": containment_dedup,
    "lsh_recall_audit": lsh_recall_audit,
    "split_leakage_safe": split_leakage_safe,
    "dedup_incremental": dedup_incremental,
    "corpus_delta": corpus_delta,
    "dedup_incremental_near": dedup_incremental_near,
}

# SimHash oracle: DuckDB reproduces the 60-bit bit-vote exactly —
# CAST('0x'||hex AS BIGINT) matches Spark's conv(hex,16,10) for the
# 15-hex-digit (60-bit, sign-safe) token hash, and bit_count/xor/>>
# cover the vote, pack and Hamming steps. (This key was rows-only in
# r1-r3 under the assumption DuckDB lacked the bit surface; it does
# not.)
_SIMHASH_VOTES = ",\n".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_PACK = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE CAST(0 AS BIGINT) END)"
    for b in range(SIMHASH_BITS)
)

# Shared paragraph explode for dedup_paragraph / boilerplate_strip.
_SQL_PARAS = f"""
        WITH d AS (
            SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
            FROM documents
        ), p AS (
            SELECT doc_id, u.pos AS pos, u.para AS para FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range((len(toks) + {PARA_W - 1}) // {PARA_W}),
                           i -> {{'pos': i,
                                 'para': array_to_string(list_slice(
                                     toks, i * {PARA_W} + 1, i * {PARA_W} + {PARA_W}), ' ')}}
                       )) AS u
                FROM d
            )
        )"""

# Shared by the dedup_minhash oracle and (as a CTE) dedup_clusters'.
_MINHASH_PAIRS_SQL = f"""
        WITH sh AS (
            SELECT doc_id, {_sql_shingles()} AS shingles FROM documents
        ), e AS (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ), keep AS (
            SELECT s FROM (SELECT s, COUNT(*) AS df FROM e GROUP BY s)
            WHERE df <= {_sql_max_df('sh')}
        ), ed AS (
            SELECT doc_id, md5(s) || md5(s) AS dd FROM e JOIN keep USING (s)
        ), sig AS (
            SELECT doc_id, {_SIG_COLS} FROM ed GROUP BY doc_id
        ), bands AS (
            {_BAND_SELECTS}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               (FLOOR((CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                     / len(list_distinct(x.shingles || y.shingles))) * 10000.0 + 0.5) / 10000.0) AS jaccard
        FROM cand
        JOIN sh x ON x.doc_id = doc_a
        JOIN sh y ON y.doc_id = doc_b
        WHERE (FLOOR((CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                    / len(list_distinct(x.shingles || y.shingles))) * 10000.0 + 0.5) / 10000.0) >= {JACCARD_THRESHOLD}
"""

def _sql_incr_hb() -> str:
    from labelmain_spark.functions.sampling import _hash_bp_expr

    return _hash_bp_expr("doc_id", "duck", salt="incr:")


ORACLE = {
    # same twin injection, same blocking digest, same substr verify —
    # the blocked join replayed naively
    "dedup_prefix": f"""
        WITH base AS (
            SELECT doc_id, coalesce(text, '') AS text FROM documents
        ), aug AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + {PREFIX_TWIN_BASE} AS doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1,
                       len(string_split(text, ' ')) // 2), ' ') AS text
            FROM base
            WHERE doc_id % {PREFIX_TWIN_MOD} = 0
              AND len(string_split(text, ' ')) >= {PREFIX_MIN_TOKENS}
        ), keyed AS (
            SELECT doc_id, text,
                   len(string_split(text, ' ')) AS n_tokens,
                   md5(array_to_string(list_slice(string_split(text, ' '), 1,
                       {PREFIX_W}), ' ')) AS block
            FROM aug
            WHERE len(string_split(text, ' ')) >= {PREFIX_W}
        ), hits AS (
            SELECT a.doc_id AS doc_id, MIN(b.doc_id) AS dup_of
            FROM keyed a JOIN keyed b
              ON a.block = b.block AND b.n_tokens > a.n_tokens
             AND substr(b.text, 1, length(a.text) + 1) = a.text || ' '
            GROUP BY a.doc_id
        )
        SELECT g.doc_id,
               CAST(len(string_split(g.text, ' ')) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN h.dup_of IS NOT NULL THEN 1 ELSE 0 END
                    AS INTEGER) AS is_prefix_dup,
               CAST(coalesce(h.dup_of, -1) AS BIGINT) AS dup_of
        FROM aug g LEFT JOIN hits h USING (doc_id)
    """,
    "dedup_exact": """
        SELECT sha256(lower(trim(text))) AS h,
               MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
        FROM documents GROUP BY sha256(lower(trim(text)))
    """,
    # survivor via ROW_NUMBER over (tier, doc_id) — independent path
    # to the same min-struct winner
    "dedup_cross_source": f"""
        WITH d AS (
            SELECT sha256(lower(trim(text))) AS h, doc_id,
                   CAST({_TIER_SQL} AS INTEGER) AS tier
            FROM documents
        ), ranked AS (
            SELECT h, doc_id, tier,
                   ROW_NUMBER() OVER (
                       PARTITION BY h ORDER BY tier, doc_id
                   ) AS rn,
                   COUNT(DISTINCT tier) OVER (PARTITION BY h) AS tier_spread,
                   COUNT(*) OVER (PARTITION BY h) AS n_dups
            FROM d
        )
        SELECT h, doc_id AS keep_doc_id, tier AS keep_tier,
               CAST(tier_spread AS INTEGER) AS tier_spread,
               CAST(n_dups AS BIGINT) AS n_dups
        FROM ranked WHERE rn = 1
    """,
    "dedup_incremental": """
        WITH d AS (
            SELECT doc_id, sha256(lower(trim(text))) AS h,
                   (((instr('0123456789abcdef', substr(md5(concat('incr:', CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 4096 + (instr('0123456789abcdef', substr(md5(concat('incr:', CAST(doc_id AS VARCHAR))), 2, 1)) - 1) * 256 + (instr('0123456789abcdef', substr(md5(concat('incr:', CAST(doc_id AS VARCHAR))), 3, 1)) - 1) * 16 + (instr('0123456789abcdef', substr(md5(concat('incr:', CAST(doc_id AS VARCHAR))), 4, 1)) - 1) * 1) % 10000) AS hb
            FROM documents
        ),
        n AS (SELECT doc_id, h FROM d WHERE hb < 1000),
        hist AS (SELECT DISTINCT h FROM d WHERE hb >= 1000),
        f AS (SELECT h, MIN(doc_id) AS first_doc FROM n GROUP BY h)
        SELECT n.doc_id, n.h,
               CASE WHEN hist.h IS NOT NULL THEN 'dup_of_history'
                    WHEN n.doc_id <> f.first_doc THEN 'dup_in_batch'
                    ELSE 'new' END AS status
        FROM n LEFT JOIN hist ON n.h = hist.h
        JOIN f ON n.h = f.h
    """,
    "dedup_minhash": _MINHASH_PAIRS_SQL,
    # same augmentation, NAIVE UNPRUNED candidates (lossless by
    # construction, the lsh_recall_audit ground-truth shape — the r12
    # df-pruned candidates could in principle miss a true pair whose
    # shared shingles are all hot, so parity against Spark's lossless
    # AllPairs prefix filter held only per-fixture; advisor r12),
    # same exact counts; containment = common / least(sz)
    "containment_dedup": f"""
        WITH base AS (
            SELECT doc_id, coalesce(text, '') AS text FROM documents
        ), aug AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + {PREFIX_TWIN_BASE} AS doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1,
                       len(string_split(text, ' ')) // 2), ' ') AS text
            FROM base
            WHERE doc_id % {PREFIX_TWIN_MOD} = 0
              AND len(string_split(text, ' ')) >= {PREFIX_MIN_TOKENS}
        ), sh AS (
            SELECT doc_id, {_sql_shingles()} AS shingles FROM aug
        ), e AS (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        ), sz AS (
            SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id
        ), com AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS common
            FROM cand c
            JOIN e ea ON ea.doc_id = c.doc_a
            JOIN e eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b, containment, jaccard FROM (
            SELECT com.doc_a, com.doc_b,
                   FLOOR((CAST(common AS DOUBLE) / least(sa.sz, sb.sz))
                         * 10000.0 + 0.5) / 10000.0 AS containment,
                   FLOOR((CAST(common AS DOUBLE)
                        / (sa.sz + sb.sz - common)) * 10000.0 + 0.5)
                       / 10000.0 AS jaccard
            FROM com
            JOIN sz sa ON sa.doc_id = com.doc_a
            JOIN sz sb ON sb.doc_id = com.doc_b
        ) WHERE containment >= {CONTAIN_T}
    """,
    # ground truth = lossless unpruned-index candidates scored exactly;
    # LSH side nests the checked dedup_minhash twin verbatim
    "lsh_recall_audit": f"""
        WITH sh AS (
            SELECT doc_id, {_sql_shingles()} AS shingles FROM documents
        ), e AS (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        ), sz AS (
            SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id
        ), com AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS common
            FROM cand c
            JOIN e ea ON ea.doc_id = c.doc_a
            JOIN e eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
            GROUP BY c.doc_a, c.doc_b
        ), truep AS (
            SELECT doc_a, doc_b FROM (
                SELECT com.doc_a, com.doc_b,
                       FLOOR((CAST(common AS DOUBLE)
                            / (sa.sz + sb.sz - common)) * 10000.0 + 0.5)
                           / 10000.0 AS jaccard
                FROM com
                JOIN sz sa ON sa.doc_id = com.doc_a
                JOIN sz sb ON sb.doc_id = com.doc_b
            ) WHERE jaccard >= {JACCARD_THRESHOLD}
        ), lsh AS (
            SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
        ), keep AS (
            SELECT s FROM (SELECT s, COUNT(*) AS df FROM e GROUP BY s)
            WHERE df <= {_sql_max_df('sh')}
        ), ed AS (
            SELECT doc_id, md5(s) || md5(s) AS dd FROM e JOIN keep USING (s)
        ), sig AS (
            SELECT doc_id, {_SIG_COLS} FROM ed GROUP BY doc_id
        ), bands2 AS (
            {_sql_band_selects(2)}
        ), cand2 AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands2 a JOIN bands2 b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ), lsh2 AS (
            SELECT doc_a, doc_b FROM cand2
            JOIN sh x ON x.doc_id = doc_a
            JOIN sh y ON y.doc_id = doc_b
            WHERE (FLOOR((CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                        / len(list_distinct(x.shingles || y.shingles))) * 10000.0 + 0.5)
                   / 10000.0) >= {JACCARD_THRESHOLD}
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM truep) AS n_true,
               (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
               (SELECT CAST(count(*) AS BIGINT)
                  FROM truep JOIN lsh USING (doc_a, doc_b)) AS n_hits,
               CAST(CASE WHEN (SELECT count(*) FROM truep) = 0 THEN 10000
                    ELSE (SELECT count(*) FROM truep JOIN lsh USING (doc_a, doc_b))
                         * 10000 // (SELECT count(*) FROM truep) END
                    AS BIGINT) AS recall_bp,
               CAST(CASE WHEN (SELECT count(*) FROM lsh) = 0 THEN 10000
                    ELSE (SELECT count(*) FROM truep JOIN lsh USING (doc_a, doc_b))
                         * 10000 // (SELECT count(*) FROM lsh) END
                    AS BIGINT) AS precision_bp,
               CAST(CASE WHEN (SELECT count(*) FROM truep) = 0 THEN 10000
                    ELSE (SELECT count(*) FROM truep JOIN lsh2 USING (doc_a, doc_b))
                         * 10000 // (SELECT count(*) FROM truep) END
                    AS BIGINT) AS recall_b2_bp
    """,
    "corpus_delta": f"""
        WITH prev AS (
            SELECT doc_id, sha256(lower(trim(text))) AS old_digest
            FROM documents
            WHERE {_sampling_hash_bp("doc_id", "duck", "snapA:")} < {DELTA_BP}
        ), cur AS (
            SELECT doc_id,
                   sha256(lower(trim(
                       CASE WHEN {_sampling_hash_bp("doc_id", "duck", "mut:")} < {DELTA_MUT_BP}
                            THEN text || ' rev2' ELSE text END
                   ))) AS new_digest
            FROM documents
            WHERE {_sampling_hash_bp("doc_id", "duck", "snapB:")} < {DELTA_BP}
        )
        SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id,
               CASE WHEN prev.doc_id IS NULL THEN 'added'
                    WHEN cur.doc_id IS NULL THEN 'removed'
                    WHEN old_digest = new_digest THEN 'unchanged'
                    ELSE 'changed' END AS status,
               COALESCE(old_digest, '') AS old_digest,
               COALESCE(new_digest, '') AS new_digest
        FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
    """,
    "dedup_incremental_near": f"""
        WITH sh AS (
            SELECT doc_id, {_sql_shingles()} AS shingles FROM documents
        ), e AS (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ), keep AS (
            SELECT s FROM (SELECT s, COUNT(*) AS df FROM e GROUP BY s)
            WHERE df <= {_sql_max_df('sh')}
        ), ed AS (
            SELECT doc_id, md5(s) || md5(s) AS dd FROM e JOIN keep USING (s)
        ), sig AS (
            SELECT doc_id, {_SIG_COLS} FROM ed GROUP BY doc_id
        ), bands AS (
            {_BAND_SELECTS}
        ), hbv AS (
            SELECT doc_id,
                   {_sql_incr_hb()} AS hb
            FROM documents
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN hbv ha ON a.doc_id = ha.doc_id
            JOIN bands b ON a.band = b.band AND a.sig = b.sig
            JOIN hbv hz ON b.doc_id = hz.doc_id
            WHERE ha.hb < {INCR_NEW_BP} AND hz.hb >= {INCR_NEW_BP}
        ), jac AS (
            SELECT doc_a, doc_b,
                   (FLOOR((CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                         / len(list_distinct(x.shingles || y.shingles))) * 10000.0 + 0.5) / 10000.0) AS jaccard
            FROM cand
            JOIN sh x ON x.doc_id = doc_a
            JOIN sh y ON y.doc_id = doc_b
            WHERE (FLOOR((CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                        / len(list_distinct(x.shingles || y.shingles))) * 10000.0 + 0.5) / 10000.0) >= {JACCARD_THRESHOLD}
        ), best AS (
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT doc_a, doc_b, jaccard,
                       ROW_NUMBER() OVER (
                           PARTITION BY doc_a ORDER BY jaccard DESC, doc_b ASC
                       ) AS rn
                FROM jac
            ) WHERE rn = 1
        )
        SELECT d.doc_id,
               CASE WHEN best.doc_a IS NOT NULL
                    THEN 'near_dup_of_history' ELSE 'new' END AS status,
               best.doc_b AS match_doc,
               best.jaccard AS jaccard
        FROM (SELECT doc_id FROM hbv WHERE hb < {INCR_NEW_BP}) d
        LEFT JOIN best ON d.doc_id = best.doc_a
    """,
    "dedup_simhash": f"""
        WITH tk AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) AS h
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents
            ) t
        ), votes AS (
            SELECT doc_id, {_SIMHASH_VOTES}
            FROM tk GROUP BY doc_id
        ), sig AS (
            SELECT doc_id, {_SIMHASH_PACK} AS simhash FROM votes
        ), b AS (
            SELECT doc_id, simhash, simhash >> {SIMHASH_BITS - 16} AS bucket
            FROM sig
        )
        SELECT a.doc_id AS doc_a, z.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, z.simhash)) AS INTEGER) AS hamming
        FROM b a JOIN b z
          ON a.bucket = z.bucket AND a.doc_id < z.doc_id
        WHERE bit_count(xor(a.simhash, z.simhash)) <= 6
    """,
    "dedup_paragraph": f"""
        {_SQL_PARAS}, kept AS (
            SELECT doc_id, pos, para FROM (
                SELECT doc_id, pos, para,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(para) ORDER BY doc_id, pos
                       ) AS rn
                FROM p
            ) WHERE rn = 1
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(para, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, COUNT(*) AS n_para FROM p GROUP BY doc_id
        )
        SELECT totals.doc_id,
               CAST(totals.n_para AS BIGINT) AS n_para,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(a.clean_text, '') AS clean_text
        FROM totals LEFT JOIN agg a ON a.doc_id = totals.doc_id
    """,
    "boilerplate_strip": f"""
        {_SQL_PARAS}, hot AS (
            SELECT md5(para) AS h FROM p
            GROUP BY md5(para) HAVING COUNT(DISTINCT doc_id) > {BOILER_DF}
        ), kept AS (
            SELECT doc_id, pos, para FROM p
            WHERE md5(para) NOT IN (SELECT h FROM hot)
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(para, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, COUNT(*) AS n_para FROM p GROUP BY doc_id
        )
        SELECT totals.doc_id,
               CAST(totals.n_para AS BIGINT) AS n_para,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(a.clean_text, '') AS clean_text
        FROM totals LEFT JOIN agg a ON a.doc_id = totals.doc_id
    """,
    "dedup_clusters": f"""
        WITH pairs AS ({_MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        comp AS (
            WITH RECURSIVE r(u, comp) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, r.comp FROM edges e JOIN r ON r.u = e.v
            )
            SELECT u, MIN(comp) AS cluster_id FROM r GROUP BY u
        ),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
        )
        SELECT comp.u AS doc_id, comp.cluster_id, sizes.cluster_size,
               (comp.u = comp.cluster_id) AS is_canonical
        FROM comp JOIN sizes USING (cluster_id)
    """,
    # the dedup_clusters closure + the sampling family's hash split on
    # the GROUP key (same salt as split_train_val, so unclustered docs
    # keep their plain-split assignment verbatim)
    "split_leakage_safe": f"""
        WITH pairs AS ({_MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        comp AS (
            WITH RECURSIVE r(u, comp) AS (
                SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT e.u, r.comp FROM edges e JOIN r ON r.u = e.v
            )
            SELECT u, MIN(comp) AS component FROM r GROUP BY u
        ),
        keyed AS (
            SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
            FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
        )
        SELECT doc_id, group_key,
               CASE WHEN {_sampling_hash_bp_expr("group_key", "duck")} < {VAL_BP}
                    THEN 'val' ELSE 'train' END AS split
        FROM keyed
    """,
    "ngram_jaccard": f"""
        WITH d AS (
            SELECT doc_id, lang, source,
                   list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
                       THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                            i -> string_split(text, ' ')[i] || ' ' ||
                                 string_split(text, ' ')[i+1] || ' ' ||
                                 string_split(text, ' ')[i+2])
                       ELSE [text] END) AS sh
            FROM documents
        ), e AS (
            SELECT doc_id, lang, source, unnest(sh) AS s FROM d
        ), keep AS (
            SELECT s FROM (SELECT s, COUNT(*) AS df FROM e GROUP BY s)
            WHERE df <= {_sql_max_df('d')}
        ), ep AS (
            SELECT e.* FROM e JOIN keep USING (s)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.lang, a.source
            FROM ep a JOIN ep b
              ON a.s = b.s AND a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, cand.lang, cand.source,
               (FLOOR((CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                     / len(list_distinct(x.sh || y.sh))) * 10000.0 + 0.5) / 10000.0) AS jaccard
        FROM cand
        JOIN d x ON x.doc_id = cand.doc_a
        JOIN d y ON y.doc_id = cand.doc_b
        WHERE (FLOOR((CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                    / len(list_distinct(x.sh || y.sh))) * 10000.0 + 0.5) / 10000.0) >= 0.3
    """,
}
