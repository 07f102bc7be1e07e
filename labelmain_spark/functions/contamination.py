"""Benchmark-contamination check — the decontamination pass every
LLM training pipeline runs before trusting an eval number (GPT-3
appendix C / PaLM style): an eval document is contaminated when a high
fraction of its n-grams also occur anywhere in the training corpus.

Here the held-out "benchmark" is the deterministic hash split of the
documents table (same portable md5-basis-point predicate as
functions/sampling.py, so the split itself is reproducible in the
oracle), train = everything else, n-grams = the word-3-gram shingles
shared with the dedup family.

Scale shape (the only viable one at 100 TB):
- shingles come from the ONE persisted exploded-shingle table the
  dedup diamond already materializes — zero extra shingling;
- the train n-gram set is `distinct` over postings (shuffle keyed by
  shingle — uniform, boilerplate hotness collapses in the partial
  aggregate);
- membership is a LEFT SEMI join on the shingle key — no counters, no
  arrays, the probe set never materializes per pair;
- per-eval-doc totals and hits are two keyed counts.
Nothing is ever quadratic; every shuffle key is a scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.functions.dedup import _exploded_shingles, _sql_shingles
from labelmain_spark.functions.sampling import _hash_bp_expr
from labelmain_spark.operators.parity import sql_stable_round, stable_round
from labelmain_spark.session import track_persist

CONTAM_EVAL_BP = 500  # lowest 5% of the doc_id hash keyspace = eval set
CONTAM_THRESHOLD = 0.5  # overlap ratio at/above which a doc is flagged


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval-document n-gram overlap against the train corpus:
    (doc_id, n_shingles, n_overlap, overlap_ratio, contaminated).

    r14b A/B-REJECTED alternative (recorded per the round
    discipline): inverting the membership direction — distinct the
    EVAL shingles (benchmark-bounded), semi-filter train map-side,
    probe the tiny intersection — removes the train-side distinct
    exchange and is the right shape when train_sh cannot broadcast.
    Measured at sf0.1 (adjacent 5-pass medians, steady tail): old
    ~1.38-1.50 s vs new ~1.58-1.99 s — HERE train_sh (distinct
    shingles ≪ 64 MB) already broadcasts, so the old plan is one
    s-keyed exchange + one broadcast, while the inversion pays two
    s-keyed exchanges + three broadcast builds of extra dispatch.
    Kept the measured-faster shape; the inversion is the documented
    fallback for corpora whose distinct-shingle set outgrows the
    broadcast threshold (plans/r14/contamination_check_before.txt is
    the kept plan)."""
    e = _exploded_shingles(spark, sf_dir)
    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP
    ev = e.filter(is_eval)
    train_sh = e.filter(~is_eval).select("s").distinct()

    totals = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        ev.join(train_sh, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_ov = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
    ratio = stable_round(n_ov.cast("double") / F.col("n_shingles"), 4)
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_ov.alias("n_overlap"),
            ratio.alias("overlap_ratio"),
            (ratio >= CONTAM_THRESHOLD).cast("int").alias("contaminated"),
        )
    )


def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source contamination REPORT — the table a data lead
    actually reads before a release ("which ingest sources leak the
    eval suite, and how badly"): for every train source, the doc
    count, how many docs contain ≥1 benchmark shingle, the total
    leaked-shingle volume, and the contaminated-doc rate. The per-doc
    keys (contamination_check / decontaminate_spans) are the
    treatment; this is the triage view that decides which source gets
    it.

    Scale shape: the shared persisted shingle explode (carrying
    source) splits eval/train by the hash predicate; membership is
    one join against the DISTINCT eval shingle set — bounded by the
    BENCHMARK, not the corpus (the decontamination-family argument,
    AQE picks broadcast when it fits); both rollups ((source, doc)
    then (source)) are algebraic partial aggs. One corpus pass."""
    e = _exploded_shingles(spark, sf_dir, "source")
    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP
    ev_sh = e.filter(is_eval).select("s").distinct().withColumn("hit", F.lit(1))
    tr = e.filter(~is_eval)
    per_doc = (
        tr.join(ev_sh, "s", "left")
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_hits") > 0).cast("long")).cast("long").alias("n_contaminated"),
        F.sum("n_hits").cast("long").alias("total_overlap"),
        stable_round(
            F.sum((F.col("n_hits") > 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("pct_contaminated"),
    )


DECON_N = 8  # benchmark n-gram length; power of two → clean doubling


def benchmark_ngrams(bench_docs: DataFrame) -> DataFrame:
    """The benchmark's distinct DECON_N-gram digest set (gram_md5) —
    the model artifact of decontamination. Built once from the eval
    suite and probed by every batch (and every micro-batch of the
    streaming twin); its size is bounded by the BENCHMARK, not the
    corpus. r13: identity switched from the dual-lane xxhash64
    doubling chain to the fused in-scan md5 span map — the form the
    duplicate-span family already measured 3.5× cheaper at ×100
    (substrings._md5_spans history: the doubling chain's lead()
    windows force a full exchange+sort of every token row, which is
    exactly what the probe side pays per batch). md5 of the actual
    n-gram text is the ORACLE's own group identity, so the two-engine
    independence argument only gets stronger."""
    from labelmain_spark.functions.substrings import _md5_span_map

    return (
        _md5_span_map(
            bench_docs.select("doc_id", F.split(F.col("text"), " ").alias("toks")),
            DECON_N,
        )
        .select("gram_md5")
        .distinct()
    )


def decontaminate_docs(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Core span cleaner: cut every DECON_N-gram of ``docs`` whose
    md5 appears in ``bench``, merge overlapping cuts, reassemble in
    position order. Per-document given the benchmark set — no
    cross-document state — which is what makes the streaming twin
    (streaming/incremental.py::run_decontaminate_sink) batch-exact.
    Output: (doc_id, n_tokens, n_removed, clean_text) per input doc.

    r13 re-plan (guide §2.3/§2.4; before/after in
    plans/r13/corpus_incremental_*.txt and OPTIMIZATION_r13.md §3).
    The r12 plan posexploded every token, ran the xxhash64 doubling
    chain (a full exchange+sort of all token rows for its lead()
    windows), anti-joined covered positions against the exploded
    tokens, and re-collected every kept token per doc — four
    corpus-token-sized shuffles. Now: the fused in-scan md5 span map
    generates candidate cuts with ZERO shuffle, the benchmark semi
    join broadcasts (benchmark-bounded build side), islands merge runs
    over CUT rows only, and reassembly is array surgery on the
    persisted token arrays — `array_except(sequence(0, n-1), cut_pos)`
    keeps position order by construction, so no per-token explode,
    no anti-join, no collect_list of the corpus. The only
    corpus-sized exchange left is the one repartition that keys the
    token arrays by doc_id for the (small) cut-side join."""
    from labelmain_spark.functions.substrings import (
        _covered_positions,
        _md5_span_map,
    )

    n_part = docs.sparkSession.sparkContext.defaultParallelism
    tarr = track_persist(
        docs.select("doc_id", "text")
        .repartition(n_part, F.col("doc_id"))
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    )
    cuts = (
        _md5_span_map(tarr, DECON_N)
        .join(bench, "gram_md5", "left_semi")
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + DECON_N).alias("e"))
    )
    # islands are disjoint after the merge, so their sequences
    # concatenate to the exact covered-position set (each position
    # exactly once — the old explode's invariant, kept array-side).
    cov = _covered_positions(cuts, as_array=True)
    return tarr.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce(F.size("cut_pos"), F.lit(0)).cast("long").alias("n_removed"),
        F.when(F.col("cut_pos").isNull(), F.array_join("toks", " "))
        .otherwise(
            F.array_join(
                F.transform(
                    F.array_except(
                        F.sequence(F.lit(0), F.size("toks") - 1), F.col("cut_pos")
                    ),
                    lambda i: F.element_at("toks", i + 1),
                ),
                " ",
            )
        )
        .alias("clean_text"),
    )


def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level decontamination — the minimal-removal variant of
    ``contamination_check`` (FineWeb / Lee-et-al style): instead of
    dropping every training document that overlaps the benchmark, cut
    ONLY the overlapping token spans and keep the rest of the
    document. A train position is contaminated when its
    ``DECON_N``-token n-gram occurs ANYWHERE in the benchmark split
    (the same deterministic hash split as contamination_check);
    overlapping cut spans merge via gaps-and-islands and each doc
    reassembles in position order.

    Output: (doc_id, n_tokens, n_removed, clean_text) for every TRAIN
    document — the decontaminated corpus plus its audit columns.

    Scale shape (r13 re-plan, OPTIMIZATION_r13.md §3): n-gram identity
    is the fused in-scan md5 span map shared with the duplicate-span
    family (substrings._md5_span_map — zero shuffle, whole-stage
    codegen; the r5-r12 xxhash64 doubling chain forced a full
    exchange+sort of every token row for its lead() windows, the exact
    cost the duplicate-span family's r9 ×100 A/B measured at 25.3 s vs
    7.3 s). The benchmark n-gram set is `distinct` over the (small by
    construction) eval split's grams; membership is a LEFT SEMI join
    on the digest — the benchmark set never materializes per document,
    and the semi join's build side is benchmark-bounded, not
    corpus-bounded. Islands merge runs over CUT rows only; reassembly
    is per-doc array surgery on the repartition-keyed token arrays
    (decontaminate_docs). Nothing is quadratic; the one corpus-sized
    exchange is the doc_id repartition of the token arrays.

    Two-engine identity: both engines decide membership on the md5 of
    the actual n-gram TEXT (the duplicate_spans oracle discipline) —
    group identity needs no collision argument on either side."""
    from labelmain_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP
    bench = benchmark_ngrams(docs.filter(is_eval))
    return decontaminate_docs(docs.filter(~is_eval), bench)


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (r11). The 100 TB shape of the
# doc-drop decontamination pass (GPT-3 appendix C direction: flag every
# TRAIN doc sharing an n-gram with the benchmark): the benchmark's
# n-gram set is benchmark-bounded but its STRINGS are wide (~30 B
# each); a Bloom bitset over the same set is BLOOM_BITS bits FLAT —
# 8 KiB here, and fixed by the benchmark, not the corpus — so the
# candidate test runs map-side against a constant-folded literal and
# only candidate rows reach the verify join. A Bloom filter has NO
# false negatives, so `bloom candidates → exact verify` is bit-equal
# to the plain exact plan — the heavy_hitters trivial-oracle
# discipline: the sketch is a plan accelerator, never a semantics
# change.
#
# Hashing is the CMS one-digest/d-slices lesson applied to xxhash64:
# ONE 64-bit hash per shingle (projected once — codegen does not CSE a
# respelled hash), the k = 4 probe positions are its disjoint 16-bit
# slices (4 × 16 = 64 exactly, m = 2^16). The bitset inlines as a
# BLOOM_WORDS-long array literal; all-literal CreateArray constant-
# folds to a single ArrayData, and element_at on it is one O(1)
# positional access per probe (the create_map linear-scan trap,
# avoided the same way heavy_hitters avoids it).
#
# Saturation guard (the heavy_hitters discipline): the admit fraction
# of a uniformly-hashed NON-member is exactly (set_bits / m)^k, known
# free after the bounded build collect; past BLOOM_SATURATION the
# filter prunes nothing and the plan falls back to the exact join —
# a mis-sized filter must never make the plan worse than not having
# one. Fixture regime (measured): sf0.01
# n_bench = 1.4k → admit 4.5e-5; sf0.1 n_bench = 10.5k → admit 0.050
# (95% of non-hit rows never shuffle). Production sizing raises
# BLOOM_BITS ∝ n_bench (10-16 bits/element); past the literal-array
# comfort zone (~2^18) the documented next tier is the same
# broadcast-join-on-word-index ladder the heavy_hitters cell table
# rides.

BLOOM_BITS = 1 << 16          # m: the bitset, 8 KiB flat
BLOOM_K = 4                   # probes: disjoint 16-bit slices of ONE xxhash64
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_SATURATION = 0.5        # admit fraction beyond which the filter is off


def _bloom_positions(hash_col) -> list:
    """The k probe positions: disjoint 16-bit slices of one signed
    64-bit hash (arithmetic shift is safe — the mask truncates any
    sign-extended high bits)."""
    return [
        F.shiftright(hash_col, 16 * i).bitwiseAND(F.lit(BLOOM_BITS - 1))
        for i in range(BLOOM_K)
    ]


def _bloom_fit(bench_sh: DataFrame) -> tuple[list[int], float]:
    """Collect the set bit positions (bounded: ≤ min(k·n_bench,
    BLOOM_BITS) ints — benchmark-bounded, never corpus-bounded) and
    pack them into BLOOM_WORDS signed 64-bit words. Returns the words
    and the exact non-member admit fraction (set_bits / m)^k."""
    pos_rows = (
        bench_sh.select(
            F.explode(F.array(*_bloom_positions(F.xxhash64("s")))).alias("p")
        )
        .distinct()
        .collect()
    )
    words = [0] * BLOOM_WORDS
    for r in pos_rows:
        words[r["p"] >> 6] |= 1 << (r["p"] & 63)
    # LongType literals are signed; wrap bit 63 into two's complement.
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    admit = (len(pos_rows) / BLOOM_BITS) ** BLOOM_K
    return words, admit


def _bloom_candidates(train: DataFrame, words: list[int]) -> DataFrame:
    """Map-side candidate filter: keep only rows whose k probe bits
    are ALL set. One projected xxhash64 per row; the bitset is a
    constant-folded literal array; element_at + shiftright + mask is
    pure JVM integer math inside whole-stage codegen.

    The literal is built as ONE parsed SQL string, not
    ``F.array(*[F.lit(w) for w in words])``: the per-element form
    costs ~2 py4j round-trips per word — measured 2.4 s of DRIVER
    chatter per plan construction at 1024 words, dwarfing the probe
    itself (0.5 s over 20M rows) — while one expr parse is ~1 ms.
    Constant-folding produces the identical ArrayData either way."""
    arr = F.expr(
        "array(" + ",".join(f"{int(w)}L" for w in words) + ")"
    )
    keyed = train.select("doc_id", "s", F.xxhash64("s").alias("h"))
    hit = None
    for pos in _bloom_positions(F.col("h")):
        word = F.element_at(arr, (F.shiftright(pos, 6) + F.lit(1)).cast("int"))
        bit = F.call_function("shiftright", word, pos.bitwiseAND(F.lit(63)))
        test = bit.bitwiseAND(F.lit(1)) == F.lit(1)
        hit = test if hit is None else hit & test
    return keyed.filter(hit).select("doc_id", "s")


def _contaminated_docs(train: DataFrame, bench_sh: DataFrame) -> DataFrame:
    """The exact verify: (doc_id, n_hits) over train rows whose
    shingle is in the benchmark set. The semi-join build side is
    benchmark-bounded → size-gated broadcast."""
    from labelmain_spark.sources.readers import broadcast_if_bounded

    return (
        train.join(broadcast_if_bounded(bench_sh), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated-train-doc report, Bloom-prefiltered: every TRAIN
    document sharing ≥1 word-3-gram shingle with the eval split, with
    its hit count — exactly ``train ⋈ bench GROUP BY doc_id`` (the
    trivial full oracle), the Bloom filter only changes WHICH rows
    reach the verify join's exchange."""
    e = _exploded_shingles(spark, sf_dir)
    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP
    bench_sh = e.filter(is_eval).select("s").distinct()
    train = e.filter(~is_eval).select("doc_id", "s")
    words, admit = _bloom_fit(bench_sh)
    if admit > BLOOM_SATURATION:
        return _contaminated_docs(train, bench_sh)
    return _contaminated_docs(_bloom_candidates(train, words), bench_sh)


_RATIO_SQL = sql_stable_round(
    "CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / t.n_shingles", 4
)

QUERIES = {
    "contamination_check": contamination_check,
    "decontaminate_spans": decontaminate_spans,
    "contamination_matrix": contamination_matrix,
    "bloom_decontaminate": bloom_decontaminate,
}

ORACLE = {
    "contamination_matrix": f"""
        WITH sh AS (
            SELECT doc_id, source, {_sql_shingles()} AS shingles FROM documents
        ), e AS (
            SELECT doc_id, source, unnest(shingles) AS s FROM sh
        ), ev AS (
            SELECT DISTINCT s FROM e
            WHERE {_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP}
        ), tr AS (
            SELECT * FROM e
            WHERE NOT ({_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP})
        ), pd AS (
            SELECT source, doc_id, COUNT(*) AS n_sh,
                   SUM(CASE WHEN s IN (SELECT s FROM ev) THEN 1 ELSE 0 END)
                       AS n_hits
            FROM tr GROUP BY source, doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_contaminated,
               CAST(SUM(n_hits) AS BIGINT) AS total_overlap,
               {sql_stable_round(
                   "CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
                   " / COUNT(*)", 4
               )} AS pct_contaminated
        FROM pd GROUP BY source
    """,
    "contamination_check": f"""
        WITH sh AS (
            SELECT doc_id, {_sql_shingles()} AS shingles FROM documents
        ), e AS (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ), ev AS (
            SELECT * FROM e WHERE {_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP}
        ), tr AS (
            SELECT DISTINCT s FROM e
            WHERE NOT ({_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP})
        ), tot AS (
            SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id
        ), hit AS (
            SELECT doc_id, COUNT(*) AS n_overlap FROM ev
            WHERE s IN (SELECT s FROM tr) GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_shingles,
               CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
               {_RATIO_SQL} AS overlap_ratio,
               CAST({_RATIO_SQL} >= {CONTAM_THRESHOLD} AS INTEGER) AS contaminated
        FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
    """,
    # Independent algorithm, deliberately: n-gram identity is md5 over
    # the actual window TEXT (Spark uses the dual-lane xxhash64
    # doubling chain) — agreement on the value hash means two
    # independent membership derivations produced identical cuts.
    "decontaminate_spans": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), g AS (
            SELECT doc_id, u.pos AS pos, u.g AS gram_md5 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - {DECON_N - 1}, 0)),
                           i -> {{'pos': i,
                                 'g': md5(array_to_string(list_slice(
                                     toks, i + 1, i + {DECON_N}), ' '))}}
                       )) AS u
                FROM t
            )
        ), bench AS (
            SELECT DISTINCT gram_md5 FROM g
            WHERE {_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP}
        ), cuts AS (
            SELECT doc_id, pos AS s, pos + {DECON_N} AS e FROM g
            WHERE NOT ({_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP})
              AND gram_md5 IN (SELECT gram_md5 FROM bench)
        ), islands AS (
            SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e FROM (
                SELECT doc_id, s, e,
                       SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY s
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS island
                FROM (
                    SELECT doc_id, s, e,
                           MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                               AS prev_max
                    FROM cuts
                )
            ) GROUP BY doc_id, island
        ), covered AS (
            SELECT doc_id, unnest(range(s, e)) AS pos FROM islands
        ), toks AS (
            SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(toks)),
                           i -> {{'pos': i, 'tok': toks[i + 1]}})) AS u
                FROM t
                WHERE NOT ({_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP})
            )
        ), kept AS (
            SELECT k.doc_id, k.pos, k.tok
            FROM toks k LEFT JOIN covered c
              ON c.doc_id = k.doc_id AND c.pos = k.pos
            WHERE c.doc_id IS NULL
        ), outp AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        ), cov AS (
            SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id
        )
        SELECT COALESCE(outp.doc_id, cov.doc_id) AS doc_id,
               CAST(COALESCE(n_kept, 0) + COALESCE(n_removed, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
               COALESCE(clean_text, '') AS clean_text
        FROM outp FULL OUTER JOIN cov ON outp.doc_id = cov.doc_id
    """,
    # the Bloom filter is a plan accelerator, never a semantics
    # change: no false negatives + exact verify ⇒ the output is
    # bit-equal to the plain exact join (the heavy_hitters oracle
    # discipline).
    "bloom_decontaminate": f"""
        WITH sh AS (
            SELECT doc_id, {_sql_shingles()} AS shingles FROM documents
        ), e AS (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ), ev AS (
            SELECT DISTINCT s FROM e
            WHERE {_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP}
        ), tr AS (
            SELECT doc_id, s FROM e
            WHERE NOT ({_hash_bp_expr("doc_id", "duck")} < {CONTAM_EVAL_BP})
        )
        SELECT tr.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM tr JOIN ev USING (s)
        GROUP BY tr.doc_id
    """,
}
