"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling") —
the hashed-n-gram importance-weighting step modern pretraining
pipelines use to up-sample raw-corpus documents that look like a
high-quality target corpus (SURVEY §2.11 north-star adjunct; the
reference repo has no analogue — this extends the LLM-pipeline family
the brief mandates).

Semantics implemented:

- features: word BIGRAMS, hashed into ``DSIR_BUCKETS`` buckets (the
  paper's hashed n-gram generative model) via the engine-portable
  md5-hex construction shared with functions/sampling.py;
- target distribution: the ``lang = 'en'`` slice of the corpus (the
  fixture's stand-in for "formal text" — a real pipeline passes a
  curated target corpus; the plan is identical);
- per-bucket log-likelihood ratio with add-one smoothing:
  ``llr[b] = ln((n_t[b]+1)/(T+B)) − ln((n_r[b]+1)/(R+B))``
  (T, R = total target/raw bigram occurrences, B = bucket count);
- per-document log importance weight = Σ llr[bucket(gram)] over the
  doc's bigram OCCURRENCES (the paper's bag-of-hashed-ngrams model);
- selection: top ``DSIR_KEEP_N`` docs by weight (deterministic
  doc_id tie-break). The paper resamples with Gumbel noise; the
  deterministic top-k is the same plan with the noise term folded
  into the sort key, and is what the oracle can reproduce exactly.

Cross-engine determinism: ``ln`` may differ between JVM and libm in
the final ulp, so each of the 256 bucket llr values is stable_round-ed
to 1e-6 BEFORE the per-doc sum (a 1-ulp input error would otherwise
face a ~5e-13 decimal-rounding cliff after a scale-12 cast); the
per-doc sum then runs in decimal so executor summation order cannot
move the result (operators/parity.py rationale).

Scale shape (100 TB): the bigram explode is a narrow map; bucket
counts are two partial aggs onto B=256 rows (boilerplate-hot buckets
collapse map-side — the same argument as paragraph dedup); the llr
table is 256 rows and broadcasts unconditionally; the per-doc sum is
ONE shuffle keyed by doc_id; selection is TakeOrderedAndProject (a
per-partition top-k heap + driver merge of k·partitions rows), never
a global sort. No window over the corpus, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.sources.readers import broadcast_if_bounded
from labelmain_spark.operators.parity import DEC, sql_stable_round, stable_round
from labelmain_spark.session import track_persist
from labelmain_spark.sources.readers import load_table

DSIR_BUCKETS = 256
DSIR_KEEP_N = 100
_TARGET_PRED_SPARK = "lang = 'en'"
_TARGET_PRED_DUCK = "lang = 'en'"


def _bucket_expr(gram: str, engine: str) -> str:
    """gram → [0, DSIR_BUCKETS) via the first 4 md5 hex digits — the
    same portable construction as sampling._hash_bp_expr, mod B."""
    m = f"md5(concat('dsir:', {gram}))"
    digit = "(instr('0123456789abcdef', substr({m}, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(m=m, i=i + 1)} * {16 ** (3 - i)}" for i in range(4)
    )
    return f"(({val}) % {DSIR_BUCKETS})"


def _bigram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, b) — one row per bigram OCCURRENCE with its
    hash bucket. Narrow map + explode; the raw text never leaves the
    scan stage (only 16-bit bucket ids flow into any shuffle)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t")
    )
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty,
    # so a single-token doc must take the explicit empty branch
    grams = F.expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    return docs.select(
        "doc_id",
        "lang",
        F.explode(grams).alias("g"),
    ).select("doc_id", "lang", F.expr(_bucket_expr("g", "spark")).alias("b"))


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-DSIR_KEEP_N documents by hashed-bigram log importance
    weight: (doc_id, n_grams, weight).

    The bigram occurrences are a diamond (bucket counts AND the
    per-doc sum both need them), so they are first collapsed to
    per-(doc, bucket) partial counts — ONE corpus scan and ONE wide
    exchange, hashed on doc_id ALONE (r5: the r4 form hashed on
    (doc_id, b), which downstream ``groupBy(doc_id)`` could not
    reuse, so the plan paid a second wide shuffle; doc_id
    partitioning satisfies the (doc_id, b) clustering — same-doc
    rows land together — AND survives the broadcast llr join, so the
    final per-doc aggregate now runs exchange-free. Measured 3.3 s →
    ~2.3 s at sf0.1). The persisted (doc, bucket) table is
    ~gram-count/bucket-hit smaller than the raw occurrences; the
    global bucket counts re-aggregate THAT (partial-agg onto 256
    rows) and the per-doc weight is Σ cnt·llr over the same cached
    rows. (An earlier cut consumed the raw explode twice: two full
    corpus scans, measured 4.1 s; a HOF rewrite folding per-doc
    bucket ARRAYS against a broadcast llr map had zero doc shuffles
    but lost whole-stage codegen on the per-occurrence md5 —
    interpreted lambdas measured 5.1 s. Codegen'd explode + one
    doc_id exchange wins.)"""
    occ = _bigram_buckets(spark, sf_dir)
    docb = track_persist(
        occ.repartition("doc_id")
        .groupBy("doc_id", "b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.expr(f"CASE WHEN {_TARGET_PRED_SPARK} THEN 1 ELSE 0 END")).alias("cnt_t"),
        )
    )
    # No eager prime (unlike _exploded_shingles): both consumers live
    # in ONE action, and the llr BROADCAST side is built before the
    # probe stage can start, so the broadcast build populates the
    # cache and the probe reads it — sequenced by the join itself.
    # (Measured: the prime job added ~0.4 s at sf0.1 for nothing.)
    counts = docb.groupBy("b").agg(
        F.sum("cnt").alias("n_r"), F.sum("cnt_t").alias("n_t")
    )
    # r14: totals as a GLOBAL WINDOW over the bucket table instead of a
    # separate agg + crossJoin — the old shape consumed `counts` twice,
    # so the docb→counts aggregation pass ran once under the totals
    # broadcast and again under the llr projection (guide §2.4). The
    # unpartitioned window is one task over exactly DSIR_BUCKETS = 256
    # rows at ANY corpus size (the bucket count is a constant), so the
    # single-partition window is scale-safe here.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    llr = counts.select(
        "b",
        stable_round(
            F.log((F.col("n_t") + 1) / (F.sum("n_t").over(w_all) + DSIR_BUCKETS))
            - F.log((F.col("n_r") + 1) / (F.sum("n_r").over(w_all) + DSIR_BUCKETS)),
            6,
        ).alias("llr"),
    )
    per_doc = (
        docb.join(broadcast_if_bounded(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(F.col("llr").cast(DEC) * F.col("cnt")).cast("double").alias("w"),
        )
    )
    return (
        per_doc.select(
            "doc_id", "n_grams", stable_round(F.col("w"), 4).alias("weight")
        )
        .orderBy(F.col("weight").desc(), F.col("doc_id").asc())
        .limit(DSIR_KEEP_N)
    )


_SQL_OCC = f"""
        SELECT doc_id, lang, {_bucket_expr('g', 'duck')} AS b
        FROM (
            SELECT doc_id, lang, unnest(list_transform(
                range(1, greatest(len(toks), 1)),
                i -> toks[i] || ' ' || toks[i + 1]
            )) AS g
            FROM (
                SELECT doc_id, lang,
                       string_split(coalesce(text, ''), ' ') AS toks
                FROM documents
            )
        )
"""

ORACLE = {
    "dsir_weights": f"""
        WITH occ AS ({_SQL_OCC}),
        counts AS (
            SELECT b, COUNT(*) AS n_r,
                   SUM(CASE WHEN {_TARGET_PRED_DUCK} THEN 1 ELSE 0 END) AS n_t
            FROM occ GROUP BY b
        ),
        tot AS (SELECT SUM(n_r) AS tot_r, SUM(n_t) AS tot_t FROM counts),
        llr AS (
            SELECT b,
                   {sql_stable_round(
                       "ln((n_t + 1) / CAST(tot_t + " + str(DSIR_BUCKETS) + " AS DOUBLE))"
                       " - ln((n_r + 1) / CAST(tot_r + " + str(DSIR_BUCKETS) + " AS DOUBLE))",
                       6,
                   )} AS llr
            FROM counts, tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               {sql_stable_round("CAST(SUM(CAST(llr AS DECIMAL(28,6))) AS DOUBLE)", 4)} AS weight
        FROM occ JOIN llr USING (b)
        GROUP BY doc_id
        ORDER BY weight DESC, doc_id ASC
        LIMIT {DSIR_KEEP_N}
    """,
}

QUERIES = {"dsir_weights": dsir_weights}
