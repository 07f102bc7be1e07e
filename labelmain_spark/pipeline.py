"""The training-data pipeline as ONE composed plan — the integration
showpiece: every stage is an operator family from this repo, chained
declaratively so Catalyst plans the whole thing end-to-end (filter
pushdown through the dedup window, one scan, no materialization
between stages).

Stages (each individually oracle-checked elsewhere):
1. quality gate   — stopword-ratio/length scoring (functions/text.py)
2. exact dedup    — keep min-doc_id survivor per content hash
                    (functions/dedup.py semantics, window form so it
                    composes without a join back)
3. deterministic sample — hash-mod basis points (functions/sampling.py)
4. corpus stats   — per-language counts + exact mean token estimate

At 100 TB: one columnar scan, one window shuffle on the content hash,
one final small aggregation — the minimum possible for these
semantics. A pipeline built by materializing each stage to storage
would scan the corpus four times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from labelmain_spark.functions.sampling import _hash_bp_expr
from labelmain_spark.operators.parity import davg, sql_davg, sql_stable_round, stable_round
from labelmain_spark.sources.readers import broadcast_if_bounded, load_table

MIN_QUALITY = 0.2
SAMPLE_BP = 5000  # keep 50% of surviving keyspace


def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    sw = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to")])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    quality = F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (
        F.lit(1.0) - n_sw.cast("double") / n_tok
    )

    staged = docs.select(
        "doc_id", "lang", "n_chars", "text", quality.alias("q")
    ).filter(F.col("q") >= MIN_QUALITY)

    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    w = W.partitionBy(h).orderBy("doc_id")
    survivors = (
        staged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "text")
    )

    sampled = survivors.filter(F.expr(_hash_bp_expr("doc_id", "spark")) < SAMPLE_BP)

    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        stable_round(davg(F.ceil(F.col("n_chars") / 4).cast("double")), 4).alias(
            "avg_est_tokens"
        ),
    )


def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus pipeline end-to-end, round-4 edition — every
    stage a §2.11 operator, composed as one lazy plan:

    1. boilerplate strip — delete high-df paragraphs, reassemble
       (functions/dedup.py:boilerplate_strip; docs stripped to nothing
       drop out)
    2. exact dedup on the CLEANED text — window form (partition by
       content hash, keep min doc_id) so it composes with no join back
    3. weighted source mixing — per-source hash rate
       (functions/sampling.py semantics, independent salt)
    4. token-budget shard packing — recursive exclusive cumsum
       (functions/packing.py), shard = offset div budget

    Output: one row per surviving doc with its source, token count and
    shard assignment — the manifest write_shards consumes.

    At 100 TB: the paragraph explode is the one corpus-sized
    materialization (shared, persisted); dedup adds one digest-keyed
    window shuffle; mixing is a map-side predicate; packing adds the
    part-keyed window + broadcast offsets. Stages 2-4 all operate on
    (doc_id, digest/«few longs») rows — after stage 1, document text
    appears only in the per-doc reassembled column, never in a join
    payload."""
    from labelmain_spark.functions.dedup import _exploded_paragraphs, boiler_cleaned
    from labelmain_spark.functions.packing import SHARD_TOKENS, exclusive_cumsum
    from labelmain_spark.functions.sampling import _mix_rate_bp

    cleaned = boiler_cleaned(_exploded_paragraphs(spark, sf_dir))
    w = W.partitionBy(F.md5("clean_text")).orderBy("doc_id")
    survivors = (
        cleaned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "clean_text")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mixed = (
        survivors.join(src, "doc_id")
        .filter(
            F.expr(_hash_bp_expr("doc_id", "spark", salt="mix:"))
            < F.expr(_mix_rate_bp("spark"))
        )
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.col("clean_text"), " ")).cast("long").alias("n_tokens"),
        )
    )
    packed = exclusive_cumsum(mixed, "doc_id", "n_tokens", "start_offset")
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"start_offset div {SHARD_TOKENS}").cast("long").alias("shard_id"),
    )


def _nll_micro(cnt) -> "F.Column":
    """Per-token NLL in exact 1e-6 units under a fitted unigram model
    (the quality_unigram_nll integer-micro-unit discipline — see
    functions/text.py:194 for why this beats DECIMAL at long-sum
    speed). Expects ``total`` in scope; ``cnt`` is the term's corpus
    count (callers pass COALESCE(cnt, 1) for unseen terms)."""
    nll = stable_round(F.log(F.col("total").cast("double") / cnt), 6)
    return F.floor(nll * F.lit(1e6) + F.lit(0.5)).cast("long")


def dedup_clean_batch(
    batch: DataFrame, hist_digests: DataFrame, bench: DataFrame
) -> DataFrame:
    """The per-batch half of the incremental lifecycle — incremental
    exact dedup against the history digest set, then span
    decontamination against the benchmark n-gram set — shared verbatim
    between the batch key (corpus_incremental) and the streaming sink
    (streaming/incremental.py::run_corpus_increment_sink), so stream
    parity holds by construction. ``batch`` is (doc_id, text);
    ``hist_digests`` a 1-column ``h`` digest table; ``bench`` the
    (h1, h2) benchmark n-gram set. Output: one row per surviving doc
    with (doc_id, n_tokens, n_removed, clean_fp, toks) — docs
    stripped to nothing drop out. Within-batch duplicates collapse to
    the min-doc_id survivor; cross-micro-batch duplicates are the
    stateful streaming half (ttl_dedup /
    dropDuplicatesWithinWatermark), per the incremental_dedup_stream
    split discipline."""
    dig = batch.withColumn("h", F.sha2(F.lower(F.trim(F.col("text"))), 256))
    nodup = dig.join(hist_digests, "h", "left_anti")
    first = nodup.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    surv = (
        nodup.join(first, "h")
        .filter(F.col("doc_id") == F.col("first_doc"))
        .select("doc_id", "text")
    )
    from labelmain_spark.functions.contamination import decontaminate_docs

    cleaned = decontaminate_docs(surv, bench)
    return cleaned.filter(F.col("n_tokens") > F.col("n_removed")).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("clean_text")).alias("clean_fp"),
        F.split(F.col("clean_text"), " ").alias("toks"),
    )


def score_against_model(
    kept: DataFrame, freq: DataFrame, tot: DataFrame, th: DataFrame
) -> DataFrame:
    """Score a cleaned batch against a PRE-FITTED unigram model
    (``freq`` term counts + 1-row ``tot``) and tercile thresholds
    (1-row ``th``) — all three broadcast, so this is one narrow map +
    one doc-keyed aggregation regardless of history size. Unseen
    terms score at cnt=1. Adds (unigram_nll, bucket, brank) to the
    ``dedup_clean_batch`` columns."""
    bterms = kept.select(
        "doc_id", "n_tokens", "n_removed", "clean_fp", F.explode("toks").alias("term")
    )
    bscored = (
        bterms.join(broadcast_if_bounded(freq), "term", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            "clean_fp",
            _nll_micro(F.coalesce(F.col("cnt"), F.lit(1).cast("long"))).alias("m"),
        )
        .groupBy("doc_id", "n_tokens", "n_removed", "clean_fp")
        .agg(
            stable_round(
                (F.sum("m").cast("double") / F.lit(1e6)) / F.count(F.lit(1)), 4
            ).alias("unigram_nll")
        )
    )
    return bscored.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        "clean_fp",
        "unigram_nll",
        F.when(F.col("unigram_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("unigram_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        F.when(F.col("unigram_nll") <= F.col("t1"), 0)
        .when(F.col("unigram_nll") <= F.col("t2"), 1)
        .otherwise(2)
        .alias("brank"),
    )


def corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL corpus lifecycle as ONE composed lazy plan —
    the daily-crawl production shape (what corpus_pipeline is for the
    batch path): given yesterday's snapshot (history) and today's
    snapshot, emit the day's training-ready INCREMENT in curriculum
    order. Stages, each individually oracle-checked elsewhere:

    1. snapshot delta   — today's new work = docs ``added`` or
       ``changed`` vs history, by digest (functions/dedup.py
       corpus_delta semantics: snapA/snapB 90% keyspaces, 5% revised
       text; the CHANGED docs flow with their REVISED text)
    2. incremental exact dedup — drop batch docs whose digest exists
       anywhere in history, keep the min-doc_id survivor per digest
       within the batch (dedup_incremental semantics; the near-dup
       probe keeps its own in-window key, dedup_incremental_near)
    3. span decontamination — cut benchmark DECON_N-gram spans from
       the survivors' text, reassemble (functions/contamination.py
       decontaminate_docs; benchmark = the fixed eval hash split of
       the corpus, excluded from the batch itself; docs stripped to
       nothing drop out)
    4. history-fitted perplexity terciles — unigram model AND tercile
       thresholds fitted on HISTORY text, applied to the cleaned
       batch (CCNet's actual deployment shape: the model is
       yesterday's artifact, today's docs only get scored; unseen
       terms score at cnt=1)
    5. curriculum position — bucket-major deterministic shuffle order
       within the increment via the exclusive prefix-count machinery
       (functions/sampling.py curriculum_order; no global sort)

    Output: (pos, doc_id, bucket, unigram_nll, n_tokens, n_removed,
    clean_fp) — the day's audit table, ready to append to the
    training order and drive write_ordered_corpus.

    At 100 TB: history enters the plan as three PRE-FITTABLE bounded
    artifacts — the digest set (32 B/doc, broadcast or shuffled on the
    digest as its size decides), the unigram frequency table
    (size-gated broadcast, r9) and the 1-row tercile thresholds — plus
    the benchmark n-gram set (benchmark-bounded). The fixture fits all
    of them in-plan from the prev snapshot so the DuckDB oracle can
    re-derive everything, but no stage ever shuffles history TEXT: the
    only corpus-scale work is over TODAY'S batch (delta anti/semi
    probes, the span hash chain, one explode for scoring, the
    prefix-count). Nothing is quadratic; no global sort; every join
    against history is broadcast- or digest-keyed."""
    from labelmain_spark.functions.contamination import (
        CONTAM_EVAL_BP,
        benchmark_ngrams,
    )
    from labelmain_spark.functions.dedup import DELTA_BP, DELTA_MUT_BP
    from labelmain_spark.functions.packing import exclusive_cumsum
    from labelmain_spark.functions.sampling import (
        CURR_DIGITS,
        CURR_SALT,
        _checked_id_pack,
        _hash_hex_expr,
    )
    from labelmain_spark.functions.text import nll_threshold_frame

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_prev = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapA:")) < DELTA_BP
    in_cur = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapB:")) < DELTA_BP
    revised = F.expr(_hash_bp_expr("doc_id", "spark", salt="mut:")) < DELTA_MUT_BP
    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP

    # 1. delta: new work = cur docs added or changed vs prev, minus
    # the benchmark split (never train on eval docs).
    prev = docs.filter(in_prev)
    prev_dig = prev.select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("old_h")
    )
    cur_text = F.when(revised, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
        F.col("text")
    )
    cur = docs.filter(in_cur).select("doc_id", cur_text.alias("text"))
    batch = (
        cur.withColumn("h", F.sha2(F.lower(F.trim(F.col("text"))), 256))
        .join(prev_dig, "doc_id", "left")
        .filter(F.col("old_h").isNull() | (F.col("old_h") != F.col("h")))
        .filter(~is_eval)
        .drop("old_h")
    )

    # 2+3. incremental exact dedup vs the history digest set, then
    # span decontamination — the per-batch half, shared verbatim with
    # the streaming sink (streaming/incremental.py::run_corpus_
    # increment_sink), which is what makes the stream batch-exact.
    hist_set = prev_dig.select(F.col("old_h").alias("h")).distinct()
    bench = benchmark_ngrams(docs.filter(is_eval))
    kept = dedup_clean_batch(batch.select("doc_id", "text"), hist_set, bench)

    # 4. history-fitted unigram model + terciles, applied to the batch.
    hterms = prev.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    # freq is VOCABULARY-bounded (the broadcast_if_bounded gate's own
    # argument) and consumed by three branches — tot, the history
    # scoring probe, and the batch scoring probe — which without a
    # persist each re-ran the full history term explode + aggregation
    # (r13, guide §5: reused AND expensive; eager prime per the
    # _exploded_shingles discipline so concurrent first-action branches
    # don't each recompute it).
    from pyspark import StorageLevel

    freq = (
        hterms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq.count()
    tot = freq.agg(F.sum("cnt").alias("total"))
    hscored = (
        hterms.join(broadcast_if_bounded(freq.crossJoin(F.broadcast(tot))), "term")
        .select("doc_id", _nll_micro(F.col("cnt")).alias("m"))
        .groupBy("doc_id")
        .agg(
            stable_round(
                (F.sum("m").cast("double") / F.lit(1e6)) / F.count(F.lit(1)), 4
            ).alias("unigram_nll")
        )
    )
    th = nll_threshold_frame(hscored)
    bucketed = score_against_model(kept, freq, tot, th)

    # 5. curriculum position within the increment.
    h28 = F.expr(_hash_hex_expr("doc_id", "spark", CURR_SALT, CURR_DIGITS))
    keyed = bucketed.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        "clean_fp",
        "unigram_nll",
        "bucket",
        _checked_id_pack(
            (F.col("brank") * F.lit(1 << 28) + h28) * F.lit(1 << 31) + F.col("doc_id")
        ).alias("okey"),
        F.lit(1).cast("long").alias("one"),
    )
    return exclusive_cumsum(keyed, "okey", "one", "pos").select(
        F.col("pos").cast("long").alias("pos"),
        "doc_id",
        "bucket",
        "unigram_nll",
        "n_tokens",
        "n_removed",
        "clean_fp",
    )


QUERIES = {
    "pipeline_e2e": pipeline_e2e,
    "corpus_pipeline": corpus_pipeline,
    "corpus_incremental": corpus_incremental,
}

ORACLE = {
    "pipeline_e2e": f"""
        WITH scored AS (
            SELECT doc_id, lang, n_chars, text,
                   LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                   * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                          / len(string_split(text, ' '))) AS q
            FROM documents
        ), gated AS (
            SELECT * FROM scored WHERE q >= {MIN_QUALITY}
        ), survivors AS (
            SELECT doc_id, lang, n_chars FROM (
                SELECT doc_id, lang, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text)))
                                          ORDER BY doc_id) AS rn
                FROM gated
            ) WHERE rn = 1
        ), sampled AS (
            SELECT * FROM survivors
            WHERE {_hash_bp_expr("doc_id", "duck")} < {SAMPLE_BP}
        )
        SELECT lang, COUNT(*) AS n_docs,
               {sql_stable_round(sql_davg("CAST(ceil(n_chars / 4.0) AS DOUBLE)"), 4)}
                   AS avg_est_tokens
        FROM sampled GROUP BY lang
    """,
}


def _corpus_pipeline_sql() -> str:
    from labelmain_spark.functions.dedup import _SQL_PARAS, BOILER_DF
    from labelmain_spark.functions.packing import SHARD_TOKENS
    from labelmain_spark.functions.sampling import _mix_rate_bp

    return f"""
        {_SQL_PARAS}, hot AS (
            SELECT md5(para) AS h FROM p
            GROUP BY md5(para) HAVING COUNT(DISTINCT doc_id) > {BOILER_DF}
        ), kept AS (
            SELECT doc_id, pos, para FROM p
            WHERE md5(para) NOT IN (SELECT h FROM hot)
        ), cleaned AS (
            SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id
        ), survivors AS (
            SELECT doc_id, clean_text FROM (
                SELECT doc_id, clean_text,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(clean_text) ORDER BY doc_id
                       ) AS rn
                FROM cleaned
            ) WHERE rn = 1
        ), mixed AS (
            SELECT s.doc_id, d2.source,
                   len(string_split(s.clean_text, ' ')) AS n_tokens
            FROM survivors s JOIN documents d2 ON d2.doc_id = s.doc_id
            WHERE {_hash_bp_expr("s.doc_id", "duck", salt="mix:")}
                  < {_mix_rate_bp("duck")}
        ), packed AS (
            SELECT doc_id, source, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS so
            FROM mixed
        )
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(so // {SHARD_TOKENS} AS BIGINT) AS shard_id
        FROM packed
    """


ORACLE["corpus_pipeline"] = _corpus_pipeline_sql()


def _corpus_incremental_sql() -> str:
    # The naive single-engine restatement of the whole incremental
    # lifecycle: global windows and IN-subqueries where the Spark plan
    # uses prefix-count decomposition and broadcast probes. N-gram
    # identity is md5 over window TEXT vs Spark's xxhash64 doubling
    # chain (the decontaminate_spans independence discipline).
    from labelmain_spark.functions.contamination import CONTAM_EVAL_BP, DECON_N
    from labelmain_spark.functions.dedup import DELTA_BP, DELTA_MUT_BP
    from labelmain_spark.functions.sampling import (
        CURR_DIGITS,
        CURR_SALT,
        _hash_hex_expr,
    )

    def hb(col: str, salt: str) -> str:
        return _hash_bp_expr(col, "duck", salt=salt)

    r6h = sql_stable_round(
        "ln(CAST((SELECT total FROM tt) AS DOUBLE) / cnt)", 6
    )
    r6b = sql_stable_round(
        "ln(CAST((SELECT total FROM tt) AS DOUBLE) / COALESCE(cnt, 1))", 6
    )
    mean4 = sql_stable_round("(CAST(SUM(m) AS DOUBLE) / 1e6) / COUNT(*)", 4)
    gram = (
        f"list_transform(range(greatest(len(toks) - {DECON_N - 1}, 0)), "
        f"i -> {{'pos': i, 'g': md5(array_to_string("
        f"list_slice(toks, i + 1, i + {DECON_N}), ' '))}})"
    )
    return f"""
        WITH prevd AS (
            SELECT doc_id, text, sha256(lower(trim(text))) AS h
            FROM documents WHERE {hb("doc_id", "snapA:")} < {DELTA_BP}
        ), curd AS (
            SELECT doc_id, text, sha256(lower(trim(text))) AS h FROM (
                SELECT doc_id,
                       CASE WHEN {hb("doc_id", "mut:")} < {DELTA_MUT_BP}
                            THEN text || ' rev2' ELSE text END AS text
                FROM documents WHERE {hb("doc_id", "snapB:")} < {DELTA_BP}
            )
        ), batch AS (
            SELECT c.doc_id, c.text, c.h
            FROM curd c LEFT JOIN prevd p ON c.doc_id = p.doc_id
            WHERE (p.doc_id IS NULL OR p.h <> c.h)
              AND NOT ({hb("c.doc_id", "smp:")} < {CONTAM_EVAL_BP})
        ), nodup AS (
            SELECT * FROM batch WHERE h NOT IN (SELECT h FROM prevd)
        ), firstd AS (
            SELECT h, MIN(doc_id) AS first_doc FROM nodup GROUP BY h
        ), surv AS (
            SELECT n.doc_id, n.text FROM nodup n JOIN firstd fd ON n.h = fd.h
            WHERE n.doc_id = fd.first_doc
        ), st AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM surv
        ), sg AS (
            SELECT doc_id, u.pos AS pos, u.g AS gram_md5 FROM (
                SELECT doc_id, unnest({gram}) AS u FROM st
            )
        ), bench AS (
            SELECT DISTINCT u.g AS gram_md5 FROM (
                SELECT unnest({gram}) AS u FROM (
                    SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents
                    WHERE {hb("doc_id", "smp:")} < {CONTAM_EVAL_BP}
                )
            )
        ), cuts AS (
            SELECT doc_id, pos AS s, pos + {DECON_N} AS e FROM sg
            WHERE gram_md5 IN (SELECT gram_md5 FROM bench)
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
        ), toksx AS (
            SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
                SELECT doc_id,
                       unnest(list_transform(range(len(toks)),
                           i -> {{'pos': i, 'tok': toks[i + 1]}})) AS u
                FROM st
            )
        ), keptx AS (
            SELECT k.doc_id, k.pos, k.tok
            FROM toksx k LEFT JOIN covered c
              ON c.doc_id = k.doc_id AND c.pos = k.pos
            WHERE c.doc_id IS NULL
        ), outp AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM keptx GROUP BY doc_id
        ), cov AS (
            SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id
        ), clean AS (
            SELECT COALESCE(outp.doc_id, cov.doc_id) AS doc_id,
                   CAST(COALESCE(n_kept, 0) + COALESCE(n_removed, 0) AS BIGINT)
                       AS n_tokens,
                   CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
                   COALESCE(clean_text, '') AS clean_text
            FROM outp FULL OUTER JOIN cov ON outp.doc_id = cov.doc_id
        ), keptdocs AS (
            SELECT doc_id, n_tokens, n_removed,
                   md5(clean_text) AS clean_fp, clean_text
            FROM clean WHERE n_tokens > n_removed
        ), ht AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM prevd
        ), f AS (
            SELECT term, COUNT(*) AS cnt FROM ht GROUP BY term
        ), tt AS (
            SELECT SUM(cnt) AS total FROM f
        ), hp AS (
            SELECT doc_id, CAST(floor({r6h} * 1e6 + 0.5) AS BIGINT) AS m
            FROM ht JOIN f USING (term)
        ), hs AS (
            SELECT doc_id, {mean4} AS unigram_nll FROM hp GROUP BY doc_id
        ), hh AS (
            SELECT unigram_nll, COUNT(*) AS cnt FROM hs GROUP BY unigram_nll
        ), hc AS (
            SELECT unigram_nll,
                   SUM(cnt) OVER (ORDER BY unigram_nll
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM hh
        ), th AS (
            SELECT MIN(CASE WHEN cum * 3 >= (SELECT COUNT(*) FROM hs)
                            THEN unigram_nll END) AS t1,
                   MIN(CASE WHEN cum * 3 >= 2 * (SELECT COUNT(*) FROM hs)
                            THEN unigram_nll END) AS t2
            FROM hc
        ), bterm AS (
            SELECT doc_id, unnest(string_split(clean_text, ' ')) AS term
            FROM keptdocs
        ), bp AS (
            SELECT doc_id, CAST(floor({r6b} * 1e6 + 0.5) AS BIGINT) AS m
            FROM bterm LEFT JOIN f USING (term)
        ), bs AS (
            SELECT doc_id, {mean4} AS unigram_nll FROM bp GROUP BY doc_id
        ), bb AS (
            SELECT bs.doc_id, bs.unigram_nll,
                   CASE WHEN bs.unigram_nll <= th.t1 THEN 'head'
                        WHEN bs.unigram_nll <= th.t2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   CASE WHEN bs.unigram_nll <= th.t1 THEN 0
                        WHEN bs.unigram_nll <= th.t2 THEN 1
                        ELSE 2 END AS brank
            FROM bs, th
        )
        SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY bb.brank ASC,
                            {_hash_hex_expr("bb.doc_id", "duck", CURR_SALT, CURR_DIGITS)} ASC,
                            bb.doc_id ASC
               ) - 1 AS BIGINT) AS pos,
               bb.doc_id, bb.bucket, bb.unigram_nll,
               k.n_tokens, k.n_removed, k.clean_fp
        FROM bb JOIN keptdocs k ON bb.doc_id = k.doc_id
    """


ORACLE["corpus_incremental"] = _corpus_incremental_sql()
