"""Text-analysis operators for the training-data pipeline (SURVEY.md
§2.11 north-star): token statistics, language ID, quality scoring,
document fingerprinting.

All of these run as pure JVM-side column expressions (split / explode /
array_* / md5) — no Python in the hot path — so they scale linearly
with executors and stay inside whole-stage codegen. Per-doc stats never
shuffle (narrow transforms); only the corpus-level aggregations do.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.operators.parity import (
    sql_stable_round,
    stable_round,
)
from labelmain_spark.session import persist_counted, track_persist
from labelmain_spark.sources.readers import (
    broadcast_if_bounded,
    load_table,
    rebalance_dense_scan,
    table_row_count,
)

# Exact-cardinality broadcast bound for the unigram frequency table
# (persist_counted gate): ~50 B/term in the hashed relation → ≤100 MB
# broadcast at the cap. A web-scale corpus (Heaps' law, 1e8-1e9 terms)
# exceeds it and takes the co-partitioned shuffle join instead.
VOCAB_BROADCAST_MAX_TERMS = 2_000_000

# Tier-1 bound: below this, the (term → micro-NLL) table is collected
# (≤ 256 rows, ~13 KB) and inlined as a create_map literal,
# eliminating the scoring join AND the 100M-row explode entirely.
# Tier-1 bound, set by the EXECUTION cost, not the analysis cost (r10
# self-review): GetMapValue on a create_map literal is a LINEAR key
# scan — no hash — so the per-token probe cost grows with |V| and the
# 'no-join' tier inverts well before the 10k analysis-cost bound.
# Measured (PERF.md "Tier-1 unigram cap"; 6M uniform tokens, best-of-2,
# tier2 = broadcast join): V=30 1.3 vs 1.4 s; V=400 2.4 vs 1.3 s;
# V=1000 3.3 vs 1.1 s; V=4000 14.3 vs 1.1 s; V=10000 30.1 vs 1.1 s.
# The tier-1 win is real only where the vocabulary is tiny (the ×400
# fixture's 30-word corpus: 3.8 vs 11.3 s at 110M tokens — explode
# avoidance dominates); 256 keeps that regime and hands everything
# Zipf-shaped to the hash-probe join tier. (Analysis cost was the
# r10 session's original bound — ~0.7 s at 10k, ~86 s at 50k, the
# quadratic no-CSE class — but execution crosses over far earlier.)
UNIGRAM_MAPLIT_MAX_TERMS = 256

# Deterministic per-language marker sets for the n-gram/stopword
# language-ID heuristic. Ordered dict: ties break on first-listed lang.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "data", "merge", "window"],
    "en": ["the", "a", "join", "order", "key"],
    "es": ["el", "la", "filter", "batch", "row"],
    "fr": ["le", "et", "column", "value", "stream"],
    "zh": ["spark", "query", "vector", "hash", "table"],
}

STOPWORDS = ["the", "a", "of", "and", "to"]


def _toks(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics + two BPE-ish token-count
    estimates: chars/4 (the common LLM heuristic) and a subword-regex
    count (alnum runs + individual punctuation — the GPT-2-ish
    pre-tokenizer shape, char classes chosen to parse identically in
    Java and DuckDB regex dialects)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    bpe_re = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        stable_round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
        ).alias("ttr"),
        F.ceil(F.col("n_chars") / 4).cast("bigint").alias("est_bpe_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(bpe_re), 0)).alias(
            "n_subword_tokens"
        ),
    )


def _lang_pred_cols() -> tuple[Column, Column]:
    """(pred, best_score) marker-overlap language-ID columns — shared
    by lang_id and the tag_and_filter decision layer."""
    dtoks = F.array_distinct(_toks())
    scores = {
        lang: F.size(F.array_intersect(dtoks, F.array(*[F.lit(m) for m in ms])))
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # Reverse order so the first-listed language wins ties.
    for lang in reversed(list(scores)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return pred, best


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: score each language by distinct-token
    overlap with its marker set; argmax with fixed tie order."""
    docs = load_table(spark, sf_dir, "documents")
    pred, best = _lang_pred_cols()
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        pred.alias("lang_pred"),
        best.alias("score"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword-ratio / mean-token-length quality scoring —
    the cheap pre-filter every LLM data pipeline runs before expensive
    stages."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tok = F.size(toks)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_len = (F.col("n_chars") - (n_tok - F.lit(1))).cast("double") / n_tok
    sw_ratio = n_sw.cast("double") / n_tok
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stable_round(mean_len, 4).alias("mean_token_len"),
        stable_round(sw_ratio, 4).alias("stopword_ratio"),
        stable_round(
            F.least(F.lit(1.0), n_tok / F.lit(100.0)) * (F.lit(1.0) - sw_ratio), 4
        ).alias("quality_score"),
    )


REP_DUP_FRAC = 0.3  # flag: >30% of tokens are repeats
REP_TOP_FRAC = 0.2  # flag: most frequent token is >20% of tokens


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition rules — the quality-filter
    family `text_quality`'s length/stopword pass doesn't cover:
    duplicate-token fraction (1 − distinct/total) and most-frequent-
    token fraction, flagged above the published-style thresholds.

    Scale: duplicate fraction is pure array arithmetic (narrow); the
    top-token count is explode → (doc, token) count → per-doc max, two
    partial-agg shuffles keyed by doc_id — uniform keys, no arrays
    cross any exchange."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    top = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_n"))
    )
    dup_frac = stable_round(
        F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 4
    )
    top_frac = stable_round(
        F.col("top_tok_n").cast("double") / F.col("n_tokens"), 4
    )
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_token_frac"),
            "top_tok_n",
            top_frac.alias("top_token_frac"),
            ((dup_frac > REP_DUP_FRAC) | (top_frac > REP_TOP_FRAC))
            .cast("int")
            .alias("flagged"),
        )
    )


TFIDF_TOPK = 3


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOPK terms per document — the classic relevance /
    keyword-extraction scoring over the corpus.

    Scale (re-planned r6): one explode (narrow) feeds two partial-agg
    aggregations — per-(doc, term) tf and per-term document frequency.
    The df table's broadcast is SIZE-GATED (r9: a language's type
    count grows with Heaps' law toward 10^8-10^9 on a web corpus —
    "vocab-bounded" is not a broadcast guarantee; the gate falls back
    to a co-partitioned shuffle join on `term`). It remains small
    relative to the corpus (the language, not the corpus, caps
    distinct terms), so it BROADCASTS onto tf — the corpus-scale tf
    table never re-shuffles on the Zipf-hot term key (previously an
    AQE-skew-split sort-merge; the r6 unigram-NLL crossover measured
    the term-keyed shuffle as this family's scale plateau). Then a
    per-doc ranking window. The rank ORDERS BY THE ROUNDED score
    (then term): ranking on the raw double would let a last-ulp ln()
    difference between engines reorder near-ties and break the oracle
    hash. n_docs is a parquet-metadata count."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_toks()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    score = stable_round(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
    )
    scored = tf.join(broadcast_if_bounded(dfreq), "term").select(
        "doc_id", "term", "tf", score.alias("tfidf")
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# (query_id, terms) — a fixed multi-term query set over the corpus
# vocabulary: the retrieval stand-in for "score every doc against the
# eval/query batch" (data-selection-by-retrieval, contamination
# triage, search-quality evals).
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["join", "order"]),
    (1, ["window", "merge", "sort"]),
    (2, ["hash", "table"]),
    (3, ["stream", "batch", "spark"]),
]


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-BM25_TOPK documents per query for a fixed
    multi-term query set (Robertson/Sparck-Jones BM25, the Okapi
    k1/b form — the standard lexical ranking function; tfidf_topk is
    per-doc keyword EXTRACTION, this is multi-query document
    RETRIEVAL, the other direction).

    Scale (re-planned after the ×100 crossover): the query vocabulary
    is BOUNDED by the operator's contract (queries are the small
    side), so per-doc term frequencies are computed as |qvocab|
    array-filter COLUMNS in one narrow projection — the corpus never
    explodes into token rows and never shuffles on (doc, term). The
    first postings-join plan paid a 9M-row (doc, term) aggregation
    PLUS a duplicate compute of it on the broadcast-df build side
    (measured: 48 s at 500k docs where stage-level sums said ~15 —
    the broadcast job races the main stages past the not-yet-filled
    cache) — all of that is gone. Corpus statistics (N, Σdl, per-term
    df) reduce in ONE 1-row aggregate (broadcast); per-query scores
    are then row-local expressions over the tf columns; the first
    shuffle in the whole plan is the salted top-k rank itself. The
    query set is bounded by contract (the ``BM25_QUERIES`` constant);
    there is no unbounded-query path.

    r8 re-plan (verdict item 4 — the 4.4×-at-×100 flat constant): the
    residual was the corpus TOKENIZED TWICE — the broadcast(stats) job
    races the main scoring stage past the not-yet-filled cache, so
    both passes re-ran the split+tf projection (and idf's inputs are
    broadcast COLUMNS, so Catalyst cannot constant-fold its per-row
    F.log — 8 log calls per row for what is a constant). Now the
    narrow (doc_id, dl, tf_i) projection is persisted and materialized
    BY the stats aggregation itself (one bounded eager `.first()`, the
    knn_join eager-Q precedent — no broadcast job left to race), and
    N/Σdl/df/idf/avgdl become plan literals: tokenization runs ONCE,
    scoring is a cached scan of 10 long columns, idf is folded. Plus
    the knn_join gated scan-rebalance: the projection is CPU-dense
    and the single-file fixture under-splits (15 tasks on 32 cores).
    Measured at ×100 (500k docs, same box, 3-pass medians):
    32.8 s/3.61× → 18.1 s/2.24× (single tokenization + folded idf)
    → 5.8 s/0.77× (+rebalance, on the old single-row-group fixture
    whose scan was ONE task — see PERF.md r8). On the realistic
    16k-row-group fixture both engines parallelize the scan natively:
    2.5 s vs DuckDB 1.0 s = 2.5× — a ~1.5-s-of-work key spread over
    ~6 AQE stage-jobs (eager stats, cached scoring, two-phase rank)
    against DuckDB's single fused pipeline; the dispatch-floor
    class (PERF.md r7 floor attribution), trending to parity as work grows.
    Exactness unchanged: the literals are the same exact longs
    the broadcast row carried, avgdl the same single IEEE division,
    and Python's math.log vs the JVM's F.log on bit-identical
    arguments is the same ≤1-ulp-under-6dp-rounding risk class the
    oracle's DuckDB ln already occupied (hashes green at both SFs).

    Determinism: each term's BM25 contribution is computed from exact
    longs (tf, dl, df, N, Σdl) with an explicitly-parenthesized
    expression mirrored token-for-token in the oracle, rounded to 6 dp
    → exact integer micro-units. A term absent from a doc contributes
    exactly 0 micro-units (idf·0/denom rounds to 0), so the row-local
    fixed-order long sum equals the oracle's order-free SUM over its
    (doc, term) rows; (query, doc) membership = any matching term
    (the oracle's inner join). Ranking orders by the ROUNDED score
    then doc_id."""
    from functools import reduce

    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    qvocab = sorted({t for _, ts in BM25_QUERIES for t in ts})
    toks = _toks()

    def _tf(term: str):
        # size − size(array_remove): counts occurrences WITHOUT a
        # higher-order function — HOFs (F.filter/F.aggregate lambdas)
        # evaluate interpreted per element and measured 10× slower
        # than this codegen-friendly form on the ×20 tier (15.1 s vs
        # 1.6 s for the tf projection)
        return F.size(toks) - F.size(F.array_remove(toks, term))

    # the tokenize+tf projection is CPU-dense (~0.5 ms/row at the
    # qvocab width), but Spark sizes scan partitions by BYTES — the
    # ×100 single-file fixture arrives as 15 splits on 32 cores,
    # idling half the box through the plan's dominant stage (the
    # knn_join scan-rebalance argument, now shared as
    # readers.rebalance_dense_scan with a size gate so sub-second
    # fixtures skip the extra stage).
    docs = rebalance_dense_scan(docs)
    # the RESULT plan reads this cache, so unpersisting before return
    # would re-tokenize the corpus in the caller's action; it stays
    # until release_caches
    base = track_persist(
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            *[_tf(t).cast("long").alias(f"tf_{i}") for i, t in enumerate(qvocab)],
        )
    )
    srow = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(qvocab))
        ],
    ).first()
    if srow is None or srow["n_docs"] == 0 or srow["sum_dl"] is None:
        # empty corpus: a valid empty result, not a divide-by-zero
        return spark.createDataFrame(
            [], "query_id int, doc_id long, bm25 double, rnk int"
        )
    n_docs, sum_dl = srow["n_docs"], srow["sum_dl"]
    # the same exact longs the broadcast row carried, now literals —
    # avgdl is the identical single IEEE division, idf folds the
    # per-row log of constants into one Python log per term
    avgdl = float(sum_dl) / n_docs
    row = base

    def micro_term(i: int):
        tf, df = F.col(f"tf_{i}"), srow[f"df_{i}"]
        idf = math.log(((float(n_docs) - df + 0.5) / (df + 0.5)) + 1.0)
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + (F.lit(BM25_B) * F.col("dl")) / F.lit(avgdl)
        )
        contrib = stable_round(
            (F.lit(idf) * (tf.cast("double") * F.lit(BM25_K1 + 1.0))) / denom, 6
        )
        return F.floor(contrib * F.lit(1e6) + F.lit(0.5)).cast("long")

    idx = {t: i for i, t in enumerate(qvocab)}
    entries = []
    for qid, terms in BM25_QUERIES:
        ms = [micro_term(idx[t]) for t in terms]
        m_sum = reduce(lambda a, b: a + b, ms)
        matched = reduce(
            lambda a, b: a | b, [F.col(f"tf_{idx[t]}") > 0 for t in terms]
        )
        entries.append(
            F.struct(
                F.lit(qid).cast("int").alias("query_id"),
                stable_round(m_sum.cast("double") / F.lit(1e6), 4).alias("bm25"),
                matched.alias("ok"),
            )
        )
    agg = (
        row.select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e.ok"))
        .select(F.col("e.query_id").alias("query_id"), "doc_id", F.col("e.bm25").alias("bm25"))
    )
    # Single rank window, map-side pruned (r9 re-plan of the r5
    # two-phase salted top-k): Spark 3.5+ rewrites a row_number
    # window + `rnk <= k` filter into WindowGroupLimit(Partial →
    # shuffle → Final) — every map task pre-prunes to its local
    # top-k per query BEFORE the exchange, which is exactly what the
    # salt buckets hand-built, minus one whole window pass, the salt
    # column, and one exchange (the same optimizer contract
    # sample_group plan-pins). The r5 concern (|Q| partitions
    # serializing ~500k rows/query through a few sort tasks) is
    # addressed at the map side: the exchange now carries ≤
    # splits·|Q|·k pre-pruned rows. Measurement at ×200 below.
    w = W.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOPK)
        .select(
            "query_id", "doc_id", "bm25", F.col("rnk").cast("int").alias("rnk")
        )
    )


def quality_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality score: per-document
    mean negative log probability of its tokens under the corpus
    unigram distribution. Low = head-like/boilerplate, high = rare or
    noisy text — the cheap stand-in for the KenLM perplexity filter in
    the CCNet / RedPajama recipes.

    Scale (re-planned r6): explode → term-count agg (map-side partials
    collapse the Zipf-hot terms, shuffle carries |vocab|×partitions
    partial rows), corpus total folded in via a broadcast 1-row
    aggregate (no driver-side literal, stays one Catalyst plan). The
    frequency table is then BROADCAST onto the postings: vocab is
    bounded by the language (~10^6-10^7 terms at any corpus size —
    fits an executor), so the raw token-level postings NEVER shuffle
    by term (the r6 crossover measured the term-keyed postings
    shuffle as the reason this family plateaued at ~3-4× DuckDB
    instead of inverting — and term keys are the canonical Zipf skew).
    The per-doc re-aggregation then combines map-side, so the only
    corpus-wide shuffle carries ONE partial row per (doc × partition).
    Determinism WITHOUT the decimal tax (second r6 re-plan): each
    token's NLL is rounded to 6 decimals, which makes it an EXACT
    integer count of 1e-6 units — so the order-free per-doc sum is a
    plain LONG sum of those micro-units (floor(nll·1e6 + 0.5)
    recovers the integer exactly; representation error is ≪ 0.5), and
    one final double division + round produces the mean. Identical
    arithmetic in the oracle → bit-stable on 1000 executors at native
    long-sum speed (the DECIMAL form measured +63% on this key at the
    100k-doc crossover point: 4.83 s vs 2.96 s).

    r10 re-plan (the rung was the weak list's last survivor; its
    "falling-ratio" story BROKE at ×400 and the break exposed a plan
    bug): the r9 ×100 4.05× → ×200 2.68× series looked like constant
    amortization, but ×400 measured 3.06× — and the executed plans
    show why. Catalyst estimates the frequency aggregate at the
    EXPLODE's inflated output bytes (817 MB at ×200, 1.6 GB at ×400,
    for a table that is actually a few KB), so the plan-stats gate
    refused the broadcast hint; below the 64 MB threshold crossover
    Catalyst then broadcast the other side — the 55M-row EXPLODED
    token frame, whose estimate is the PRE-explode file bytes (fast
    in one local JVM, an 8 GB-cap driver kill on a cluster) — and
    above it the scoring join degraded to a full token-row
    SortMergeJoin (the exact term-keyed postings shuffle this
    docstring forbids; 19.3 s at ×400). Fix: the frequency table is
    ``persist_counted`` — one count job over an aggregate the plan
    needs anyway — and the physical strategy is TIERED on the EXACT
    term cardinality:

    - n ≤ UNIGRAM_MAPLIT_MAX_TERMS: collect the (term → micro-NLL)
      table (≤ 256 rows — the KNN_Q_CAP bounded-collect discipline;
      the cap is the measured GetMapValue linear-scan crossover, see
      the constant) and score each doc in ONE projection over its token
      array via a create_map literal — no join, no explode
      materialization, no exchange anywhere in the scoring plan.
      Measured at ×400 (110M tokens, warm 5-pass medians): 11.3 s →
      **3.8-5.4 s across runs vs DuckDB's standalone 4.4 s ≈
      0.9-1.2×** — the key inverts at the top tier (×200: 3.6 s vs
      2.05 s = 1.77×, under the bar). The interpreted element_at
      lambda beats the codegen'd explode+broadcast-probe 3× because
      110M rows never materialize (the join plan was verified
      codegen-clean first: one *(4) span over scan→explode→BHJ→
      partial-agg — the gap was structural, not interpretation).
    - n ≤ VOCAB_BROADCAST_MAX_TERMS: explicit broadcast hint on the
      micro table; explode+probe+map-side partial agg (the only
      corpus-wide exchange carries ~1 row per doc×partition).
    - else (Heaps'-law web corpus, 1e8-1e9 terms): co-partitioned
      shuffle join — AQE-skew-splittable, never a driver broadcast.

    All three tiers consume the SAME Spark-computed micro values, so
    cross-tier parity is by construction (pinned in
    tests/test_quality_model.py). (The r9 per-(doc, term) pre-agg
    A/B rejection — 6.62 s vs 5.48 s at ×200 — compared two plans
    that BOTH carried the mis-planned join; superseded.) The higher
    rungs, which DO pay n-gram-keyed exchanges on
    pre-aggregated frames, invert because DuckDB's n-gram join trees
    go superlinear — the unigram rung has no such join for DuckDB to
    lose on."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_toks()).alias("term"))
    freq, n_terms = persist_counted(
        terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = freq.agg(F.sum("cnt").alias("total"))
    nll = stable_round(
        F.log(F.col("total").cast("double") / F.col("cnt")), 6
    )
    micro = F.floor(nll * F.lit(1e6) + F.lit(0.5)).cast("long")
    # micro depends only on (cnt, total): compute it ONCE PER TERM on
    # the small side, so the probe side's per-row work is a hash probe
    # + a long copy, not ln() + two floors.
    side = freq.crossJoin(F.broadcast(tot)).select("term", micro.alias("m"))
    if n_terms <= UNIGRAM_MAPLIT_MAX_TERMS:
        # Tier 1: collect the micro table (bounded ≤ 256 rows; the
        # values come from the SAME Spark expressions as the join
        # tiers, so cross-tier parity is by construction) and score
        # each doc inside ONE projection over the token array —
        # zero joins, zero exchanges, no 100M-row explode
        # materialization. The element_at lambda is interpreted
        # (HOFs don't codegen), yet it beats the codegen'd
        # explode+broadcast-probe 3×: 11.3 s → 3.8 s at ×400.
        pairs: list = []
        # frequency-ordered (micro-NLL ascending = most frequent term
        # first): GetMapValue scans keys in literal order, so on a
        # Zipf corpus the expected match depth is the head, not |V|/2
        # — free, and element_at results are order-independent (keys
        # are distinct), so the hash oracle is unaffected.
        for r in sorted(side.collect(), key=lambda r: (r["m"], r["term"])):
            pairs += [F.lit(r["term"]), F.lit(r["m"])]
        mp = F.create_map(*pairs)
        toks = _toks()
        n_toks = F.size(toks)
        msum = F.aggregate(
            F.transform(toks, lambda t: F.element_at(mp, t)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return docs.select(
            "doc_id",
            n_toks.cast("int").alias("n_tokens"),
            stable_round(
                (msum.cast("double") / F.lit(1e6)) / n_toks, 4
            ).alias("unigram_nll"),
        )
    if n_terms <= VOCAB_BROADCAST_MAX_TERMS:
        side = F.broadcast(side)
    scored = terms.join(side, "term").select("doc_id", "m")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        stable_round(
            (F.sum("m").cast("double") / F.lit(1e6)) / F.count(F.lit(1)), 4
        ).alias("unigram_nll"),
    )


def nll_threshold_frame(scored: DataFrame) -> DataFrame:
    """Tercile thresholds (1-row frame ``(t1, t2)``) for an arbitrary
    ``(doc_id, unigram_nll)`` frame — the perplexity_buckets threshold
    machinery factored out so the incremental pipeline can fit it on
    the HISTORY corpus and broadcast it onto each day's batch. Same
    discretized-cumulative-histogram construction (see
    :func:`perplexity_buckets` for the scale argument): the histogram
    is bounded by the 4-dp score space, the running sum is a window
    over that small table, and the output reduces to one broadcastable
    row via integer-only predicates."""
    from pyspark.sql import Window as W

    hist = scored.groupBy("unigram_nll").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            W.orderBy("unigram_nll").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    return cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("unigram_nll"))
        ).alias("t1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("unigram_nll"))
        ).alias("t2"),
    )


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity terciles: split the corpus into head /
    middle / tail thirds by language-model score (here the unigram
    NLL above — the same cheap KenLM stand-in), lowest NLL = head.
    CCNet/RedPajama train on head+middle and drop or down-weight
    tail; the bucket label is the knob.

    Scale shape — NO global sort, NO corpus-width window: exact
    terciles over a ranked corpus would need a global rank, the
    canonical 100 TB anti-pattern. Instead the thresholds come from a
    DISCRETIZED CUMULATIVE HISTOGRAM: per-doc NLL is already rounded
    to 4 dp, so groupBy(nll) yields a histogram BOUNDED by the score
    space (≤ ~10^5 rows for any corpus size — same bounded-small-side
    class as packing's top level), the running sum over that small
    table is a window over the histogram (not the corpus), and the
    two threshold values reduce to a broadcast 1-row aggregate folded
    into the plan (no driver action). Every doc then gets its bucket
    from two broadcast comparisons — one corpus-wide narrow map.
    t1 = min score v with 3·cum(v) ≥ N, t2 likewise for 2N: pure
    integer predicates, no division, bit-identical in both engines.
    Tie classes at a threshold land whole in the lower bucket —
    deterministic, and the only deviation from exact thirds."""
    scored = quality_unigram_nll(spark, sf_dir).select("doc_id", "unigram_nll")
    th = nll_threshold_frame(scored)
    return scored.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "unigram_nll",
        F.when(F.col("unigram_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("unigram_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


BIGRAM_LAMBDA = 0.75  # Jelinek-Mercer interpolation weight on the bigram MLE
TRIGRAM_LAMBDA = 0.7  # JM weight on the trigram MLE (λ₂ stays BIGRAM_LAMBDA)
FOURGRAM_LAMBDA = 0.65  # JM weight on the 4-gram MLE (λ₃/λ₂ stay TRIGRAM/BIGRAM_LAMBDA)
FIVEGRAM_LAMBDA = 0.6  # JM weight on the 5-gram MLE (lower orders keep their λs)
KN_D = 0.75  # Kneser-Ney absolute discount (the Chen & Goodman default)


def _ngrams_from(base: DataFrame, k: int, names: list[str],
                 with_doc: bool = False) -> DataFrame:
    """Explode the k-grams of the token-array column ``toks`` — ONE
    shared definition for every JM/KN rung (r10 self-review: the three
    verbatim closure copies were a drift hazard on code whose
    cross-rung containment the rotation arguments rely on). Zero
    shuffle: k slices + arrays_zip inside the array expression."""
    n = F.size("toks")
    ln = F.greatest(n - (k - 1), F.lit(0))
    cols = ["doc_id"] if with_doc else []
    return base.select(
        *cols,
        F.explode(
            F.arrays_zip(
                *[F.slice("toks", j + 1, ln).alias(names[j]) for j in range(k)]
            )
        ).alias("g"),
    ).select(*cols, *[F.col(f"g.{names[j]}").alias(names[j]) for j in range(k)])


def _score_occurrences(
    occ: DataFrame, gram: DataFrame, W: list[str], count_alias: str,
    nll_alias: str,
) -> DataFrame:
    """The one scoring tail of every JM and KN rung: the raw
    top-order occurrence stream ``(doc_id, *W)`` joins the per-gram
    table ``(*W, micro)`` once on the gram key, then aggregates per
    doc. There is no per-doc pre-aggregate: ``count(*)`` and
    ``sum(micro)`` equal Σ m and Σ m·micro over the per-(doc, gram)
    multiplicities m as exact integers.

    The gram side goes through the ``broadcast_if_bounded`` size gate,
    so it is the build side whenever its estimate is bounded. Without
    the hint Catalyst builds the OCCURRENCE stream: its plan-time
    estimate of an explode is the pre-explode file size (254 KB at
    sf0.1), below the estimate of the gram table's join tree. Past the
    gate the join carries no hint, so Catalyst's own threshold decides
    (a shuffle join on W once the corpus outgrows it)."""
    scored = occ.join(broadcast_if_bounded(gram), W).select("doc_id", "micro")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias(count_alias),
        stable_round(
            (F.sum("micro").cast("double") / F.lit(1e6))
            / F.count(F.lit(1)),
            4,
        ).alias(nll_alias),
    )


def _jm_rung(
    spark: SparkSession, sf_dir: str, order: int, count_alias: str,
    nll_alias: str,
) -> DataFrame:
    """One Jelinek-Mercer rung of the given order — the SINGLE
    implementation behind quality_bigram_nll (2) / trigram (3) / 4gram
    (4) / 5gram (5), the JM twin of :func:`_kn_rung`. Recursive
    interpolation (Chen & Goodman 1996, eq. 5), innermost out:

        p₁ = c(wₙ)/N
        p_k = λ_k·c(wₙ₋ₖ₊₁..wₙ)/c(wₙ₋ₖ₊₁..wₙ₋₁) + (1−λ_k)·p_{k−1}

    with λ_k the per-order constants above. Every count comes from
    the FULL corpus k-gram table (the standard estimator; the
    end-of-doc deficiency — a doc's last (k−1)-gram never opens a
    k-gram — is the usual benign normalization slack, deterministic in
    both engines). Docs with fewer than ``order`` tokens have no
    transition and are absent.

    Scale shape: n-gram formation stays inside the token-array
    expression (:func:`_ngrams_from` — slices + arrays_zip, pure JVM,
    no self-join, no window). The per-gram table is the top-order
    count table, aggregated straight from the raw occurrences; every
    other statistic joins onto this DISTINCT-gram table, so each
    gram's micro-NLL is computed once. Each middle order m is ONE
    count table joined twice — as the order-(m+1) context denominator
    on W[order−m−1 : order−1], then as the order-m numerator on
    W[order−m:] — by joins on its n-gram key that carry no broadcast
    hint: distinct n-grams grow toward |V|ᵐ at 100 TB, and AQE's skew
    join splits the Zipf-hot keys. The vocabulary-bounded unigram
    table joins twice (denominator on W[−2], numerator on W[−1])
    through the ``broadcast_if_bounded`` size gate; the corpus total
    is a 1-row broadcast. The raw occurrence stream then joins the
    finished gram table once (:func:`_score_occurrences`, the tail
    shared with the KN rungs). Per-transition NLL is rounded to 6 dp
    and summed as exact integer micro-units — the quality_unigram_nll
    discipline, bit-stable on 1000 executors at long-sum speed."""
    W = [f"w{i}" for i in range(1, order + 1)]
    lam = {2: BIGRAM_LAMBDA, 3: TRIGRAM_LAMBDA, 4: FOURGRAM_LAMBDA, 5: FIVEGRAM_LAMBDA}
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", _toks().alias("toks"))
    cu = (
        base.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = cu.agg(F.sum("cnt").alias("total"))
    occ = _ngrams_from(base, order, W, with_doc=True)
    gram = occ.groupBy(*W).agg(F.count(F.lit(1)).alias(f"num_{order}"))
    for m in range(order - 1, 1, -1):
        # g-named, so toDF always aliases: a no-op rename onto W[:m]
        # would give the two joins' broadcasts different canonical
        # plans, and AQE would stop reusing one for the other
        G = [f"g{i}" for i in range(1, m + 1)]
        cm = _ngrams_from(base, m, G).groupBy(*G).agg(F.count(F.lit(1)).alias("cnt"))
        ctx, tail = W[order - m - 1:order - 1], W[order - m:]
        gram = gram.join(cm.toDF(*ctx, f"den_{m + 1}"), ctx).join(
            cm.toDF(*tail, f"num_{m}"), tail
        )
    p = F.col("num_1").cast("double") / F.col("total")
    for k in range(2, order + 1):
        p = F.lit(lam[k]) * (
            F.col(f"num_{k}").cast("double") / F.col(f"den_{k}")
        ) + F.lit(1.0 - lam[k]) * p
    micro = F.floor(stable_round(-F.log(p), 6) * F.lit(1e6) + F.lit(0.5)).cast("long")
    gram = (
        gram.join(broadcast_if_bounded(cu.toDF(W[-2], "den_2")), W[-2])
        .join(broadcast_if_bounded(cu.toDF(W[-1], "num_1")), W[-1])
        .crossJoin(F.broadcast(tot))
        .select(*W, micro.alias("micro"))
    )
    return _score_occurrences(occ, gram, W, count_alias, nll_alias)


def quality_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model quality score — the next
    fidelity step above :func:`quality_unigram_nll` toward the CCNet /
    RedPajama KenLM filter: per-document mean negative log probability
    of each token transition under a Jelinek-Mercer-smoothed bigram LM
    (Chen & Goodman 1996), p(cur|prev) = λ·c(prev,cur)/c(prev) +
    (1-λ)·c(cur)/N with λ=0.75. A doc of fluent transitions scores low;
    shuffled or template text that unigram statistics cannot separate
    (same words, scrambled order) scores high — exactly the signal the
    unigram key misses. Only transitions are scored (the first token
    has no history), so single-token docs are absent from the output.

    Implementation: the shared :func:`_jm_rung` at order 2 — the raw
    transitions join the per-bigram table once on (prev, cur) under
    the size gate (distinct bigrams grow ~O(corpus^0.7) toward |V|²),
    and both unigram probes broadcast under the same gate."""
    return _jm_rung(spark, sf_dir, 2, "n_bigrams", "bigram_nll")


def quality_trigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursively interpolated TRIGRAM LM quality score (r7 verdict
    item 5) — the next fidelity rung toward CCNet's 5-gram KenLM
    above :func:`quality_bigram_nll`: per-document mean negative log
    probability of each trigram transition under Jelinek-Mercer
    recursive interpolation (Chen & Goodman 1996, eq. 5):

        p(w₃|w₁w₂) = λ₃·c(w₁w₂w₃)/c(w₁w₂)
                   + (1−λ₃)·[λ₂·c(w₂w₃)/c(w₂) + (1−λ₂)·c(w₃)/N]

    The trigram term catches what the bigram rung can't: locally
    plausible word pairs chained into implausible triples (template
    splices, shuffled clauses). Docs with <3 tokens have no trigram
    and are absent, exactly as the bigram key omits single-token docs.

    Implementation: the shared :func:`_jm_rung` at order 3."""
    return _jm_rung(spark, sf_dir, 3, "n_trigrams", "trigram_nll")


def quality_4gram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursively interpolated 4-GRAM LM quality score (r9, r8
    verdict item 7): per-document mean NLL of each 4-gram transition
    under Jelinek-Mercer recursive interpolation (Chen & Goodman 1996,
    eq. 5, one order up from `quality_trigram_nll`):

        p(w₄|w₁w₂w₃) = λ₄·c(w₁w₂w₃w₄)/c(w₁w₂w₃) + (1−λ₄)·p₃(w₄|w₂w₃)

    with p₃/p₂ exactly the trigram key's recursion. CCNet's
    production scorer is a 5-gram KenLM; this is the 4th of its five
    rungs. Docs with <4 tokens have no 4-gram and are absent.

    Implementation: the shared :func:`_jm_rung` at order 4."""
    return _jm_rung(spark, sf_dir, 4, "n_4grams", "fourgram_nll")


def quality_5gram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursively interpolated 5-GRAM LM quality score (r9) — the
    LADDER'S LAST RUNG: CCNet/RedPajama's production perplexity
    filter is a 5-gram KenLM, and this key reaches that model order
    with the same recursion every rung uses (Chen & Goodman 1996,
    eq. 5, through the 4-gram/trigram/bigram/unigram estimates below
    it). What remains between this and KenLM itself is the smoothing
    flavor — interpolated Kneser-Ney at every order, which is
    :func:`quality_kn5_nll`.

    Implementation: the shared :func:`_jm_rung` at order 5 — the
    five-count-table join tree is exactly what DuckDB's oracle pays
    superlinearly for (the trigram rung measured 0.11×, the 4-gram
    rung 0.35× at ×20)."""
    return _jm_rung(spark, sf_dir, 5, "n_5grams", "fivegram_nll")


def _kn_rung(
    spark: SparkSession, sf_dir: str, order: int, count_alias: str,
    nll_alias: str,
) -> DataFrame:
    """One interpolated-Kneser-Ney rung of the given order — the SINGLE
    implementation behind quality_kn_nll (2) / kn3 / kn4 / kn5 (r10
    self-review: the rungs previously duplicated the lower-order
    continuation machinery verbatim; now each higher rung contains the
    lower ones BY CONSTRUCTION). Chen & Goodman 1996 §3, interpolated
    form: raw counts at the top order, continuation counts at every
    middle order j (from the (j+1)-gram TYPE table: N₁₊(·u) = distinct
    first-token extensions), the distinct-predecessor unigram at the
    bottom.

    Scale shape (every order): the top table and every
    multi-token-keyed statistic stay on their n-gram keys (they grow
    toward |V|ⁿ — never broadcast); every SINGLE-token-keyed statistic
    is a size-gated broadcast (``broadcast_if_bounded``); the scalar
    type count is a 1-row broadcast. From order 3 up, one persisted,
    null-padded top-order count table feeds every lower-order count as
    a rollup, and the top-order context / predecessor statistics are
    windows over it (changes 1-4 below). There is no per-doc
    pre-aggregate: the raw occurrence stream joins the annotated gram
    table once on the gram key and aggregates per doc (change 3,
    :func:`_score_occurrences`, the gram table the size-gated build
    side). Per-transition NLL in exact integer micro-units, the family
    discipline.

    r13 (guide §2.3 "aggregate before you shuffle" / §2.4): every
    middle-order `mid` statistic is DERIVED from its `pred` table —
    over the distinct-(j+1)-gram type table, Σ n_pred and COUNT(*) of
    pred groups per shorter key ARE n_mid and n_sm exactly — and the
    scalar types2 is Σ cont. The r12 form re-ran each type table's
    corpus scan → n-gram explode → aggregate once per statistic (22
    `Scan parquet` nodes in the kn5 before plan, 18 in kn4 —
    plans/r13/); deriving the rollup removes one full type-table
    execution per middle order and lets the t2/cont exchange be
    reused for types2. PERSISTING the type tables instead was
    A/B-rejected this round (kn5 6.2 → 7.5 s idle median):
    materializing distinct-n-gram string tables loses to recomputing
    a codegen explode — the quality_bigram_nll ×100 lesson again.

    r14 (VERDICT #1, the driver-flat kn5 repayment). The r13 shape
    attached every statistic by a SHUFFLE JOIN onto the per-doc gram
    stream — 7 multi-token-keyed joins for kn5, each measured ~0.5-0.7 s
    of exchange+dispatch at sf0.1 (PERF.md r14 A/B: dq→+c_top→+ctx steps
    0.9 → 1.6 → 2.3 s), with the c_top/dq build subtrees duplicated
    under every consumer because differently-projected children defeat
    exchange reuse. Three output-identical structural changes
    (guide §2.3/§2.4), each an exact integer identity:

    1. Statistics whose keys are SUFFIX PREFIXES of their own type
       table become WINDOW aggregates over that table instead of
       groupBy+join-back: over the distinct top-gram table, ctx_top /
       n_succ_top are sum(cnt)/count(*) per W[:-1] partition, the
       top-order n_pred is count(*) per W[1:] partition, its n_mid
       is count(*) per W[1:-1] and n_sm the per-partition count of
       distinct suffixes (sum of first-row flags). A window pays one
       exchange+sort of the table it annotates — the join paid the
       same exchange of the PROBE stream plus a separate aggregate
       subtree plus the join itself. kn5's probe chain drops from 7
       multi-token shuffle joins to 2.
    2. Each middle order's pred/mid pair merges into ONE table
       (n_mid/n_sm are window rollups over pred keyed by its own key
       prefix) — one join per middle order instead of two.
    3. The per-doc pre-agg `dq` is GONE: top-order gram repeats
       within one doc are rare (its map-side collapse bought ~nothing
       at any order — the c_top partial aggregate collapses the same
       repeats anyway) while its (doc_id, W) exchange moved the whole
       occurrence stream once for nothing. The raw occurrence stream
       joins the annotated gram table once on W (micro is a function
       of the gram alone) and aggregates per doc: count(*) = Σ m and
       sum(micro) = Σ m·micro exactly.

    4. The per-order type tables no longer each pay their own corpus
       explode + exchange: ONE null-padded max-order gram aggregate
       (`cnt_pad` — every token position emits its order-length
       window right-padded with NULLs, so every position appears
       exactly once) is built with one corpus exchange, and every
       lower-order count/type table is a CASCADING ROLLUP of it —
       the m-gram count is Σ over the (m+1)-th column of the padded
       (m+1)-gram counts, exactly, because each position contributes
       one padded tuple. order−1 corpus explode+exchange passes
       become 1 (guide §2.3 aggregate before you shuffle).

    Single-token-keyed statistics (cont; ctx at order 2) keep the
    r9 size-gated broadcast joins — a broadcast costs no exchange,
    so the window form would only add one. Measured (idle steady
    state, sf0.1): kn5 ~5.5 → ~4.0 s, kn4 ~4.0 → ~2.9 s, kn_nll
    ~2.3 → ~1.2 s; plans/r14 before/after: kn5 Exchange nodes
    27 → 16, HashAggregate 54 → 22, corpus scan subtrees 11 → 2
    (doc-keyed probe + the persisted pad table — the RUNTIME final
    plan `quality_kn5_nll_after_runtime.txt` pins Scan=2, and the
    unpersisted variant's runtime plan showed AQE exchange reuse
    NOT firing across the cascade, which is why the persist is
    structural, not optional).

    r14b (second pass, guide §2.4): the persisted pad table is
    additionally hash-partitioned by the (w2, w3) PIVOT — w2 alone
    at order 3, the single-token layout its n_mid window already
    forced — a common SUBSET of every downstream grouping/window
    key. HashPartitioning satisfies ClusteredDistribution whenever
    the partitioning columns are a subset of the required clustering
    (subset semantics), and InMemoryTableScan reports the cached
    plan's partitioning through projections/aliases, so the gram
    windows, every cnt_pad rollup and every middle-order pred
    groupBy read the cache with NO exchange of their own; ordering
    the ordered w_pred window bottom-most lets its (W[1:], w1) sort
    serve the unordered w_pred/w_mid windows (prefix satisfaction),
    leaving the whole gram chain at 2 sorts / 0 exchanges (was 3
    exchanges + 4 sorts). types2 is COUNT(*) of t2 (≡ Σ n_pred_1,
    one aggregation shallower). Cost: one extra exchange of the
    ALREADY-AGGREGATED type table inside the cached build (partial
    aggregation of the occurrence stream preserved). Interleaved
    6-pair A/B at sf0.1: kn5 5.47 → 4.80 s (new side won every
    pair), kn4 4.35 → 4.10, kn3 won 5/5 pairs; pinned by
    test_kn_pad_cache_pivot_partitioned."""
    from pyspark.sql import Window

    W = [f"w{i}" for i in range(1, order + 1)]
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", _toks().alias("toks"))
    occ = _ngrams_from(base, order, W, with_doc=True)
    if order >= 3:
        # padded occurrence tuples: slice j is the suffix starting at
        # offset j; arrays_zip zips to the LONGEST slice, right-padding
        # the shorter ones with NULL, so position i yields
        # (t_i, ..., t_{i+order-1}) with NULLs past the doc end.
        n_t = F.size("toks")
        pad_occ = base.select(
            F.explode(
                F.arrays_zip(
                    *[
                        F.slice(
                            "toks", j + 1, F.greatest(n_t - j, F.lit(0))
                        ).alias(W[j])
                        for j in range(order)
                    ]
                )
            ).alias("g")
        ).select(*[F.col(f"g.{w}").alias(w) for w in W])
        # PERSIST + prime the one padded top table: its consumers
        # (c_top, one rollup per lower order, cont twice) are
        # differently-keyed aggregates, and the r14 runtime-plan
        # check (plans/r14/quality_kn5_nll_after_runtime.txt with the
        # unpersisted form) showed AQE exchange reuse does NOT fire
        # across them — the corpus was exploded once per consumer.
        # One corpus-scale scratch table, the _exploded_shingles
        # class (released by release_caches).

        # r14b (guide §2.4, remove shuffles outright): hash-partition
        # the CACHED pad table by a common SUBSET of every downstream
        # grouping/window key — Spark's HashPartitioning satisfies
        # ClusteredDistribution(keys) whenever the partitioning
        # columns are a subset of the keys, and InMemoryTableScan
        # reports the cached plan's partitioning — so the gram
        # windows (W[1:], W[1:-1], W[:-1]), every cnt_pad rollup
        # (W[:m], m ≥ pivot end) and every middle-order pred groupBy
        # (tail ⊇ pivot) all run WITHOUT their own exchange. Pivot
        # (w2, w3) for order ≥ 4; (w2,) at order 3 — the same
        # single-token layout its n_mid window already required, so
        # no new skew class. Cost: ONE extra exchange of the
        # already-aggregated type table (partial aggregation of the
        # occurrence stream is preserved); the kn5 plan drops from 7
        # post-cache exchanges to 2 (pm₂'s window + cont, whose keys
        # drop below the pivot).
        pivot = W[1:2] if order == 3 else W[1:3]
        cnt_top_pad, _ = persist_counted(
            pad_occ.groupBy(*W)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .repartition(*[F.col(c) for c in pivot])
        )
        cnt_pad: dict[int, DataFrame] = {order: cnt_top_pad}
        for m in range(order - 1, 1, -1):
            cnt_pad[m] = (
                cnt_top_pad.groupBy(*W[:m]).agg(F.sum("cnt").alias("cnt"))
            )
        c_top = (
            cnt_top_pad
            .filter(F.col(W[-1]).isNotNull())
            .select(*W, F.col("cnt").alias("cnt_top"))
        )
    else:
        c_top = occ.groupBy(*W).agg(F.count(F.lit(1)).alias("cnt_top"))

    def _gate(df: DataFrame, keys: list[str]) -> DataFrame:
        # single-token-keyed statistics are vocabulary-bounded and ride
        # the size gate; multi-token keys grow toward |V|ⁿ and shuffle
        return broadcast_if_bounded(df) if len(keys) == 1 else df

    gram = c_top
    if order >= 3:
        # context totals + top-order pred/mid as windows over the
        # distinct top-gram table (change 1).
        w_ctx = Window.partitionBy(*W[:-1])
        w_pred = Window.partitionBy(*W[1:])
        w_mid = Window.partitionBy(*W[1:-1])
        j = order - 1
        # Window ORDER matters for sort reuse (r14b): the ordered
        # w_pred window (row_number) is planned FIRST (bottom-most),
        # so its sort (W[1:], W[0]) also satisfies the unordered
        # w_pred count (prefix W[1:]) and the w_mid windows (prefix
        # W[1:-1]) — with the pivot-partitioned cache the whole chain
        # is 2 sorts, 0 exchanges (was 3 exchanges + 4 sorts).
        gram = (
            # first-row flag per distinct suffix: rows of one W[1:]
            # partition differ exactly in w1, so the order is total
            gram.withColumn(
                "_sfx_first",
                F.when(
                    F.row_number().over(w_pred.orderBy(W[0])) == 1, F.lit(1)
                ).otherwise(F.lit(0)),
            )
            .withColumn(f"n_pred_{j}", F.count(F.lit(1)).over(w_pred))
            .withColumn(f"n_mid_{j}", F.count(F.lit(1)).over(w_mid))
            .withColumn(f"n_sm_{j}", F.sum("_sfx_first").over(w_mid))
            .withColumn("ctx_top", F.sum("cnt_top").over(w_ctx))
            .withColumn("n_succ_top", F.count(F.lit(1)).over(w_ctx))
            .drop("_sfx_first")
        )
    else:
        ctx = c_top.groupBy(*W[:-1]).agg(
            F.sum("cnt_top").alias("ctx_top"),
            F.count(F.lit(1)).alias("n_succ_top"),
        )
        gram = gram.join(_gate(ctx, W[:-1]), W[:-1])
    # middle orders j = 2..order-2 from the cascading rollups (change
    # 4), pred+mid merged per order (change 2); order 2's bigram type
    # table is the top table itself.
    if order == 2:
        t2 = c_top.select(*W)
    else:
        t2 = (
            cnt_pad[2]
            .filter(F.col(W[1]).isNotNull())
            .select(F.col(W[0]).alias("g1"), F.col(W[1]).alias("g2"))
        )
    for j in range(order - 2, 1, -1):
        names = [f"g{i}" for i in range(1, j + 2)]
        t = (
            cnt_pad[j + 1]
            .filter(F.col(W[j]).isNotNull())
            .select(*[F.col(W[i]).alias(names[i]) for i in range(j + 1)])
        )
        tail, keys = names[1:], W[order - j:]
        pred = (
            t.groupBy(*tail)
            .agg(F.count(F.lit(1)).alias(f"n_pred_{j}"))
            .select(
                *[F.col(c).alias(k) for c, k in zip(tail, keys)], f"n_pred_{j}"
            )
        )
        # window rollup of pred, not a groupBy + second join: per
        # shorter key, Σ n_pred = COUNT(*) of t rows = n_mid, and
        # COUNT(*) of pred groups = COUNT(DISTINCT last-token) = n_sm —
        # exact integer identities over the distinct-gram type table.
        w_roll = Window.partitionBy(*keys[:-1])
        pm = pred.withColumn(f"n_mid_{j}", F.sum(f"n_pred_{j}").over(w_roll)).withColumn(
            f"n_sm_{j}", F.count(F.lit(1)).over(w_roll)
        )
        gram = gram.join(_gate(pm, keys), keys)
    # bottom: distinct-predecessor unigram over the bigram type table
    last2 = t2.columns[1]
    cont = (
        t2.groupBy(last2)
        .agg(F.count(F.lit(1)).alias("n_pred_1"))
        .select(F.col(last2).alias(W[-1]), "n_pred_1")
    )
    # N₁₊(··) = Σ_w N₁₊(·w) = |{distinct bigram types}| = COUNT(*) of
    # t2 — the exact same integer, one aggregation shallower than
    # summing cont (r14b: the cont subtree was rebuilt under the
    # scalar, 3 exchanges for one number; count(t2) is 2, and count
    # of an empty table is 0, preserving the advisor-r13 semantics).
    types2 = t2.agg(F.count(F.lit(1)).alias("n_types2"))
    p = F.col("n_pred_1").cast("double") / F.col("n_types2")
    for j in range(2, order):
        p = (
            F.greatest(F.col(f"n_pred_{j}").cast("double") - F.lit(KN_D), F.lit(0.0))
            + F.lit(KN_D) * F.col(f"n_sm_{j}").cast("double") * p
        ) / F.col(f"n_mid_{j}")
    p = (
        F.greatest(F.col("cnt_top").cast("double") - F.lit(KN_D), F.lit(0.0))
        + F.lit(KN_D) * F.col("n_succ_top").cast("double") * p
    ) / F.col("ctx_top")
    micro = F.floor(stable_round(-F.log(p), 6) * F.lit(1e6) + F.lit(0.5)).cast("long")
    gram = (
        gram.join(_gate(cont, [W[-1]]), W[-1])
        .crossJoin(F.broadcast(types2))
        .select(*W, micro.alias("micro"))
    )
    return _score_occurrences(occ, gram, W, count_alias, nll_alias)


def quality_kn_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM quality score — the smoothing
    family CCNet's KenLM actually uses (Chen & Goodman 1996 name it
    the consistently best-performing method; `quality_bigram_nll` is
    the Jelinek-Mercer rung, this is the KN rung of the same ladder):

        p_KN(w|u) = (max(c(uw) − D, 0) + D · N₁₊(u·) · p_cont(w)) / c(u·)
        p_cont(w) = N₁₊(·w) / N₁₊(··)

    The continuation probability is KN's insight: a word's backoff
    mass is how many CONTEXTS it completes, not how often it occurs —
    "Francisco" is frequent but follows almost only "San", so KN
    backs off to it far less than MLE would. Every term is an exact
    integer count over the corpus bigram table: c(uw) the bigram
    count, c(u·) the context total, N₁₊(u·) the distinct-successor
    count, N₁₊(·w) the distinct-predecessor count, N₁₊(··) the
    distinct bigram types. Docs with <2 tokens have no transition and
    are absent (the family contract).

    Scale shape: transitions form inside the token-array expression;
    the corpus bigram table aggregates the transition stream directly
    (map-side partial aggregation collapses the Zipf-hot repeats); and
    because all four KN statistics are keyed by a SINGLE token
    (context totals / successor counts by prev, continuation counts by
    cur, one scalar type count) they are SIZE-GATED broadcasts (r9:
    broadcast on any measured tier, co-partitioned shuffle join past
    the 64 MB estimate) — the only corpus-scale multi-token join left
    is the raw transition stream ⋈ the annotated bigram table on the
    bigram key, followed by the per-doc aggregate. Determinism:
    per-transition NLL in exact integer micro-units, the family
    discipline.

    Implementation: the shared :func:`_kn_rung` at order 2 (r10 —
    every KN order is the one builder; this rung IS the recursion's
    base case)."""
    return _kn_rung(spark, sf_dir, 2, "n_bigrams", "kn_nll")


def quality_kn3_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY at TRIGRAM order (r9) — the smoothing
    axis extended one model order, exactly as the JM axis was: KenLM
    is interpolated KN at EVERY order, and this rung measures that
    the KN recursion (Chen & Goodman 1996 §3, interpolated form)
    distributes over the ladder the same way JM's did:

        p₃(w₃|w₁w₂) = (max(c(w₁w₂w₃)−D, 0) + D·N₁₊(w₁w₂·)·p₂(w₃|w₂)) / c(w₁w₂·)
        p₂(w₃|w₂)   = (max(N₁₊(·w₂w₃)−D, 0) + D·N₁₊mid(w₂·)·p₁(w₃)) / N₁₊(·w₂·)
        p₁(w₃)      = N₁₊(·w₃) / N₁₊(··)

    The middle order runs on CONTINUATION counts (how many contexts a
    bigram completes), the KN insight one level up: N₁₊(·w₂w₃) =
    distinct predecessors of the (w₂,w₃) tail in the trigram type
    table; its normalizer N₁₊(·w₂·) and backoff-type count
    N₁₊mid(w₂·) come from the same table grouped by the middle token.
    Context totals c(w₁w₂·) are Σ_w₃ c(w₁w₂w₃) from the trigram
    table itself (exact normalization — no end-of-doc slack at all
    in this key). Every statistic is an exact integer count.

    Scale shape — the KN-bigram argument one order up, on the padded
    form: one persisted, null-padded trigram count table,
    hash-partitioned by its w₂ pivot, yields the bigram type table as
    a rollup; the context totals, successor counts and middle-order
    predecessor / normalizer counts are windows over the distinct
    trigram table that read that layout without an exchange; the
    continuation counts (by w₃) and the scalar type count broadcast.
    The raw trigram occurrence stream joins the annotated trigram
    table once on (w₁,w₂,w₃) and aggregates per doc; micro-unit exact
    sums, the family discipline.

    Implementation: the shared :func:`_kn_rung` at order 3 (r10 — the
    middle-order machinery this rung introduced in r9 now lives in
    the one builder every order runs)."""
    return _kn_rung(spark, sf_dir, 3, "n_trigrams", "kn3_nll")


def quality_kn4_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY at 4-GRAM order (r10, r9 verdict item
    4): the KN axis extended the same way the JM axis was, one rung
    from true KenLM. The recursion (Chen & Goodman 1996 §3,
    interpolated form) at order 4:

        p₄(w₄|w₁w₂w₃) = (max(c(w₁w₂w₃w₄)−D, 0)
                          + D·N₁₊(w₁w₂w₃·)·p₃(w₄|w₂w₃)) / c(w₁w₂w₃·)
        p₃(w₄|w₂w₃)   = (max(N₁₊(·w₂w₃w₄)−D, 0)
                          + D·N₁₊mid(w₂w₃·)·p₂(w₄|w₃)) / N₁₊(·w₂w₃·)
        p₂(w₄|w₃)     = (max(N₁₊(·w₃w₄)−D, 0)
                          + D·N₁₊mid(w₃·)·p₁(w₄)) / N₁₊(·w₃·)
        p₁(w₄)        = N₁₊(·w₄) / N₁₊(··)

    Only the TOP order runs on raw counts; every middle order runs on
    continuation counts from the type table one order up (N₁₊(·uw) =
    distinct first-token extensions of the k-gram (u,w) in the
    (k+1)-gram type table) — the KN insight applied at every level,
    which is exactly what KenLM estimates.

    Scale shape — the kn3 argument one order up: the padded 4-gram
    table is hash-partitioned by the (w₂,w₃) pivot; the context totals
    and the order-3 predecessor / normalizer counts are windows over
    the distinct 4-gram table; the order-2 statistics keyed (w₃,w₄)
    are the one multi-token middle-order shuffle join (they grow
    toward |V|ⁿ — never broadcast); the continuation counts by w₄ are
    a size-gated broadcast and the type count a 1-row broadcast. The
    raw 4-gram occurrence stream joins the annotated table once and
    aggregates per doc; per-transition NLL in exact integer
    micro-units (the family discipline).

    Implementation: the shared :func:`_kn_rung` at order 4."""
    return _kn_rung(spark, sf_dir, 4, "n_4grams", "kn4_nll")


def quality_kn5_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY at 5-GRAM order (r10) — TRUE KenLM
    FIDELITY: CCNet/RedPajama's production perplexity filter is an
    interpolated-KN 5-gram model, and this rung is that estimator —
    raw counts at the top order, continuation counts at every middle
    order, the distinct-predecessor unigram at the bottom (Chen &
    Goodman 1996 §3; Heafield 2011 builds the same statistics):

        p₅ = (max(c(w₁..w₅)−D,0)  + D·N₁₊(w₁..w₄·)·p₄) / c(w₁..w₄·)
        p₄ = (max(N₁₊(·w₂..w₅)−D,0) + D·N₁₊mid(w₂w₃w₄·)·p₃) / N₁₊(·w₂w₃w₄·)
        p₃ = (max(N₁₊(·w₃w₄w₅)−D,0) + D·N₁₊mid(w₃w₄·)·p₂) / N₁₊(·w₃w₄·)
        p₂ = (max(N₁₊(·w₄w₅)−D,0)   + D·N₁₊mid(w₄·)·p₁)   / N₁₊(·w₄·)
        p₁ = N₁₊(·w₅) / N₁₊(··)

    What remains between this and KenLM the artifact is engineering,
    not estimation: order-interleaved trie storage and per-order
    FITTED discounts (D estimated from the count-of-counts n₁,n₂ per
    order) vs the fixed Chen & Goodman default here.

    Scale shape — the kn4 argument one order up: the top-order
    statistics are windows over the pivot-partitioned padded 5-gram
    table; the annotated gram table carries two multi-token
    middle-order joins (order 3 on (w₃,w₄,w₅), order 2 on (w₄,w₅)),
    the size-gated continuation broadcast by w₅ and the 1-row type
    count; the raw occurrence stream then joins it once on the 5-gram
    key. DuckDB's oracle pays superlinearly for this estimator's join
    tree (the kn3 rung measured 0.04× at ×100 — DuckDB 14 min vs Spark
    ~40 s)."""
    return _kn_rung(spark, sf_dir, 5, "n_5grams", "kn5_nll")


# Tag taxonomy for phrase-dictionary tagging: tag → marker phrases
# (multi-word, so matching is substring-level, not token-set overlap
# like lang_id). Deterministic dict order fixes the column build.
TAXONOMY: dict[str, list[str]] = {
    "db": ["hash table", "sort order", "query plan"],
    "perf": ["fast scan", "slow join", "big sort"],
    "stream": ["window merge", "stream batch", "the stream"],
}


def keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-dictionary document tagging — the taxonomy / topic /
    flag-list labeling pass (toxic-phrase lists, domain taxonomies,
    compliance term sheets) that routes corpus slices to different
    treatments. A document carries a tag when ANY of the tag's marker
    phrases occurs as a substring; output is the sorted tag array,
    the tag count, and the total phrase-hit count.

    Scale shape: the dictionary is bounded (thousands of phrases at
    production size), so every match is a row-local ``contains`` over
    broadcast-as-literal phrases — one narrow codegen map, zero
    shuffles, zero Python, linear in corpus bytes × phrases. A
    dictionary too large for the expression tree (10^5+ phrases)
    switches to the token-postings LEFT SEMI broadcast join on each
    phrase's first token + verify, the decontamination-family shape.

    r8 (verdict item 4, the 2.02×-at-×100 flat constant — root-caused
    and closed): the ×100 wall was ONE task — the single-row-group
    scale fixture is indivisible however Spark splits it. Fixed by
    the gated rebalance (readers.rebalance_dense_scan, 8.0 → 5.4 s on
    the old fixture) plus realistic 16k-row-group fixtures that
    parallelize the scan natively in both engines. Final ×100:
    **0.8 s vs DuckDB 3.4 s = 0.25×** — the key inverts."""
    docs = rebalance_dense_scan(load_table(spark, sf_dir, "documents"))
    tag_arrays = []
    n_hits = F.lit(0)
    for tag, phrases in TAXONOMY.items():
        cond = F.lit(False)
        for p in phrases:
            cond = cond | F.col("text").contains(p)
            n_hits = n_hits + F.when(F.col("text").contains(p), 1).otherwise(0)
        tag_arrays.append(
            F.when(cond, F.array(F.lit(tag))).otherwise(
                F.array().cast("array<string>")
            )
        )
    tags = F.array_sort(F.concat(*tag_arrays))
    # r12 (verdict item 1): the tags column is serialized '|'-joined —
    # the driver canonicalizes with pandas sort_values over all output
    # columns, which dies on raw list cells (unhashable type: 'list');
    # r11 proved this was the registry's ONLY nested output column.
    # Repo convention everywhere else (operators/aggregates.py:77,101)
    # is array_join/to_json serialization; keyword_tag now conforms.
    return docs.select(
        "doc_id",
        F.array_join(tags, "|").alias("tags"),
        F.size(tags).cast("int").alias("n_tags"),
        n_hits.cast("int").alias("n_phrase_hits"),
    )


# tag_and_filter thresholds (the mixer config, named so reasons read)
TF_MIN_TOKENS = 12
TF_MIN_STOPWORD = 0.01
TF_MIN_CHAR_DIV = 0.05


def tag_and_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Dolma-architecture decision layer — taggers compute per-doc
    attributes, the mixer applies ORDERED filter rules and records the
    FIRST failing rule as the reason code (the audit trail every
    production corpus keeps so every dropped doc is explainable):
    too_short → low_stopword → low_char_diversity → has_email →
    unknown_lang, else keep. Attributes ride along so downstream
    re-mixing can re-decide without re-tagging.

    Scale shape: every tagger here is a row-local expression (token
    stats, stopword ratio, char diversity via array_distinct over the
    char split, email regex count, the lang_id marker argmax) and the
    mixer is one CASE — the WHOLE op is a single narrow codegen map,
    zero shuffles, zero Python; heavier taggers (model scores,
    perplexity) join in by doc_id as separate columns when needed,
    which is exactly how the attribute-file architecture scales."""
    docs = load_table(spark, sf_dir, "documents")
    return tag_docs(docs)


def tag_docs(docs: DataFrame) -> DataFrame:
    """The tagger+mixer expressions over an arbitrary ``(doc_id,
    text)`` frame — shared verbatim by the batch key and the
    streaming sink (`streaming.incremental.run_tag_filter_sink`), so
    stream/batch parity holds by construction."""
    from labelmain_spark.functions.pii import EMAIL_RE

    toks = _toks()
    n = F.size(toks)
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    sw_ratio = stable_round(
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
        / n,
        4,
    )
    char_div = stable_round(
        F.size(F.array_distinct(F.split(F.col("text"), ""))).cast("double")
        / F.greatest(F.length("text"), F.lit(1)),
        4,
    )
    n_emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0))
    pred, best = _lang_pred_cols()
    tagged = docs.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        sw_ratio.alias("stopword_ratio"),
        char_div.alias("char_diversity"),
        n_emails.cast("int").alias("n_emails"),
        pred.alias("lang_pred"),
        best.alias("lang_score"),
    )
    reason = (
        F.when(F.col("n_tokens") < TF_MIN_TOKENS, "too_short")
        .when(F.col("stopword_ratio") < TF_MIN_STOPWORD, "low_stopword")
        .when(F.col("char_diversity") < TF_MIN_CHAR_DIV, "low_char_diversity")
        .when(F.col("n_emails") > 0, "has_email")
        .when(F.col("lang_score") <= 0, "unknown_lang")
    )
    return tagged.select(
        "*",
        reason.alias("drop_reason"),
        reason.isNull().alias("kept"),
    )


CHI2_K = 10  # distinctive terms reported per language


def chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive terms by chi-squared association — the
    corpus-report op (Dolma-style data cards, slice characterization):
    for each (lang, term) cell of the term×language contingency table,
    χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) over the exact token
    counts, then the top-K terms per language. High χ² = "this term is
    what makes this slice different".

    Scale shape: the contingency table is ONE partial-agg shuffle
    keyed (lang, term) — raw postings collapse map-side; the PER-TERM
    marginal's cardinality is the corpus distinct vocabulary
    (billions of rows on a web corpus), so its broadcast hint is
    SIZE-GATED (``broadcast_if_bounded``, r9) with a co-partitioned
    shuffle-join fallback on `term`; the language marginal and the
    1-row total stay broadcast (genuinely bounded); χ² is
    a row-local double expression over exact longs (products cast to
    double BEFORE squaring — (ad−bc)² overflows int64 at ~10^9-token
    marginals, the kind of bug only a 100 TB corpus exposes); the
    per-language top-K gets Catalyst's rank-limit pushdown
    (WindowGroupLimit — the sample_group argument). Determinism: χ²
    rounds to 4 dp and ranks with a term tiebreak — a total order, so
    the selected rows are engine-exact."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    ct = (
        docs.select("lang", F.explode(_toks()).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    termtot = ct.groupBy("term").agg(F.sum("a").alias("term_total"))
    langtot = ct.groupBy("lang").agg(F.sum("a").alias("lang_total"))
    tot = ct.agg(F.sum("a").alias("nn"))
    # termtot has one row per DISTINCT CORPUS TERM — size-gated hint
    # (r9): broadcast on fixtures, plain shuffle join at web-scale
    # vocabulary, where both sides co-partition on `term`. langtot and
    # the 1-row total stay unconditionally broadcast (language set and
    # a global count are genuinely bounded).
    j = (
        ct.join(broadcast_if_bounded(termtot), "term")
        .join(F.broadcast(langtot), "lang")
        .crossJoin(F.broadcast(tot))
    )
    a = F.col("a").cast("double")
    b = (F.col("term_total") - F.col("a")).cast("double")
    c = (F.col("lang_total") - F.col("a")).cast("double")
    d = (F.col("nn") - F.col("term_total") - F.col("lang_total") + F.col("a")).cast(
        "double"
    )
    chi2 = stable_round(
        F.col("nn").cast("double")
        * F.pow(a * d - b * c, F.lit(2.0))
        / ((a + b) * (c + d) * (a + c) * (b + d)),
        4,
    )
    ranked = j.select("lang", "term", "a", chi2.alias("chi2")).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("lang").orderBy(F.col("chi2").desc(), F.col("term").asc())
        ),
    )
    return ranked.filter(F.col("rk") <= CHI2_K).select(
        "lang", F.col("rk").cast("int").alias("rk"), "term", "a", "chi2"
    )


ENTROPY_MIN = 2.0  # nats; below ≈ repeated-char / binary-garbage text


def entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality filter — the RefinedWeb-class garbage
    detector that catches what word statistics can't: base64 blobs,
    repeated-character padding, and binary spill all have extreme
    character-level Shannon entropy, while natural language sits in a
    narrow band. H = ln(n) − Σ c·ln(c)/n over the per-doc character
    histogram; docs under ENTROPY_MIN nats flag ``low_entropy``.

    Scale shape: char explode → per-(doc, char) partial count (the
    hot space-character collapses map-side) → per-doc re-agg whose
    input is bounded by each doc's ALPHABET, not its length — the
    corpus-wide shuffle carries one row per (doc, distinct-char,
    partition). Determinism: ln(c) is rounded to 6 dp and carried as
    exact integer micro-units times the exact count (the
    quality_unigram_nll discipline) so the order-free per-doc sum is
    a plain long sum; one double expression at the end.

    A "zero-shuffle" rewrite (row-local sorted-run-length histogram
    via filter/transform/aggregate lambdas) was A/B-measured at ×100
    and REJECTED: 110.8 s vs 33-39 s here — Spark's higher-order
    array functions evaluate INTERPRETED per element while
    explode + hash-agg runs whole-stage codegen, so at ~280M chars
    the lambda tax dwarfs the shuffle it saved. Family rule recorded:
    prefer explode+agg over per-element lambdas whenever the array
    is long and the lambda body is non-trivial.

    r8 (verdict item 4): the ×100 wall was ONE task — the
    single-row-group scale fixture serialized the explode+partial-agg
    stage (and DuckDB's scan equally). The gated rebalance
    (readers.rebalance_dense_scan) spreads the explode even over an
    unsplittable scan (41 → 7.5 s measured on the old fixture);
    realistic 16k-row-group fixtures parallelize both engines
    natively. Final ×100: 3.4 s vs DuckDB 1.4 s = 2.40× — the
    remaining gap is the (doc,char) hash-agg constant, with the
    zero-shuffle lambda alternative already A/B-rejected above (3×
    worse); absolute cost is down 12× from the r7 row."""
    docs = rebalance_dense_scan(load_table(spark, sf_dir, "documents"))
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
    )
    hist = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    micro = F.floor(
        stable_round(F.log(F.col("cnt").cast("double")), 6) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    agg = hist.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_distinct_chars"),
        F.sum(F.col("cnt") * micro).alias("msum"),
    )
    ent = stable_round(
        F.log(F.col("n").cast("double"))
        - (F.col("msum").cast("double") / F.lit(1e6)) / F.col("n"),
        4,
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars_seen"),
        "n_distinct_chars",
        ent.alias("char_entropy"),
        (ent < F.lit(ENTROPY_MIN)).alias("low_entropy"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-text fingerprint (md5 of lower/trimmed text) grouped to
    expose exact-duplicate clusters."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


WINNOW_K = 8  # char-gram length
WINNOW_W = 4  # winnowing window (hashes per window)


def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    k-char-gram, slide a w-hash window, keep each window's minimum —
    guaranteed to share fingerprints with any document overlapping by
    ≥ w+k-1 chars, at ~1/w the storage of all grams.

    The gram hash is the first 15 hex chars of md5 kept AS A STRING:
    winnowing needs any total order, and lexicographic order on hex
    digests is one DuckDB reproduces exactly (a numeric conversion has
    no DuckDB twin — that's why dedup_simhash is rows-only).

    Plan shape (r13, guide §2.3/§2.5): the repartition moved BELOW
    the hashing and keys on doc_id — the old form hashed on the scan
    side (ONE task for a single-split input: every md5 on one core)
    and then round-robin-shuffled the hash ARRAY, which is ~15× the
    text bytes (one 15-hex string per character position). Now the
    raw TEXT shuffles once (1× bytes) and the CPU-bound hashing runs
    above the exchange on all cores. The hash projection stays its
    own Project between the exchange and the window-min Generate —
    CollapseProject refuses to merge it because `h` is referenced
    more than once and the transform is non-cheap (SPARK-36718, the
    _shingle_df discipline; asserted on the plan: md5 appears once,
    above the exchange). Then explode + distinct — still one wide
    shuffle (the distinct), linear in corpus bytes.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    k, w = WINNOW_K, WINNOW_W
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - (k - 1))),
        lambda i: F.col("text").substr(i, F.lit(k)),
    )
    hashes = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 15))
    hashed = (
        docs.select("doc_id", "text")
        .repartition(n, F.col("doc_id"))
        .select("doc_id", hashes.alias("h"))
    )
    nwin = F.greatest(F.lit(1), F.size(F.col("h")) - (w - 1))
    mins = F.transform(
        F.sequence(F.lit(1), nwin), lambda j: F.array_min(F.slice(F.col("h"), j, w))
    )
    return (
        hashed.select("doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint"))
        .distinct()
    )


def _sql_markers(ms: list[str]) -> str:
    inner = ", ".join(f"'{m}'" for m in ms)
    return f"[{inner}]"


_LANG_SCORE = {
    lang: f"len(list_intersect(list_distinct(string_split(text, ' ')), {_sql_markers(ms)}))"
    for lang, ms in LANG_MARKERS.items()
}
_BEST = "GREATEST(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
_PRED_CASE = "CASE " + " ".join(
    f"WHEN s_{lang} = {_BEST} THEN '{lang}'" for lang in LANG_MARKERS
) + " END"
_SQL_SW = _sql_markers(STOPWORDS)

from labelmain_spark.functions.pii import EMAIL_RE as _EMAIL_RE  # noqa: E402

_TF_REASON = (
    f"CASE WHEN n_tokens < {TF_MIN_TOKENS} THEN 'too_short' "
    f"WHEN stopword_ratio < {TF_MIN_STOPWORD!r} THEN 'low_stopword' "
    f"WHEN char_diversity < {TF_MIN_CHAR_DIV!r} THEN 'low_char_diversity' "
    "WHEN n_emails > 0 THEN 'has_email' "
    "WHEN lang_score <= 0 THEN 'unknown_lang' END"
)

C4_LINE_W = 12  # tokens per synthetic "line" (fixture text has no newlines)


def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's line-level cleaning rules (Raffel et al. 2020, §2.2) —
    the most-copied filter set in pretraining: keep only lines that
    (1) end in a terminal punctuation mark, (2) carry >= 3 words and
    (3) do not mention javascript; drop the whole PAGE when it
    contains "lorem ipsum" or a curly brace, or when fewer than 5
    lines survive (the paper counts sentences; every synthetic kept
    line here ends in exactly one '.', so kept lines ARE sentences).

    Fixture note: the synthetic corpus has no newlines or
    punctuation, so the page structure is INJECTED deterministically
    from doc_id (the pii_scrub/domain_stats pattern): lines are
    C4_LINE_W-token windows, ~2/3 get a terminal '.', every 11th
    (doc_id*7+i) gets a ' javascript' mention, docs % 17 / % 19 get
    a lorem-ipsum / brace poison on line 0 — so every rule fires on
    real rows in BOTH engines. (Real C4 matches case-insensitively;
    the fixture is lowercase, so a plain contains is exact here.)

    Output: (doc_id, n_lines, n_kept, page_kept, clean_fp) where
    clean_fp is the md5 of the newline-joined surviving lines — the
    value-checkable witness of the cleaned page.

    Scale shape: the ENTIRE operator is per-document expression work
    (transform/filter/exists over the line array) — zero shuffles,
    zero Python, composes with scan pruning; the only wide thing a
    deployment adds is whatever aggregation consumes the audit. The
    same property makes it STREAM-COMPOSABLE AS-IS: ``c4_clean``
    applies unchanged to a readStream of documents (no foreachBatch
    needed — pinned by test_stream_c4_line_filter_matches_batch)."""
    return c4_clean(load_table(spark, sf_dir, "documents"))


def c4_clean(raw_docs: DataFrame) -> DataFrame:
    """The C4 line-filter projection over an arbitrary (doc_id, text)
    frame — batch or streaming (it is pure per-row expression work,
    legal on an unbounded stream). See ``c4_line_filter``."""
    docs = raw_docs.select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t")
    )
    lines = F.expr(
        f"""transform(sequence(0, CAST((size(t) + {C4_LINE_W - 1}) DIV {C4_LINE_W} AS INT) - 1),
            i -> concat(
                array_join(slice(t, i * {C4_LINE_W} + 1, {C4_LINE_W}), ' '),
                CASE WHEN (doc_id * 7 + i) % 11 = 0 THEN ' javascript' ELSE '' END,
                CASE WHEN i = 0 AND doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END,
                CASE WHEN i = 0 AND doc_id % 19 = 0 THEN ' {{' ELSE '' END,
                CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END))"""
    )
    kept = F.expr(
        """filter(lines, l -> l rlike '[.!?"]$'
                  AND size(split(l, ' ')) >= 3
                  AND NOT (l like '%javascript%'))"""
    )
    bad = F.expr(
        "exists(lines, l -> l like '%lorem ipsum%' OR l like '%{%')"
    )
    out = docs.select("doc_id", lines.alias("lines")).select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        kept.alias("kept"),
        bad.alias("bad"),
    )
    return out.select(
        "doc_id",
        "n_lines",
        F.size("kept").cast("long").alias("n_kept"),
        ((~F.col("bad")) & (F.size("kept") >= 5)).alias("page_kept"),
        F.md5(F.array_join(F.col("kept"), "\n")).alias("clean_fp"),
    )


# FIM (fill-in-the-middle) transform constants — Bavarian et al. 2022
# ("Efficient Training of Language Models to Fill in the Middle"):
# transform a hash-selected fraction of docs into PSM order
# (prefix-suffix-middle with sentinels) so the model learns infilling;
# the paper's headline result is that ~50% FIM rate costs no
# left-to-right perplexity ("FIM-for-free"), hence FIM_BP = 5000.
FIM_BP = 5000  # basis points of docs transformed
FIM_MIN_TOKENS = 4  # below this a 3-way split has an empty span
FIM_PRE, FIM_SUF, FIM_MID = "<PRE>", "<SUF>", "<MID>"


def _fim_hash(salt: str, engine: str, ndigits: int = 8) -> str:
    """First ``ndigits`` md5 hex digits of (salt || doc_id) as a
    non-negative integer — Spark via conv(hex,16,10), DuckDB via the
    '0x' cast (the dedup_simhash precedent); ≤8 digits = 32 bits,
    sign-safe in both.

    Same VALUE as ``sampling._hash_hex_expr`` (the digit-fold sum IS
    the hex-prefix integer — equality pinned in pytest), but it cannot
    delegate: this helper runs at text-module import (the ORACLE
    literal), and sampling's own import-time ORACLE reads
    ``text.ORACLE`` back (``_curriculum_oracle``) — the documented
    one-directional constraint there ("text.py never imports sampling
    at module level") is what keeps that cycle un-deadlocked."""
    if engine == "spark":
        return (
            f"CAST(conv(substr(md5(concat('{salt}', CAST(doc_id AS STRING))),"
            f" 1, {ndigits}), 16, 10) AS BIGINT)"
        )
    return (
        f"CAST('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)),"
        f" 1, {ndigits}) AS BIGINT)"
    )


def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022):
    a deterministic hash-selected FIM_BP fraction of documents is
    split at two hash-derived token cuts 1 ≤ a < b ≤ n-1 (all three
    spans non-empty) and re-emitted in PSM sentinel order
    ``<PRE>prefix<SUF>suffix<MID>middle`` — the infilling objective
    code models train on; the rest pass through untouched. Both the
    apply/skip draw and the cut points are pure functions of doc_id
    under distinct salts, so the transform is retry/partition-stable
    and the oracle replays it exactly.

    Scale shape: one narrow row-local codegen map — token split,
    three integer hash folds, two slices, three joins — zero
    shuffles, zero Python, linear in corpus bytes; the FIM rate and
    cut entropy ride the hash, not an RNG, which is what makes the
    transform reproducible across cluster re-runs (the property the
    paper's data pipeline needs and ``df.sample``-style RNG cannot
    give)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    toks = _toks()
    n = F.size(toks)
    gate = F.expr(_fim_hash("fimg:", "spark")) % F.lit(10_000)
    apply_ = (n >= FIM_MIN_TOKENS) & (gate < FIM_BP)
    a = F.lit(1) + F.expr(_fim_hash("fima:", "spark")) % (n - F.lit(2)).cast("long")
    b = a + F.lit(1) + F.expr(_fim_hash("fimb:", "spark")) % (n - F.lit(1) - a)
    prefix = F.array_join(F.slice(toks, F.lit(1), a), " ")
    middle = F.array_join(F.slice(toks, a + F.lit(1), b - a), " ")
    suffix = F.array_join(F.slice(toks, b + F.lit(1), n - b), " ")
    psm = F.concat(
        F.lit(FIM_PRE), prefix, F.lit(FIM_SUF), suffix, F.lit(FIM_MID), middle
    )
    return docs.select(
        "doc_id",
        F.when(apply_, F.lit(1)).otherwise(F.lit(0)).alias("fim_applied"),
        F.when(apply_, a).otherwise(n).cast("long").alias("n_prefix"),
        F.when(apply_, b - a).otherwise(F.lit(0)).cast("long").alias("n_middle"),
        F.when(apply_, n - b).otherwise(F.lit(0)).cast("long").alias("n_suffix"),
        F.when(apply_, psm).otherwise(F.col("text")).alias("psm"),
    )


# SFT chat-template constants. Single-turn instruction tuning renders
# each (instruction, response) pair into one training string with role
# sentinels and trains ONLY on the response span — every open recipe
# (Alpaca, FLAN, Tülu) masks the prompt tokens out of the loss, so the
# pipeline must emit the mask boundaries WITH the rendered text (a
# trainer cannot re-derive them after tokenization without re-parsing
# sentinels). The instruction is the doc's first k tokens under a
# hash-derived cut, capped at SFT_MAX_INSTR (prompts are short; the
# response carries the gradient).
SFT_MIN_TOKENS = 2  # below this one of the two spans is empty
SFT_MAX_INSTR = 32
SFT_USER, SFT_ASST, SFT_END = "<|user|>", "<|assistant|>", "<|end|>"


def chat_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-turn SFT chat-template render with loss-mask offsets —
    the supervised-fine-tuning sibling of ``fim_transform``: each doc
    splits at a hash-derived cut k = 1 + h % min(n-1, SFT_MAX_INSTR)
    into (instruction, response), renders as
    ``<|user|> instr <|assistant|> resp <|end|>`` (space-joined, so
    the rendered string is exactly n + 3 whitespace tokens), and emits
    the 1-indexed loss-mask token span [loss_start, loss_end] =
    [k + 3, n + 3] — the response plus the <|end|> token, everything
    before it (role sentinels + prompt) masked out, the standard SFT
    objective. Docs under SFT_MIN_TOKENS pass through untouched with a
    zeroed mask (one span would be empty).

    The cut is a pure function of doc_id (``_fim_hash`` under its own
    salt), so the render is retry/partition-stable and the oracle
    replays it token-for-token.

    Scale shape: one narrow row-local codegen map — token split, one
    integer hash fold, two slices, one concat — zero shuffles, zero
    Python, linear in corpus bytes; the multi-turn extension is the
    same expression iterated over a conversation array, still
    row-local. Composes with scan pruning (only doc_id + text read),
    and — like ``c4_clean`` — runs UNCHANGED on a readStream (pure
    per-row expression work, no foreachBatch shim; pinned by
    test_stream_chat_sft_render_matches_batch)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    return sft_render(docs)


def sft_render(docs: DataFrame) -> DataFrame:
    """The SFT render projection over an arbitrary (doc_id, text)
    frame (text non-null) — batch or streaming. See
    ``chat_sft_render``."""
    toks = _toks()
    n = F.size(toks)
    apply_ = n >= SFT_MIN_TOKENS
    # divisor least(n-1, cap) is 0 on 1-token docs -> NULL in BOTH
    # engines (the fim_transform %-by-zero contract, value-pinned on
    # the degenerate fixture); the gate keeps those rows on the
    # passthrough branch so the NULL is never consumed.
    k = F.lit(1) + F.expr(_fim_hash("sftk:", "spark")) % F.least(
        n - F.lit(1), F.lit(SFT_MAX_INSTR)
    ).cast("long")
    instr = F.array_join(F.slice(toks, F.lit(1), k), " ")
    resp = F.array_join(F.slice(toks, k + F.lit(1), n - k), " ")
    rendered = F.concat_ws(
        " ", F.lit(SFT_USER), instr, F.lit(SFT_ASST), resp, F.lit(SFT_END)
    )
    return docs.select(
        "doc_id",
        F.when(apply_, F.lit(1)).otherwise(F.lit(0)).alias("sft_applied"),
        n.cast("long").alias("n_tokens"),
        F.when(apply_, k).otherwise(F.lit(0)).cast("long").alias("k_instr"),
        F.when(apply_, k + F.lit(3)).otherwise(F.lit(0)).cast("long").alias("loss_start"),
        F.when(apply_, n + F.lit(3)).otherwise(F.lit(0)).cast("long").alias("loss_end"),
        F.when(apply_, rendered).otherwise(F.col("text")).alias("rendered"),
    )


QUERIES = {
    "c4_line_filter": c4_line_filter,
    "fim_transform": fim_transform,
    "chat_sft_render": chat_sft_render,
    "text_tokens": text_tokens,
    "lang_id": lang_id,
    "text_quality": text_quality,
    "quality_repetition": quality_repetition,
    "tfidf_topk": tfidf_topk,
    "bm25_topk": bm25_topk,
    "quality_unigram_nll": quality_unigram_nll,
    "quality_bigram_nll": quality_bigram_nll,
    "quality_trigram_nll": quality_trigram_nll,
    "quality_4gram_nll": quality_4gram_nll,
    "quality_5gram_nll": quality_5gram_nll,
    "quality_kn_nll": quality_kn_nll,
    "quality_kn3_nll": quality_kn3_nll,
    "quality_kn4_nll": quality_kn4_nll,
    "quality_kn5_nll": quality_kn5_nll,
    "entropy_filter": entropy_filter,
    "keyword_tag": keyword_tag,
    "tag_and_filter": tag_and_filter,
    "chi2_keywords": chi2_keywords,
    "perplexity_buckets": perplexity_buckets,
    "doc_fingerprint": doc_fingerprint,
    "doc_winnow": doc_winnow,
}

_BM25_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, ts in BM25_QUERIES for t in ts
)
_BM25_IN = ", ".join(f"'{t}'" for t in sorted({t for _, ts in BM25_QUERIES for t in ts}))
# explicitly-parenthesized BM25 contribution, token-for-token the Spark
# expression's shape (exact longs in, one double expression out)
_BM25_CONTRIB = (
    "(LN((((CAST(s.n_docs AS DOUBLE) - df.df) + 0.5) / (df.df + 0.5)) + 1.0)"
    f" * (CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0!r}))"
    f" / (tf.tf + {BM25_K1!r} * ({1.0 - BM25_B!r}"
    f" + (({BM25_B!r} * tf.dl) / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))"
)

ORACLE = {
    # same hash fold, same cut arithmetic, same sentinel render — the
    # whole transform is a pure function of doc_id + text, so the
    # oracle replays it token-for-token (the fim_transform contract)
    "chat_sft_render": f"""
        WITH d AS (
            SELECT doc_id,
                   coalesce(text, '') AS text,
                   string_split(coalesce(text, ''), ' ') AS toks,
                   len(string_split(coalesce(text, ''), ' ')) AS n,
                   {_fim_hash("sftk:", "duck")} AS hk
            FROM documents
        ), c AS (
            SELECT doc_id, text, toks, n,
                   (n >= {SFT_MIN_TOKENS}) AS apply,
                   1 + hk % least(n - 1, {SFT_MAX_INSTR}) AS k
            FROM d
        )
        SELECT doc_id,
               CAST(CASE WHEN apply THEN 1 ELSE 0 END AS INTEGER) AS sft_applied,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(CASE WHEN apply THEN k ELSE 0 END AS BIGINT) AS k_instr,
               CAST(CASE WHEN apply THEN k + 3 ELSE 0 END AS BIGINT) AS loss_start,
               CAST(CASE WHEN apply THEN n + 3 ELSE 0 END AS BIGINT) AS loss_end,
               CASE WHEN apply THEN
                   '{SFT_USER} ' || array_to_string(list_slice(toks, 1, k), ' ')
                   || ' {SFT_ASST} ' || array_to_string(list_slice(toks, k + 1, n), ' ')
                   || ' {SFT_END}'
               ELSE text END AS rendered
        FROM c
    """,
    "fim_transform": f"""
        WITH d AS (
            SELECT doc_id,
                   coalesce(text, '') AS text,
                   string_split(coalesce(text, ''), ' ') AS toks,
                   len(string_split(coalesce(text, ''), ' ')) AS n,
                   ({_fim_hash("fimg:", "duck")}) % 10000 AS gate,
                   {_fim_hash("fima:", "duck")} AS ha,
                   {_fim_hash("fimb:", "duck")} AS hb
            FROM documents
        ), cut AS (
            SELECT doc_id, text, toks, n,
                   (n >= {FIM_MIN_TOKENS} AND gate < {FIM_BP}) AS apply,
                   (1 + ha % (n - 2)) AS a,
                   (1 + ha % (n - 2)) + 1 + hb % (n - 1 - (1 + ha % (n - 2))) AS b
            FROM d
        )
        SELECT doc_id,
               CAST(CASE WHEN apply THEN 1 ELSE 0 END AS INTEGER) AS fim_applied,
               CAST(CASE WHEN apply THEN a ELSE n END AS BIGINT) AS n_prefix,
               CAST(CASE WHEN apply THEN b - a ELSE 0 END AS BIGINT) AS n_middle,
               CAST(CASE WHEN apply THEN n - b ELSE 0 END AS BIGINT) AS n_suffix,
               CASE WHEN apply THEN
                   '{FIM_PRE}' || array_to_string(list_slice(toks, 1, a), ' ')
                   || '{FIM_SUF}' || array_to_string(list_slice(toks, b + 1, n), ' ')
                   || '{FIM_MID}' || array_to_string(list_slice(toks, a + 1, b), ' ')
               ELSE text END AS psm
        FROM cut
    """,
    "c4_line_filter": f"""
        WITH d AS (
            SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
            FROM documents
        ), l AS (
            SELECT doc_id, list_transform(
                range(0, CAST((len(t) + {C4_LINE_W - 1}) // {C4_LINE_W} AS BIGINT)),
                i -> array_to_string(list_slice(t, i * {C4_LINE_W} + 1,
                                                i * {C4_LINE_W} + {C4_LINE_W}), ' ')
                     || CASE WHEN (doc_id * 7 + i) % 11 = 0 THEN ' javascript' ELSE '' END
                     || CASE WHEN i = 0 AND doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END
                     || CASE WHEN i = 0 AND doc_id % 19 = 0 THEN ' {{' ELSE '' END
                     || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
            ) AS lines FROM d
        ), k AS (
            SELECT doc_id, len(lines) AS n_lines,
                   list_filter(lines, x ->
                       regexp_matches(x, '[.!?\"]$')
                       AND len(string_split(x, ' ')) >= 3
                       AND NOT contains(x, 'javascript')) AS kept,
                   len(list_filter(lines, x ->
                       contains(x, 'lorem ipsum') OR contains(x, '{{'))) > 0 AS bad
            FROM l
        )
        SELECT doc_id,
               CAST(n_lines AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept,
               ((NOT bad) AND len(kept) >= 5) AS page_kept,
               md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_fp
        FROM k
    """,

    "text_tokens": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
               (FLOOR((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0) AS ttr,
               CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))
                    AS INTEGER) AS n_subword_tokens
        FROM documents
    """,
    # identical taggers, identical ordered CASE mixer
    "tag_and_filter": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   {sql_stable_round(
                       "CAST(len(list_filter(string_split(text, ' '), "
                       f"t -> list_contains({_SQL_SW}, t))) AS DOUBLE)"
                       " / len(string_split(text, ' '))", 4
                   )} AS stopword_ratio,
                   {sql_stable_round(
                       "CAST(len(list_distinct(string_split(text, ''))) AS DOUBLE)"
                       " / GREATEST(length(text), 1)", 4
                   )} AS char_diversity,
                   CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER)
                       AS n_emails,
                   {", ".join(f"{expr} AS s_{lang}" for lang, expr in _LANG_SCORE.items())}
            FROM documents
        ), a AS (
            SELECT doc_id, n_tokens, stopword_ratio, char_diversity, n_emails,
                   {_PRED_CASE} AS lang_pred,
                   CAST({_BEST} AS INTEGER) AS lang_score
            FROM t
        )
        SELECT doc_id, n_tokens, stopword_ratio, char_diversity, n_emails,
               lang_pred, lang_score,
               {_TF_REASON} AS drop_reason,
               ({_TF_REASON}) IS NULL AS kept
        FROM a
    """,
    "lang_id": f"""
        SELECT doc_id, lang_actual, {_PRED_CASE} AS lang_pred,
               CAST({_BEST} AS INTEGER) AS score
        FROM (
            SELECT doc_id, lang AS lang_actual,
                   {", ".join(f"{expr} AS s_{lang}" for lang, expr in _LANG_SCORE.items())}
            FROM documents
        )
    """,
    "text_quality": f"""
        SELECT doc_id,
               CAST(n_tok AS INTEGER) AS n_tokens,
               (FLOOR((CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok) * 10000.0 + 0.5)
                   / 10000.0) AS mean_token_len,
               (FLOOR((CAST(n_sw AS DOUBLE) / n_tok) * 10000.0 + 0.5) / 10000.0)
                   AS stopword_ratio,
               (FLOOR((LEAST(1.0, n_tok / 100.0) * (1.0 - CAST(n_sw AS DOUBLE) / n_tok))
                   * 10000.0 + 0.5) / 10000.0) AS quality_score
        FROM (
            SELECT doc_id, n_chars,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_filter(string_split(text, ' '),
                                   t -> list_contains({_SQL_SW}, t))) AS n_sw
            FROM documents
        )
    """,
    "tfidf_topk": f"""
        WITH t AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term
        ), sc AS (
            SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
                   {sql_stable_round(
                       "tf.tf * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / dfreq.df)",
                       4,
                   )} AS tfidf
            FROM tf JOIN dfreq USING (term)
        )
        SELECT doc_id, term, tf, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
            ) AS rnk FROM sc
        ) WHERE rnk <= {TFIDF_TOPK}
    """,
    "bm25_topk": f"""
        WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
        d AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), post AS (
            SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM d
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
            FROM post WHERE term IN ({_BM25_IN})
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), s AS (
            SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM d
        ), c AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(FLOOR({sql_stable_round(_BM25_CONTRIB, 6)} * 1e6 + 0.5)
                        AS BIGINT) AS m
            FROM tf JOIN df USING (term) JOIN q USING (term), s
        ), a AS (
            SELECT query_id, doc_id,
                   {sql_stable_round("CAST(SUM(m) AS DOUBLE) / 1e6", 4)} AS bm25
            FROM c GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, bm25, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC
            ) AS rnk FROM a
        ) WHERE rnk <= {BM25_TOPK}
    """,
    "quality_unigram_nll": f"""
        WITH t AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), f AS (
            SELECT term, COUNT(*) AS cnt FROM t GROUP BY term
        ), p AS (
            SELECT doc_id,
                   CAST(floor({sql_stable_round(
                       "ln(CAST((SELECT SUM(cnt) FROM f) AS DOUBLE) / cnt)", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS m
            FROM t JOIN f USING (term)
        )
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
               {sql_stable_round("(CAST(SUM(m) AS DOUBLE) / 1e6) / COUNT(*)", 4)} AS unigram_nll
        FROM p GROUP BY doc_id
    """,
    # identical λ-interpolated transition probability, identical
    # micro-unit discipline: round the per-transition NLL to 6 dp,
    # carry it as an exact BIGINT count of 1e-6 units weighted by the
    # transition multiplicity, divide once at the end
    "quality_bigram_nll": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), cu AS (
            SELECT term, COUNT(*) AS cnt_u FROM (
                SELECT unnest(toks) AS term FROM t
            ) GROUP BY term
        ), bg AS (
            SELECT doc_id, u.prev AS prev, u.cur AS cur FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), dbg AS (
            SELECT doc_id, prev, cur, CAST(COUNT(*) AS BIGINT) AS m
            FROM bg GROUP BY doc_id, prev, cur
        ), cb AS (
            SELECT prev, cur, CAST(SUM(m) AS BIGINT) AS cnt_b
            FROM dbg GROUP BY prev, cur
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln({BIGRAM_LAMBDA!r} * (CAST(cb.cnt_b AS DOUBLE) / pu.cnt_u)"
                       f" + {1.0 - BIGRAM_LAMBDA!r} * (CAST(cc.cnt_u AS DOUBLE)"
                       " / (SELECT SUM(cnt_u) FROM cu)))", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dbg d
            JOIN cb ON cb.prev = d.prev AND cb.cur = d.cur
            JOIN cu pu ON pu.term = d.prev
            JOIN cu cc ON cc.term = d.cur
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_bigrams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS bigram_nll
        FROM p GROUP BY doc_id
    """,
    # interpolated Kneser-Ney twin: every statistic an exact count
    # over the bigram table, expression mirrored token-for-token;
    # MATERIALIZED count CTEs per the trigram-twin lesson (inlined
    # same-source CTEs push DuckDB's optimizer into cross-product
    # build sides).
    "quality_kn_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), bg AS (
            SELECT doc_id, u.prev AS prev, u.cur AS cur FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), dbg AS MATERIALIZED (
            SELECT doc_id, prev, cur, CAST(COUNT(*) AS BIGINT) AS m
            FROM bg GROUP BY doc_id, prev, cur
        ), cb AS MATERIALIZED (
            SELECT prev, cur, CAST(SUM(m) AS BIGINT) AS cnt_b
            FROM dbg GROUP BY prev, cur
        ), ctx AS MATERIALIZED (
            SELECT prev, CAST(SUM(cnt_b) AS BIGINT) AS ctx_tot,
                   CAST(COUNT(*) AS BIGINT) AS n_follow
            FROM cb GROUP BY prev
        ), cont AS MATERIALIZED (
            SELECT cur, CAST(COUNT(*) AS BIGINT) AS n_precede
            FROM cb GROUP BY cur
        ), types AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM cb
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln((greatest(CAST(cb.cnt_b AS DOUBLE) - {KN_D!r}, 0.0)"
                       f" + {KN_D!r} * CAST(ctx.n_follow AS DOUBLE)"
                       " * (CAST(cont.n_precede AS DOUBLE) / types.n_types))"
                       " / ctx.ctx_tot)", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dbg d
            JOIN cb ON cb.prev = d.prev AND cb.cur = d.cur
            JOIN ctx ON ctx.prev = d.prev
            JOIN cont ON cont.cur = d.cur
            CROSS JOIN types
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_bigrams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS kn_nll
        FROM p GROUP BY doc_id
    """,
    # the bigram oracle extended one order: same recursive JM
    # expression token-for-token, context counts from the full bigram
    # table, micro-unit rounding before the order-free weighted sum.
    # The count CTEs are AS MATERIALIZED and the corpus total rides a
    # 1-row CROSS JOIN: with every relation inlined, DuckDB's
    # optimizer merged this 6-way join into ONE hash join whose build
    # side was a CROSS_PRODUCT chain of all the count tables (~10^18
    # rows — measured hang at sf0.001; the 3-join bigram twin
    # tolerates inlining). Materialization gives each side a real
    # cardinality and the plan returns to five hash joins, 0.2 s.
    "quality_trigram_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), cu AS MATERIALIZED (
            SELECT term, COUNT(*) AS cnt_u FROM (
                SELECT unnest(toks) AS term FROM t
            ) GROUP BY term
        ), bg AS (
            SELECT u.prev AS prev, u.cur AS cur FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), cb AS MATERIALIZED (
            SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt_b
            FROM bg GROUP BY prev, cur
        ), tg AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 2, 0)),
                           i -> {{'w1': toks[i + 1], 'w2': toks[i + 2],
                                  'w3': toks[i + 3]}}
                       )) AS u
                FROM t
            )
        ), dtg AS MATERIALIZED (
            SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS m
            FROM tg GROUP BY doc_id, w1, w2, w3
        ), ct AS MATERIALIZED (
            SELECT w1, w2, w3, CAST(SUM(m) AS BIGINT) AS cnt_t
            FROM dtg GROUP BY w1, w2, w3
        ), tot AS MATERIALIZED (
            SELECT CAST(SUM(cnt_u) AS BIGINT) AS total FROM cu
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln({TRIGRAM_LAMBDA!r} * (CAST(ct.cnt_t AS DOUBLE) / ctx.cnt_b)"
                       f" + {1.0 - TRIGRAM_LAMBDA!r} * ({BIGRAM_LAMBDA!r}"
                       " * (CAST(b23.cnt_b AS DOUBLE) / pu.cnt_u)"
                       f" + {1.0 - BIGRAM_LAMBDA!r} * (CAST(cc.cnt_u AS DOUBLE)"
                       " / tot.total)))", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dtg d
            JOIN ct ON ct.w1 = d.w1 AND ct.w2 = d.w2 AND ct.w3 = d.w3
            JOIN cb ctx ON ctx.prev = d.w1 AND ctx.cur = d.w2
            JOIN cb b23 ON b23.prev = d.w2 AND b23.cur = d.w3
            JOIN cu pu ON pu.term = d.w2
            JOIN cu cc ON cc.term = d.w3
            CROSS JOIN tot
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_trigrams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS trigram_nll
        FROM p GROUP BY doc_id
    """,
    "quality_kn3_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), tg AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 2, 0)),
                           i -> {{'w1': toks[i + 1], 'w2': toks[i + 2],
                                  'w3': toks[i + 3]}}
                       )) AS u
                FROM t
            )
        ), dtg AS MATERIALIZED (
            SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS m
            FROM tg GROUP BY doc_id, w1, w2, w3
        ), ct3 AS MATERIALIZED (
            SELECT w1, w2, w3, CAST(SUM(m) AS BIGINT) AS cnt_t
            FROM dtg GROUP BY w1, w2, w3
        ), ctx3 AS MATERIALIZED (
            SELECT w1, w2, CAST(SUM(cnt_t) AS BIGINT) AS ctx3,
                   CAST(COUNT(*) AS BIGINT) AS n_succ3
            FROM ct3 GROUP BY w1, w2
        ), pred3 AS MATERIALIZED (
            SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n_pred3
            FROM ct3 GROUP BY w2, w3
        ), mid3 AS MATERIALIZED (
            SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_mid3,
                   CAST(COUNT(DISTINCT w3) AS BIGINT) AS n_succ_mid
            FROM ct3 GROUP BY w2
        ), bg AS (
            SELECT u.prev AS prev, u.cur AS cur FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), cb AS MATERIALIZED (
            SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt_b
            FROM bg GROUP BY prev, cur
        ), cont2 AS MATERIALIZED (
            SELECT cur AS w3, CAST(COUNT(*) AS BIGINT) AS n_cont2
            FROM cb GROUP BY cur
        ), types2 AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types2 FROM cb
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln((greatest(CAST(c.cnt_t AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(x.n_succ3 AS DOUBLE)"
                       f" * ((greatest(CAST(pr.n_pred3 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(md.n_succ_mid AS DOUBLE)"
                       " * (CAST(co.n_cont2 AS DOUBLE) / ty.n_types2))"
                       " / md.n_mid3)) / x.ctx3)", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dtg d
            JOIN ct3 c ON c.w1 = d.w1 AND c.w2 = d.w2 AND c.w3 = d.w3
            JOIN ctx3 x ON x.w1 = d.w1 AND x.w2 = d.w2
            JOIN pred3 pr ON pr.w2 = d.w2 AND pr.w3 = d.w3
            JOIN mid3 md ON md.w2 = d.w2
            JOIN cont2 co ON co.w3 = d.w3
            CROSS JOIN types2 ty
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_trigrams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS kn3_nll
        FROM p GROUP BY doc_id
    """,
    # the kn3 oracle one order up: raw counts at the top, continuation
    # counts from the 4-gram type table at the middle, the kn3 middle
    # machinery reused below it. Same MATERIALIZED discipline.
    "quality_kn4_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), qg AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, u.w4 AS w4 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 3, 0)),
                           i -> {{'w1': toks[i + 1], 'w2': toks[i + 2],
                                  'w3': toks[i + 3], 'w4': toks[i + 4]}}
                       )) AS u
                FROM t
            )
        ), dqg AS MATERIALIZED (
            SELECT doc_id, w1, w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS m
            FROM qg GROUP BY doc_id, w1, w2, w3, w4
        ), c4 AS MATERIALIZED (
            SELECT w1, w2, w3, w4, CAST(SUM(m) AS BIGINT) AS cnt_q
            FROM dqg GROUP BY w1, w2, w3, w4
        ), ctx4 AS MATERIALIZED (
            SELECT w1, w2, w3, CAST(SUM(cnt_q) AS BIGINT) AS ctx4,
                   CAST(COUNT(*) AS BIGINT) AS n_succ4
            FROM c4 GROUP BY w1, w2, w3
        ), pred4 AS MATERIALIZED (
            SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS n_pred4
            FROM c4 GROUP BY w2, w3, w4
        ), mid4 AS MATERIALIZED (
            SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n_mid4,
                   CAST(COUNT(DISTINCT w4) AS BIGINT) AS n_succmid4
            FROM c4 GROUP BY w2, w3
        ), tg AS (
            SELECT u.a AS a, u.b AS b, u.c AS c FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 2, 0)),
                           i -> {{'a': toks[i + 1], 'b': toks[i + 2],
                                  'c': toks[i + 3]}}
                       )) AS u
                FROM t
            )
        ), ct3 AS MATERIALIZED (
            SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt_t
            FROM tg GROUP BY a, b, c
        ), pred3 AS MATERIALIZED (
            SELECT b AS w3, c AS w4, CAST(COUNT(*) AS BIGINT) AS n_pred3
            FROM ct3 GROUP BY b, c
        ), mid3 AS MATERIALIZED (
            SELECT b AS w3, CAST(COUNT(*) AS BIGINT) AS n_mid3,
                   CAST(COUNT(DISTINCT c) AS BIGINT) AS n_succ_mid
            FROM ct3 GROUP BY b
        ), bg AS (
            SELECT u.prev AS prev, u.cur AS cur FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), cb AS MATERIALIZED (
            SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt_b
            FROM bg GROUP BY prev, cur
        ), cont2 AS MATERIALIZED (
            SELECT cur AS w4, CAST(COUNT(*) AS BIGINT) AS n_cont2
            FROM cb GROUP BY cur
        ), types2 AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types2 FROM cb
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln((greatest(CAST(c.cnt_q AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(x.n_succ4 AS DOUBLE)"
                       f" * ((greatest(CAST(p4.n_pred4 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(m4.n_succmid4 AS DOUBLE)"
                       f" * ((greatest(CAST(p3.n_pred3 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(m3.n_succ_mid AS DOUBLE)"
                       " * (CAST(co.n_cont2 AS DOUBLE) / ty.n_types2))"
                       " / m3.n_mid3)) / m4.n_mid4)) / x.ctx4)", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dqg d
            JOIN c4 c ON c.w1 = d.w1 AND c.w2 = d.w2 AND c.w3 = d.w3
                     AND c.w4 = d.w4
            JOIN ctx4 x ON x.w1 = d.w1 AND x.w2 = d.w2 AND x.w3 = d.w3
            JOIN pred4 p4 ON p4.w2 = d.w2 AND p4.w3 = d.w3 AND p4.w4 = d.w4
            JOIN mid4 m4 ON m4.w2 = d.w2 AND m4.w3 = d.w3
            JOIN pred3 p3 ON p3.w3 = d.w3 AND p3.w4 = d.w4
            JOIN mid3 m3 ON m3.w3 = d.w3
            JOIN cont2 co ON co.w4 = d.w4
            CROSS JOIN types2 ty
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_4grams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS kn4_nll
        FROM p GROUP BY doc_id
    """,
    # the kn4 oracle one order up — true KenLM shape: the 9-way join
    # tree over five n-gram statistic tables is the deepest oracle in
    # the ladder (the catastrophic-inversion family at scale).
    "quality_kn5_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), g5 AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, u.w4 AS w4,
                   u.w5 AS w5 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 4, 0)),
                           i -> {{'w1': toks[i + 1], 'w2': toks[i + 2],
                                  'w3': toks[i + 3], 'w4': toks[i + 4],
                                  'w5': toks[i + 5]}}
                       )) AS u
                FROM t
            )
        ), dq5 AS MATERIALIZED (
            SELECT doc_id, w1, w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS m
            FROM g5 GROUP BY doc_id, w1, w2, w3, w4, w5
        ), c5 AS MATERIALIZED (
            SELECT w1, w2, w3, w4, w5, CAST(SUM(m) AS BIGINT) AS cnt_5
            FROM dq5 GROUP BY w1, w2, w3, w4, w5
        ), ctx5 AS MATERIALIZED (
            SELECT w1, w2, w3, w4, CAST(SUM(cnt_5) AS BIGINT) AS ctx5,
                   CAST(COUNT(*) AS BIGINT) AS n_succ5
            FROM c5 GROUP BY w1, w2, w3, w4
        ), pred5 AS MATERIALIZED (
            SELECT w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS n_pred5
            FROM c5 GROUP BY w2, w3, w4, w5
        ), mid5 AS MATERIALIZED (
            SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS n_mid5,
                   CAST(COUNT(DISTINCT w5) AS BIGINT) AS n_succmid5
            FROM c5 GROUP BY w2, w3, w4
        ), qg AS (
            SELECT u.a AS a, u.b AS b, u.c AS c, u.d AS d FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 3, 0)),
                           i -> {{'a': toks[i + 1], 'b': toks[i + 2],
                                  'c': toks[i + 3], 'd': toks[i + 4]}}
                       )) AS u
                FROM t
            )
        ), c4t AS MATERIALIZED (
            SELECT a, b, c, d, CAST(COUNT(*) AS BIGINT) AS cnt_q
            FROM qg GROUP BY a, b, c, d
        ), pred4 AS MATERIALIZED (
            SELECT b AS w3, c AS w4, d AS w5, CAST(COUNT(*) AS BIGINT) AS n_pred4
            FROM c4t GROUP BY b, c, d
        ), mid4 AS MATERIALIZED (
            SELECT b AS w3, c AS w4, CAST(COUNT(*) AS BIGINT) AS n_mid4,
                   CAST(COUNT(DISTINCT d) AS BIGINT) AS n_succmid4
            FROM c4t GROUP BY b, c
        ), tg AS (
            SELECT u.a AS a, u.b AS b, u.c AS c FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 2, 0)),
                           i -> {{'a': toks[i + 1], 'b': toks[i + 2],
                                  'c': toks[i + 3]}}
                       )) AS u
                FROM t
            )
        ), ct3 AS MATERIALIZED (
            SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt_t
            FROM tg GROUP BY a, b, c
        ), pred3 AS MATERIALIZED (
            SELECT b AS w4, c AS w5, CAST(COUNT(*) AS BIGINT) AS n_pred3
            FROM ct3 GROUP BY b, c
        ), mid3 AS MATERIALIZED (
            SELECT b AS w4, CAST(COUNT(*) AS BIGINT) AS n_mid3,
                   CAST(COUNT(DISTINCT c) AS BIGINT) AS n_succ_mid
            FROM ct3 GROUP BY b
        ), bg AS (
            SELECT u.prev AS prev, u.cur AS cur FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), cb AS MATERIALIZED (
            SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt_b
            FROM bg GROUP BY prev, cur
        ), cont2 AS MATERIALIZED (
            SELECT cur AS w5, CAST(COUNT(*) AS BIGINT) AS n_cont2
            FROM cb GROUP BY cur
        ), types2 AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_types2 FROM cb
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln((greatest(CAST(c.cnt_5 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(x.n_succ5 AS DOUBLE)"
                       f" * ((greatest(CAST(p5.n_pred5 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(m5.n_succmid5 AS DOUBLE)"
                       f" * ((greatest(CAST(p4.n_pred4 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(m4.n_succmid4 AS DOUBLE)"
                       f" * ((greatest(CAST(p3.n_pred3 AS DOUBLE) - {KN_D!r}, 0e0)"
                       f" + {KN_D!r} * CAST(m3.n_succ_mid AS DOUBLE)"
                       " * (CAST(co.n_cont2 AS DOUBLE) / ty.n_types2))"
                       " / m3.n_mid3)) / m4.n_mid4)) / m5.n_mid5)) / x.ctx5)", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dq5 d
            JOIN c5 c ON c.w1 = d.w1 AND c.w2 = d.w2 AND c.w3 = d.w3
                     AND c.w4 = d.w4 AND c.w5 = d.w5
            JOIN ctx5 x ON x.w1 = d.w1 AND x.w2 = d.w2 AND x.w3 = d.w3
                       AND x.w4 = d.w4
            JOIN pred5 p5 ON p5.w2 = d.w2 AND p5.w3 = d.w3 AND p5.w4 = d.w4
                         AND p5.w5 = d.w5
            JOIN mid5 m5 ON m5.w2 = d.w2 AND m5.w3 = d.w3 AND m5.w4 = d.w4
            JOIN pred4 p4 ON p4.w3 = d.w3 AND p4.w4 = d.w4 AND p4.w5 = d.w5
            JOIN mid4 m4 ON m4.w3 = d.w3 AND m4.w4 = d.w4
            JOIN pred3 p3 ON p3.w4 = d.w4 AND p3.w5 = d.w5
            JOIN mid3 m3 ON m3.w4 = d.w4
            JOIN cont2 co ON co.w5 = d.w5
            CROSS JOIN types2 ty
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_5grams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS kn5_nll
        FROM p GROUP BY doc_id
    """,
    "quality_4gram_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), cu AS MATERIALIZED (
            SELECT term, COUNT(*) AS cnt_u FROM (
                SELECT unnest(toks) AS term FROM t
            ) GROUP BY term
        ), bg AS (
            SELECT u.prev AS prev, u.cur AS cur FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 1, 0)),
                           i -> {{'prev': toks[i + 1], 'cur': toks[i + 2]}}
                       )) AS u
                FROM t
            )
        ), cb AS MATERIALIZED (
            SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt_b
            FROM bg GROUP BY prev, cur
        ), tg AS (
            SELECT u.a AS a, u.b AS b, u.c AS c FROM (
                SELECT unnest(list_transform(
                           range(greatest(len(toks) - 2, 0)),
                           i -> {{'a': toks[i + 1], 'b': toks[i + 2],
                                  'c': toks[i + 3]}}
                       )) AS u
                FROM t
            )
        ), ct3 AS MATERIALIZED (
            SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt_t
            FROM tg GROUP BY a, b, c
        ), qg AS (
            SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3, u.w4 AS w4 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - 3, 0)),
                           i -> {{'w1': toks[i + 1], 'w2': toks[i + 2],
                                  'w3': toks[i + 3], 'w4': toks[i + 4]}}
                       )) AS u
                FROM t
            )
        ), dqg AS MATERIALIZED (
            SELECT doc_id, w1, w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS m
            FROM qg GROUP BY doc_id, w1, w2, w3, w4
        ), c4 AS MATERIALIZED (
            SELECT w1, w2, w3, w4, CAST(SUM(m) AS BIGINT) AS cnt_q
            FROM dqg GROUP BY w1, w2, w3, w4
        ), tot AS MATERIALIZED (
            SELECT CAST(SUM(cnt_u) AS BIGINT) AS total FROM cu
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln({FOURGRAM_LAMBDA!r} * (CAST(c4.cnt_q AS DOUBLE) / ctx3.cnt_t)"
                       f" + {1.0 - FOURGRAM_LAMBDA!r} * ({TRIGRAM_LAMBDA!r}"
                       " * (CAST(t234.cnt_t AS DOUBLE) / b23.cnt_b)"
                       f" + {1.0 - TRIGRAM_LAMBDA!r} * ({BIGRAM_LAMBDA!r}"
                       " * (CAST(b34.cnt_b AS DOUBLE) / cu3.cnt_u)"
                       f" + {1.0 - BIGRAM_LAMBDA!r} * (CAST(cu4.cnt_u AS DOUBLE)"
                       " / tot.total))))", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dqg d
            JOIN c4 ON c4.w1 = d.w1 AND c4.w2 = d.w2 AND c4.w3 = d.w3 AND c4.w4 = d.w4
            JOIN ct3 ctx3 ON ctx3.a = d.w1 AND ctx3.b = d.w2 AND ctx3.c = d.w3
            JOIN ct3 t234 ON t234.a = d.w2 AND t234.b = d.w3 AND t234.c = d.w4
            JOIN cb b23 ON b23.prev = d.w2 AND b23.cur = d.w3
            JOIN cb b34 ON b34.prev = d.w3 AND b34.cur = d.w4
            JOIN cu cu3 ON cu3.term = d.w3
            JOIN cu cu4 ON cu4.term = d.w4
            CROSS JOIN tot
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_4grams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS fourgram_nll
        FROM p GROUP BY doc_id
    """,
    "quality_5gram_nll": f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), cu AS MATERIALIZED (
            SELECT term, COUNT(*) AS cnt_u FROM (
                SELECT unnest(toks) AS term FROM t
            ) GROUP BY term
        ), cb AS MATERIALIZED (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM (
                SELECT u.a AS a, u.b AS b FROM (
                    SELECT unnest(list_transform(
                               range(greatest(len(toks) - 1, 0)),
                               i -> {{'a': toks[i + 1], 'b': toks[i + 2]}}
                           )) AS u
                    FROM t
                )
            ) GROUP BY a, b
        ), ct3 AS MATERIALIZED (
            SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt_t FROM (
                SELECT u.a AS a, u.b AS b, u.c AS c FROM (
                    SELECT unnest(list_transform(
                               range(greatest(len(toks) - 2, 0)),
                               i -> {{'a': toks[i + 1], 'b': toks[i + 2],
                                      'c': toks[i + 3]}}
                           )) AS u
                    FROM t
                )
            ) GROUP BY a, b, c
        ), c4 AS MATERIALIZED (
            SELECT a, b, c, d, CAST(COUNT(*) AS BIGINT) AS cnt_q FROM (
                SELECT u.a AS a, u.b AS b, u.c AS c, u.d AS d FROM (
                    SELECT unnest(list_transform(
                               range(greatest(len(toks) - 3, 0)),
                               i -> {{'a': toks[i + 1], 'b': toks[i + 2],
                                      'c': toks[i + 3], 'd': toks[i + 4]}}
                           )) AS u
                    FROM t
                )
            ) GROUP BY a, b, c, d
        ), dq5 AS MATERIALIZED (
            SELECT doc_id, w1, w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS m
            FROM (
                SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3,
                       u.w4 AS w4, u.w5 AS w5 FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(greatest(len(toks) - 4, 0)),
                               i -> {{'w1': toks[i + 1], 'w2': toks[i + 2],
                                      'w3': toks[i + 3], 'w4': toks[i + 4],
                                      'w5': toks[i + 5]}}
                           )) AS u
                    FROM t
                )
            ) GROUP BY doc_id, w1, w2, w3, w4, w5
        ), c5 AS MATERIALIZED (
            SELECT w1, w2, w3, w4, w5, CAST(SUM(m) AS BIGINT) AS cnt_5
            FROM dq5 GROUP BY w1, w2, w3, w4, w5
        ), tot AS MATERIALIZED (
            SELECT CAST(SUM(cnt_u) AS BIGINT) AS total FROM cu
        ), p AS (
            SELECT d.doc_id, d.m,
                   CAST(floor({sql_stable_round(
                       f"-ln({FIVEGRAM_LAMBDA!r} * (CAST(c5.cnt_5 AS DOUBLE) / ctx4.cnt_q)"
                       f" + {1.0 - FIVEGRAM_LAMBDA!r} * ({FOURGRAM_LAMBDA!r}"
                       " * (CAST(t2345.cnt_q AS DOUBLE) / ctx3.cnt_t)"
                       f" + {1.0 - FOURGRAM_LAMBDA!r} * ({TRIGRAM_LAMBDA!r}"
                       " * (CAST(t345.cnt_t AS DOUBLE) / b34.cnt_b)"
                       f" + {1.0 - TRIGRAM_LAMBDA!r} * ({BIGRAM_LAMBDA!r}"
                       " * (CAST(b45.cnt_b AS DOUBLE) / cu4.cnt_u)"
                       f" + {1.0 - BIGRAM_LAMBDA!r} * (CAST(cu5.cnt_u AS DOUBLE)"
                       " / tot.total)))))", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS micro
            FROM dq5 d
            JOIN c5 ON c5.w1 = d.w1 AND c5.w2 = d.w2 AND c5.w3 = d.w3
                   AND c5.w4 = d.w4 AND c5.w5 = d.w5
            JOIN c4 ctx4 ON ctx4.a = d.w1 AND ctx4.b = d.w2
                        AND ctx4.c = d.w3 AND ctx4.d = d.w4
            JOIN c4 t2345 ON t2345.a = d.w2 AND t2345.b = d.w3
                         AND t2345.c = d.w4 AND t2345.d = d.w5
            JOIN ct3 ctx3 ON ctx3.a = d.w2 AND ctx3.b = d.w3 AND ctx3.c = d.w4
            JOIN ct3 t345 ON t345.a = d.w3 AND t345.b = d.w4 AND t345.c = d.w5
            JOIN cb b34 ON b34.a = d.w3 AND b34.b = d.w4
            JOIN cb b45 ON b45.a = d.w4 AND b45.b = d.w5
            JOIN cu cu4 ON cu4.term = d.w4
            JOIN cu cu5 ON cu5.term = d.w5
            CROSS JOIN tot
        )
        SELECT doc_id, CAST(SUM(m) AS INTEGER) AS n_5grams,
               {sql_stable_round(
                   "(CAST(SUM(m * micro) AS DOUBLE) / 1e6) / SUM(m)", 4
               )} AS fivegram_nll
        FROM p GROUP BY doc_id
    """,
    # identical χ² expression over exact longs (cast to double before
    # squaring in both engines), identical 4-dp rank total order
    "chi2_keywords": f"""
        WITH ct AS (
            SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS a FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS term
                FROM documents
            ) GROUP BY lang, term
        ), tt AS (
            SELECT term, SUM(a) AS term_total FROM ct GROUP BY term
        ), lt AS (
            SELECT lang, SUM(a) AS lang_total FROM ct GROUP BY lang
        ), n AS (SELECT SUM(a) AS nn FROM ct),
        x AS (
            SELECT ct.lang, ct.term, ct.a,
                   {sql_stable_round(
                       "CAST(nn AS DOUBLE)"
                       " * power(CAST(ct.a AS DOUBLE) * CAST(nn - term_total - lang_total + ct.a AS DOUBLE)"
                       "         - CAST(term_total - ct.a AS DOUBLE) * CAST(lang_total - ct.a AS DOUBLE), 2.0)"
                       " / ((CAST(ct.a AS DOUBLE) + CAST(term_total - ct.a AS DOUBLE))"
                       "    * (CAST(lang_total - ct.a AS DOUBLE) + CAST(nn - term_total - lang_total + ct.a AS DOUBLE))"
                       "    * (CAST(ct.a AS DOUBLE) + CAST(lang_total - ct.a AS DOUBLE))"
                       "    * (CAST(term_total - ct.a AS DOUBLE) + CAST(nn - term_total - lang_total + ct.a AS DOUBLE)))",
                       4,
                   )} AS chi2
            FROM ct JOIN tt USING (term) JOIN lt USING (lang) CROSS JOIN n
        )
        SELECT lang, CAST(rk AS INTEGER) AS rk, term, a, chi2 FROM (
            SELECT lang, term, a, chi2,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY chi2 DESC, term ASC
                   ) AS rk
            FROM x
        ) WHERE rk <= {CHI2_K}
    """,
    "keyword_tag": f"""
        SELECT doc_id,
               -- COALESCE: DuckDB's array_to_string yields NULL on the
               -- empty list where Spark's array_join yields ''
               COALESCE(array_to_string(list_sort({" || ".join(
                   "CASE WHEN "
                   + " OR ".join(f"contains(text, '{p}')" for p in ps)
                   + f" THEN ['{t}'] ELSE [] END"
                   for t, ps in TAXONOMY.items()
               )}), '|'), '') AS tags,
               CAST(len({" || ".join(
                   "CASE WHEN "
                   + " OR ".join(f"contains(text, '{p}')" for p in ps)
                   + f" THEN ['{t}'] ELSE [] END"
                   for t, ps in TAXONOMY.items()
               )}) AS INTEGER) AS n_tags,
               CAST({" + ".join(
                   f"CASE WHEN contains(text, '{p}') THEN 1 ELSE 0 END"
                   for ps in TAXONOMY.values() for p in ps
               )} AS INTEGER) AS n_phrase_hits
        FROM documents
    """,
    # identical micro-unit discipline over the per-doc char histogram
    "entropy_filter": f"""
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        ), h AS (
            SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ch GROUP BY doc_id, c
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(COUNT(*) AS INTEGER) AS n_distinct_chars,
                   CAST(SUM(cnt * CAST(floor({sql_stable_round(
                       "ln(CAST(cnt AS DOUBLE))", 6
                   )} * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS msum
            FROM h GROUP BY doc_id
        )
        SELECT doc_id, n AS n_chars_seen, n_distinct_chars,
               {sql_stable_round(
                   "ln(CAST(n AS DOUBLE)) - (CAST(msum AS DOUBLE) / 1e6) / n", 4
               )} AS char_entropy,
               {sql_stable_round(
                   "ln(CAST(n AS DOUBLE)) - (CAST(msum AS DOUBLE) / 1e6) / n", 4
               )} < {ENTROPY_MIN!r} AS low_entropy
        FROM agg
    """,
    # identical discretized-histogram threshold rule as the Spark
    # plan: integer predicate 3*cum >= N on the 4-dp score histogram,
    # tie classes land whole in the lower bucket
    "perplexity_buckets": f"""
        WITH t AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), f AS (
            SELECT term, COUNT(*) AS cnt FROM t GROUP BY term
        ), p AS (
            SELECT doc_id,
                   CAST(floor({sql_stable_round(
                       "ln(CAST((SELECT SUM(cnt) FROM f) AS DOUBLE) / cnt)", 6
                   )} * 1e6 + 0.5) AS BIGINT) AS m
            FROM t JOIN f USING (term)
        ), s AS (
            SELECT doc_id,
                   {sql_stable_round("(CAST(SUM(m) AS DOUBLE) / 1e6) / COUNT(*)", 4)} AS unigram_nll
            FROM p GROUP BY doc_id
        ), h AS (
            SELECT unigram_nll, COUNT(*) AS cnt FROM s GROUP BY unigram_nll
        ), c AS (
            SELECT unigram_nll,
                   SUM(cnt) OVER (ORDER BY unigram_nll
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM h
        ), th AS (
            SELECT MIN(CASE WHEN cum * 3 >= (SELECT COUNT(*) FROM s)
                            THEN unigram_nll END) AS t1,
                   MIN(CASE WHEN cum * 3 >= 2 * (SELECT COUNT(*) FROM s)
                            THEN unigram_nll END) AS t2
            FROM c
        )
        SELECT s.doc_id, s.unigram_nll,
               CASE WHEN s.unigram_nll <= th.t1 THEN 'head'
                    WHEN s.unigram_nll <= th.t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM s, th
    """,
    "quality_repetition": f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
            FROM documents
        ), top AS (
            SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_tok_n FROM (
                SELECT doc_id, tok, COUNT(*) AS c FROM (
                    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents
                ) GROUP BY doc_id, tok
            ) GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_tokens,
               {sql_stable_round('1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens', 4)}
                   AS dup_token_frac,
               t.top_tok_n,
               {sql_stable_round('CAST(t.top_tok_n AS DOUBLE) / b.n_tokens', 4)}
                   AS top_token_frac,
               CAST(({sql_stable_round('1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens', 4)} > {REP_DUP_FRAC}
                  OR {sql_stable_round('CAST(t.top_tok_n AS DOUBLE) / b.n_tokens', 4)} > {REP_TOP_FRAC})
                    AS INTEGER) AS flagged
        FROM base b JOIN top t ON b.doc_id = t.doc_id
    """,
    "doc_fingerprint": """
        SELECT md5(lower(trim(text))) AS fingerprint,
               COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        FROM documents GROUP BY md5(lower(trim(text)))
    """,
    "doc_winnow": f"""
        WITH h AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(1, length(text) - {WINNOW_K - 1}) + 1),
                       i -> substr(md5(substr(text, CAST(i AS INTEGER), {WINNOW_K})), 1, 15)
                   ) AS h
            FROM documents
        )
        SELECT DISTINCT doc_id, fingerprint FROM (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(1, len(h) - {WINNOW_W - 1}) + 1),
                       j -> list_min(h[CAST(j AS BIGINT):CAST(j + {WINNOW_W - 1} AS BIGINT)])
                   ))) AS fingerprint
            FROM h
        )
    """,
}
