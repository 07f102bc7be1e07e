"""Exact duplicate-substring detection (SURVEY §2.11 north-star
adjunct) — the Lee et al. 2022 "Deduplicating Training Data Makes
Language Models Better" surface: every position opening a
``DUP_SPAN_L``-token substring that occurs ≥ 2 times anywhere in the
corpus (across OR within documents). Downstream, those spans are cut
from all-but-one occurrence; here the operator emits the span map.

Plan (r9 — the measured winner of three attempted shapes, history in
:func:`_md5_spans`): the span map is ONE narrow fused projection —
per position, md5 of the joined L-token window, computed inside the
documents scan in whole-stage codegen — followed by the operator's
single REQUIRED shuffle, the per-digest window (count for
`duplicate_spans`; count + row_number, one exchange+sort, for the
removal's keep-the-globally-first rule). Nothing text-sized ever
shuffles: the exchange carries (doc_id, pos, 32-char digest). The
per-position O(L) string-join churn is transient CPU inside the scan,
embarrassingly parallel at any corpus size.

The r5-r8 plan was dual-lane xxhash64 prefix doubling
(h_2k(i) = xxhash64(h_k(i), h_k(i+k)), k = 1..L/2) over per-document
``lead`` windows — asymptotically O(n log L) hashing vs the fused
form's O(n·L) bytes, but it demanded a full-corpus exchange+sort of
every TOKEN row before hashing could begin, plus a digest-group
aggregate AND a representative back-fill join to produce the
output's md5 column: 25.3 s vs 6.5 s at ×100 (13.3M positions). The
doubling form survived r9-r12 on the decontamination path (L=8) on
the theory that pre-exploded positional input changed the trade — it
does not (the lead() windows still exchange+sort every token row),
so r13 moved decontamination onto the fused map too
(contamination.py, via :func:`_md5_span_map`) and the doubling form
is retired. The crossover it kept waiting for is L ≫ 10² (long-span
dedup), where O(n·L) join bytes finally dominate a shuffle.

The DuckDB oracle computes the SAME output by the same-identity
naive algorithm (explode every window, md5 the joined string,
group); group identity on BOTH engines is the md5 of the actual
substring — no hash-collision argument required anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from labelmain_spark.sources.readers import load_table

DUP_SPAN_L = 32  # tokens per span; power of two → clean doubling


def _md5_spans(spark: SparkSession, sf_dir: str, L: int) -> DataFrame:
    """(doc_id, pos, gram_md5) for every position opening a full
    L-token span — the span map as ONE narrow fused projection: for
    each position, md5 of the joined L-token window, computed inside
    the documents scan. Zero shuffle; the group identity IS the md5
    of the actual substring (128 bits, the oracle's own identity), so
    no hash-collision argument is needed at all.

    r9 re-plan history, measured at ×100 (500k docs, 13.3M
    positions, 3-pass medians vs the naive DuckDB oracle's 4.6 s):
    the r5-r8 dual-lane xxhash64 prefix-doubling over a
    per-doc-window chain cost 25.3 s — NOT hashing, but the
    full-corpus exchange+sort of every token row its lead() windows
    demanded; moving the doubling into the token-array domain
    (zip_with against a shifted slice, per-round projection barriers
    against the exponential no-CSE inline) removed that shuffle →
    17.6 s; this fused md5 form then removes the doubling's OTHER
    costs — the 13.3M-row groups aggregation on 16-byte keys, the
    representative BACK-FILL join the md5 output column forced, and
    2·log2(L) interpreted lambda evals per token — by paying O(L)
    string-join bytes per position ONCE, exactly the oracle's work,
    in whole-stage-codegen JVM → 7.3 s (1.6× DuckDB, from 5.5×; the
    removal key rides the same map: 15.7 s vs the oracle's 50.9 s =
    0.31×, an oracle that moreover NEEDS ~100 GB there — it aborts
    OOM under a 60 GB cap at 1/1000th of target scale).
    The O(n·L) vs O(n·log L) trade flips only when L grows past the
    join+md5 cost of ~2·log L interpreted hash evals (L≫10²,
    long-span dedup); at Lee et al.'s L=50-token operating point the
    fused form wins, and since r13 the contamination path (L=8) rides
    it too (:func:`_md5_span_map`; the doubling form is retired —
    see the module docstring)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    return _md5_span_map(docs, L)


def _md5_span_map(docs: DataFrame, L: int) -> DataFrame:
    """The fused span map over an arbitrary (doc_id, toks) frame —
    extracted r13 so the decontamination path (contamination.py) rides
    the same measured-winner shape as the duplicate-span family
    instead of the window-chain form (see :func:`_md5_spans` history).
    ``toks`` must be a projected column (the no-CSE-inside-lambda
    rule, functions/dedup.py::_shingles_from_tokens)."""
    n = F.size("toks")
    grams = F.when(
        n >= L,
        F.transform(
            F.sequence(F.lit(1), n - L + 1),
            lambda i: F.md5(F.array_join(F.slice("toks", i, L), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.posexplode(grams).alias("pos", "gram_md5"))


def _covered_positions(cuts: DataFrame, as_array: bool = False) -> DataFrame:
    """Merge per-doc cut intervals (doc_id, s, e) with the classic
    gaps-and-islands pattern (running max of ends over a per-doc
    ordered window; a span starting past that max opens a new island)
    — each covered position generated exactly ONCE, where the raw
    interval explode would emit a run of overlapping spans up to
    span-length times. Shared by remove_duplicate_spans and
    decontaminate_docs. Default output is exploded (doc_id, pos);
    ``as_array=True`` returns one (doc_id, cut_pos) row per doc with
    the sorted covered-position array (merged islands are disjoint, so
    flatten(collect of per-island sequences) + array_sort is the same
    set) — the shape the r13 array-surgery reassembly consumes without
    an explode + re-aggregate round trip."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("s")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    islands = (
        cuts.withColumn(
            "new_island",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    if as_array:
        return islands.groupBy("doc_id").agg(
            F.array_sort(
                F.flatten(F.collect_list(F.sequence(F.col("s"), F.col("e") - 1)))
            ).alias("cut_pos")
        )
    return islands.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("e") - 1)).alias("pos")
    )


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, gram_md5, n_dups) for every position whose
    DUP_SPAN_L-token substring occurs ≥ 2 times in the corpus.

    ONE narrow fused span map (:func:`_md5_spans`) + ONE exchange (the
    per-digest window count) — the minimal shuffle shape for the
    operator: group multiplicity is the only cross-row fact the
    output needs, and a window over the digest key delivers it
    without a separate aggregate + join-back.

    Hot-digest skew, MEASURED (r10, closing the r9 advisory): the
    window shuffles every occurrence of a digest into one task and
    AQE skew-split covers joins, not windows — so a skew-safe
    alternative (map-side-combinable count partials + size-gated
    join-back) was A/B-run on fixtures where ONE gram_md5 holds 40%
    and then 85% of all span positions (identical-token boilerplate
    docs, the shape Zipf generators never produce). The window WINS
    BOTH (PERF.md §"Hot-digest span skew settled by measurement"):
    ×20 at 40% hot 11.1 s vs 19.1 s (5-pass medians); at 85% hot
    (15.1M occurrences of one digest) 76.3 s vs 113.2 s. Reason: the
    join-back plan evaluates the O(L)-per-position span map TWICE
    (groupBy side + probe side — Catalyst only reuses the exchange
    under identical partitioning, which a broadcast probe side does
    not have), and that second map eval costs more at every measured
    share than the hot task's linear count does; the hot group needs
    no sort for a count-only window. The exposure that remains is a
    single task holding the hottest digest's (doc_id, pos, md5) rows
    — linear scan work, no quadratic term, ~6 GB per 1e8 occurrences
    — bounded and accepted. tests/test_skew.py checks the hot group
    against a first-principles reference on a ~40%-hot fixture."""
    from pyspark.sql import Window as W

    spans = _md5_spans(spark, sf_dir, DUP_SPAN_L)
    w = W.partitionBy("gram_md5")
    return (
        spans.withColumn("n_dups", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("n_dups") >= 2)
        .select("doc_id", "pos", "gram_md5", "n_dups")
    )


def remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lee-et-al step: CUT every duplicated span occurrence
    except its group's globally-first one, and reassemble each doc.

    Overlapping cut spans are merged per document with the classic
    gaps-and-islands pattern (running max of span ends over a per-doc
    ordered window; a span starting past that max opens a new island),
    so each covered token position is generated exactly ONCE —
    without the merge, a run of duplicated text emits every position
    up to L times. Reassembly (r13) is per-doc array surgery over the
    covered-position arrays (:func:`_reassemble_after_cuts`), not a
    per-token anti-join + regroup.

    Output: (doc_id, n_tokens, n_removed, clean_text) for every doc.

    Cut selection is ONE window pass over the fused span map
    (:func:`_md5_spans`): per-digest count + row_number under the
    (doc_id, pos) order share a single exchange+sort, and `rn > 1`
    IS the keep-the-globally-first rule — the oracle's `ranked` CTE,
    shape for shape.

    Hot-digest skew, MEASURED (r10; full reasoning at
    :func:`duplicate_spans`): this key's window DOES sort the hot
    group one-task (row_number), yet still beats the skew-safe
    agg+join-back alternative on the hot-digest fixtures (PERF.md
    §"Hot-digest span skew settled by measurement") — ×20 at 40% hot
    21.2 s vs 26.9 s (5-pass medians), at 85% hot (15.1M one-digest
    occurrences, a 0.9 GB one-task sort) 154.4 s vs 165.0 s — because
    the alternative's second span-map evaluation costs more than the
    hot sort at every measured share. Residual bound: one task
    sort-spills the hottest digest (~6 GB / 1e8 occurrences,
    disk-backed ExternalSorter, linear-log work)."""
    from pyspark.sql import Window as W

    L = DUP_SPAN_L
    spans = _md5_spans(spark, sf_dir, L)
    w = W.partitionBy("gram_md5")
    cuts = (
        spans.withColumn("n_occ", F.count(F.lit(1)).over(w))
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.col("doc_id").asc(), F.col("pos").asc())),
        )
        .filter((F.col("n_occ") >= 2) & (F.col("rn") > 1))
        .select("doc_id", F.col("pos").alias("s"), (F.col("pos") + L).alias("e"))
    )
    return _reassemble_after_cuts(spark, sf_dir, cuts)


def _reassemble_after_cuts(
    spark: SparkSession, sf_dir: str, cuts: DataFrame
) -> DataFrame:
    """Tail of the removal key: merge cut intervals, then
    per-doc ARRAY SURGERY on the token arrays (r13 re-plan, guide
    §2.3/§2.4 — before/after in plans/r13/remove_duplicate_spans_*).
    The r12 tail posexploded every token, LEFT ANTI joined the covered
    set (a corpus-token exchange), re-collected every kept token per
    doc (another), and full-outer joined the counts — three
    corpus-token-sized shuffles to delete a few positions. Now the
    merged covered positions come back as one per-doc array
    (:func:`_covered_positions` ``as_array``), join the token arrays
    on doc_id (cut side is cuts-bounded, so AQE broadcasts it in the
    common case — ZERO corpus shuffle), and
    ``array_except(sequence(0, n-1), cut_pos)`` keeps position order
    by construction."""
    cov = _covered_positions(cuts, as_array=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    return docs.join(cov, "doc_id", "left").select(
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


QUERIES = {
    "duplicate_spans": duplicate_spans,
    "remove_duplicate_spans": remove_duplicate_spans,
}

ORACLE = {
    # The naive algorithm, deliberately: explode every L-token window,
    # hash the joined string, keep groups of ≥2 — an independent path
    # to the identical rows.
    "duplicate_spans": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), g AS (
            SELECT doc_id, u.pos AS pos, u.g AS gram_md5 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - {DUP_SPAN_L - 1}, 0)),
                           i -> {{'pos': i,
                                 'g': md5(array_to_string(list_slice(
                                     toks, i + 1, i + {DUP_SPAN_L}), ' '))}}
                       )) AS u
                FROM t
            )
        ), dup AS (
            SELECT gram_md5, CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM g GROUP BY gram_md5 HAVING COUNT(*) >= 2
        )
        SELECT g.doc_id, g.pos, g.gram_md5, dup.n_dups
        FROM g JOIN dup USING (gram_md5)
    """,
    "remove_duplicate_spans": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), g AS (
            SELECT doc_id, u.pos AS pos, u.g AS gram_md5 FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(greatest(len(toks) - {DUP_SPAN_L - 1}, 0)),
                           i -> {{'pos': i,
                                 'g': md5(array_to_string(list_slice(
                                     toks, i + 1, i + {DUP_SPAN_L}), ' '))}}
                       )) AS u
                FROM t
            )
        ), ranked AS (
            SELECT doc_id, pos, gram_md5,
                   COUNT(*) OVER (PARTITION BY gram_md5) AS n_occ,
                   ROW_NUMBER() OVER (
                       PARTITION BY gram_md5 ORDER BY doc_id, pos
                   ) AS rn
            FROM g
        ), cuts AS (
            SELECT doc_id, pos AS s, pos + {DUP_SPAN_L} AS e
            FROM ranked WHERE n_occ >= 2 AND rn > 1
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
}
