"""Streaming semantics tests: the streaming forms must agree with their
batch twins (the oracle-checked queries), and the upsert sink must be
idempotent across replays."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from labelmain_spark.operators.windows import window_tumbling
from labelmain_spark.streaming import incremental as inc


def _stored(spark) -> dict:
    """Ids of the RDDs that hold memory or disk storage, with names."""
    return {
        i.id(): str(i.name())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.memSize() > 0 or i.diskSize() > 0
    }


def _run_to_memory(df, name: str) -> None:
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_stream_tumbling_matches_batch(spark, sf_dir):
    """Streaming watermarked tumbling agg == batch window_tumbling for
    windows the watermark has closed (all of them, with availableNow +
    a final empty trigger... append mode emits only closed windows, so
    compare on the emitted subset)."""
    ev = inc.stream_events(spark, sf_dir)
    agg = inc.tumbling_counts(ev)
    _run_to_memory(agg, "stream_tumbling")
    got = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM stream_tumbling").collect()
    }
    want = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in window_tumbling(spark, sf_dir).collect()
    }
    assert got, "stream produced no closed windows"
    for k, v in got.items():
        assert want[k] == v, f"window {k}: stream {v} != batch {want[k]}"


def test_stream_ttl_dedup(spark, sf_dir):
    ev = inc.stream_events(spark, sf_dir)
    out = inc.ttl_dedup(ev)
    _run_to_memory(out, "stream_dedup")
    rows = spark.sql("SELECT user_id, event_type, count(*) c FROM stream_dedup "
                     "GROUP BY user_id, event_type HAVING count(*) > 1").collect()
    # within one availableNow run over one file there is one batch, so
    # every (user, type) key must appear exactly once
    assert rows == [], f"duplicate keys survived dedup: {rows[:5]}"


def test_upsert_sink_idempotent_replay(spark, sf_dir):
    """Running the sink twice (fresh checkpoint → full replay) must
    converge to the same state — the at-least-once + idempotent-merge
    contract (T4). Each merged state is a version committed by
    writers.commit_version, whose prune keeps only the live version
    and the one before it."""
    from labelmain_spark.sources.writers import read_published

    with tempfile.TemporaryDirectory() as tmp:
        state = f"{tmp}/state"
        inc.run_upsert_sink(inc.stream_events(spark, sf_dir), state, f"{tmp}/cp1")
        first = sorted(map(str, read_published(spark, state).collect()))
        inc.run_upsert_sink(inc.stream_events(spark, sf_dir), state, f"{tmp}/cp2")
        second = sorted(map(str, read_published(spark, state).collect()))
        assert first == second
        versions = [d for d in os.listdir(state) if d.startswith("v")]
        assert len(versions) <= 2, versions


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState running totals == batch groupBy agg after
    one availableNow pass (update mode emits the final accumulator per
    key once per batch that touches it)."""
    from labelmain_spark.streaming import stateful

    ev = inc.stream_events(spark, sf_dir)
    out = stateful.running_user_totals(ev)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # keep only the LAST emission per key (multi-file streams emit
    # intermediate accumulators in update mode)
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.last_ts_us)
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id ORDER BY n_events DESC) rn "
            "FROM stateful_totals) WHERE rn = 1"
        ).collect()
    }
    from labelmain_spark.sources.readers import load_table

    want = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.last_ts_us)
        for r in stateful.batch_user_totals(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """Stream-static broadcast join + windowed agg == the same plan
    run in batch."""
    from labelmain_spark.sources.readers import load_table

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    out = inc.enriched_counts(inc.stream_events(spark, sf_dir), dim)
    _run_to_memory(out, "stream_enriched")
    got = {
        (r.win_start, r.segment): r.n
        for r in spark.sql("SELECT * FROM stream_enriched").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.win_start, r.segment): r.n
        for r in ev.join(F.broadcast(dim), "user_id", "left")
        .groupBy(F.window("ts", "1 hour").alias("win"), "segment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "segment", "n")
        .collect()
    }
    assert got, "stream produced no closed windows"
    for k, v in got.items():
        assert want[k] == v, f"{k}: stream {v} != batch {want[k]}"


def test_stream_stream_attribution_matches_batch(spark, sf_dir):
    """Stream-stream interval join (clicks × purchases) must agree with
    the batch attribution_join — and the join must be stateful-bounded
    (watermark + range condition), which Spark enforces at analysis
    time for append-mode stream-stream joins."""
    from labelmain_spark.streaming.joins import (
        _split,
        attribution_join,
        stream_attribution,
    )

    clicks, purchases = _split(inc.stream_events(spark, sf_dir))
    out = stream_attribution(clicks, purchases)
    _run_to_memory(out, "stream_attr")
    got = {
        (r.click_id, r.purchase_ts): (r.user_id, r.click_ts, r.purchase_value)
        for r in spark.sql("SELECT * FROM stream_attr").collect()
    }
    want = {
        (r.click_id, r.purchase_ts): (r.user_id, r.click_ts, r.purchase_value)
        for r in attribution_join(spark, sf_dir).collect()
    }
    assert got, "stream-stream join emitted nothing"
    for k, v in got.items():
        assert want[k] == v, f"{k}: stream {v} != batch {want[k]}"
    # single-file availableNow run: watermark never advances past the
    # data, so the emitted set must be the COMPLETE batch result
    assert len(got) == len(want)


def test_stream_stream_outer_attribution(spark, sf_dir):
    """LEFT OUTER stream-stream join: matched rows must equal the batch
    inner results; null (unmatched) rows may only emit once the
    watermark proves no match can arrive, so the emitted null set must
    be a subset of the batch outer nulls, and must be COMPLETE for
    clicks safely older than the final watermark."""
    import datetime

    from labelmain_spark.streaming.joins import (
        _split,
        attribution_join_outer,
        stream_attribution_outer,
    )

    clicks, purchases = _split(inc.stream_events(spark, sf_dir))
    out = stream_attribution_outer(clicks, purchases)
    _run_to_memory(out, "stream_attr_outer")
    got = {
        (r.click_id, r.purchase_ts)
        for r in spark.sql("SELECT * FROM stream_attr_outer").collect()
    }
    want_rows = attribution_join_outer(spark, sf_dir).collect()
    want = {(r.click_id, r.purchase_ts) for r in want_rows}
    assert got, "outer join emitted nothing"
    assert got <= want, f"rows not in batch result: {list(got - want)[:5]}"
    # matched (non-null) results must ALL be there
    want_matched = {k for k in want if k[1] is not None}
    assert {k for k in got if k[1] is not None} == want_matched
    # null rows for clicks comfortably past the watermark must emit
    max_ts = max(r.click_ts for r in want_rows)
    safe = max_ts - datetime.timedelta(hours=4)  # window 1h + watermark 2h + slack
    want_null_safe = {
        (r.click_id, None)
        for r in want_rows
        if r.purchase_ts is None and r.click_ts < safe
    }
    got_null = {k for k in got if k[1] is None}
    missing = want_null_safe - got_null
    assert not missing, f"closed-watermark nulls missing: {list(missing)[:5]}"


def test_stream_session_window_matches_batch(spark, sf_dir):
    """Streaming session windows (stateful, watermark-evicted) must
    agree with the batch window_session on every session the watermark
    has closed."""
    from labelmain_spark.operators.windows import window_session

    ev = inc.stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )
    _run_to_memory(agg, "stream_sessions")
    got = {
        (r.user_id, r.sess_start, r.sess_end): r.n_events
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }
    want = {
        (r.user_id, r.sess_start, r.sess_end): r.n_events
        for r in window_session(spark, sf_dir).collect()
    }
    assert got, "stream emitted no closed sessions"
    for k, v in got.items():
        assert want[k] == v, f"session {k}: stream {v} != batch {want[k]}"


def test_stream_incremental_dedup_matches_batch(spark, sf_dir):
    """Streaming history-probe dedup == the batch dedup_incremental
    rows that are NOT history duplicates (the stream keeps both
    within-batch copies by design — that half is ttl_dedup's job)."""
    from labelmain_spark.functions.dedup import INCR_NEW_BP, dedup_incremental
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.sources.readers import load_table

    is_new = F.expr(_hash_bp_expr("doc_id", "spark", salt="incr:")) < INCR_NEW_BP
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.filter(~is_new)
        .select(F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h"))
        .distinct()
    )
    stream = inc.stream_documents(spark, sf_dir).filter(is_new)
    out = inc.incremental_dedup_stream(stream, hist)
    _run_to_memory(out, "stream_incr_dedup")
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM stream_incr_dedup").collect()}
    want = {
        r.doc_id
        for r in dedup_incremental(spark, sf_dir)
        .filter("status <> 'dup_of_history'")
        .collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Streaming span decontamination == the batch key on the same
    docs: the cleaner is per-document given the static benchmark set,
    so accumulating foreachBatch outputs must reproduce
    decontaminate_spans row-for-row. Each epoch's persisted token
    arrays are released with the epoch: after the stream and one
    release_caches(spark), it has left no RDD storage behind."""
    from labelmain_spark.functions.contamination import (
        CONTAM_EVAL_BP,
        benchmark_ngrams,
        decontaminate_spans,
    )
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.session import release_caches
    from labelmain_spark.sources.readers import load_table

    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = benchmark_ngrams(docs.filter(is_eval))
    stream = (
        inc.stream_documents(spark, sf_dir).filter(~is_eval).select("doc_id", "text")
    )
    out_path = str(tmp_path / "clean")
    stored_before = _stored(spark)
    inc.run_decontaminate_sink(stream, bench, out_path, str(tmp_path / "ckpt"))
    release_caches(spark)
    left = {k: v for k, v in _stored(spark).items() if k not in stored_before}
    assert not left, f"the stream left cached storage: {left}"
    got = {
        (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.n_tokens, r.n_removed, r.clean_text)
        for r in decontaminate_spans(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_failed_epoch_releases_its_caches(spark, sf_dir, tmp_path):
    """An epoch that raises still releases what it persisted. Its
    tracked entries live under the micro-batch's own session object,
    which the caller's release_caches(spark) cannot reach, so the sink
    must drop them before the failure propagates."""
    from labelmain_spark.session import track_persist

    def failing_epoch(batch, epoch_id):
        track_persist(batch.select("doc_id")).count()
        raise RuntimeError("epoch failed")

    stored_before = _stored(spark)
    with pytest.raises(Exception, match="epoch failed"):
        inc._epoch_sink(
            inc.stream_documents(spark, sf_dir).select("doc_id"),
            str(tmp_path / "ckpt"),
            failing_epoch,
        )
    left = {k: v for k, v in _stored(spark).items() if k not in stored_before}
    assert not left, f"the failed epoch left cached storage: {left}"


def test_stream_corpus_increment_matches_batch(spark, sf_dir, tmp_path):
    """The incremental corpus lifecycle's per-batch half under
    foreachBatch == the batch key: streaming the current snapshot's
    new work through run_corpus_increment_sink (static history
    digests, benchmark set, unigram model, tercile thresholds — the
    pre-fitted production artifacts) must reproduce
    corpus_incremental's rows exactly, minus the curriculum POSITION
    (a finalization-time global prefix-count, not a per-batch stage).
    The fixture arrives as one file → one micro-batch, so the
    within-batch min-doc_id dedup is in scope too; the
    cross-micro-batch dup class stays with ttl_dedup per the
    incremental_dedup_stream split discipline."""
    from labelmain_spark.functions.contamination import (
        CONTAM_EVAL_BP,
        benchmark_ngrams,
    )
    from labelmain_spark.functions.dedup import DELTA_BP, DELTA_MUT_BP
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.functions.text import nll_threshold_frame
    from labelmain_spark.pipeline import _nll_micro, corpus_incremental
    from labelmain_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_prev = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapA:")) < DELTA_BP
    is_eval = F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP

    # Yesterday's artifacts, fitted once from the prev snapshot —
    # identical derivations to the batch key's stage 2/4 inputs.
    prev = docs.filter(in_prev)
    hist = prev.select(
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    ).distinct()
    bench = benchmark_ngrams(docs.filter(is_eval))
    hterms = prev.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    freq = hterms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    from labelmain_spark.operators.parity import stable_round

    hscored = (
        hterms.join(F.broadcast(freq.crossJoin(F.broadcast(tot))), "term")
        .select("doc_id", _nll_micro(F.col("cnt")).alias("m"))
        .groupBy("doc_id")
        .agg(
            stable_round(
                (F.sum("m").cast("double") / F.lit(1e6)) / F.count(F.lit(1)), 4
            ).alias("unigram_nll")
        )
    )
    th = nll_threshold_frame(hscored)

    # Today's arrival stream = the batch key's stage-1 new work.
    in_cur = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapB:")) < DELTA_BP
    revised = F.expr(_hash_bp_expr("doc_id", "spark", salt="mut:")) < DELTA_MUT_BP
    cur_text = F.when(revised, F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
        F.col("text")
    )
    prev_dig = prev.select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("old_h")
    )
    stream = (
        inc.stream_documents(spark, sf_dir)
        .filter(in_cur & ~is_eval)
        .select("doc_id", cur_text.alias("text"))
        .withColumn("h", F.sha2(F.lower(F.trim(F.col("text"))), 256))
        .join(prev_dig, "doc_id", "left")
        .filter(F.col("old_h").isNull() | (F.col("old_h") != F.col("h")))
        .select("doc_id", "text")
    )
    out_path = str(tmp_path / "increment")
    inc.run_corpus_increment_sink(
        stream, hist, bench, freq, tot, th, out_path, str(tmp_path / "ckpt")
    )
    got = {
        (r.doc_id, r.bucket, r.unigram_nll, r.n_tokens, r.n_removed, r.clean_fp)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.bucket, r.unigram_nll, r.n_tokens, r.n_removed, r.clean_fp)
        for r in corpus_incremental(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_c4_line_filter_matches_batch(spark, sf_dir):
    """The C4 line filter is pure per-row expression work, so the
    IDENTICAL projection (c4_clean) must run on a readStream with no
    foreachBatch shim and reproduce the batch key row-for-row — the
    pin that the expression-only operator class is stream-composable
    as-is."""
    from labelmain_spark.functions.text import c4_clean, c4_line_filter

    out = c4_clean(inc.stream_documents(spark, sf_dir).select("doc_id", "text"))
    _run_to_memory(out, "stream_c4")
    got = {
        (r.doc_id, r.n_lines, r.n_kept, r.page_kept, r.clean_fp)
        for r in spark.sql("SELECT * FROM stream_c4").collect()
    }
    want = {
        (r.doc_id, r.n_lines, r.n_kept, r.page_kept, r.clean_fp)
        for r in c4_line_filter(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_chat_sft_render_matches_batch(spark, sf_dir):
    """The SFT chat-template render is pure per-row expression work
    (hash cut + slices + concat), so the IDENTICAL projection
    (sft_render) must run on a readStream with no foreachBatch shim
    and reproduce the batch key row-for-row — same
    expression-only-class pin as c4_clean."""
    from pyspark.sql import functions as F

    from labelmain_spark.functions.text import chat_sft_render, sft_render

    out = sft_render(
        inc.stream_documents(spark, sf_dir).select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
        )
    )
    _run_to_memory(out, "stream_sft")
    got = {
        (r.doc_id, r.sft_applied, r.k_instr, r.loss_start, r.loss_end, r.rendered)
        for r in spark.sql("SELECT * FROM stream_sft").collect()
    }
    want = {
        (r.doc_id, r.sft_applied, r.k_instr, r.loss_start, r.loss_end, r.rendered)
        for r in chat_sft_render(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_blocklist_matches_batch(spark, sf_dir, tmp_path):
    """Streaming blocklist gate == the batch key on the same docs:
    blocklist_docs is row-local (no cross-batch state), shared
    verbatim by both paths, so accumulated foreachBatch output must
    reproduce blocklist_filter row-for-row including the matched
    entry."""
    from labelmain_spark.functions.web import blocklist_filter

    stream = inc.stream_documents(spark, sf_dir).select("doc_id", "text")
    out_path = str(tmp_path / "blocked")
    inc.run_blocklist_sink(stream, out_path, str(tmp_path / "ckpt"))
    got = {
        (r.doc_id, r.n_hosts, r.blocked_domain, r.kept)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.n_hosts, r.blocked_domain, r.kept)
        for r in blocklist_filter(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_pii_luhn_matches_batch(spark, sf_dir, tmp_path):
    """Streaming Luhn card scrub == the batch key on the same docs:
    luhn_docs is row-local, shared verbatim, so accumulated
    foreachBatch output must reproduce pii_luhn row-for-row including
    the redacted text (the false-positive invalid-check-digit case
    rides along unredacted in both paths)."""
    from labelmain_spark.functions.pii import pii_luhn

    stream = inc.stream_documents(spark, sf_dir).select("doc_id", "text")
    out_path = str(tmp_path / "luhn")
    inc.run_pii_luhn_sink(stream, out_path, str(tmp_path / "ckpt"))
    got = {
        (r.doc_id, r.n_candidates, r.n_valid_cards, r.has_card, r.redacted)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.n_candidates, r.n_valid_cards, r.has_card, r.redacted)
        for r in pii_luhn(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_tag_filter_matches_batch(spark, sf_dir, tmp_path):
    """Streaming tagging+filtering == the batch key on the same docs:
    tag_docs is row-local (no cross-batch state), shared verbatim by
    both paths, so accumulated foreachBatch output must reproduce
    tag_and_filter row-for-row including reason codes."""
    from labelmain_spark.functions.text import tag_and_filter

    stream = inc.stream_documents(spark, sf_dir).select("doc_id", "text")
    out_path = str(tmp_path / "tagged")
    inc.run_tag_filter_sink(stream, out_path, str(tmp_path / "ckpt"))
    got = {
        (r.doc_id, r.drop_reason, r.kept, r.n_tokens)
        for r in spark.read.parquet(out_path).collect()
    }
    want = {
        (r.doc_id, r.drop_reason, r.kept, r.n_tokens)
        for r in tag_and_filter(spark, sf_dir).collect()
    }
    assert got == want and got, (len(got), len(want))


def test_stream_release_matches_batch(spark, sf_dir, tmp_path):
    """The release-engineering loop on a stream (r9, r8 verdict item
    8): crawl lands in micro-batches → per-batch delta classify +
    drift partials → stream-close reconcile. The finalized (delta,
    drift) pair must equal corpus_delta and card_drift row-for-row:
    delta_classify is row-local and shared verbatim, and the drift
    partials are order-free long sums, so multi-batch accumulation is
    exact — 'removed' rows can only exist at close, which is the
    point of the reconcile."""
    from labelmain_spark.functions.dedup import (
        DELTA_BP,
        corpus_delta,
        delta_snapshots,
    )
    from labelmain_spark.functions.profile import card_drift, slice_agg
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    prev_digests, cur = delta_snapshots(docs)
    in_prev = F.expr(_hash_bp_expr("doc_id", "spark", salt="snapA:")) < DELTA_BP
    prev_agg = slice_agg(docs.filter(in_prev), "n_docs_prev", "tok_prev")

    # land the current snapshot as a 3-file landing zone so the sink
    # genuinely runs multiple micro-batches (maxFilesPerTrigger=1)
    landing = str(tmp_path / "landing")
    cur.repartition(3).write.parquet(landing)
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    out_path = str(tmp_path / "release")
    inc.run_release_sink(stream, prev_digests, out_path, str(tmp_path / "ckpt"))
    delta, drift = inc.finalize_release(spark, prev_digests, prev_agg, out_path)

    got_delta = {
        (r.doc_id, r.status, r.old_digest, r.new_digest) for r in delta.collect()
    }
    want_delta = {
        (r.doc_id, r.status, r.old_digest, r.new_digest)
        for r in corpus_delta(spark, sf_dir).collect()
    }
    assert got_delta == want_delta and got_delta, (
        len(got_delta), len(want_delta),
    )
    assert {s for (_, s, _, _) in got_delta} == {
        "added", "removed", "changed", "unchanged"
    }

    got_drift = {tuple(r) for r in drift.collect()}
    want_drift = {tuple(r) for r in card_drift(spark, sf_dir).collect()}
    assert got_drift == want_drift and got_drift, (
        len(got_drift), len(want_drift),
    )


def test_release_empty_stream_finalizes(spark, sf_dir, tmp_path):
    """r10 (advisor): a release window whose stream lands ZERO
    batches must still finalize — every previous doc classifies as
    `removed` and drift sees an empty current aggregate (no raise on
    the missing delta/parts directories)."""
    from labelmain_spark.functions.dedup import delta_snapshots
    from labelmain_spark.functions.profile import slice_agg
    from labelmain_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    prev_digests, cur = delta_snapshots(docs)
    prev_agg = slice_agg(docs.limit(0), "n_docs_prev", "tok_prev")
    out_path = str(tmp_path / "release")

    # empty landing zone -> availableNow stream with zero batches
    landing = str(tmp_path / "landing")
    cur.limit(0).write.parquet(landing)
    stream = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .parquet(landing)
    )
    inc.run_release_sink(stream, prev_digests, out_path, str(tmp_path / "ckpt"))

    delta, drift = inc.finalize_release(spark, prev_digests, prev_agg, out_path)
    rows = delta.collect()
    assert rows and all(r.status == "removed" for r in rows)
    assert {r.doc_id for r in rows} == {
        r.doc_id for r in prev_digests.select("doc_id").collect()
    }
    assert drift.count() == 0  # both aggregates empty -> no drift rows


@pytest.fixture(scope="module")
def small_landing(spark, sf_dir, tmp_path_factory):
    """Small one-file landing zones (documents, event keys, vectors):
    each sink run over one of them is exactly one epoch, ``epoch=0``."""
    from labelmain_spark.sources.readers import load_table

    root = tmp_path_factory.mktemp("landing")
    tables = {
        "docs": load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source").orderBy("doc_id").limit(40),
        "events": load_table(spark, sf_dir, "events")
        .select("user_id").orderBy("event_id").limit(200),
        "vectors": load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding").orderBy("vec_id").limit(20),
    }
    for name, df in tables.items():
        df.coalesce(1).write.parquet(str(root / name))
    return str(root)


def _epoch_sink_case(spark, land, sink, out):
    """(run(checkpoint), output dirs) for one epoch sink over the
    ``small_landing`` zones, with small static sides."""
    from labelmain_spark.functions.contamination import benchmark_ngrams

    def stream(table):
        path = os.path.join(land, table)
        return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)

    def texts():
        return stream("docs").select("doc_id", "text")

    docs = spark.read.parquet(os.path.join(land, "docs")).select("doc_id", "text")
    bench = benchmark_ngrams(docs.limit(5))
    if sink == "corpus_increment":
        hist = spark.createDataFrame([], "h string")
        freq = (
            docs.select(F.explode(F.split("text", " ")).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
        )
        tot = freq.agg(F.sum("cnt").alias("total"))
        th = spark.createDataFrame([(5.0, 10.0)], "t1 double, t2 double")
        return (lambda ck: inc.run_corpus_increment_sink(
            texts(), hist, bench, freq, tot, th, out, ck)), [out]
    if sink == "decontaminate":
        return (lambda ck: inc.run_decontaminate_sink(texts(), bench, out, ck)), [out]
    if sink == "release":
        prev = spark.createDataFrame([], "doc_id long, old_digest string")
        return (lambda ck: inc.run_release_sink(stream("docs"), prev, out, ck)), [
            os.path.join(out, "delta"), os.path.join(out, "parts"),
        ]
    if sink == "shard":
        return (lambda ck: inc.run_shard_sink(texts(), out, ck)), [
            os.path.join(out, "assign"), os.path.join(out, "frontier"),
        ]
    if sink in ("cms", "hll"):
        run = getattr(inc, f"run_{sink}_sink")
        return (lambda ck: run(stream("events"), out, ck)), [out]
    if sink == "drift":
        return (lambda ck: inc.run_drift_sink(stream("vectors"), out, ck)), [out]
    run = getattr(inc, f"run_{sink}_sink")  # tag_filter, blocklist, pii_luhn
    return (lambda ck: run(texts(), out, ck)), [out]


@pytest.mark.parametrize(
    "sink",
    [
        "corpus_increment", "tag_filter", "blocklist", "pii_luhn", "decontaminate",
        "cms", "hll", "drift", "release", "shard",
    ],
)
def test_fresh_checkpoint_clears_stale_epochs(spark, small_landing, tmp_path, sink):
    """The fresh-checkpoint rule of the sink contract, on every epoch
    sink: an ``epoch=999`` directory a previous run left under each
    output dir must not be read back after a run on a fresh
    checkpoint, and a resume on that checkpoint must keep the epochs
    it landed."""
    out = str(tmp_path / "out")
    run, out_dirs = _epoch_sink_case(spark, small_landing, sink, out)

    def landed():
        return {d: sorted(map(str, spark.read.parquet(d).collect())) for d in out_dirs}

    run(str(tmp_path / "ckpt_prev"))
    want = landed()
    assert all(want.values()), want
    for d in out_dirs:
        shutil.copytree(os.path.join(d, "epoch=0"), os.path.join(d, "epoch=999"))
    run(str(tmp_path / "ckpt"))
    assert landed() == want, "stale epoch=999 rows read back after a fresh checkpoint"
    run(str(tmp_path / "ckpt"))  # resume: nothing new, landed epochs stay
    assert landed() == want


def test_stream_cms_matches_batch(spark, sf_dir, tmp_path):
    """Streaming CMS == batch CMS on the same rows, exercised across
    REAL micro-batch boundaries: the events keys land as three files,
    maxFilesPerTrigger=1 forces three epochs, each epoch writes its
    partial sketch, and the cell-wise merge (finalize_cms) must
    reproduce cms_build over all rows at once bit-for-bit — the
    mergeability property that makes a sketch a distributed partial
    aggregate, demonstrated as streaming state rather than claimed."""
    from labelmain_spark.functions.sketch import cms_build
    from labelmain_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    land = str(tmp_path / "land")
    ev.repartition(3).write.parquet(land)
    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    out, ckpt = str(tmp_path / "sketch"), str(tmp_path / "ckpt")
    inc.run_cms_sink(stream, out, ckpt)
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert len(epochs) >= 2, f"merge never crossed a batch boundary: {epochs}"
    got = {
        (r.seed, r.bucket, r.n) for r in inc.finalize_cms(spark, out).collect()
    }
    want = {(r.seed, r.bucket, r.n) for r in cms_build(ev, "user_id").collect()}
    assert got == want and got, (len(got), len(want))


def test_stream_hll_matches_batch(spark, sf_dir, tmp_path):
    """Streaming HLL == batch HLL across REAL micro-batch boundaries
    (the CMS streaming-parity discipline, for the cardinality sketch):
    three forced epochs each land a partial register table, and the
    cell-wise MAX merge must reproduce hll_build over all rows at once
    bit-for-bit — the union-of-rank-maxima mergeability that lets one
    sketch per shard answer COUNT(DISTINCT) over any union."""
    from labelmain_spark.functions.sketch import hll_build
    from labelmain_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    land = str(tmp_path / "land")
    ev.repartition(3).write.parquet(land)
    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    out, ckpt = str(tmp_path / "sketch"), str(tmp_path / "ckpt")
    inc.run_hll_sink(stream, out, ckpt)
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert len(epochs) >= 2, f"merge never crossed a batch boundary: {epochs}"
    got = {
        (r.bucket, r.max_rho)
        for r in inc.finalize_hll(spark, out).collect()
    }
    want = {(r.bucket, r.max_rho) for r in hll_build(ev, "user_id").collect()}
    assert got == want and got, (len(got), len(want))


def test_finalizers_survive_zero_epochs(spark, tmp_path):
    """An availableNow stream over an empty landing dir triggers NO
    batches, so the partial directory never exists; every finalizer
    must answer 'nothing seen yet' as an empty typed frame, not an
    AnalysisException from schema inference over nothing."""
    missing = str(tmp_path / "never_written")
    assert inc.finalize_cms(spark, missing).count() == 0
    assert inc.finalize_hll(spark, missing).count() == 0
    base = spark.createDataFrame([(0, 0.0)], "dim int, base_mean double")
    assert inc.finalize_drift(spark, missing, base, eps=0.1).count() == 0


def test_stream_drift_matches_batch(spark, sf_dir, tmp_path):
    """Streaming drift partials == the batch mean computation over the
    same rows, across REAL micro-batch boundaries: three forced epochs
    each land exact (dim, n, Σmicro) moments, the merge reproduces the
    batch per-dim means bit-for-bit, and flagging against a frozen
    baseline built from the SAME rows yields zero drift (then a
    shifted baseline flags every dim — the monitor discriminates)."""
    from pyspark.sql import functions as F

    from labelmain_spark.functions.vectors import (
        _micro_mean,
        _micro_mean_partials,
    )
    from labelmain_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    land = str(tmp_path / "land")
    emb.repartition(3).write.parquet(land)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    out, ckpt = str(tmp_path / "moments"), str(tmp_path / "ckpt")
    inc.run_drift_sink(stream, out, ckpt)
    epochs = [d for d in os.listdir(out) if d.startswith("epoch=")]
    assert len(epochs) >= 2, f"merge never crossed a batch boundary: {epochs}"

    e = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    batch_means = _micro_mean(
        _micro_mean_partials(e, ["dim"]), ["dim"], "base_mean", 6
    ).select("dim", "base_mean")

    flags = inc.finalize_drift(spark, out, batch_means, eps=1e-6).collect()
    assert len(flags) == 64
    assert all(r.drift_flag == 0 and r.delta == 0.0 for r in flags), [
        (r.dim, r.delta) for r in flags if r.drift_flag
    ][:5]

    shifted = batch_means.select(
        "dim", (F.col("base_mean") + F.lit(1.0)).alias("base_mean")
    )
    flags2 = inc.finalize_drift(spark, out, shifted, eps=0.5).collect()
    assert all(r.drift_flag == 1 for r in flags2)

    # r11 advice: a dim present in the stream but ABSENT from the
    # baseline (a model version adding dimensions) must not be
    # silently dropped — it surfaces with NULL delta and a forced
    # drift_flag=1.
    pruned = batch_means.where(F.col("dim") != 0)
    flags3 = {r.dim: r for r in inc.finalize_drift(spark, out, pruned, eps=1e9).collect()}
    assert len(flags3) == 64, "stream-only dim dropped from the monitor"
    assert flags3[0].delta is None and flags3[0].drift_flag == 1
    assert all(r.drift_flag == 0 for d, r in flags3.items() if d != 0)

    # ...and the reverse (r12 self-review): a dim present in the
    # BASELINE but absent from the stream (narrowed embedding, ingest
    # bug zeroing a dim's partials) must also surface — NULL stream
    # mean, forced drift_flag=1 — not vanish in a one-sided join.
    widened = batch_means.unionByName(
        spark.createDataFrame([(99, 0.0)], "dim int, base_mean double")
    )
    flags4 = {r.dim: r for r in inc.finalize_drift(spark, out, widened, eps=1e9).collect()}
    assert 99 in flags4, "baseline-only dim dropped from the monitor"
    assert flags4[99].mean is None and flags4[99].drift_flag == 1
    assert all(r.drift_flag == 0 for d, r in flags4.items() if d != 99)


def test_stream_shard_frontier_matches_batch(spark, sf_dir, tmp_path, monkeypatch):
    """Streaming shard assignment == batch shard_pack across REAL
    micro-batch boundaries: the corpus lands as three contiguous
    doc_id-range files (mtimes staggered so the file source triggers
    them in corpus order), each epoch rebases on the persisted token
    frontier, and the accumulated assignment must reproduce the batch
    key row-for-row — the one-number-of-state property that makes
    shard packing incremental. A crash-resume re-run on the same
    checkpoint must be a no-op (availableNow replays nothing; the
    assignment is already committed). Tracking stays bounded: each
    micro-batch session holds no tracked persist once its epoch is
    written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from labelmain_spark import session as sess
    from labelmain_spark.functions.packing import shard_pack
    from labelmain_spark.sources.readers import load_table

    docs = sorted(
        load_table(spark, sf_dir, "documents").select("doc_id", "text").collect(),
        key=lambda r: r.doc_id,
    )
    land = tmp_path / "land"
    land.mkdir()
    n = len(docs)
    cuts = [0, n // 3, 2 * n // 3, n]
    t0 = 1_700_000_000
    for i in range(3):
        part = docs[cuts[i] : cuts[i + 1]]
        p = str(land / f"d{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r.doc_id for r in part], pa.int64()),
                    "text": pa.array([r.text for r in part], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (t0 + 100 * i, t0 + 100 * i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    out, ckpt = str(tmp_path / "shards"), str(tmp_path / "ckpt")
    # each micro-batch runs under its own session object; the spy keeps
    # them alive so their tracked entries can be read after the stream
    batch_sessions = []
    real_epoch = inc._shard_assign_epoch

    def spy_epoch(batch, out_path, epoch_id):
        batch_sessions.append(batch.sparkSession)
        real_epoch(batch, out_path, epoch_id)

    monkeypatch.setattr(inc, "_shard_assign_epoch", spy_epoch)
    inc.run_shard_sink(stream, out, ckpt)
    assert len(batch_sessions) >= 2, batch_sessions
    assert not any(sess._TRACKED_PERSISTS.get(s) for s in batch_sessions)
    epochs = os.listdir(os.path.join(out, "assign"))
    assert len([d for d in epochs if d.startswith("epoch=")]) >= 2, epochs
    want = {
        (r.doc_id, r.n_tokens, r.start_offset, r.shard_id)
        for r in shard_pack(spark, sf_dir).collect()
    }
    got = {
        (r.doc_id, r.n_tokens, r.start_offset, r.shard_id)
        for r in inc.finalize_shards(spark, out).collect()
    }
    assert got == want and got, (len(got), len(want))
    # crash-resume: same checkpoint, no new files -> nothing replays,
    # the committed assignment is unchanged
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    inc.run_shard_sink(stream2, out, ckpt)
    got2 = {
        (r.doc_id, r.n_tokens, r.start_offset, r.shard_id)
        for r in inc.finalize_shards(spark, out).collect()
    }
    assert got2 == want
    # the INCREMENTAL manifest over the closed stream must equal the
    # batch shard_manifest row-for-row — checksums included, no
    # re-scan of document text (fingerprints landed with the epochs)
    from labelmain_spark.functions.packing import shard_manifest

    mgot = {
        (r.shard_id, r.n_docs, r.total_tokens, r.first_doc, r.last_doc, r.content_fp)
        for r in inc.finalize_shard_manifest(spark, out).collect()
    }
    mwant = {
        (r.shard_id, r.n_docs, r.total_tokens, r.first_doc, r.last_doc, r.content_fp)
        for r in shard_manifest(spark, sf_dir).collect()
    }
    assert mgot == mwant and mgot


def test_shard_epoch_replay_is_byte_identical(spark, sf_dir, tmp_path):
    """The at-least-once failure mode, invoked directly: re-running
    the SAME epoch (a crash after the writes but before the checkpoint
    commit) must rewrite byte-identical output and leave the
    accumulated assignment unchanged — the frontier rebase reads only
    epochs strictly below the replayed one, so its own stale
    directories cannot feed back into it."""
    from labelmain_spark.sources.readers import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    a = docs.filter(F.col("doc_id") < 100)
    b = docs.filter(F.col("doc_id") >= 100)
    out = str(tmp_path / "shards")
    inc._shard_assign_epoch(a, out, 0)
    inc._shard_assign_epoch(b, out, 1)
    before = sorted(
        (r.doc_id, r.n_tokens, r.start_offset, r.shard_id)
        for r in inc.finalize_shards(spark, out).collect()
    )
    # replay epoch 1 (and then epoch 0) — both must be no-ops
    inc._shard_assign_epoch(b, out, 1)
    inc._shard_assign_epoch(a, out, 0)
    after = sorted(
        (r.doc_id, r.n_tokens, r.start_offset, r.shard_id)
        for r in inc.finalize_shards(spark, out).collect()
    )
    assert before == after and before
    # and the frontier table holds exactly one row per epoch
    fr = inc._epoch_partials(
        spark, os.path.join(out, "frontier"), "batch_tokens long, epoch int"
    ).collect()
    assert sorted(r.epoch for r in fr) == [0, 1]
