"""exclusive_cumsum / shard_pack: multi-level recursion correctness and
the no-global-window plan shape."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from labelmain_spark.functions.packing import exclusive_cumsum, shard_pack
from labelmain_spark.plans import checks


def test_cumsum_multilevel_matches_serial(spark):
    """width=8 over 1000 keys forces 3 recursion levels
    (1000 → 125 → 16 → 2 parts); values must equal the serial prefix
    sum. Keys have gaps (id*3) to prove only ORDER matters."""
    n = 1000
    rows = [(i * 3, (i % 7) + 1) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.off
        for r in exclusive_cumsum(df, "k", "v", "off", width=8).collect()
    }
    acc = 0
    for k, v in rows:  # rows are already in key order
        assert got[k] == acc, f"key {k}: got {got[k]}, want {acc}"
        acc += v
    assert len(got) == n


def test_cumsum_single_level(spark):
    """Under `width` keys: one partitioned pass + one tiny top window."""
    df = spark.createDataFrame([(i, 1) for i in range(50)], "k long, v long")
    got = dict(
        exclusive_cumsum(df, "k", "v", "off", width=1024)
        .select("k", "off")
        .collect()
    )
    assert got == {i: i for i in range(50)}


def test_cumsum_no_global_window_above_width(spark):
    """The scale pin: when the input exceeds `width`, every Window over
    the row set must be PARTITIONED (keyed by the part column) — an
    un-partitioned window ordered by the key would be the single-task
    global scan this operator exists to avoid. Un-partitioned windows
    are allowed ONLY over the ≤-width parts rollups (their order column
    is a _part-level key)."""
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = exclusive_cumsum(df, "k", "v", "off", width=64)
    plan = checks.physical_plan(out)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        args = [a.strip() for a in spec.split(",")]
        # windowspecdefinition(part..., order... ASC NULLS FIRST, frame)
        # vs windowspecdefinition(order... ASC NULLS FIRST, frame):
        # partitioned specs carry a bare column before the sort keys.
        if args and "ASC" in args[0]:
            assert "_part" in args[0], (
                f"un-partitioned window over the raw key (global scan): {spec}"
            )
    spark.catalog.clearCache()


def test_shard_pack_boundaries(spark, sf_dir):
    """Shard ids are dense from 0 and every shard's docs start below
    the next budget boundary (doc-granular packing invariant)."""
    from labelmain_spark.functions.packing import SHARD_TOKENS

    rows = shard_pack(spark, sf_dir).collect()
    shards = sorted({r.shard_id for r in rows})
    assert shards[0] == 0
    for r in rows:
        assert r.shard_id == r.start_offset // SHARD_TOKENS
    # offsets reconstruct the serial cumsum exactly
    ordered = sorted(rows, key=lambda r: r.doc_id)
    acc = 0
    for r in ordered:
        assert r.start_offset == acc
        acc += r.n_tokens


def test_shard_manifest_consistent_and_recomputable(spark, sf_dir):
    """The manifest must agree with shard_pack's assignment row-for-row
    (counts, token totals, id spans) and every content_fp must be
    RECOMPUTABLE from the member docs — the integrity contract a
    dataloader relies on. Also pins the boundedness claim: no shard
    holds more than SHARD_TOKENS + 1 docs."""
    import hashlib

    from labelmain_spark.functions.packing import SHARD_TOKENS, shard_manifest
    from labelmain_spark.sources.readers import load_table

    got = {r.shard_id: r for r in shard_manifest(spark, sf_dir).collect()}
    packed = shard_pack(spark, sf_dir).collect()
    text = {
        r.doc_id: (r.text or "")
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r.shard_id, []).append(r)
    assert set(got) == set(by_shard)
    for sid, members in by_shard.items():
        m = got[sid]
        members.sort(key=lambda r: r.doc_id)
        assert m.n_docs == len(members) <= SHARD_TOKENS + 1
        assert m.total_tokens == sum(r.n_tokens for r in members)
        assert (m.first_doc, m.last_doc) == (members[0].doc_id, members[-1].doc_id)
        fp = hashlib.md5(
            "|".join(
                hashlib.md5(text[r.doc_id].encode()).hexdigest() for r in members
            ).encode()
        ).hexdigest()
        assert m.content_fp == fp, sid


def test_pack_sequences_tiles_exactly(spark, sf_dir):
    """Segment map invariants: (1) every sequence except the last
    carries exactly SEQ_LEN tokens; (2) per doc, segments are
    contiguous from 0 and sum to the doc's token count; (3) segment
    lengths are positive."""
    from labelmain_spark.functions.packing import SEQ_LEN, pack_sequences
    from labelmain_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    rows = pack_sequences(spark, sf_dir).collect()
    assert rows
    by_seq: dict = {}
    by_doc: dict = {}
    for r in rows:
        assert r.seg_len > 0
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.seg_len
        by_doc.setdefault(r.doc_id, []).append((r.doc_tok_start, r.seg_len))
    last = max(by_seq)
    for q, tot in by_seq.items():
        assert tot == (SEQ_LEN if q != last else tot), (q, tot)
        if q != last:
            assert tot == SEQ_LEN
    want = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n"))
        .collect()
    }
    for doc_id, segs in by_doc.items():
        segs.sort()
        pos = 0
        for start, ln in segs:
            assert start == pos, (doc_id, segs)
            pos += ln
        assert pos == want[doc_id]


def test_bpe_fit_and_segment_roundtrip():
    """BPE is lossless by construction: merges only concatenate, so
    joining the segments reproduces every pre-token, and joining the
    pre-tokens reproduces the text. Pinned on corpus-like and
    adversarial strings."""
    from labelmain_spark.functions.bpe import (
        bpe_segment,
        fit_bpe_merges,
        pretokenize,
    )

    texts = [
        "the fast key order sort table scan merge",
        "spark group query row data slow small filter",
        "a!!b  c3po  x--y\t tab\nnewline",
        "",
    ]
    merges = fit_bpe_merges(texts, 50)
    assert merges, "fit produced no merges on repetitive text"
    ranks = {p: i for i, p in enumerate(merges)}
    for t in texts:
        toks = pretokenize(t)
        assert "".join(toks) == t  # pre-tokenizer is a partition
        for w in toks:
            segs = bpe_segment(w, ranks)
            assert "".join(segs) == w  # merge application is lossless
            assert 1 <= len(segs) <= len(w)


def test_bpe_merge_count_monotonicity():
    """Using a PREFIX of the merge list can never yield fewer tokens:
    greedy lowest-rank-first application runs the shared prefix of
    merges identically, then extra merges only further reduce."""
    from labelmain_spark.functions.bpe import bpe_segment, fit_bpe_merges

    texts = ["merge merge merges merged merging the them then than"] * 3
    merges = fit_bpe_merges(texts, 60)
    words = ["merges", " merging", " the", " than", "them"]
    prev = None
    for k in [0, 5, 15, 30, 60]:
        ranks = {p: i for i, p in enumerate(merges[:k])}
        total = sum(len(bpe_segment(w, ranks)) for w in words)
        if prev is not None:
            assert total <= prev, (k, total, prev)
        prev = total


def test_bpe_token_count_vs_whitespace(spark, sf_dir):
    """The distributed count agrees with a driver-side re-count on a
    sample, counts are positive on non-empty docs, and the ratio to
    whitespace tokens is sane (BPE of word-level text can exceed ws
    count only via sub-word splits of UNSEEN words — bounded by the
    per-word length bound)."""
    from labelmain_spark.functions.bpe import (
        _fitted_merges,
        bpe_segment,
        bpe_token_count,
        pretokenize,
    )
    from labelmain_spark.sources.readers import load_table

    got = {r.doc_id: (r.n_tokens, r.n_ws_tokens) for r in bpe_token_count(spark, sf_dir).collect()}
    merges = _fitted_merges(spark, sf_dir)
    ranks = {p: i for i, p in enumerate(merges)}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20).collect()
    for r in docs:
        want = sum(len(bpe_segment(w, ranks)) for w in pretokenize(r.text))
        assert got[r.doc_id][0] == want, r.doc_id
        assert got[r.doc_id][0] >= 1


def test_pack_sequences_bpe_tiles_exactly(spark, sf_dir):
    """The BPE-budgeted pack keeps pack_sequences' invariants: every
    sequence but the last carries exactly SEQ_LEN tokens, and each
    doc's segments tile [0, n_bpe_tokens) in order."""
    from labelmain_spark.functions.bpe import bpe_token_count, pack_sequences_bpe
    from labelmain_spark.functions.packing import SEQ_LEN

    rows = pack_sequences_bpe(spark, sf_dir).collect()
    assert rows
    by_seq: dict = {}
    by_doc: dict = {}
    for r in rows:
        assert r.seg_len > 0
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.seg_len
        by_doc.setdefault(r.doc_id, []).append((r.doc_tok_start, r.seg_len))
    last = max(by_seq)
    for q, tot in by_seq.items():
        if q != last:
            assert tot == SEQ_LEN, (q, tot)
    want = {r.doc_id: r.n_tokens for r in bpe_token_count(spark, sf_dir).collect()}
    for doc_id, segs in by_doc.items():
        segs.sort()
        pos = 0
        for start, ln in segs:
            assert start == pos, (doc_id, segs)
            pos += ln
        assert pos == want[doc_id]


def test_bpe_train_distributed_equals_reference(spark, sf_dir, monkeypatch):
    """The corpus trainer must reproduce the pure-Python Sennrich
    reference EXACTLY on the same corpus: same merges, same order
    (count-desc / lexicographic tie-break), and pair counts matching
    the reference's stats at each round — on both arms: the driver
    arm (the reference's own merge rounds over the collected word
    table) and, with the bound at 0, the distributed JVM loop."""
    from collections import Counter

    from labelmain_spark import session
    from labelmain_spark.functions.bpe import (
        BPE_TRAIN_MERGES,
        bpe_train,
        fit_bpe_merges,
        pretokenize,
    )
    from labelmain_spark.sources.readers import load_table

    texts = [
        r.text
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    expected = fit_bpe_merges(texts, n_merges=BPE_TRAIN_MERGES)
    # independently recompute the first round's pair stats to check
    # the first merge's recorded count
    freqs = Counter()
    for t in texts:
        for w in pretokenize(t):
            freqs[tuple(w)] += 1
    pairs = Counter()
    for sym, c in freqs.items():
        for a, b in zip(sym, sym[1:]):
            pairs[(a, b)] += c
    arms = []
    for bound in (session.SMALL_PLAN_ROWS, 0):
        monkeypatch.setattr(session, "SMALL_PLAN_ROWS", bound)
        got = sorted(bpe_train(spark, sf_dir).collect(), key=lambda r: r.merge_rank)
        assert [(r.left, r.right) for r in got] == expected
        assert got[0].pair_count == pairs[(got[0].left, got[0].right)]
        arms.append(got)
        session.release_caches(spark)
    assert arms[0] == arms[1]


def test_pack_bins_harmonic_invariants(spark, sf_dir):
    """Harmonic-K invariants on real data: (a) every non-overflow bin
    fits the budget, (b) class-k bins hold at most k docs and every
    doc in class k < K has n_tokens in (B/(k+1), B/k], (c) every FULL
    bin of class k < K carries more than B*k/(k+1) tokens (the
    published waste bound), (d) an overflow doc sits alone in its
    bin."""
    from labelmain_spark.functions.packing import (
        BIN_BUDGET,
        HARMONIC_K,
        pack_bins_harmonic,
    )

    rows = pack_bins_harmonic(spark, sf_dir).collect()
    assert rows
    bins: dict[tuple, list] = {}
    for r in rows:
        bins.setdefault((r.size_class, r.bin_seq), []).append(r)
        if not r.overflow and r.size_class < HARMONIC_K:
            assert BIN_BUDGET // (r.size_class + 1) < r.n_tokens <= BIN_BUDGET // r.size_class
    saw_full = False
    for (k, _seq), docs in bins.items():
        assert len(docs) <= k
        total = sum(d.n_tokens for d in docs)
        if any(d.overflow for d in docs):
            assert len(docs) == 1
            continue
        assert total <= BIN_BUDGET, (k, _seq, total)
        if len(docs) == k and k < HARMONIC_K:
            saw_full = True
            assert total * (k + 1) > BIN_BUDGET * k, (k, total)
    assert saw_full, "fixture produced no full bins — bound untested"
    spark.catalog.clearCache()


def test_bpe_fertility_matches_driver_reference(spark, sf_dir):
    """The per-lang fertility report must equal a driver-side Python
    recomputation over the same fitted merges — exact long totals and
    the integer-arithmetic high-fertility flag, no float drift."""
    import math

    from labelmain_spark.functions.bpe import (
        _MERGE_MEMO,
        _fitted_merges,
        bpe_fertility,
        bpe_segment,
        pretokenize,
    )
    from labelmain_spark.sources.readers import load_table

    got = {
        r.lang: (r.n_docs, r.total_bpe, r.total_ws, r.fertility, r.pct_high_fertility)
        for r in bpe_fertility(spark, sf_dir).collect()
    }
    ranks = {p: i for i, p in enumerate(_fitted_merges(spark, sf_dir))}
    rows = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    agg: dict[str, list[int]] = {}
    for r in rows:
        nb = sum(len(bpe_segment(w, ranks)) for w in pretokenize(r.text))
        nw = len(r.text.split(" "))
        a = agg.setdefault(r.lang, [0, 0, 0, 0])
        a[0] += 1
        a[1] += nb
        a[2] += nw
        a[3] += 1 if 2 * nb > 3 * nw else 0
    want = {
        lang: (
            n,
            tb,
            tw,
            math.floor(tb / tw * 1e4 + 0.5) / 1e4,
            math.floor(hi / n * 1e4 + 0.5) / 1e4,
        )
        for lang, (n, tb, tw, hi) in agg.items()
    }
    assert got == want, {k: (got.get(k), want.get(k)) for k in set(got) | set(want)}
