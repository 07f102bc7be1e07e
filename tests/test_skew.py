"""Skewed-key robustness for the window family (r4 verdict item 6).

sessionize / window_rank / collect_nested partition their windows by
user_id, which production clickstreams skew hard (one bot account with
5-6 orders of magnitude more events than the median user). The driver
fixtures are near-uniform, so this builds a seeded Zipf-shaped events
table — one hot user holding ~85% of all rows — and asserts:

- output STABILITY: bit-identical results when the same rows arrive in
  a different physical order / file layout (windows must be fully
  determined by their ORDER BY + deterministic tie-breaks, and sums by
  the decimal-exact parity helpers — any order-dependence shows up as
  a diff here);
- hot-key CORRECTNESS: the hot user's sessionization agrees with a
  pure-Python reference over its full event stream;
- no per-user array materialization beyond the one collect_nested
  deliberately performs (its output IS the nested doc).

AQE skew-split applies to JOINS, not windows (a window's key cannot be
split); the measured skew-join run and its numbers are in SCALE.md
§Joins.
"""

from __future__ import annotations

import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HOT_USER = 1
N_HOT = 120_000
N_NORMAL_USERS = 400
SEED = 77


def _rows():
    rng = random.Random(SEED)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    # hot user: dense bursts with occasional >30min gaps so sessions split
    t = t0
    for i in range(N_HOT):
        t += dt.timedelta(seconds=rng.choice([1, 5, 30, 2400] if i % 97 == 0 else [1, 5, 30]))
        rows.append((HOT_USER, rng.choice(["click", "view", "purchase", "error"]), t, rng.random()))
    for u in range(2, 2 + N_NORMAL_USERS):
        t = t0 + dt.timedelta(seconds=rng.randrange(86_400))
        for _ in range(rng.randrange(5, 60)):
            t += dt.timedelta(seconds=rng.randrange(1, 4000))
            rows.append((u, rng.choice(["click", "view", "purchase", "error"]), t, rng.random()))
    return rows


def _write(rows, path, order, n_row_groups):
    idx = list(range(len(rows)))
    random.Random(order).shuffle(idx)
    rows = [rows[i] for i in idx]
    tbl = pa.table(
        {
            "event_id": pa.array(idx, pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([round(r[3], 6) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(path / "events.parquet"), row_group_size=len(rows) // n_row_groups)


@pytest.fixture(scope="module")
def skew_dirs(tmp_path_factory):
    rows = _rows()
    a = tmp_path_factory.mktemp("skew_a")
    b = tmp_path_factory.mktemp("skew_b")
    _write(rows, a, order=1, n_row_groups=4)
    _write(rows, b, order=2, n_row_groups=13)
    return rows, str(a), str(b)


def _collected(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("op", ["sessionize", "window_rank", "collect_nested"])
def test_window_family_stable_under_skew_and_reorder(spark, skew_dirs, op):
    from labelmain_spark.operators import advanced, aggregates, windows

    fn = {
        "sessionize": advanced.sessionize,
        "window_rank": windows.window_rank,
        "collect_nested": aggregates.collect_nested,
    }[op]
    rows, a, b = skew_dirs
    out_a = _collected(fn(spark, a))
    out_b = _collected(fn(spark, b))
    assert out_a == out_b, f"{op} output depends on physical row order under skew"
    assert len(out_a) > 0


def test_sessionize_hot_user_matches_reference(spark, skew_dirs):
    from labelmain_spark.operators.advanced import SESSION_GAP_S, sessionize

    rows, a, _ = skew_dirs
    got = {
        int(r.session_seq): (r.n_events, r.session_start, r.session_end)
        for r in sessionize(spark, a).filter(f"user_id = {HOT_USER}").collect()
    }

    hot = sorted(r[2] for r in rows if r[0] == HOT_USER)
    expect = {}
    seq, start, prev, n = 0, None, None, 0
    for ts in hot:
        if prev is None or (ts - prev).total_seconds() > SESSION_GAP_S:
            if prev is not None:
                expect[seq] = (n, start, prev)
            seq, start, n = seq + 1, ts, 0
        n += 1
        prev = ts
    expect[seq] = (n, start, prev)

    assert len(got) == len(expect)
    assert got == expect
    # skew sanity: the hot user really is pathological relative to the rest
    assert sum(v[0] for v in got.values()) == N_HOT


# ---------------------------------------------------------------- span family
#
# r10 (r9 verdict item 5): the fused span map's per-digest window
# shuffles EVERY occurrence of a digest into one task, and AQE's skew
# splitting covers joins, not windows — so a boilerplate span occurring
# 1e6-1e8 times on a real crawl is a one-task sort. These tests pin the
# hot-digest case (one gram_md5 at ~40% of ALL span positions: docs
# that are a single repeated token, the padding/boilerplate shape)
# against a first-principles reference. The timed A/B that kept the
# window plan over a partial-agg+join-back alternative is recorded in
# PERF.md §"Hot-digest span skew settled by measurement".

HOT_TOK = "boiler"
N_HOT_DOCS = 120          # identical-token docs -> every span = ONE digest
HOT_DOC_TOKENS = 71       # 40 spans per hot doc at L=32
N_NORMAL_DOCS = 300
N_DUP_PAIRS = 20          # verbatim-copied normal docs: non-hot dup groups


def _span_rows():
    rng = random.Random(SEED)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for d in range(N_NORMAL_DOCS):
        n = rng.randrange(20, 90)
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    for i in range(N_DUP_PAIRS):  # overwrite: doc 2i+1 copies doc 2i
        rows[2 * i + 1] = (2 * i + 1, rows[2 * i][1])
    for d in range(N_NORMAL_DOCS, N_NORMAL_DOCS + N_HOT_DOCS):
        rows.append((d, " ".join([HOT_TOK] * HOT_DOC_TOKENS)))
    return rows


@pytest.fixture(scope="module")
def span_skew_dir(tmp_path_factory):
    rows = _span_rows()
    path = tmp_path_factory.mktemp("span_skew")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([f"src{r[0] % 3}" for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(path / "documents.parquet"), row_group_size=64)
    return rows, str(path)


def test_span_hot_digest_matches_reference(spark, span_skew_dir):
    """Keep-the-globally-first semantics on the hot group against a
    from-first-principles reference: the lexicographically-first hot
    occurrence is (doc_id=N_NORMAL_DOCS, pos=0), so the first hot doc's
    cuts are pos 1..n_spans-1 (covering tokens [1, HOT_DOC_TOKENS)) and
    exactly its token 0 survives; every later hot doc is fully cut."""
    from labelmain_spark.functions import substrings as ss

    rows, d = span_skew_dir
    L = ss.DUP_SPAN_L
    n_spans = HOT_DOC_TOKENS - L + 1

    # the fixture really is pathological: one digest ~40% of ALL spans
    n_all_spans = sum(max(0, len(t.split(" ")) - L + 1) for _, t in rows)
    assert 0.30 < N_HOT_DOCS * n_spans / n_all_spans < 0.50

    dup = ss.duplicate_spans(spark, d).collect()
    # non-hot duplicate groups exist too (the copied normal docs)
    assert len({r.gram_md5 for r in dup}) > 1
    hot = [r for r in dup if r.doc_id >= N_NORMAL_DOCS]
    assert len(hot) == N_HOT_DOCS * n_spans
    assert len({r.gram_md5 for r in hot}) == 1
    assert all(r.n_dups == N_HOT_DOCS * n_spans for r in hot)

    rm = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in ss.remove_duplicate_spans(spark, d)
        .filter(f"doc_id >= {N_NORMAL_DOCS}")
        .collect()
    }
    first_doc = N_NORMAL_DOCS
    assert rm[first_doc] == (HOT_DOC_TOKENS, HOT_DOC_TOKENS - 1, HOT_TOK)
    for doc in range(N_NORMAL_DOCS + 1, N_NORMAL_DOCS + N_HOT_DOCS):
        assert rm[doc] == (HOT_DOC_TOKENS, HOT_DOC_TOKENS, "")
