"""Hypothesis property tests for operators whose correctness is an
ALGORITHM property, not a fixture behavior (exclusive_cumsum, span
removal, chunking, PII, blocklist, sketch and prefix-dup models, each
against a Python reference). Randomized inputs catch the off-by-one
classes (empty parts, gap keys, width boundaries) a fixed fixture
never hits.

Example counts stay small: every example runs Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from labelmain_spark.functions.packing import exclusive_cumsum

_ROWS = st.lists(
    st.tuples(st.integers(0, 1_000_000), st.integers(0, 500)),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_ROWS, width=st.sampled_from([2, 7, 1024]))
def test_cumsum_matches_serial_model(spark, rows, width):
    """Exclusive prefix sums equal the serial model for arbitrary key
    gaps, values, and level widths (width=2 forces deep recursion)."""
    df = spark.createDataFrame(rows, "k long, v long")
    got = dict(
        exclusive_cumsum(df, "k", "v", "off", width=width)
        .select("k", "off")
        .collect()
    )
    spark.catalog.clearCache()
    acc = 0
    for k, v in sorted(rows):
        assert got[k] == acc, f"key {k} (width {width}): {got[k]} != {acc}"
        acc += v


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_ROWS,
    width=st.sampled_from([2, 7, 1024]),
    budget=st.integers(0, 30_000),
)
def test_cumsum_prune_matches_model_on_kept_set(spark, rows, width, budget):
    """The r12 prune lever for arbitrary frames/widths/budgets: rows
    with prefix < budget match the serial model exactly, and NO kept
    row is missing (pruning may drop only beyond-budget rows) — the
    soundness condition sample_token_budget rides on."""
    df = spark.createDataFrame(rows, "k long, v long")
    got = dict(
        exclusive_cumsum(df, "k", "v", "off", width=width, prune_above=budget)
        .filter(F.col("off") < budget)
        .select("k", "off")
        .collect()
    )
    spark.catalog.clearCache()
    acc = 0
    want = {}
    for k, v in sorted(rows):
        if acc < budget:
            want[k] = acc
        acc += v
    assert got == want, f"width={width} budget={budget}: {got} != {want}"


def test_remove_duplicate_spans_conserves_tokens(spark, sf_dir):
    """Cross-engine equality can't catch a shared blind spot: assert
    against ground truth that (kept + removed) equals each document's
    true token count and that no doc is lost."""
    from labelmain_spark.functions.substrings import remove_duplicate_spans
    from labelmain_spark.sources.readers import load_table

    got = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(spark, sf_dir).collect()
    }
    true_counts = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    assert set(got) == set(true_counts)
    for doc_id, (n_tokens, n_removed) in got.items():
        assert n_tokens == true_counts[doc_id], doc_id
        assert 0 <= n_removed <= n_tokens
    spark.catalog.clearCache()


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=8)
)
def test_chunk_count_matches_closed_form(spark, n_tokens):
    """chunk_documents' closed-form chunk count and boundaries must
    match a serial reference chunker for arbitrary doc lengths,
    including the n == W, n == W+1 and n < W edge cells."""
    from labelmain_spark.functions.chunking import CHUNK_S, CHUNK_W, chunk_documents
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile
    import os

    docs = [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(n_tokens)]
    with tempfile.TemporaryDirectory() as tmp:
        tbl = pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
                "lang": pa.array(["en"] * len(docs), pa.string()),
                "source": pa.array(["src0"] * len(docs), pa.string()),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
                "url": pa.array([""] * len(docs), pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(tmp, "documents.parquet"))
        got: dict = {}
        for r in chunk_documents(spark, tmp).collect():
            got.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens))
    for doc_id, n in enumerate(n_tokens):
        toks = docs[doc_id][1].split(" ")
        expect, i = [], 0
        while True:
            win = toks[i * CHUNK_S : i * CHUNK_S + CHUNK_W]
            expect.append((i, len(win)))
            if i * CHUNK_S + CHUNK_W >= len(toks):
                break
            i += 1
        assert sorted(got[doc_id]) == expect, (doc_id, n)


def test_decontaminate_spans_matches_python_reference(spark, sf_dir):
    """THIRD independent algorithm: a serial pure-Python
    decontaminator (n-gram tuples as identity — no hashing at all)
    must reproduce every train doc's (n_tokens, n_removed,
    clean_text) exactly. The Spark plan decides membership on the
    dual-lane xxhash64 pair and the DuckDB oracle on md5 text — this
    reference has no hash to collide, so agreement rules out a
    shared hash-identity blind spot, and it exercises the islands
    merge against naive per-position coverage."""
    from labelmain_spark.functions.contamination import (
        CONTAM_EVAL_BP,
        DECON_N,
        decontaminate_spans,
    )
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.sources.readers import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    # the split predicate itself is Spark-evaluated: this test checks
    # the span algebra, not the (sampling-suite-tested) hash split
    eval_ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.expr(_hash_bp_expr("doc_id", "spark")) < CONTAM_EVAL_BP)
        .select("doc_id")
        .collect()
    }
    bench = {
        tuple(toks[i : i + DECON_N])
        for did, toks in docs.items()
        if did in eval_ids
        for i in range(len(toks) - DECON_N + 1)
    }
    want = {}
    for did, toks in docs.items():
        if did in eval_ids:
            continue
        covered = set()
        for i in range(len(toks) - DECON_N + 1):
            if tuple(toks[i : i + DECON_N]) in bench:
                covered.update(range(i, i + DECON_N))
        clean = " ".join(t for i, t in enumerate(toks) if i not in covered)
        want[did] = (len(toks), len(covered), clean)

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in decontaminate_spans(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    mismatches = {d: (got[d], want[d]) for d in want if got[d] != want[d]}
    assert not mismatches, dict(list(mismatches.items())[:3])
    assert any(n_removed > 0 for _, n_removed, _ in got.values()), (
        "fixture exercises no contamination — the test is vacuous"
    )
    spark.catalog.clearCache()


def _luhn_ref(digits: str) -> bool:
    """Textbook Luhn mod-10 reference (independent of both engines)."""
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    nums=st.lists(
        st.text(alphabet="0123456789", min_size=16, max_size=16),
        min_size=1,
        max_size=8,
    ),
    sep=st.sampled_from(["", " ", "-"]),
)
def test_pii_luhn_expression_matches_reference(spark, nums, sep):
    """The row-local Luhn fold must agree with the textbook Python
    reference on ARBITRARY 16-digit strings (both separators), not
    just the fixture's injected PANs — the mod-10 arithmetic is an
    algorithm property, so randomized inputs catch index-parity and
    separator-stripping mistakes a fixed fixture never hits."""
    from labelmain_spark.functions.pii import CARD_RE

    luhn_ok = (
        "aggregate(transform(reverse(split(regexp_replace(c, '[^0-9]', ''), '')),"
        " (d, i) -> CASE WHEN i % 2 = 1"
        " THEN IF(2*CAST(d AS INT) > 9, 2*CAST(d AS INT) - 9, 2*CAST(d AS INT))"
        " ELSE CAST(d AS INT) END),"
        " 0, (acc, x) -> acc + x) % 10 = 0"
    )
    fmt = [sep.join(n[j : j + 4] for j in range(0, 16, 4)) for n in nums]
    df = spark.createDataFrame([(f,) for f in fmt], "c string")
    got = [
        r.ok
        for r in df.selectExpr(
            f"c RLIKE '^{CARD_RE}$' AND {luhn_ok} AS ok"
        ).collect()
    ]
    want = [_luhn_ref(n) for n in nums]
    assert got == want, list(zip(fmt, got, want))
    spark.catalog.clearCache()


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hosts=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "site3", "example", "com", "org", "m0"]),
            min_size=1,
            max_size=4,
        ).map(".".join),
        min_size=1,
        max_size=6,
    )
)
def test_blocklist_suffix_chain_matches_reference(spark, hosts):
    """The suffix-chain + intersect expression must implement EXACTLY
    registrable-domain suffix semantics (entry blocks itself and every
    subdomain, never a partial-label match) for arbitrary dotted
    hosts — checked against a direct Python model."""
    from labelmain_spark.functions.web import BLOCKLIST

    def ref(h: str):
        labels = h.split(".")
        suffixes = {".".join(labels[i:]) for i in range(len(labels))}
        m = sorted(suffixes & set(BLOCKLIST))
        return m[0] if m else None

    df = spark.createDataFrame([(h,) for h in hosts], "h string")
    expr = (
        "array_min(array_intersect("
        "transform(sequence(1, size(split(h, '[.]'))), "
        "i -> array_join(slice(split(h, '[.]'), i, "
        "size(split(h, '[.]')) - i + 1), '.')), "
        + "array(" + ", ".join(f"'{b}'" for b in BLOCKLIST) + ")))"
    )
    got = [r.m for r in df.selectExpr(f"{expr} AS m").collect()]
    want = [ref(h) for h in hosts]
    assert got == want, list(zip(hosts, got, want))
    spark.catalog.clearCache()


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.one_of(st.integers(-(10**12), 10**12), st.text(
            # full unicode minus surrogates: the md5 parity claim is
            # over UTF-8 BYTES, so non-ASCII is exactly where a
            # Spark-UTF8String-vs-Python-encode mismatch would hide
            alphabet=st.characters(
                min_codepoint=32, blacklist_categories=("Cs",)
            ),
            max_size=20,
        )),
        min_size=1,
        max_size=60,
    )
)
def test_hll_registers_match_python_reference(spark, keys):
    """The HLL register table from the Spark expression pipeline must
    equal a direct Python model (hashlib md5, int slicing,
    bit_length) for ARBITRARY keys — the whole engine-reproducibility
    claim (conv/substring/bin vs Python arithmetic) checked on inputs
    no fixture contains, including negatives, huge ints, and
    punctuation strings."""
    from labelmain_spark.functions.sketch import HLL_RHO_MAX, hll_build

    import hashlib

    def ref(ks):
        regs: dict[int, int] = {}
        for k in ks:
            m = hashlib.md5(str(k).encode("utf-8")).hexdigest()
            bucket, w = int(m[:2], 16), int(m[2:14], 16)
            rho = HLL_RHO_MAX if w == 0 else HLL_RHO_MAX - w.bit_length()
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return set(regs.items())

    df = spark.createDataFrame([(str(k),) for k in keys], "k string")
    got = {(r.bucket, r.max_rho) for r in hll_build(df, "k").collect()}
    assert got == ref([str(k) for k in keys]), keys
    spark.catalog.clearCache()


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    strings=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=32, blacklist_categories=("Cs",)
            ),
            min_size=1,
            max_size=24,
        ),
        min_size=2,
        max_size=60,
        unique=True,
    )
)
def test_bloom_candidates_never_drop_members(spark, strings):
    """No false negatives, on ARBITRARY strings: every train row whose
    shingle is in the bench set must survive the bitset filter — the
    property the trivial oracle rests on, checked off-fixture (bench =
    every other string, train = all of them)."""
    from labelmain_spark.functions.contamination import (
        _bloom_candidates,
        _bloom_fit,
    )

    bench = strings[::2]
    bench_df = spark.createDataFrame([(s,) for s in bench], "s string")
    train_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "doc_id long, s string"
    )
    words, _ = _bloom_fit(bench_df)
    got = {(r.doc_id, r.s) for r in _bloom_candidates(train_df, words).collect()}
    members = {(i, s) for i, s in enumerate(strings) if s in set(bench)}
    assert members <= got, sorted(members - got)
    spark.catalog.clearCache()


_PREFIX_TEXTS = st.lists(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=3), min_size=1, max_size=8
    ).map(" ".join),
    min_size=1,
    max_size=16,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_PREFIX_TEXTS)
def test_prefix_dups_match_model(spark, texts):
    """The blocked-join prefix-dup path must agree with the O(n²)
    Python reference on arbitrary token-boundary corpora over a
    2-letter alphabet — randomized inputs hit the classes a fixture
    never does (shared blocks with interleaved non-extensions,
    duplicate texts, chains a-prefix-of-b-prefix-of-c, sub-W docs)."""
    from labelmain_spark.functions.dedup import PREFIX_W, prefix_dups

    rows = [(i, t) for i, t in enumerate(texts)]
    aug = spark.createDataFrame(rows, "doc_id long, text string")
    want = {}
    for i, t in rows:
        flag = 0
        if len(t.split(" ")) >= PREFIX_W:
            flag = int(
                any(
                    o.startswith(t + " ") and len(o.split(" ")) > len(t.split(" "))
                    and len(o.split(" ")) >= PREFIX_W
                    for _, o in rows
                )
            )
        want[i] = flag
    jf = {r.doc_id: r.is_prefix_dup for r in prefix_dups(aug).collect()}
    assert jf == want, (jf, want, texts)
