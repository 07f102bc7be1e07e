"""Property tests for operators whose oracle check is rows-only, plus
semantic properties the driver's hash compare can't express
(idempotence, recall, invariants). FIXTURES.md §2: $addToSet
idempotence (run MERGE twice ⇒ identical result), TTL dedup, reshape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from labelmain_spark.functions import dedup, vectors
from labelmain_spark.multimodal import columns as mm
from labelmain_spark.operators import merge
from labelmain_spark.sources.readers import load_table


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    """ANN bucket probe must recover a reasonable share of the true
    top-k (recall measured, not assumed)."""
    brute = {r.vec_id for r in vectors.similarity_topk(spark, sf_dir).collect()}
    ann = {r.vec_id for r in vectors.ann_lsh_topk(spark, sf_dir).collect()}
    assert ann, "ANN returned nothing — bucket signature is broken"
    recall = len(ann & brute) / len(brute)
    # 8-table × 4-bit OR-construction with frozen planes: measured
    # recall 0.6 (sf0.001) / 0.6-0.9 (sf0.01); the floor leaves margin
    # while still failing on any regression toward single-table
    # behavior (which measured 0.03-0.3 on random vectors).
    # r6: the seeded sweep (COVERAGE.md, ANN row) showed no (tables, bits)
    # reaches a 0.8 floor at ≤50% scan on this near-random corpus, so
    # ann_lsh_topk is the labeled didactic baseline; multiprobe/IVF
    # are the named ANN paths (their own recall tests below).
    assert recall >= 0.4, f"ANN recall {recall} vs brute force too low"


def test_neardup_banded_recall_is_exact(spark, sf_dir, duck):
    """The LSH-banded candidate generation must not lose a single
    qualifying pair on the fixture vs exact all-pairs: at r=2, b=24 a
    pair at cos 0.4 misses all bands with probability (1-0.631²)²⁴ ≈
    5e-6, and the planes are frozen at import, so recall 1.0 here is
    deterministic, not luck. (The oracle mirrors the banded semantics,
    so the driver gate alone could not catch a recall loss.)"""
    got = {
        (r.vec_a, r.vec_b) for r in vectors.embedding_neardup(spark, sf_dir).collect()
    }
    exact = {
        (a, b)
        for a, b in duck.execute(
            """
            WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id, b.vec_id
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE (FLOOR((list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000.0 + 0.5) / 10000.0) >= 0.4
            """
        ).fetchall()
    }
    assert got == exact


def test_neardup_plan_is_banded_equi_join(spark, sf_dir):
    """The candidate join must be an equi join on (label, band_id,
    band_val) — never a nested-loop over label blocks (the r2 all-pairs
    shape this operator replaced) — and the vectors must not ride
    through the band shuffle (arrays join back by scalar id only)."""
    df = vectors.embedding_neardup(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "band_val" in plan, plan


def test_components_star_skew_converges_in_diameter_rounds(spark, monkeypatch):
    """10k-node star through ONE hub attribute — the 100 TB skew
    hazard (a hub p key receiving the whole component's membership).
    Hash-min must converge in O(diameter)=1 effective round (+1
    fixpoint probe), label every node with the min id, and the hub
    groupBy must stay a partial-agg (one row per upstream partition
    reaches the hot key, not 10k rows)."""
    from pyspark.sql import functions as F

    from labelmain_spark import session
    from labelmain_spark.functions import graph

    edges = spark.range(10_000).select(F.col("id").alias("u"), F.lit(1).alias("p"))
    stats = {}
    # bound 0: this test pins the DISTRIBUTED loop's convergence/skew
    # behavior (the 100 TB arm), which the driver union-find arm
    # would otherwise absorb at this size
    monkeypatch.setattr(session, "SMALL_PLAN_ROWS", 0)
    cc = graph.connected_components(edges, stats=stats)
    assert stats["rounds"] <= 2, stats
    row = cc.agg(
        F.count_distinct("component").alias("nc"),
        F.min("component").alias("lo"),
        F.max("component").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert (row.nc, row.lo, row.hi, row.n) == (1, 0, 0, 10_000)
    # the per-round p aggregation must show map-side partial agg
    comp = cc.sparkSession.createDataFrame([(i, i) for i in range(4)], "u long, comp long")
    agg = edges.join(comp, "u").groupBy("p").agg(F.min("comp").alias("pcomp"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("hashaggregate") >= 2, plan


def test_components_raises_without_fixpoint(spark, monkeypatch):
    """A chain needs ~len/2 rounds; with max_iter=1 the loop exhausts
    mid-propagation and MUST raise instead of returning wrong labels."""
    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: F401

    from labelmain_spark import session
    from labelmain_spark.functions import graph

    rows = [(0, "a"), (1, "a"), (1, "b"), (2, "b"), (2, "c"), (3, "c")]
    edges = spark.createDataFrame(rows, "u long, p string")
    monkeypatch.setattr(session, "SMALL_PLAN_ROWS", 0)
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        graph.connected_components(edges, max_iter=1)


def test_components_long_chain_converges_under_aqe(spark, monkeypatch):
    """A 24-node chain on the distributed arm takes one round per hop
    under the session's AQE conf. Each round persists the last round's
    labels; without re-rooting every round's plan (session.persist_round)
    the cached plan string doubles per round and the driver runs out of
    heap long before the fixpoint."""
    from labelmain_spark import session
    from labelmain_spark.functions import graph

    n = 24
    rows = [(i, i) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)]
    edges = spark.createDataFrame(rows, "u long, p long")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    monkeypatch.setattr(session, "SMALL_PLAN_ROWS", 0)
    stats = {}
    labels = {r.u: r.component for r in graph.connected_components(edges, stats=stats).collect()}
    assert stats["tier"] == "distributed"
    assert stats["rounds"] >= 12, stats
    assert labels == {u: 0 for u in range(n)}
    session.release_caches(spark)


def test_range_join_degenerate_interval_matches_nothing(spark):
    """hi <= lo means an empty [lo, hi) interval. Without the guard,
    sequence(start, end) with end < start runs DESCENDING (default step
    -1) and emits wrong bins instead of none."""
    from labelmain_spark.operators.joins import range_join

    left = spark.createDataFrame([(float(v),) for v in (0.0, 500.0, 2500.0)], "v double")
    bands = spark.createDataFrame(
        [("empty", 2000.0, 2000.0), ("inverted", 3000.0, -1000.0), ("real", 0.0, 1000.0)],
        "band string, lo double, hi double",
    )
    got = {(r.band, r.v) for r in range_join(left, "v", bands).collect()}
    assert got == {("real", 0.0), ("real", 500.0)}


def test_profile_float_format_stable_outside_plain_range(spark, duck):
    """Doubles beyond Spark's plain-notation range (|x| ≥ 1e7 or
    < 1e-3) render as E-notation under CAST AS STRING while DuckDB
    renders the binary expansion — the profile's printf path must agree
    byte-for-byte anyway."""
    from labelmain_spark.functions.profile import profile

    vals = [1.23e9, 4.5e-8, -9.87654321e7, 0.125, None]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    row = {r.column: r for r in profile(df, ["value"]).collect()}["value"]
    lo, hi = duck.execute(
        """
        SELECT printf('%.6f', FLOOR(MIN(v) * 1000000.0 + 0.5) / 1000000.0),
               printf('%.6f', FLOOR(MAX(v) * 1000000.0 + 0.5) / 1000000.0)
        FROM (VALUES (1.23e9), (4.5e-8), (-9.87654321e7), (0.125), (NULL)) t(v)
        """
    ).fetchone()
    assert (row.min_str, row.max_str) == (lo, hi)


def test_multiprobe_dominates_single_bucket(spark, sf_dir):
    """Multi-probe with T probes must recall at least as much of the
    true top-k as its own T=1 (single-bucket) probe — on the fixture,
    where neighbors are near-random (cos ≈ 0.4), this is the honest
    claim; recall ≥ 0.9 at low scan is information-theoretically out of
    reach for sign-LSH there (numpy sweep: ~50% scan needed)."""
    brute = {r.vec_id for r in vectors.similarity_topk(spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    single = {r.vec_id for r in vectors._ann_multiprobe(e, n_probes=1).collect()}
    multi = {r.vec_id for r in vectors._ann_multiprobe(e, n_probes=8).collect()}
    assert len(multi & brute) >= len(single & brute)


def test_multiprobe_planted_neighbors_recall(spark, sf_dir):
    """At the production operating point — true near-duplicates at
    cos ≈ 0.99 — multi-probe must reach recall ≥ 0.9 while scanning a
    bounded slice of the corpus (8 of 64 buckets + plant noise)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qv = np.array(
        e.filter(F.col("vec_id") == vectors.QUERY_VEC_ID).first()[1], dtype=float
    )
    rng = np.random.RandomState(3)
    planted_ids = list(range(1_000_000, 1_000_010))
    rows = []
    for pid in planted_ids:
        noise = rng.standard_normal(64)
        v = qv + 0.03 * np.linalg.norm(qv) * noise / np.linalg.norm(noise)
        rows.append((pid, [float(x) for x in v]))
    corpus = e.union(spark.createDataFrame(rows, "vec_id long, v array<double>"))

    got = {r.vec_id for r in vectors._ann_multiprobe(corpus, n_probes=8).collect()}
    recall = len(got & set(planted_ids)) / len(planted_ids)
    assert recall >= 0.9, f"planted-neighbor recall {recall}"

    scanned = (
        corpus.filter(F.col("vec_id") != vectors.QUERY_VEC_ID)
        .withColumn("_sig", vectors._mp_sig())
        .filter(
            F.col("_sig").isin(
                vectors._mp_probe_buckets([float(x) for x in qv], 8)
            )
        )
        .count()
    )
    total = corpus.count() - 1
    assert scanned / total <= 0.5, f"probe filter scanned {scanned}/{total}"


def test_pq_planted_neighbors_recall(spark, sf_dir):
    """PQ-ADC (frozen codebooks) at the production operating point —
    true near-duplicates at cos ≈ 0.99 must survive quantization: the
    4-bit × 8-subspace codes lose fine rank among near-random
    neighbors (cos ≈ 0.4), but a planted neighbor's approximate inner
    product towers over the bulk, so it must reach the rerank pool and
    the exact rerank must rank it. Recall ≥ 0.9 over 10 plants."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qv = np.array(
        e.filter(F.col("vec_id") == vectors.QUERY_VEC_ID).first()[1], dtype=float
    )
    rng = np.random.RandomState(11)
    planted_ids = list(range(2_000_000, 2_000_010))
    rows = []
    for pid in planted_ids:
        noise = rng.standard_normal(64)
        v = qv + 0.03 * np.linalg.norm(qv) * noise / np.linalg.norm(noise)
        rows.append((pid, [float(x) for x in v]))
    corpus = e.union(spark.createDataFrame(rows, "vec_id long, v array<double>"))

    got = {r.vec_id for r in vectors._pq_frozen_rank(corpus, qv.tolist()).collect()}
    recall = len(got & set(planted_ids)) / len(planted_ids)
    assert recall >= 0.9, f"PQ planted-neighbor recall {recall}"


def test_ivf_pq_compose_planted_recall(spark, sf_dir):
    """IVF-ADC (the FAISS-default composition, `ann_ivf_pq_seeded_topk`'s
    head and tail over a planted corpus) at the production operating
    point: planted near-duplicates of the query (cos ≈ 0.99) must
    survive BOTH pruning axes — land in the query's probed cells
    (near-identical vectors share a nearest centroid) AND top the ADC
    ranking — so the exact rerank returns them. Recall ≥ 0.9 over 10
    plants."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qv = np.array(
        e.filter(F.col("vec_id") == vectors.QUERY_VEC_ID).first()[1], dtype=float
    )
    rng = np.random.RandomState(17)
    planted_ids = list(range(3_000_000, 3_000_010))
    rows = []
    for pid in planted_ids:
        noise = rng.standard_normal(64)
        v = qv + 0.03 * np.linalg.norm(qv) * noise / np.linalg.norm(noise)
        rows.append((pid, [float(x) for x in v]))
    corpus = e.union(spark.createDataFrame(rows, "vec_id long, v array<double>"))

    n = corpus.count()
    cents = vectors._hash_seeds(corpus, max(2, min(vectors.IVF_K, n // 60)))
    probes = vectors._ivf_probes(qv.tolist(), cents)
    universe = (
        vectors._ivf_assign(corpus, cents)
        .filter(F.col("cell").isin(probes))
        .select("vec_id", "v")
    )
    got = {
        r.vec_id
        for r in vectors._pq_frozen_rank(corpus, qv.tolist(), universe=universe).collect()
    }
    recall = len(got & set(planted_ids)) / len(planted_ids)
    assert recall >= 0.9, f"IVF-ADC planted-neighbor recall {recall}"


def test_pq_rerank_scores_exact_and_deterministic(spark, sf_dir):
    """The PQ key's returned scores are EXACT cosines (quantization may
    cost pool recall, never score fidelity): every returned (vec_id,
    cos_sim) must equal the brute-force score for that id, and two runs
    must return identical rows (codebooks frozen at import)."""
    e = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "cast(embedding as array<double>) v"
    )
    q = e.filter(F.col("vec_id") == vectors.QUERY_VEC_ID).select(
        F.col("v").alias("q")
    )
    brute = {
        r.vec_id: r.cos_sim
        for r in (
            e.filter(F.col("vec_id") != vectors.QUERY_VEC_ID)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                vectors.stable_round(
                    vectors.cosine(F.col("v"), F.col("q")), 4
                ).alias("cos_sim"),
            )
            .collect()
        )
    }
    run1 = [(r.vec_id, r.cos_sim) for r in vectors.ann_pq_frozen_topk(spark, sf_dir).collect()]
    run2 = [(r.vec_id, r.cos_sim) for r in vectors.ann_pq_frozen_topk(spark, sf_dir).collect()]
    assert run1 == run2
    assert len(run1) == vectors.TOP_K
    for vid, cs in run1:
        assert brute[vid] == cs, f"vec {vid}: pq score {cs} != exact {brute[vid]}"


def test_pq_codes_are_m_small_ints(spark, sf_dir):
    """The stored representation is really M codes in [0, PQ_KS) — the
    32× compression claim is the schema, not prose."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    enc = vectors._pq_frozen_encode_udf()
    codes = e.select(enc("v").alias("code")).collect()
    for row in codes:
        assert len(row.code) == vectors.PQ_M
        assert all(0 <= c < vectors.PQ_KS for c in row.code)


def test_pq_frozen_rank_rejects_other_dims(spark):
    """The frozen codebooks split a 64-dim vector into PQ_M subspaces.
    Every PQ key passes through `_pq_frozen_rank`, which must refuse a
    vector of any other dimension, naming the one it needs, rather than
    score truncated subvectors."""
    e = spark.createDataFrame(
        [(0, [1.0] * 32), (1, [0.5] * 32)], "vec_id long, v array<double>"
    )
    with pytest.raises(ValueError, match="dim 64, got 32"):
        vectors._pq_frozen_rank(e, [1.0] * 32)


def test_simhash_identical_docs_same_signature(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    dup = docs.union(docs)  # every doc duplicated
    sig = dedup.simhash(dup)
    # each doc_id appears twice with equal signatures → distinct rows = 5
    assert sig.distinct().count() == 5


def test_simhash_pairs_are_similar(spark, sf_dir):
    """Every SimHash pair reported at hamming ≤ 6 must share real
    token overlap (sanity: the signature reflects content)."""
    pairs = dedup.dedup_simhash(spark, sf_dir).limit(5).collect()
    if not pairs:
        pytest.skip("no simhash pairs at this SF")
    docs = {
        r.doc_id: set(r.text.split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for p in pairs:
        a, b = docs[p.doc_a], docs[p.doc_b]
        jac = len(a & b) / len(a | b)
        assert jac > 0.5, f"simhash pair ({p.doc_a},{p.doc_b}) jaccard {jac}"


def test_addtoset_idempotent(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    labels = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("labels")
    )
    once = merge.merge_add_to_set(labels, labels, "user_id", "labels")
    twice = merge.merge_add_to_set(once, labels, "user_id", "labels")
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_upsert_prefers_updates(spark, sf_dir):
    cur = spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string")
    upd = spark.createDataFrame([(2, "new"), (3, "new")], "k long, v string")
    out = {r.k: r.v for r in merge.upsert(cur, upd, "k").collect()}
    assert out == {1: "old", 2: "new", 3: "new"}


def test_upsert_null_update_column_still_overwrites(spark):
    """$set semantics: the update doc replaces the whole row, even when
    an update field is NULL (doc-level, not field-level, wins)."""
    cur = spark.createDataFrame([(1, "old")], "k long, v string")
    upd = spark.createDataFrame([(1, None)], "k long, v string")
    out = merge.upsert(cur, upd, "k").collect()
    assert out[0].v is None


def test_minhash_candidates_superset_of_high_jaccard(spark, sf_dir):
    """Every pair LSH reports above threshold must verify; spot-check
    that the top ngram_jaccard pair is also found by minhash (banded
    LSH at t≈(1/b)^(1/r)=0.63 should catch 0.9+ pairs)."""
    mh = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash(spark, sf_dir).collect()}
    exact = [
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.9)
        .collect()
    ]
    for pair in exact:
        assert pair in mh, f"minhash missed near-identical pair {pair}"


def test_mllib_similarity_join_agrees_with_native_minhash(spark, sf_dir):
    """The MLlib LSH path and the DataFrame-native minhash must find
    the same near-dup pairs (same shingles, same jaccard threshold)."""
    from labelmain_spark.functions import simjoin

    sj = {(r.doc_a, r.doc_b) for r in simjoin.similarity_join(spark, sf_dir).collect()}
    mh = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash(spark, sf_dir).collect()}
    assert mh, "no near-dup pairs found at this SF"
    missed = mh - sj
    assert len(missed) <= max(1, len(mh) // 10), f"MLlib path missed {missed}"


def test_multimodal_decode_stub_raises():
    if mm.HAS_PIL:
        pytest.skip("codec present: decode_stub decodes instead of raising")
    with pytest.raises(NotImplementedError):
        mm.decode_stub(b"\x89PNG")


def test_multimodal_decode_features_either_path():
    """decode_features honors one contract on EVERY path — real codec
    (PIL present: decoded-pixel luminance histogram), undecodable
    payload (fake byte histogram), no codec at all (fake) — so the
    mapInPandas plumbing is environment-independent. With PIL present
    the real path is exercised on an actual in-memory PNG; without it
    the same assertions run over the fallback."""
    payloads = [b"", b"hello world", bytes(range(256)) * 3]
    if mm.HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (8, 8), color=200).save(buf, format="PNG")
        png = buf.getvalue()
        payloads.append(png)
        # Real path really decoded: a uniform-200 image lands entirely
        # in bucket 200*DIM//256 — the byte-histogram fake of PNG bytes
        # could not produce a one-hot vector there.
        feats = mm.decode_features(png)
        hot = 200 * mm.FEATURE_DIM // 256
        assert feats[hot] == 1.0 and sum(feats) == 1.0, feats
    for p in payloads:
        feats = mm.decode_features(p)
        assert len(feats) == mm.FEATURE_DIM
        assert all(f >= 0 for f in feats), feats
        assert abs(sum(feats) - (1.0 if p else 0.0)) < 1e-3, (p[:16], feats)
        assert feats == mm.decode_features(p), "must be deterministic"
    # Undecodable payloads equal the documented fake on either path.
    assert mm.decode_features(b"hello world") == mm._fake_features(b"hello world")


def test_minipng_roundtrip_and_all_filters():
    """The vendored PNG codec (r7 verdict item 8): encoder→decoder
    round-trips arbitrary pixels, and the decoder inverts all five
    scanline filters — the test applies each filter FORWARD itself
    (independent arithmetic) and asserts the decoder recovers the
    original pixels."""
    import random
    import struct
    import zlib

    from labelmain_spark.multimodal import minipng

    rng = random.Random(7)
    w, h = 13, 9
    px = bytes(rng.randrange(256) for _ in range(w * h))
    assert minipng.decode_gray(minipng.encode_gray(px, w, h)) == px

    # forward-filter each scanline with filter y%5, rebuild the IDAT
    rows = [px[y * w : (y + 1) * w] for y in range(h)]
    raw = bytearray()
    prev = bytes(w)
    for y, line in enumerate(rows):
        f = y % 5
        raw.append(f)
        for x in range(w):
            a = line[x - 1] if x else 0
            b = prev[x]
            c = prev[x - 1] if x else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = (line[x] - a) & 0xFF
            elif f == 2:
                v = (line[x] - b) & 0xFF
            elif f == 3:
                v = (line[x] - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (line[x] - pr) & 0xFF
            raw.append(v)
        prev = line

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    png = (
        minipng.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert minipng.decode_gray(png) == px


def test_multimodal_real_png_decode(spark):
    """The REAL decode branch executes IN THIS CONTAINER (r7 verdict
    item 8 — previously vacuous without PIL): a deterministic
    grayscale gradient PNG goes through the full Spark mapInPandas
    feature path, and the resulting histogram equals the
    luminance histogram computed independently here from the pixels —
    which the byte-histogram fake over compressed PNG bytes could not
    produce."""
    from labelmain_spark.multimodal import minipng

    w, h = 16, 16
    px = bytes((x * 255) // (w * h - 1) for x in range(w * h))
    png = minipng.encode_gray(px, w, h)

    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    rows = mm.extract_features(df).collect()
    assert len(rows) == 1 and rows[0].n_bytes == len(png)

    counts = [0] * mm.FEATURE_DIM
    for v in px:
        counts[v * mm.FEATURE_DIM // 256] += 1
    want = [round(c / len(px), 6) for c in counts]
    assert list(rows[0].features) == want
    assert want != mm._fake_features(png), "distinguishes real from fake"


def test_multimodal_features_deterministic(spark, sf_dir):
    a = mm.multimodal_features(spark, sf_dir).collect()
    b = mm.multimodal_features(spark, sf_dir).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    # feature vector rows: FEATURE_DIM dims per doc, normalized buckets
    per_doc = {}
    for r in a:
        per_doc.setdefault(r.doc_id, []).append(r.feat)
    for doc, feats in per_doc.items():
        assert len(feats) == mm.FEATURE_DIM
        assert abs(sum(feats) - 1.0) < 1e-3, f"doc {doc} histogram not normalized"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """Seeded IVF (nprobe=4 of k ∝ N cells) must hold recall ≥ 0.5
    against brute force. At sf0.001 it ties single-table LSH (0.6);
    hash-chosen seeds do not adapt to the data the way a k-means fit
    would, so it does not beat it."""
    brute = {r.vec_id for r in vectors.similarity_topk(spark, sf_dir).collect()}
    ivf = {r.vec_id for r in vectors.ann_ivf_seeded_topk(spark, sf_dir).collect()}
    assert ivf, "IVF returned nothing — probe set is broken"
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.5, f"IVF recall {recall} vs brute force too low"


def test_approx_quantiles_error_bound(spark, sf_dir):
    """GK sketch quantiles must sit within 2% rank error of the exact
    per-group quantiles (accuracy=10000 → ±0.01% nominal; 2% is slack
    for tiny fixture groups)."""
    from labelmain_spark.operators.advanced import approx_quantiles
    from labelmain_spark.sources.readers import load_table

    got = {r.event_type: (r.p25, r.p50, r.p75)
           for r in approx_quantiles(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    for etype, grp in ev.groupby("event_type"):
        vals = grp["value"].sort_values().reset_index(drop=True)
        n = len(vals)
        for approx, frac in zip(got[etype], (0.25, 0.5, 0.75)):
            lo = vals.iloc[max(0, int((frac - 0.02) * n))]
            hi = vals.iloc[min(n - 1, int((frac + 0.02) * n))]
            assert lo <= approx <= hi, (etype, frac, approx, lo, hi)


def test_df_pruning_drops_hot_shingles(spark):
    """The hot-shingle cap: a boilerplate shingle present in more docs
    than max_df must be absent from the pruned inverted index, while
    rare shingles survive — this is what bounds candidate generation to
    sub-quadratic output on boilerplate-heavy corpora."""
    from labelmain_spark.functions.dedup import _max_df, _pruned_index

    assert _max_df(100) == 5          # floor dominates
    assert _max_df(10_000) == 100     # 1% of corpus
    assert _max_df(10_001) == 101     # ceil semantics

    rows = [(d, "boilerplate footer gram") for d in range(10)]
    rows += [(0, "rare gram one"), (1, "rare gram two")]
    e = spark.createDataFrame(rows, "doc_id long, s string")
    kept = {r.s for r in _pruned_index(e, 5).collect()}
    assert "boilerplate footer gram" not in kept
    assert {"rare gram one", "rare gram two"} <= kept


def test_ngram_candidates_bounded_by_pruning(spark, sf_dir):
    """The df-pruning must actually reach candidate generation (the r2
    version of this test only compared two constants and could not have
    caught the anti-join being dropped). Two teeth: (1) on a synthetic
    corpus where every doc shares one boilerplate shingle, the pruned
    index emits ZERO candidate pairs while the unpruned index would
    emit all n·(n-1)/2; (2) the anti-join is present in ngram_jaccard's
    actual optimized plan."""
    from pyspark.sql import functions as F

    from labelmain_spark.functions.dedup import _pruned_index, ngram_jaccard

    n = 40
    boiler = [(i, "the same boilerplate footer") for i in range(n)]
    uniq = [(i, f"unique shingle {i}") for i in range(n)]
    e = spark.createDataFrame(boiler + uniq, "doc_id long, s string")
    ep = _pruned_index(e, max_df=5)
    a = ep.select(F.col("doc_id").alias("doc_a"), "s")
    b = ep.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    cands = a.join(b, (F.col("s") == F.col("s_b")) & (F.col("doc_a") < F.col("doc_b")))
    assert cands.count() == 0  # unpruned would be n*(n-1)/2 = 780
    assert ep.count() == n  # only the unique postings survive

    plan = ngram_jaccard(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan, plan


def test_cms_never_underestimates(spark, sf_dir):
    """Count-Min guarantee: estimate >= true count for every probed
    key, and <= true + (e/w)*N with comfortable slack."""
    import math

    from labelmain_spark.functions.sketch import (
        CMS_W,
        cms_build,
        cms_point_estimate,
    )
    from labelmain_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    n_total = ev.count()
    sk = cms_build(ev, "user_id").cache()
    sk.count()
    true_counts = {
        r.user_id: r.c
        for r in ev.groupBy("user_id").count().withColumnRenamed("count", "c")
        .orderBy("user_id").limit(8).collect()
    }
    eps_bound = math.e / CMS_W * n_total
    for key, true in true_counts.items():
        est = cms_point_estimate(sk, key)
        assert est >= true, (key, est, true)
        assert est <= true + eps_bound, (key, est, true, eps_bound)


def test_hll_estimate_within_error_and_merge_exact(spark, sf_dir):
    """Two HLL guarantees, demonstrated rather than claimed. (1) The
    driver-side estimator over the register table lands within the
    published error regime of the exact distinct count (m = 256 →
    σ ≈ 1.04/√m ≈ 6.5%; assert 4σ — the fixture cardinalities sit in
    the linear-counting small range, which is tighter still). (2)
    Mergeability: cell-wise MAX of the two half-corpus register
    tables is bit-equal to building over all rows at once — the
    property that lets one sketch per shard/day answer
    COUNT(DISTINCT) over any union without re-shuffling raw keys."""
    from labelmain_spark.functions.sketch import (
        hll_build,
        hll_estimate,
        hll_merge,
    )
    from labelmain_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    regs = hll_build(ev, "user_id").collect()
    est = hll_estimate(regs)
    exact = ev.distinct().count()
    assert abs(est - exact) / exact <= 4 * 1.04 / 16, (est, exact)

    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 != 0)
    merged = {
        (r.bucket, r.max_rho)
        for r in hll_merge(
            hll_build(a, "user_id"), hll_build(b, "user_id")
        ).collect()
    }
    whole = {(r.bucket, r.max_rho) for r in regs}
    assert merged == whole and whole, (len(merged), len(whole))

    # (3) the grouped form ROLLS UP: re-grouping MAX over the
    # per-event-type register table reproduces the global table —
    # coarser groupings never need the raw keys again.
    from labelmain_spark.functions.sketch import hll_build_grouped

    ev2 = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    rolled = {
        (r.bucket, r.max_rho)
        for r in hll_build_grouped(ev2, ["event_type"], "user_id")
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
        .collect()
    }
    assert rolled == whole, (len(rolled), len(whole))


def test_embedding_drift_flags_discriminate(spark, sf_dir):
    """The drift flag must DISCRIMINATE on real rows (the set-op
    de-degeneracy lesson): exactly the perturbed dims 0..7 flag, with
    margin — the smallest flagged |delta| ≥ 1.25·eps and the largest
    unflagged ≤ 0.5·eps (measured ≥1.59× / ≤0.32× at every SF), so a
    fixture or threshold regression trips loudly rather than flipping
    one boundary dim."""
    from labelmain_spark.functions.vectors import (
        DRIFT_EPS,
        DRIFT_MUT_DIMS,
        embedding_drift,
    )

    rows = embedding_drift(spark, sf_dir).collect()
    assert len(rows) == 64
    flagged = sorted(r.dim for r in rows if r.drift_flag == 1)
    assert flagged == list(range(DRIFT_MUT_DIMS)), flagged
    deltas = {r.dim: abs(r.delta) for r in rows}
    assert min(deltas[d] for d in flagged) >= 1.25 * DRIFT_EPS
    assert max(v for d, v in deltas.items() if d not in flagged) <= 0.5 * DRIFT_EPS


def test_bloom_decontaminate_prunes_and_saturation_guard(spark, sf_dir):
    """Three pins for the Bloom prefilter. (1) No false negatives,
    end-to-end: the bloom-prefiltered output equals the plain exact
    join's output row-for-row (ALSO the driver oracle's job; here it
    guards refactors at every SF). (2) The filter actually PRUNES:
    candidate rows ≤ true-hit rows + the (set_bits/m)^k admit slack
    over the non-hit mass — a filter that admits everything is
    mis-sized, not wrong, and this asserts the fixture regime stays
    in the sized zone. (3) The saturation guard: a deliberately
    mis-sized 64-bit filter over the same benchmark admits ~100% and
    the guard must fall back to the exact plan rather than pay
    per-row estimate math for zero pruning."""
    from labelmain_spark.functions import contamination as C

    e = C._exploded_shingles(spark, sf_dir)
    is_eval = F.expr(C._hash_bp_expr("doc_id", "spark")) < C.CONTAM_EVAL_BP
    bench_sh = e.filter(is_eval).select("s").distinct()
    train = e.filter(~is_eval).select("doc_id", "s")

    words, admit = C._bloom_fit(bench_sh)
    assert admit <= 0.25, f"fixture left the sized zone: admit={admit}"
    exact_out = {
        (r.doc_id, r.n_hits)
        for r in C._contaminated_docs(train, bench_sh).collect()
    }
    bloom_out = {
        (r.doc_id, r.n_hits)
        for r in C.bloom_decontaminate(spark, sf_dir).collect()
    }
    assert bloom_out == exact_out and exact_out, (
        len(bloom_out),
        len(exact_out),
    )

    n_train = train.count()
    n_hits = train.join(bench_sh, "s", "left_semi").count()
    n_cand = C._bloom_candidates(train, words).count()
    assert n_cand >= n_hits  # superset: no false negatives
    slack = admit * (n_train - n_hits) * 3 + 10
    assert n_cand <= n_hits + slack, (n_cand, n_hits, slack)

    # (3) saturated filter -> guard picks the exact plan: the output
    # still matches, and the mis-sized path was never taken (pin by
    # monkeypatching the module constants the way the tier gates are
    # tested elsewhere).
    import labelmain_spark.functions.contamination as cmod

    old_bits, old_words = cmod.BLOOM_BITS, cmod.BLOOM_WORDS
    try:
        cmod.BLOOM_BITS, cmod.BLOOM_WORDS = 64, 1
        _, sat_admit = cmod._bloom_fit(bench_sh)
        assert sat_admit > cmod.BLOOM_SATURATION, sat_admit
        sat_out = {
            (r.doc_id, r.n_hits)
            for r in cmod.bloom_decontaminate(spark, sf_dir).collect()
        }
        assert sat_out == exact_out
    finally:
        cmod.BLOOM_BITS, cmod.BLOOM_WORDS = old_bits, old_words
    spark.catalog.clearCache()


def test_connected_components_multi_component(spark):
    """Hash-min propagation on a synthetic bipartite graph with three
    known components (including a chain that needs >1 iteration) gives
    exactly the min-id labels."""
    from labelmain_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [
            # component A: chain 1-10-2-20-3 (diameter forces iterations)
            (1, 10), (2, 10), (2, 20), (3, 20),
            # component B: 5-30-6
            (5, 30), (6, 30),
            # component C: singleton-ish 9-40
            (9, 40),
        ],
        "u long, p long",
    )
    got = {r.u: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def _py_funnel(events):
    """Reference NFA: fold over (ts, event_type) sorted exactly like
    the r4 array fold (ts, then event_type lexicographic on ties)."""
    from labelmain_spark.operators.analytics import FUNNEL_STEPS, FUNNEL_WINDOW_S

    c = v = p = None
    for ts, et in sorted(events):
        if c is None and et == FUNNEL_STEPS[0]:
            c = ts
        elif c is not None and v is None and et == FUNNEL_STEPS[1] and ts > c and (ts - c).total_seconds() <= FUNNEL_WINDOW_S:
            v = ts
        elif v is not None and p is None and et == FUNNEL_STEPS[2] and ts > v and (ts - c).total_seconds() <= FUNNEL_WINDOW_S:
            p = ts
    return c, v, p


def test_funnel_match_hot_user(spark, tmp_path):
    """r4 verdict item 3: a bot account with 1e5 events (vs ~40 for
    normal users) must produce the same answer as the reference NFA
    and never pass through a per-user array (the r4 collect_list
    exposure) — state is O(1) per row, the window sort spills."""
    import datetime as dt
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(42)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # hot user 0: 100k events, shuffled types, many ties (second
    # granularity over a small range forces equal-ts collisions)
    for i in range(100_000):
        rows.append(
            (0, rng.choice(["click", "view", "purchase", "scroll"]),
             t0 + dt.timedelta(seconds=rng.randrange(200_000)))
        )
    # normal users 1..50, a few events each, incl. adversarial
    # edge shapes: view-before-click, purchase-at-view-ts tie
    for u in range(1, 51):
        for _ in range(rng.randrange(1, 8)):
            rows.append(
                (u, rng.choice(["click", "view", "purchase"]),
                 t0 + dt.timedelta(seconds=rng.randrange(0, 90_000)))
            )
    rows.append((60, "view", t0))                      # view, no click
    rows.append((61, "click", t0 + dt.timedelta(1)))   # click only
    rows.append((62, "click", t0))
    rows.append((62, "view", t0))                      # tie: must NOT match
    rows.append((63, "click", t0))
    rows.append((63, "view", t0 + dt.timedelta(seconds=1)))
    rows.append((63, "purchase", t0 + dt.timedelta(seconds=1)))  # tie w/ view

    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    from labelmain_spark.operators.analytics import funnel_match

    df = funnel_match(spark, str(tmp_path))
    assert "collect_list" not in df._jdf.queryExecution().analyzed().toString()
    got = {
        r.user_id: (r.click_ts, r.view_ts, r.purchase_ts, r.funnel_depth)
        for r in df.collect()
    }

    by_user = {}
    for u, et, ts in rows:
        by_user.setdefault(u, []).append((ts, et))
    expect = {}
    for u, evs in by_user.items():
        c, v, p = _py_funnel(evs)
        if c is not None:
            expect[u] = (c, v, p, 3 if p else 2 if v else 1)
    assert got == expect


def test_chunks_cover_and_reconstruct_documents(spark, sf_dir):
    """Chunk invariants: (1) per doc, chunk 0..n-1 contiguous; (2) every
    token is covered — summing (n_tokens − overlap) over chunks plus the
    overlap of the first chunk returns the doc's token count; (3) full
    chunks are exactly CHUNK_W tokens and only the last chunk may be
    short."""
    from labelmain_spark.functions import chunking

    docs = {
        r.doc_id: len(r.text.split(" ")) if r.text is not None else 1
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    by_doc: dict = {}
    for r in chunking.chunk_documents(spark, sf_dir).collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens))
    assert set(by_doc) == set(docs)
    W, S = chunking.CHUNK_W, chunking.CHUNK_S
    for doc_id, chunks in by_doc.items():
        chunks.sort()
        ids = [c for c, _ in chunks]
        assert ids == list(range(len(chunks)))
        n = docs[doc_id]
        # all but the last chunk start at i*S and carry exactly W tokens
        # (or the doc is shorter than one window)
        for i, (cid, ntok) in enumerate(chunks[:-1]):
            assert ntok == W
        last_id, last_n = chunks[-1]
        assert last_n == n - last_id * S  # last chunk reaches the doc end
        assert last_n >= 1


def test_mix_temperature_flattens_and_conserves(spark, sf_dir):
    """Temperature resampling invariants: rare sources get copies_bp >
    10000 (up-sampled), the most dominant source < 10000 (down-sampled),
    every doc emits floor/ceil(c_s) copies so per-source emission is
    within 1 doc-count of n_docs·c_s, and the output corpus stays ≈ the
    input size (the same-size redistribution property)."""
    from labelmain_spark.functions.sampling import HASH_MOD, mix_temperature

    rows = mix_temperature(spark, sf_dir).collect()
    assert rows
    n_total = sum(r.n_docs for r in rows)
    emitted = sum(r.n_emitted for r in rows)
    smallest = min(rows, key=lambda r: r.n_docs)
    biggest = max(rows, key=lambda r: r.n_docs)
    if smallest.n_docs < biggest.n_docs:  # fixture has a real imbalance
        assert smallest.copies_bp > HASH_MOD
        assert biggest.copies_bp < HASH_MOD
    for r in rows:
        lo = r.n_docs * (r.copies_bp // HASH_MOD)
        assert lo <= r.n_emitted <= lo + r.n_docs
    # Σ c_s·n_s = N by construction; hash draws move each source by <1
    # doc, so the total stays within |sources| of N.
    assert abs(emitted - n_total) <= len(rows) * 1 + n_total * 0.01


def test_knn_join_matches_bruteforce_per_query(spark, sf_dir):
    """The salted two-phase reduction must be a pure optimization:
    recompute each query's top-k with a driver-side exact sort over all
    scored candidates and require identical (vec_id, rank) lists."""
    from labelmain_spark.functions import vectors as V

    got: dict = {}
    for r in V.knn_join(spark, sf_dir).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.vec_id, r.cos))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r.vec_id: r.embedding for r in emb}
    qs = [i for i in vecs if i % V.KNN_Q_MOD == 0]
    assert set(got) == set(qs)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(dot / (na * nb), 4)

    for q in qs:
        scored = sorted(
            ((-cos(vecs[q], v), i) for i, v in vecs.items() if i % V.KNN_Q_MOD != 0),
        )[: V.KNN_K]
        expect = [(r + 1, i) for r, (_, i) in enumerate(scored)]
        assert [(rk, vid) for rk, vid, _ in sorted(got[q])] == expect


def test_semantic_candidate_margin_covers_rounding_half_step():
    """Regression pin for the margin bug the k ∝ N scale run caught:
    the exact filter accepts on the 4-dp HALF-UP rounded dot, so raw
    dots down to T−5e−5 are accepted — the numpy candidate stage must
    emit them. A first cut used margin 1e−6 and silently missed such pairs."""
    import numpy as np
    import pandas as pd

    from labelmain_spark.functions.vectors import SEM_THRESHOLD

    def cands(nvs):
        # mirror of the _cluster_candidates kernel
        m = np.stack(nvs)
        s = m @ m.T
        ii, jj = np.nonzero(s >= SEM_THRESHOLD - 6e-5)
        return {(int(a), int(b)) for a, b in zip(ii, jj) if a != b}

    def pair_with_dot(d):
        v1 = np.zeros(64); v1[0] = 1.0
        v2 = np.zeros(64); v2[0] = d; v2[1] = (1 - d * d) ** 0.5
        return [v1, v2]

    # raw dot T−5e−5 rounds UP into acceptance → must be a candidate
    assert (0, 1) in cands(pair_with_dot(SEM_THRESHOLD - 5e-5))
    # raw dot just above the margin floor is kept too (prune-only rule)
    assert (0, 1) in cands(pair_with_dot(SEM_THRESHOLD - 5.9e-5))
    # clearly-below pairs are pruned (round4 rejects them anyway)
    assert (0, 1) not in cands(pair_with_dot(SEM_THRESHOLD - 1e-3))


def test_semantic_dedup_seeded_decisions_exact(spark, sf_dir):
    """Verify the seeded SemDeDup's decision procedure independently of
    its SQL twin: re-derive the removal set in numpy from the key's OWN
    audit columns (cluster, c2c) plus brute-force pair cosines under
    the published rule — same-cluster neighbor at rounded cos >=
    threshold that outranks by (lower c2c, then lower vec_id) =>
    removed — and require exact set equality. Also pin that the seeds
    actually clustered (k > 1 clusters used)."""
    import numpy as np

    from labelmain_spark.functions.vectors import SEM_THRESHOLD, semantic_dedup_seeded
    from labelmain_spark.sources.readers import load_table

    audit = {
        r.vec_id: (r.cluster, r.c2c, r.removed)
        for r in semantic_dedup_seeded(spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    V = np.array([r.embedding for r in emb], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    t = (V @ V.T) * 1e4 + 0.5
    S = np.floor(t) / 1e4
    # The plan decides via the sequential JVM fold; this reference via
    # pairwise-summed matmul (|Δraw| ≲ 1e-12). A pair can only round
    # differently when t sits within that Δ of an integer — mirror
    # the production 1e-4 safety band and treat in-band pairs at the
    # threshold as AMBIGUOUS (bounds below) instead of flaking on a
    # correct implementation. On this fixture the band is empty, so
    # the check stays exact set equality.
    band = np.abs(t - np.rint(t)) < 1e-4

    clusters = {}
    for i, vid in enumerate(ids):
        clusters.setdefault(audit[vid][0], []).append(i)
    assert len(clusters) > 1, "quantizer collapsed to one cluster"

    must_removed, may_removed = set(), set()
    for members in clusters.values():
        for i in members:
            for j in members:
                if i == j:
                    continue
                a, b = ids[i], ids[j]
                outranks = audit[a][1] < audit[b][1] or (
                    audit[a][1] == audit[b][1] and a < b
                )
                if not outranks:
                    continue
                ambiguous = band[i, j] and abs(S[i, j] - SEM_THRESHOLD) <= 1e-4
                if S[i, j] >= SEM_THRESHOLD and not ambiguous:
                    must_removed.add(b)
                    may_removed.add(b)
                elif S[i, j] >= SEM_THRESHOLD - 1e-4 and ambiguous:
                    may_removed.add(b)
    got_removed = {vid for vid, (_, _, rm) in audit.items() if rm}
    assert must_removed <= got_removed <= may_removed, (
        len(got_removed), len(must_removed), len(may_removed),
        list((got_removed - may_removed) | (must_removed - got_removed))[:10],
    )
    spark.catalog.clearCache()


def test_perplexity_buckets_tercile_rule_exact(spark, sf_dir):
    """The discretized-histogram rule must yield exactly CCNet's
    tercile semantics: buckets are monotone in score (every head doc
    scores <= every middle doc <= every tail doc), head is the
    SMALLEST prefix of score classes reaching >= N/3 (so dropping its
    top tie class falls below N/3), and head+middle likewise for
    2N/3."""
    from collections import defaultdict

    from labelmain_spark.functions.text import perplexity_buckets

    rows = [
        (r.unigram_nll, r.bucket)
        for r in perplexity_buckets(spark, sf_dir).collect()
    ]
    assert rows
    n = len(rows)
    by_bucket = defaultdict(list)
    for nll, b in rows:
        by_bucket[b].append(nll)
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
    h = len(by_bucket["head"])
    hm = h + len(by_bucket["middle"])
    t1_ties = sum(1 for x in by_bucket["head"] if x == max(by_bucket["head"]))
    t2_ties = sum(1 for x in by_bucket["middle"] if x == max(by_bucket["middle"]))
    assert 3 * h >= n and 3 * (h - t1_ties) < n
    assert 3 * hm >= 2 * n and 3 * (hm - t2_ties) < 2 * n
    spark.catalog.clearCache()


def test_corpus_delta_statuses_partition_truthfully(spark, sf_dir):
    """Ground truth beyond the oracle hash: statuses must partition
    the snapshot algebra exactly — added = cur∖prev, removed =
    prev∖cur, and every deterministically-revised doc present in both
    snapshots must be 'changed' (its digest MUST differ after the
    text revision) while unrevised both-snapshot docs are
    'unchanged'."""
    from labelmain_spark.functions.dedup import (
        DELTA_BP,
        DELTA_MUT_BP,
        corpus_delta,
    )
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    def ids(salt, bp):
        return {
            r.doc_id
            for r in docs.filter(
                F.expr(_hash_bp_expr("doc_id", "spark", salt=salt)) < bp
            ).collect()
        }

    prev_ids = ids("snapA:", DELTA_BP)
    cur_ids = ids("snapB:", DELTA_BP)
    revised = ids("mut:", DELTA_MUT_BP)
    got = {r.doc_id: r.status for r in corpus_delta(spark, sf_dir).collect()}

    assert set(got) == prev_ids | cur_ids
    assert {d for d, s in got.items() if s == "added"} == cur_ids - prev_ids
    assert {d for d, s in got.items() if s == "removed"} == prev_ids - cur_ids
    both = prev_ids & cur_ids
    assert {d for d, s in got.items() if s == "changed"} == both & revised
    assert {d for d, s in got.items() if s == "unchanged"} == both - revised
    assert all(len({s for s in got.values()} & {x}) for x in
               ("added", "removed", "changed", "unchanged")), "a class is vacuous"
    spark.catalog.clearCache()


def test_cdc_chunks_tile_every_payload(spark, sf_dir):
    """Content-defined chunks must tile each payload exactly:
    contiguous offsets from 0, lengths in (0, CDC_MAX], all but the
    final chunk >= CDC_MIN, lengths summing to the payload size — and
    the per-chunk md5 must equal a driver-side digest of the same
    slice (the Arrow path mangles no bytes)."""
    import hashlib

    from labelmain_spark.multimodal.columns import (
        CDC_MAX,
        CDC_MIN,
        cdc_chunks,
        with_binary_payload,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    payloads = {r.doc_id: r.text.encode() for r in docs.collect()}
    rows = cdc_chunks(with_binary_payload(docs)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(payloads)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        data = payloads[doc_id]
        pos = 0
        for i, c in enumerate(chunks):
            assert c.offset == pos, (doc_id, i)
            assert 0 < c.length <= CDC_MAX, (doc_id, i, c.length)
            if i < len(chunks) - 1:
                assert c.length >= CDC_MIN, (doc_id, i, c.length)
            assert (
                hashlib.md5(data[c.offset : c.offset + c.length]).hexdigest()
                == c.chunk_md5
            ), (doc_id, i)
            pos += c.length
        assert pos == len(data), doc_id
    spark.catalog.clearCache()


def test_cdc_insertion_resyncs_chunks():
    """THE content-defined property (what fixed blocks lack): inserting
    bytes mid-payload must leave chunks before the edit identical and
    RE-SYNC after it — only O(1) chunks around the edit may differ."""
    import hashlib

    from labelmain_spark.multimodal.columns import cdc_boundaries

    rng_bytes = bytes((i * 131 + 17) % 251 for i in range(4000))
    edited = rng_bytes[:2000] + b"INSERTED" + rng_bytes[2000:]

    def digests(data):
        out, start = [], 0
        for end in cdc_boundaries(data):
            out.append(hashlib.md5(data[start:end]).hexdigest())
            start = end
        return out

    a, b = digests(rng_bytes), digests(edited)
    assert len(a) > 10, "payload too small to exercise chunking"
    # identical prefix up to the chunk containing the edit
    shared_prefix = 0
    for x, y in zip(a, b):
        if x != y:
            break
        shared_prefix += 1
    assert shared_prefix >= 1
    # resync: the tail chunks (after the edit region) must realign
    shared_suffix = 0
    for x, y in zip(reversed(a), reversed(b)):
        if x != y:
            break
        shared_suffix += 1
    assert shared_suffix >= 1, "no resync after insertion — not content-defined"
    assert shared_prefix + shared_suffix >= len(a) - 3, (
        shared_prefix, shared_suffix, len(a),
        "edit disturbed more than O(1) chunks",
    )
    # determinism: same bytes -> same boundaries
    assert digests(rng_bytes) == a


def test_bm25_ranking_semantics(spark, sf_dir):
    """Every ranked doc must actually contain one of its query's
    terms; ranks are contiguous from 1 per query; scores are
    non-increasing in rank; every query with any matching doc
    appears."""
    from labelmain_spark.functions.text import BM25_QUERIES, BM25_TOPK, bm25_topk

    rows = bm25_topk(spark, sf_dir).collect()
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    qterms = dict(BM25_QUERIES)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert docs[r.doc_id] & set(qterms[r.query_id]), (
            r, "ranked doc contains no query term")
    assert set(by_q) == {qid for qid, ts in BM25_QUERIES
                         if any(set(ts) & tv for tv in docs.values())}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= BM25_TOPK
        scores = [r.bm25 for r in rs]
        assert scores == sorted(scores, reverse=True), (qid, scores)
    spark.catalog.clearCache()


def test_sample_weighted_favors_heavy_rows(spark, sf_dir):
    """A-ES semantics: under length weights the selected sample's mean
    length must exceed the corpus mean (inclusion probability rises
    with weight), the sample is exactly WSAMPLE_N rows (corpus
    permitting), keys are within the valid range (ln u / w < 0), and
    re-running yields the identical set (hash determinism, no RNG)."""
    from labelmain_spark.functions.sampling import WSAMPLE_N, sample_weighted

    rows = sample_weighted(spark, sf_dir).collect()
    corpus = load_table(spark, sf_dir, "documents").select("n_chars").collect()
    assert len(rows) == min(WSAMPLE_N, len(corpus))
    assert all(r.wkey < 0 for r in rows)
    mean_sample = sum(r.n_chars for r in rows) / len(rows)
    mean_corpus = sum(r.n_chars for r in corpus) / len(corpus)
    assert mean_sample > mean_corpus, (mean_sample, mean_corpus)
    again = {r.doc_id for r in sample_weighted(spark, sf_dir).collect()}
    assert again == {r.doc_id for r in rows}
    spark.catalog.clearCache()


def test_gap_fill_spine_contiguous_and_locf(spark, sf_dir):
    """Per user the bucket spine is contiguous hourly from the first
    to the last observed hour; gap rows carry n_events = 0 and the
    previous bucket's value verbatim; the first bucket is never a gap;
    value_filled is never null."""
    from labelmain_spark.operators.windows import gap_fill

    rows = gap_fill(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    saw_gap = False
    for _uid, rs in by_user.items():
        rs.sort(key=lambda r: r.bucket_ts)
        assert not rs[0].is_gap
        prev = None
        for i, r in enumerate(rs):
            assert r.value_filled is not None
            if i > 0:
                assert (r.bucket_ts - rs[i - 1].bucket_ts).total_seconds() == 3600
            if r.is_gap:
                saw_gap = True
                assert r.n_events == 0
                assert r.value_filled == prev
            else:
                assert r.n_events > 0
            prev = r.value_filled
    assert saw_gap, "fixture produced no gaps — test exercises nothing"
    spark.catalog.clearCache()


def test_pagerank_mass_and_hub_dominance(spark, sf_dir):
    """Integer-PageRank invariants: every node appears exactly once;
    total rank mass never exceeds SCALE (integer division + dropped
    dangling mass only LOSE units, never create them); the highest
    in-degree node outranks the median node; ranks are positive."""
    from labelmain_spark.functions.graph import PR_SCALE, pagerank

    rows = pagerank(spark, sf_dir).collect()
    assert len(rows) == len({r.node for r in rows})
    total = sum(r.rank_units for r in rows)
    assert 0 < total <= PR_SCALE, total
    ev = load_table(spark, sf_dir, "events")
    indeg: dict[int, int] = {}
    for r in (
        ev.select(
            F.col("user_id").alias("src"),
            F.get_json_object("props", "$.k").cast("long").alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
        .collect()
    ):
        indeg[r.dst] = indeg.get(r.dst, 0) + 1
    hub = max(indeg, key=lambda k: indeg[k])
    by_node = {r.node: r.rank_units for r in rows}
    ranks = sorted(by_node.values())
    median = ranks[len(ranks) // 2]
    assert by_node[hub] >= median, (hub, by_node[hub], median)
    spark.catalog.clearCache()


def test_knn_join_query_cap_enforced(spark, sf_dir, monkeypatch):
    """r9 (r8 verdict item 6): the brute-force batch k-NN join's
    driver-side query collect is a bounded CONTRACT, not an unbounded
    fraction of the corpus — above KNN_Q_CAP it must refuse with
    routing guidance, and the probe must not itself pull the full
    set (limit(cap+1))."""
    import labelmain_spark.functions.vectors as V

    monkeypatch.setattr(V, "KNN_Q_CAP", 2)
    with pytest.raises(ValueError, match="KNN_Q_CAP"):
        V.knn_join(spark, sf_dir)
    spark.catalog.clearCache()


def test_setops_fixture_discriminates(spark, sf_dir):
    """r10 (r9 verdict item 3): the set-op sources must PROPERLY
    partially overlap so the three operators are mutually
    distinguishable by their results — except nonzero, intersect a
    strict subset of either input, union strictly larger than both.
    The old click/view split was degenerate (every user had both):
    except hashed empty and union ≡ intersect, so a wrong
    implementation could pass the oracle."""
    from labelmain_spark.operators import setops

    uni = {r.user_id for r in setops.set_union(spark, sf_dir).collect()}
    exc = {r.user_id for r in setops.set_except(spark, sf_dir).collect()}
    ints = {r.user_id for r in setops.set_intersect(spark, sf_dir).collect()}
    assert exc and ints and uni, "no branch may be empty"
    assert exc != ints and exc != uni and ints != uni
    assert ints < uni and exc < uni and ints.isdisjoint(exc)
    # union strictly larger than A (= except ∪ intersect): B adds keys
    assert len(uni) > len(exc | ints)
    spark.catalog.clearCache()


def test_hh_sketch_selectivity_estimate():
    """The saturation guard's admit-fraction estimate, pinned on
    constructed cell tables: all-heavy cells → 1.0 (saturated, tier
    must fall back to naive); no heavy cells → 0.0; half-heavy per
    seed → 0.5^d under the independent-rows model."""
    from labelmain_spark.functions.sketch import (
        CMS_D,
        CMS_W,
        HH_THRESHOLD,
        _hh_sketch_selectivity,
    )

    def cells(n_fn):
        return [
            {"seed": s, "bucket": b, "n": n_fn(s, b)}
            for s in range(CMS_D)
            for b in range(CMS_W)
        ]

    assert _hh_sketch_selectivity(cells(lambda s, b: HH_THRESHOLD)) == 1.0
    assert _hh_sketch_selectivity(cells(lambda s, b: HH_THRESHOLD - 1)) == 0.0
    half = _hh_sketch_selectivity(
        cells(lambda s, b: HH_THRESHOLD if b < CMS_W // 2 else 0)
    )
    assert abs(half - 0.5 ** CMS_D) < 1e-12


def test_split_leakage_safe_properties(spark, sf_dir):
    """The r12 leakage guard, pinned three ways: (1) ZERO cluster
    straddle — every group_key maps to exactly one split; (2) every
    near-dup cluster member carries its cluster id as the group key
    (so the guard actually routes through the dedup_clusters closure);
    (3) refinement — docs in no cluster keep their plain
    split_train_val assignment verbatim (same hash, same salt), so
    adopting the guard re-splits ONLY the contaminated docs."""
    from labelmain_spark.functions.dedup import dedup_clusters, split_leakage_safe
    from labelmain_spark.functions.sampling import train_val_split
    from labelmain_spark.sources.readers import load_table

    out = split_leakage_safe(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents")
    assert len(out) == docs.count(), "split must cover the whole corpus"

    # (1) zero straddle
    assert (out.groupby("group_key")["split"].nunique() == 1).all()

    # (2) clustered docs: group_key == cluster_id
    cc = dedup_clusters(spark, sf_dir).toPandas()
    key_of = dict(zip(out.doc_id, out.group_key))
    assert all(key_of[r.doc_id] == r.cluster_id for r in cc.itertuples())

    # (3) singleton refinement: unclustered docs match the plain split
    plain = {
        r.doc_id: r.split
        for r in train_val_split(docs.select("doc_id"), "doc_id").collect()
    }
    clustered = set(cc.doc_id)
    split_of = dict(zip(out.doc_id, out.split))
    for d, s in split_of.items():
        if d not in clustered:
            assert s == plain[d], f"singleton {d} re-assigned"

    # ...and the guard is not vacuous when the fixture provides a
    # cluster whose members' PLAIN assignments disagree: those docs
    # are exactly the leak the guard repairs.
    leaked = [
        r.doc_id
        for r in cc.itertuples()
        if plain[r.doc_id] != split_of[r.doc_id]
    ]
    straddled = (
        cc.assign(pl=[plain[d] for d in cc.doc_id])
        .groupby("cluster_id")["pl"]
        .nunique()
        > 1
    )
    if straddled.any():
        assert leaked, "plain split straddles a cluster but guard changed nothing"


def test_pair_components_tiers_agree(spark, sf_dir, monkeypatch):
    """`_pair_components` has two arms: the driver union-find over the
    collected pairs, and the distributed hash-min loop once the pair
    set passes SMALL_PLAN_ROWS. Both cluster keys give the same
    non-empty rows on either arm; a spy on the hash-min loop proves
    the second run took the distributed arm and the first did not."""
    from labelmain_spark import session
    from labelmain_spark.functions import graph

    calls = []
    real = graph._hash_min_loop

    def spy(edges, *args):
        calls.append(edges.columns)
        return real(edges, *args)

    monkeypatch.setattr(graph, "_hash_min_loop", spy)
    keys = (dedup.dedup_clusters, dedup.split_leakage_safe)

    def rows():
        return [sorted(tuple(r) for r in k(spark, sf_dir).collect()) for k in keys]

    driver = rows()
    assert calls == []
    monkeypatch.setattr(session, "SMALL_PLAN_ROWS", 0)
    distributed = rows()
    assert calls == [["u", "p"], ["u", "p"]]
    assert all(driver) and distributed == driver


def test_components_driver_tier_equals_distributed_loop(spark, monkeypatch):
    """The r12 driver union-find tier is output-IDENTICAL to the
    distributed hash-min loop (the connected-components fixpoint is
    unique: component = min u), pinned on a seeded random bipartite
    graph with singletons, chains, a star, and multi-p nodes."""
    import random

    from labelmain_spark import session
    from labelmain_spark.functions import graph

    rng = random.Random(12)
    rows = [(u, f"p{rng.randrange(40)}") for u in range(300) for _ in range(rng.randrange(3))]
    rows += [(1000 + i, f"solo{i}") for i in range(20)]  # singleton comps
    rows += [(2000 + i, f"c{i // 2}") for i in range(30)]  # chains
    edges = spark.createDataFrame(rows, "u long, p string")

    fast_stats, slow_stats = {}, {}
    fast = {
        (r.u, r.component)
        for r in graph.connected_components(edges, stats=fast_stats).collect()
    }
    monkeypatch.setattr(session, "SMALL_PLAN_ROWS", 0)
    slow = {
        (r.u, r.component)
        for r in graph.connected_components(edges, stats=slow_stats).collect()
    }
    assert fast_stats["tier"] == "driver" and fast_stats["rounds"] == 0
    assert slow_stats["tier"] == "distributed" and slow_stats["rounds"] >= 1
    assert fast == slow and fast


def test_sample_token_budget_greedy_prefix(spark, sf_dir):
    """Token-budget sampling pinned four ways: (1) kept docs are
    exactly the hash-order PREFIX whose exclusive cumsum is under the
    budget (greedy rule — no doc skipped, none past the cutoff); (2)
    every kept cum_before < budget and the totals are consistent
    (cum_before of the k-th doc in order = sum of the first k-1
    n_tokens); (3) total kept tokens reach the budget whenever the
    corpus has that many (the straddling last doc is kept, the
    shard_pack boundary rule); (4) the budget-PRUNED exclusive_cumsum
    matches the unpruned machinery row-for-row on the kept set."""
    from labelmain_spark.functions.packing import exclusive_cumsum
    from labelmain_spark.functions.sampling import (
        SHUF_DIGITS,
        TB_SALT,
        TOKEN_BUDGET,
        _checked_id_pack,
        _hash_hex_expr,
        sample_token_budget,
    )
    from labelmain_spark.sources.readers import load_table

    out = {r.doc_id: r for r in sample_token_budget(spark, sf_dir).collect()}
    assert out, "budget sampled nothing"

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    h = F.expr(_hash_hex_expr("doc_id", "spark", TB_SALT, SHUF_DIGITS))
    ordered = sorted(
        (
            (r.okey, r.doc_id, r.n_tokens)
            for r in docs.select(
                "doc_id",
                "n_tokens",
                _checked_id_pack(h * F.lit(1 << 31) + F.col("doc_id")).alias("okey"),
            ).collect()
        )
    )
    cum = 0
    want = {}
    for _, doc_id, n in ordered:
        if cum < TOKEN_BUDGET:
            want[doc_id] = cum
        cum += n
    assert set(out) == set(want), "kept set is not the greedy prefix"
    for d, c in want.items():
        assert out[d].cum_before == c
    total_corpus = sum(n for _, _, n in ordered)
    kept_tokens = sum(out[d].n_tokens for d in out)
    if total_corpus >= TOKEN_BUDGET:
        assert kept_tokens >= TOKEN_BUDGET  # straddler kept

    # (4) pruned == unpruned on the kept set
    keyed = docs.select(
        "doc_id",
        "n_tokens",
        _checked_id_pack(h * F.lit(1 << 31) + F.col("doc_id")).alias("okey"),
    )
    unpruned = {
        r.doc_id: r.cum_before
        for r in exclusive_cumsum(keyed, "okey", "n_tokens", "cum_before").collect()
        if r.cum_before < TOKEN_BUDGET
    }
    assert unpruned == {d: r.cum_before for d, r in out.items()}


def test_pagerank_driver_tier_equals_distributed(spark, sf_dir, monkeypatch):
    """The r12 integer-PageRank driver tier is bit-identical to the
    distributed loop: integer arithmetic is exact and order-free, so
    rank_units must match to the unit (and pr to the bit) on the real
    event graph."""
    from labelmain_spark import session
    from labelmain_spark.functions.graph import integer_pagerank
    from labelmain_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    e = (
        ev.select(
            F.col("user_id").alias("src"),
            F.get_json_object("props", "$.k").cast("long").alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .distinct()
    )
    fast = {(r.node, r.rank_units, r.pr) for r in integer_pagerank(spark, e).collect()}
    monkeypatch.setattr(session, "SMALL_PLAN_ROWS", 0)
    slow = {(r.node, r.rank_units, r.pr) for r in integer_pagerank(spark, e).collect()}
    assert fast == slow and fast


def test_fim_transform_round_trips_and_rates(spark, sf_dir):
    """FIM transform pinned: (1) applied rows RECONSTRUCT the original
    text exactly from the PSM string (prefix+middle+suffix in original
    order — the transform loses nothing); (2) span token counts are
    all non-empty and sum to the doc's count; (3) the hash gate lands
    near FIM_BP (the paper's 50% rate); (4) passthrough rows carry the
    text verbatim."""
    import re

    from labelmain_spark.functions.text import (
        FIM_BP,
        FIM_MID,
        FIM_MIN_TOKENS,
        FIM_PRE,
        FIM_SUF,
        fim_transform,
    )
    from labelmain_spark.sources.readers import load_table

    out = {r.doc_id: r for r in fim_transform(spark, sf_dir).collect()}
    text = {
        r.doc_id: (r.text or "")
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(out) == set(text)
    pat = re.compile(
        re.escape(FIM_PRE) + "(.*)" + re.escape(FIM_SUF) + "(.*)" + re.escape(FIM_MID) + "(.*)",
        re.S,
    )
    n_applied = 0
    for d, r in out.items():
        n = len(text[d].split(" "))
        if r.fim_applied:
            n_applied += 1
            m = pat.fullmatch(r.psm)
            assert m, r.psm[:80]
            pre, suf, mid = m.groups()
            assert f"{pre} {mid} {suf}" == text[d], d
            assert r.n_prefix >= 1 and r.n_middle >= 1 and r.n_suffix >= 1
            assert r.n_prefix + r.n_middle + r.n_suffix == n
        else:
            assert r.psm == text[d]
            assert (r.n_prefix, r.n_middle, r.n_suffix) == (n, 0, 0)
    eligible = sum(1 for t in text.values() if len(t.split(" ")) >= FIM_MIN_TOKENS)
    rate = n_applied / eligible
    assert abs(rate - FIM_BP / 10_000) < 0.15, (n_applied, eligible)


def test_dedup_prefix_flags_verified_against_corpus(spark, sf_dir):
    """Corpus-level: (1) every injected truncated twin is flagged (it
    IS a strict token-boundary prefix of its base by construction);
    (2) every flagged doc's claimed dup_of is verified against the
    corpus — strictly longer and startswith at a token boundary;
    (3) unflagged docs carry dup_of = -1."""
    from labelmain_spark.functions.dedup import (
        PREFIX_TWIN_BASE,
        _prefix_corpus,
        dedup_prefix,
    )

    out = {r.doc_id: r for r in dedup_prefix(spark, sf_dir).collect()}
    text = {r.doc_id: r.text for r in _prefix_corpus(spark, sf_dir).collect()}
    assert set(out) == set(text)
    assert any(d >= PREFIX_TWIN_BASE for d in out)  # fixture fires
    for d, r in out.items():
        if d >= PREFIX_TWIN_BASE:
            assert r.is_prefix_dup == 1, d
        if r.is_prefix_dup:
            t, o = text[d], text[r.dup_of]
            assert len(o.split(" ")) > len(t.split(" ")) and o.startswith(t + " "), d
        else:
            assert r.dup_of == -1


def test_prefix_dups_token_boundary_and_strictness(spark):
    """Engineered frame pinning the two rules the corpus cannot
    isolate: a CHARACTER-level superstring that is not a TOKEN-level
    one must not match ('a b c d ef…' shares the 4-token block with
    'a b c d e' but extends its last token), and exact-equal texts are
    never flagged (strict length inequality — dedup_exact's turf)."""
    from labelmain_spark.functions.dedup import prefix_dups

    aug = spark.createDataFrame(
        [
            (1, "a b c d e"),        # glued extension in 2 must NOT match
            (2, "a b c d ef g h"),   # same block as 1, not a token superstring
            (3, "a b c d e"),        # exact dup of 1 — not flagged either way
            (4, "a b c d e x"),      # true superstring of 1 and 3
            (5, "a b"),              # under PREFIX_W — ineligible, still in output
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in prefix_dups(aug).collect()}
    assert got[1].is_prefix_dup == 1 and got[1].dup_of == 4
    assert got[3].is_prefix_dup == 1 and got[3].dup_of == 4
    assert got[2].is_prefix_dup == 0 and got[2].dup_of == -1
    assert got[4].is_prefix_dup == 0
    assert got[5].is_prefix_dup == 0 and got[5].n_tokens == 2


def test_prefix_dups_hostile_block(spark):
    """The blocked candidate join on a hostile single-block frame: many
    same-block texts, exact duplicates between a prefix and its
    extension, a glued non-boundary extension, and a lone block."""
    from labelmain_spark.functions.dedup import prefix_dups

    hostile = spark.createDataFrame(
        [
            (1, "a b c d"),          # prefix of 3/4 — dup of both
            (2, "a b c d"),          # exact duplicate of 1 — also flagged
            (3, "a b c d e"),        # prefix of 4 ("a b c d e f")
            (4, "a b c d e f"),
            (5, "a b c d ef"),       # glued — superstring of NOTHING at boundary
            (6, "a b c d x"),        # sorts after "a b c d e f" — tests non-adjacent
            (7, "z z z z"),          # lone block
        ],
        "doc_id long, text string",
    )
    jh = {r.doc_id: r.is_prefix_dup for r in prefix_dups(hostile).collect()}
    assert jh[1] == 1 and jh[2] == 1 and jh[3] == 1
    assert jh[5] == 0 and jh[7] == 0


def test_containment_dedup_catches_what_jaccard_misses(spark, sf_dir):
    """The asymmetry claim, pinned: (1) every injected truncation twin
    pair is flagged with containment ~1 (the twin's shingles are a
    subset of its base's up to the cut boundary); (2) a non-empty
    subset of flagged pairs sits BELOW the Jaccard threshold the rest
    of the dedup family gates on — the pair class only this key
    covers; (3) scores are consistent (containment >= jaccard always,
    both in (0, 1])."""
    from labelmain_spark.functions.dedup import (
        CONTAIN_T,
        JACCARD_THRESHOLD,
        PREFIX_TWIN_BASE,
        containment_dedup,
    )

    rows = containment_dedup(spark, sf_dir).collect()
    assert rows
    twin_pairs = [
        r for r in rows
        if r.doc_b - PREFIX_TWIN_BASE == r.doc_a or r.doc_a - PREFIX_TWIN_BASE == r.doc_b
    ]
    assert twin_pairs, "no truncation twin pair flagged"
    assert all(r.containment >= 0.95 for r in twin_pairs)
    assert any(r.jaccard < JACCARD_THRESHOLD for r in rows), (
        "every flagged pair also clears the Jaccard gate — "
        "the key is not discriminating"
    )
    for r in rows:
        assert CONTAIN_T <= r.containment <= 1.0
        assert 0.0 < r.jaccard <= r.containment
    spark.catalog.clearCache()


def test_lsh_recall_audit_invariants(spark, sf_dir):
    """Audit-row invariants: (1) precision is 10000 bp by construction
    (dedup_minhash verifies with the exact Jaccard the ground truth
    uses); (2) the counterfactual 2×6 banding's candidates are a
    PROVABLE SUBSET of the production 4×3's (a 6-row band equality is
    the conjunction of its two constituent 3-row band equalities), so
    recall_b2 <= recall; (3) hits bounded by both sides; (4) the
    fixture fires (n_true > 0)."""
    from labelmain_spark.functions.dedup import lsh_recall_audit

    r = lsh_recall_audit(spark, sf_dir).collect()[0]
    assert r.n_true > 0
    assert r.precision_bp == 10000
    assert r.n_hits <= min(r.n_true, r.n_lsh)
    assert r.recall_b2_bp <= r.recall_bp
    spark.catalog.clearCache()


def test_band_pairs_coarser_banding_is_subset(spark):
    """The subset claim itself, pinned on the candidate level over an
    engineered signature frame: every 2-band candidate pair is a
    4-band candidate pair (never vice versa — the frame includes a
    pair agreeing on one 3-row band only)."""
    from labelmain_spark.functions.dedup import MINHASH_K, _band_pairs

    rows = []
    # doc 1/2: identical first 6 hashes (2-band AND 4-band collide);
    # doc 3/4: identical first 3 only (4-band band0 collides, 2-band
    # band0 needs 6 — must NOT collide)
    for d, pref in ((1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "bbb")):
        h = [f"{pref}{i}" if (d in (1, 2) and i < 6) or (d in (3, 4) and i < 3)
             else f"u{d}_{i}" for i in range(MINHASH_K)]
        rows.append((d, *h))
    sig = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"h{i} string" for i in range(MINHASH_K))
    )
    p4 = {(r.doc_a, r.doc_b) for r in _band_pairs(sig, 4).collect()}
    p2 = {(r.doc_a, r.doc_b) for r in _band_pairs(sig, 2).collect()}
    assert p2 <= p4
    assert (1, 2) in p2 and (1, 2) in p4
    assert (3, 4) in p4 and (3, 4) not in p2


def test_chat_sft_render_mask_and_round_trip(spark, sf_dir):
    """SFT render pinned: (1) applied rows RECONSTRUCT the original
    text from the rendered string (instr + ' ' + resp); (2) the
    rendered string is exactly n + 3 whitespace tokens and the
    1-indexed slice [loss_start, loss_end] is the response plus the
    <|end|> token — the exact span a trainer would unmask; (3) k is in
    [1, min(n-1, SFT_MAX_INSTR)]; (4) passthrough rows (< 2 tokens)
    carry the text verbatim with a zeroed mask."""
    from labelmain_spark.functions.text import (
        SFT_ASST,
        SFT_END,
        SFT_MAX_INSTR,
        SFT_MIN_TOKENS,
        SFT_USER,
        chat_sft_render,
    )
    from labelmain_spark.sources.readers import load_table

    out = {r.doc_id: r for r in chat_sft_render(spark, sf_dir).collect()}
    text = {
        r.doc_id: (r.text or "")
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert set(out) == set(text)
    for d, r in out.items():
        toks = text[d].split(" ")
        n = len(toks)
        if r.sft_applied:
            assert n >= SFT_MIN_TOKENS and r.n_tokens == n
            assert 1 <= r.k_instr <= min(n - 1, SFT_MAX_INSTR)
            rt = r.rendered.split(" ")
            assert len(rt) == n + 3
            assert rt[0] == SFT_USER and rt[-1] == SFT_END
            assert rt[r.k_instr + 1] == SFT_ASST
            # reconstruction: strip sentinels, rejoin
            assert rt[1 : r.k_instr + 1] + rt[r.k_instr + 2 : -1] == toks, d
            # the loss span (1-indexed) is response + <|end|>
            assert (r.loss_start, r.loss_end) == (r.k_instr + 3, n + 3)
            assert rt[r.loss_start - 1 : r.loss_end] == toks[r.k_instr :] + [SFT_END]
        else:
            assert n < SFT_MIN_TOKENS
            assert r.rendered == text[d]
            assert (r.k_instr, r.loss_start, r.loss_end) == (0, 0, 0)


def test_fim_hash_equals_sampling_hash_family(spark, duck):
    """_fim_hash (hex-prefix via conv / '0x' cast) must equal
    sampling._hash_hex_expr (the digit-fold sum) for the same salt and
    width in BOTH engines — two spellings of one audited construction;
    a divergence would silently change which docs FIM transforms."""
    from labelmain_spark.functions.sampling import _hash_hex_expr
    from labelmain_spark.functions.text import _fim_hash

    ids = spark.createDataFrame([(i,) for i in (0, 1, 7, 123456789)], "doc_id long")
    rows = ids.selectExpr(
        "doc_id",
        f"{_fim_hash('fimg:', 'spark')} AS a",
        f"{_hash_hex_expr('doc_id', 'spark', 'fimg:', 8)} AS b",
    ).collect()
    assert all(r.a == r.b for r in rows), [(r.doc_id, r.a, r.b) for r in rows]

    got = duck.execute(
        "SELECT doc_id, "
        f"{_fim_hash('fimg:', 'duck')} AS a, "
        f"{_hash_hex_expr('doc_id', 'duck', 'fimg:', 8)} AS b "
        "FROM (SELECT UNNEST([0, 1, 7, 123456789]) AS doc_id)"
    ).fetchall()
    assert all(a == b for _, a, b in got), got
    assert {r.a for r in rows} == {a for _, a, _ in got}
