"""Layout tests: partition-pruned point lookups and the bucketed-store
shuffle elimination — the physical-design half of the label store."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from labelmain_spark.labelstore import layout
from labelmain_spark.labelstore.store import abuse_labels, consolidate, wallet_labels
from labelmain_spark.plans import checks


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_partitioned_lookup_prunes_and_matches(spark, sf_dir, tmp_path):
    store = abuse_labels(spark, sf_dir)
    path = str(tmp_path / "store_part")
    layout.write_partitioned(store, path, buckets=16)

    addr = store.select("addr").orderBy("addr").first()[0]
    got = layout.lookup_partitioned(spark, path, addr, buckets=16)
    checks.assert_partition_filter(got, layout.BUCKET_COL)
    checks.assert_pushed_filter(got, "addr")

    want = store.filter(F.col("addr") == addr).collect()
    assert [r.addr for r in got.collect()] == [r.addr for r in want]


# Every XXH64 tail branch: 0-3 single bytes, one 4-byte word, 8-byte
# lanes, the 32-byte stripe loop and what follows it, plus multi-byte
# UTF-8 (lengths are of the encoded bytes).
_HASH_STRINGS = [
    "", "a", "abc", "abcd", "abcdefg", "abcdefgh",
    "x" * 31, "y" * 32, "z" * 33, "1BoatSLRHtKNngkdXEeobR76b53LETtpyT" * 3,
    "é", "日本", "€uro", "bc1q" + "ü" * 20, "🙂" * 9, "ab🙂" * 30,
]


def test_driver_xxh64_matches_spark(spark):
    """The driver-side hash and bucket the lookup uses agree with
    Spark's xxhash64 and the partition expression the writer uses."""
    lens = {len(s.encode("utf-8")) for s in _HASH_STRINGS}
    assert {0, 1, 3, 4, 7, 8, 31, 32, 33} <= lens and max(lens) >= 100

    df = spark.createDataFrame([(s,) for s in _HASH_STRINGS], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h"),
        layout._bucket_expr(F.col("s"), 64).alias("b64"),
        layout._bucket_expr(F.col("s"), 4096).alias("b4096"),
    ).collect()
    assert len(rows) == len(_HASH_STRINGS)
    for r in rows:
        assert layout._xxh64(r.s) == r.h, r.s
        assert layout._xxh64(r.s) % 64 == r.b64, r.s
        assert layout._xxh64(r.s) % 4096 == r.b4096, r.s


def test_partitioned_lookup_reads_one_directory(spark, sf_dir, tmp_path):
    """With more bucket directories than Spark's 32-path threshold for
    a parallel listing job, a lookup plus its collect runs at most the
    one-file schema read and the scan: no hash job, no listing job."""
    import glob

    store = wallet_labels(spark, sf_dir)
    path = str(tmp_path / "store_default")
    layout.write_partitioned(store, path)
    assert len(glob.glob(f"{path}/{layout.BUCKET_COL}=*")) > 32

    addr = store.select("addr").orderBy("addr").first()[0]
    got = []
    jobs, tasks = checks.jobs_and_tasks(
        spark, lambda: got.extend(layout.lookup_partitioned(spark, path, addr).collect())
    )
    assert jobs <= 2 and tasks <= 2, f"lookup ran {jobs} jobs / {tasks} tasks"
    want = store.filter(F.col("addr") == addr).collect()
    assert [r.asDict(recursive=True) for r in got] == [
        r.asDict(recursive=True) for r in want
    ]


def test_partitioned_lookup_missing_bucket_falls_back(spark, tmp_path):
    """An address whose bucket directory was never written takes the
    fallback (pruned root read) and returns no rows with the columns
    of a hit; an absent address in a written bucket returns no rows;
    an unreadable bucket directory raises instead of falling back."""
    import os

    store = spark.createDataFrame([("addr-a", 1), ("addr-b", 2)], "addr string, n int")
    path = str(tmp_path / "store_two")
    layout.write_partitioned(store, path)
    written = {layout._xxh64(a) % layout.DEFAULT_BUCKETS for a in ("addr-a", "addr-b")}

    def probe(hit_bucket: bool) -> str:
        for i in range(10_000):
            a = f"probe-{i}"
            if (layout._xxh64(a) % layout.DEFAULT_BUCKETS in written) == hit_bucket:
                return a
        raise AssertionError("no probe address found")

    hit = layout.lookup_partitioned(spark, path, "addr-a")
    assert [tuple(r) for r in hit.collect()] == [("addr-a", 1)]

    absent_dir = probe(hit_bucket=False)
    bucket = layout._xxh64(absent_dir) % layout.DEFAULT_BUCKETS
    assert not os.path.exists(f"{path}/{layout.BUCKET_COL}={bucket}")
    miss = layout.lookup_partitioned(spark, path, absent_dir)
    assert miss.collect() == []
    assert miss.schema == hit.schema

    absent_row = layout.lookup_partitioned(spark, path, probe(hit_bucket=True))
    assert absent_row.collect() == []
    assert absent_row.schema == hit.schema

    # Any other read error is not a missing bucket and is raised.
    os.makedirs(f"{path}/{layout.BUCKET_COL}={bucket}")
    with pytest.raises(AnalysisException) as err:
        layout.lookup_partitioned(spark, path, absent_dir)
    assert err.value.getCondition() != "PATH_NOT_FOUND"


def test_partitioned_write_one_file_per_bucket(spark, sf_dir, tmp_path):
    store = wallet_labels(spark, sf_dir)
    path = str(tmp_path / "store_files")
    layout.write_partitioned(store, path, buckets=8)
    import glob

    for d in glob.glob(path + "/bucket=*"):
        files = glob.glob(d + "/*.parquet")
        assert len(files) == 1, f"{d}: {len(files)} files (small-files trap)"


def test_bucketed_consolidate_eliminates_store_shuffle(spark, sf_dir, tmp_path):
    a = abuse_labels(spark, sf_dir)
    b = wallet_labels(spark, sf_dir)
    layout.write_bucketed(a, "test_store_bucketed")

    plain_path = str(tmp_path / "store_plain")
    a.write.mode("overwrite").parquet(plain_path)

    try:
        with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            bucketed = layout.consolidate_against_bucketed(
                spark, "test_store_bucketed", b
            )
            plain = consolidate(spark.read.parquet(plain_path), b)
            n_bucketed = checks.count_exchanges(bucketed)
            n_plain = checks.count_exchanges(plain)
            assert n_bucketed < n_plain, (
                f"bucketed store did not save a shuffle: "
                f"{n_bucketed} vs {n_plain} exchanges"
            )
            got = sorted(map(str, bucketed.collect()))
            want = sorted(map(str, plain.collect()))
            assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS test_store_bucketed")


def test_digest_history_probe_is_colocated(spark, sf_dir, tmp_path):
    """The incremental-dedup history probe against the bucketed digest
    store must read history in place: the LEFT ANTI join plans with
    strictly fewer Exchanges than the same probe against plain
    parquet, and produces identical survivors — the measured form of
    every 'history probe is co-located' docstring claim
    (dedup_incremental / corpus_incremental / the streaming twin)."""
    from labelmain_spark.functions.sampling import _hash_bp_expr
    from labelmain_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    )
    is_new = F.expr(_hash_bp_expr("doc_id", "spark", salt="incr:")) < 1000
    hist = docs.filter(~is_new).select("h").distinct()
    batch = docs.filter(is_new)

    layout.write_digest_history(hist, "test_digest_history")
    plain_path = str(tmp_path / "hist_plain")
    hist.write.mode("overwrite").parquet(plain_path)
    try:
        with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            bucketed = layout.probe_history_digests(
                spark, "test_digest_history", batch
            )
            plain = batch.join(spark.read.parquet(plain_path), "h", "left_anti")
            n_bucketed = checks.count_exchanges(bucketed)
            n_plain = checks.count_exchanges(plain)
            assert n_bucketed < n_plain, (
                f"bucketed digest store did not save the history shuffle: "
                f"{n_bucketed} vs {n_plain} exchanges"
            )
            got = sorted(r.doc_id for r in bucketed.collect())
            want = sorted(r.doc_id for r in plain.collect())
            assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS test_digest_history")


def _seeded_ivf_store(spark, sf_dir, tmp_path):
    """Write the embeddings as a cell-partitioned IVF store under
    ``tmp_path/ivf_store`` with the seeded quantizer
    `ann_ivf_seeded_topk` uses; return (probe cells, query frame,
    centroids)."""
    from labelmain_spark.functions import vectors
    from labelmain_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = vectors._hash_seeds(e, max(2, min(vectors.IVF_K, e.count() // 60)))
    q = e.filter(F.col("vec_id") == vectors.QUERY_VEC_ID).select(F.col("v").alias("q"))
    probe = vectors._ivf_probes([float(x) for x in q.first().q], cents)
    vectors.write_ivf_store(
        vectors._ivf_assign(e, cents), str(tmp_path / "ivf_store"), cents
    )
    return probe, q, cents


def test_ivf_cell_store_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """SCALE.md's IVF-layout claim, proven (r6): persisting embeddings
    partitioned by quantizer cell turns an ANN probe into directory
    pruning — the probe scan (a) carries a PartitionFilter on cell,
    (b) touches only nprobe of the k cell files on disk, and (c)
    returns exactly the in-memory ann_ivf_seeded_topk result (a
    full-oracle key)."""
    import glob

    from pyspark.sql import functions as F

    from labelmain_spark.functions import vectors

    probe, q, _ = _seeded_ivf_store(spark, sf_dir, tmp_path)
    path = str(tmp_path / "ivf_store")

    cell_dirs = glob.glob(path + "/cell=*")
    assert len(cell_dirs) > len(probe), "fixture must have unprobed cells"
    for d in cell_dirs:
        assert len(glob.glob(d + "/*.parquet")) == 1, d

    got = vectors.probe_ivf_store(spark, path, probe, q)
    checks.assert_partition_filter(got, "cell")

    # files actually scanned == files under the probed cell dirs only
    store = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    touched = {
        r[0]
        for r in store.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    allowed = {
        "file:" + f
        for c in probe
        for f in glob.glob(f"{path}/cell={c}/*.parquet")
    }
    assert touched and all(
        t in allowed or t.replace("file://", "file:") in allowed for t in touched
    ), (touched, allowed)
    assert len(touched) == len(probe), (len(touched), len(probe))

    want = vectors.ann_ivf_seeded_topk(spark, sf_dir).collect()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]


def test_ivf_store_upsert_appends_with_frozen_quantizer(spark, sf_dir, tmp_path):
    """Incremental IVF maintenance: a new batch upserted into the cell
    store (a) is assigned EXACTLY as an exact sequential-fold reference
    assigns against the persisted centroids, (b) only APPENDS files —
    every pre-existing file is untouched, (c) a probe after the upsert
    finds a planted near-duplicate of the query at rank 1 while the
    pre-upsert rows still appear through the same partition pruning."""
    import glob
    import math
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from labelmain_spark.functions import vectors

    probe, q, cents = _seeded_ivf_store(spark, sf_dir, tmp_path)
    path = str(tmp_path / "ivf_store")
    before = {r.vec_id for r in vectors.probe_ivf_store(spark, path, probe, q).collect()}
    pre_files = set(glob.glob(path + "/cell=*/*.parquet"))
    pre_sizes = {f: os.path.getsize(f) for f in pre_files}

    # new batch: a planted near-dup of the query + two random vectors
    qv = np.asarray(q.first().q, dtype=np.float64)
    rng = np.random.RandomState(3)
    planted = (qv + 1e-3 * rng.standard_normal(len(qv))).tolist()
    batch_rows = [
        (900001, planted),
        (900002, rng.standard_normal(len(qv)).tolist()),
        (900003, rng.standard_normal(len(qv)).tolist()),
    ]
    batch = spark.createDataFrame(batch_rows, "vec_id long, v array<double>")
    vectors.upsert_ivf_store(spark, path, batch)

    # (b) append-only: every pre-existing file byte-identical in size
    post_files = set(glob.glob(path + "/cell=*/*.parquet"))
    assert pre_files <= post_files
    assert all(os.path.getsize(f) == pre_sizes[f] for f in pre_files)

    # (a) assignment equals an exact reference against the persisted
    # centroids: sequential-fold cosine, stable-rounded to 6 dp, first
    # max (lowest cell) on ties
    store = spark.read.parquet(path)
    got_cells = {
        r.vec_id: r.cell
        for r in store.filter(F.col("vec_id") >= 900001).collect()
    }
    for vid, v in batch_rows:
        vn = math.sqrt(vectors._py_seq_dot(v, v))
        sims = [
            math.floor(
                vectors._py_seq_dot(v, c)
                / (vn * math.sqrt(vectors._py_seq_dot(c, c)))
                * 1e6
                + 0.5
            )
            / 1e6
            for c in cents
        ]
        want = sims.index(max(sims))
        assert got_cells[vid] == want, (vid, got_cells[vid], want)

    # (c) the planted near-dup lands in a probed cell and tops the probe
    assert got_cells[900001] in probe, "planted dup missed the query's cells"
    after = vectors.probe_ivf_store(spark, path, probe, q).collect()
    assert after[0].vec_id == 900001
    # same k results; every non-planted survivor was already a
    # pre-upsert result (the planted dup displaces exactly the old
    # bottom-ranked row)
    assert len(after) == len(before)
    assert {r.vec_id for r in after} - {900001} <= before
