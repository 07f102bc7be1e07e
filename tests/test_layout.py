"""Layout tests: partition-pruned point lookups over hash-bucket store
versions and the IVF cell store — the physical-design half of the
label store."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from labelmain_spark.labelstore import layout
from labelmain_spark.labelstore.store import abuse_labels, wallet_labels
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
    with _conf(spark, "spark.sql.shuffle.partitions", "16"):
        layout.write_partitioned(store, path)

    addr = store.select("addr").orderBy("addr").first()[0]
    got = layout.lookup_partitioned(spark, path, addr)
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
    a parallel listing job, a lookup plus its collect runs exactly the
    scan: no hash job, no listing job, no schema-inference job."""
    import glob

    store = wallet_labels(spark, sf_dir)
    path = str(tmp_path / "store_wide")
    with _conf(spark, "spark.sql.shuffle.partitions", "48"):
        layout.write_partitioned(store, path)
    assert len(glob.glob(f"{path}/{layout.BUCKET_COL}=*")) > 32

    addr = store.select("addr").orderBy("addr").first()[0]
    got = []
    jobs, tasks = checks.jobs_and_tasks(
        spark, lambda: got.extend(layout.lookup_partitioned(spark, path, addr).collect())
    )
    assert (jobs, tasks) == (1, 1), f"lookup ran {jobs} jobs / {tasks} tasks"
    want = store.filter(F.col("addr") == addr).collect()
    assert [r.asDict(recursive=True) for r in got] == [
        r.asDict(recursive=True) for r in want
    ]


def test_partitioned_lookup_missing_bucket_falls_back(spark, tmp_path):
    """An address whose bucket directory was never written returns no
    rows with the columns of a hit, without running a job; an absent
    address in a written bucket returns no rows; a bucket path that is
    not a partition directory raises instead of reading as empty."""
    import os

    store = spark.createDataFrame([("addr-a", 1), ("addr-b", 2)], "addr string, n int")
    path = str(tmp_path / "store_two")
    layout.write_partitioned(store, path)
    buckets = layout._read_manifest(spark, path)["buckets"]
    written = {layout._xxh64(a) % buckets for a in ("addr-a", "addr-b")}

    def probe(hit_bucket: bool) -> str:
        for i in range(10_000):
            a = f"probe-{i}"
            if (layout._xxh64(a) % buckets in written) == hit_bucket:
                return a
        raise AssertionError("no probe address found")

    hit = layout.lookup_partitioned(spark, path, "addr-a")
    assert [tuple(r) for r in hit.collect()] == [("addr-a", 1)]

    absent_dir = probe(hit_bucket=False)
    bucket = layout._xxh64(absent_dir) % buckets
    assert not os.path.exists(f"{path}/{layout.BUCKET_COL}={bucket}")
    miss = []

    def lookup_miss():
        miss.append(layout.lookup_partitioned(spark, path, absent_dir))
        miss.append(miss[0].collect())

    jobs, _ = checks.jobs_and_tasks(spark, lookup_miss)
    assert miss[1] == [] and jobs == 0, f"missing bucket ran {jobs} jobs"
    assert miss[0].schema == hit.schema

    absent_row = layout.lookup_partitioned(spark, path, probe(hit_bucket=True))
    assert absent_row.collect() == []
    assert absent_row.schema == hit.schema

    # Any other read error is not a missing bucket and is raised: a
    # plain file where the bucket directory belongs has no partition
    # column to filter on.
    with open(f"{path}/{layout.BUCKET_COL}={bucket}", "w") as f:
        f.write("not parquet")
    with pytest.raises(AnalysisException) as err:
        layout.lookup_partitioned(spark, path, absent_dir)
    assert err.value.getCondition() != "PATH_NOT_FOUND"


def test_partitioned_write_one_file_per_bucket(spark, sf_dir, tmp_path):
    """One file per bucket directory, at most one bucket per shuffle
    partition."""
    import glob

    store = wallet_labels(spark, sf_dir)
    path = str(tmp_path / "store_files")
    with _conf(spark, "spark.sql.shuffle.partitions", "8"):
        layout.write_partitioned(store, path)
    dirs = glob.glob(path + "/bucket=*")
    assert 1 < len(dirs) <= 8
    for d in dirs:
        files = glob.glob(d + "/*.parquet")
        assert len(files) == 1, f"{d}: {len(files)} files (small-files trap)"


def test_manifest_bucket_count_outlives_session_conf(spark, sf_dir, tmp_path):
    """The lookup hashes with the bucket count recorded at write time,
    not the reading session's: a version written at 8 shuffle
    partitions answers every address from a session set to 3."""
    store = wallet_labels(spark, sf_dir)
    path = str(tmp_path / "store_8")
    with _conf(spark, "spark.sql.shuffle.partitions", "8"):
        layout.write_partitioned(store, path)
    assert layout._read_manifest(spark, path)["buckets"] == 8
    want = {r.addr: r.asDict(recursive=True) for r in store.collect()}
    with _conf(spark, "spark.sql.shuffle.partitions", "3"):
        for addr, row in want.items():
            got = layout.lookup_partitioned(spark, path, addr).collect()
            assert [r.asDict(recursive=True) for r in got] == [row], addr


def test_missing_manifest_names_the_version(spark, tmp_path):
    import os

    store = spark.createDataFrame([("addr-a", 1)], "addr string, n int")
    path = str(tmp_path / "store_bare")
    layout.write_partitioned(store, path)
    os.remove(f"{path}/{layout.MANIFEST}")
    with pytest.raises(FileNotFoundError, match=str(path)):
        layout.lookup_partitioned(spark, path, "addr-a")


def test_version_read_runs_no_listing_job(spark, sf_dir, tmp_path):
    """The manifest is invisible to a plain read of the version, and a
    version written with the session's bucket count reads with the one
    schema job: no parallel listing job over bucket directories."""
    store = wallet_labels(spark, sf_dir)
    path = str(tmp_path / "store_plain_read")
    layout.write_partitioned(store, path)
    got = []
    jobs, tasks = checks.jobs_and_tasks(spark, lambda: got.append(spark.read.parquet(path)))
    assert (jobs, tasks) == (1, 1), f"version read ran {jobs} jobs / {tasks} tasks"
    assert sorted(got[0].drop(layout.BUCKET_COL).columns) == sorted(store.columns)
    assert got[0].count() == store.count()


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
