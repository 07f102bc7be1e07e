"""Shard export sink: layout, round-trip, and partition pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from labelmain_spark.functions.packing import shard_pack
from labelmain_spark.plans import checks
from labelmain_spark.sources.readers import load_table
from labelmain_spark.sources.writers import export_packed_corpus


def test_export_round_trip_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    export_packed_corpus(spark, sf_dir, out)

    # one directory per shard, hive-style
    shards = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("shard_id=")
    )
    expected = sorted(
        r.shard_id for r in shard_pack(spark, sf_dir).select("shard_id").distinct().collect()
    )
    assert shards == expected

    # round-trip: no docs lost or duplicated, text survives byte-exact
    src = load_table(spark, sf_dir, "documents")
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    joined = back.select("doc_id", F.col("text").alias("t2")).join(src, "doc_id")
    assert joined.filter(F.col("t2") != F.col("text")).count() == 0

    # reading one shard must PRUNE partitions, not post-filter
    one = spark.read.parquet(out).filter(F.col("shard_id") == shards[0])
    checks.assert_partition_filter(one, "shard_id")
    assert one.count() > 0


def test_publish_corpus_atomic_versioning(spark, sf_dir, tmp_path):
    from labelmain_spark.sources.writers import publish_corpus, read_published

    root = str(tmp_path / "published")
    v0 = publish_corpus(spark, sf_dir, root)
    assert v0 == "v0"
    n0 = read_published(spark, root).count()
    assert n0 > 0

    # a crashed publish (orphan dir, CURRENT untouched) must be invisible
    os.makedirs(os.path.join(root, "v1"), exist_ok=True)
    with open(os.path.join(root, "v1", "_partial"), "w") as f:
        f.write("torn write")
    assert read_published(spark, root).count() == n0  # still v0

    # orphans are SKIPPED, never reused (O_EXCL claim), and the winner
    # prunes them once the pointer moves past
    v2 = publish_corpus(spark, sf_dir, root)
    assert v2 == "v2"
    assert read_published(spark, root).count() == n0
    # previous pointer target retained for rollback; orphan v1 pruned
    assert read_published(spark, root, "v0").count() == n0
    live = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert live == ["v0", "v2"]

    v3 = publish_corpus(spark, sf_dir, root)
    assert v3 == "v3"
    live = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert live == ["v2", "v3"]  # v0 pruned


def test_publish_corpus_crash_mid_publish(spark, sf_dir, tmp_path, monkeypatch):
    """Verdict r4 item 8: kill the publisher between staging (full
    export written) and the pointer swap — readers must never see a
    torn version, and the next publish must supersede cleanly."""
    from labelmain_spark.sources import writers
    from labelmain_spark.sources.writers import publish_corpus, read_published

    root = str(tmp_path / "published")
    publish_corpus(spark, sf_dir, root)
    n0 = read_published(spark, root).count()

    real_replace = os.replace

    def crash_at_commit(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise RuntimeError("simulated crash between staging and pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(writers._os, "replace", crash_at_commit)
    try:
        publish_corpus(spark, sf_dir, root)
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(writers._os, "replace", real_replace)

    # pointer untouched: readers still resolve the OLD, complete corpus
    with open(os.path.join(root, "CURRENT")) as f:
        assert f.read().strip() == "v0"
    assert read_published(spark, root).count() == n0
    # the orphan staged dir exists but is invisible through CURRENT
    assert os.path.isdir(os.path.join(root, "v1"))

    # next publish skips the orphan, commits, and collects it
    v2 = publish_corpus(spark, sf_dir, root)
    assert v2 == "v2"
    assert read_published(spark, root).count() == n0
    live = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert live == ["v0", "v2"]


def test_publish_corpus_corrupt_current_and_stale_tmp(spark, sf_dir, tmp_path):
    """Defensive recovery (r4 advice): a hand-edited CURRENT must not
    raise, and orphaned _current_* temp files are swept once stale."""
    from labelmain_spark.sources.writers import publish_corpus, read_published

    root = str(tmp_path / "published")
    publish_corpus(spark, sf_dir, root)

    with open(os.path.join(root, "CURRENT"), "w") as f:
        f.write("garbage-not-a-version")
    stale = os.path.join(root, "_current_orphan")
    with open(stale, "w") as f:
        f.write("v9")
    os.utime(stale, (0, 0))  # backdate past the stale threshold

    # recovers numbering from on-disk dirs (v0 exists → claims v1)
    v1 = publish_corpus(spark, sf_dir, root)
    assert v1 == "v1"
    assert read_published(spark, root).count() > 0
    assert not os.path.exists(stale)


def test_write_ordered_corpus_tiles_positions(spark, sf_dir, tmp_path):
    """The ordered-export writer must make the deferred-sort story
    real: part files (in name order) hold ascending, DISJOINT,
    within-file-sorted position ranges that concatenate to exactly
    0..N-1 in the curriculum permutation — verified from the raw
    parquet files with pyarrow, independent of Spark's reader."""
    import glob

    import pyarrow.parquet as pq

    from labelmain_spark.functions.sampling import curriculum_order
    from labelmain_spark.sources.readers import load_table
    from labelmain_spark.sources.writers import write_ordered_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    order = curriculum_order(spark, sf_dir)
    want = [r.doc_id for r in order.orderBy("pos").collect()]
    out = str(tmp_path / "ordered")
    write_ordered_corpus(docs, order, out, n_files=8)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) > 1, "range write produced a single file — no tiling to prove"
    all_pos, all_ids, prev_max = [], [], -1
    for f in files:
        t = pq.read_table(f)
        pos = t.column("pos").to_pylist()
        if not pos:
            continue
        assert pos == sorted(pos), f"{f} not sorted within file"
        assert pos[0] > prev_max, f"{f} overlaps the previous file's range"
        prev_max = pos[-1]
        all_pos.extend(pos)
        all_ids.extend(t.column("doc_id").to_pylist())
    assert all_pos == list(range(len(want)))
    assert all_ids == want
    spark.catalog.clearCache()
