"""Training-data export writers — the sink side of the corpus pipeline
(SURVEY §2.1 sinks family, extended to the §2.11 north-star export
shapes: filtered/deduped/packed corpus → on-disk training shards).

Design for 100 TB:

- ``write_shards`` partitions the output BY SHARD (the assignment
  computed relationally by functions/packing.py), so a training job
  reads shard N with partition pruning — one directory listing, no
  scan of the rest. ``maxRecordsPerFile`` bounds individual file sizes
  without an extra repartition pass.
- The write itself is the standard distributed parquet sink: each task
  writes its own files under a job-scoped staging protocol, so failed
  executors retry without torn output. At object-store scale the same
  call targets s3a:// with the cloud committer — config, not code.
- JSONL export mirrors the parquet path (`format("json")`) for
  tokenizer pipelines that stream text; compression is a writer option
  (`.option("compression", "zstd")`), orthogonal to layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from labelmain_spark.functions.packing import shard_pack
from labelmain_spark.sources.readers import load_table

MAX_RECORDS_PER_FILE = 100_000


def write_shards(
    docs: DataFrame,
    assignments: DataFrame,
    path: str,
    fmt: str = "parquet",
) -> None:
    """Join documents to their shard assignment and write one directory
    per shard (``shard_id=N/``). The join is keyed on doc_id — at scale
    both sides carry the same doc_id layout from upstream, and AQE
    handles the rest; no collect, no driver loop."""
    out = docs.join(assignments.select("doc_id", "shard_id"), "doc_id")
    (
        out.repartition("shard_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("shard_id")
        .format(fmt)
        .save(path)
    )


def write_ordered_corpus(
    docs: DataFrame,
    order: DataFrame,
    path: str,
    n_files: int,
) -> None:
    """Materialize a training ORDER (a corpus_shuffle /
    curriculum_order audit table: pos, doc_id, ...) into range-tiled
    parquet: this is the ONE wide payload movement the whole
    ordering story defers to export time — position ASSIGNMENT never
    sorted the corpus (those plans are prefix-counts), and here the
    payload pays exactly one ``repartitionByRange(pos)`` +
    ``sortWithinPartitions(pos)``. Files tile the position space:
    ascending part files hold ascending disjoint pos ranges, sorted
    within, so reading files in name order — or any file alone
    (training resume-from-step) — replays the exact permutation.
    Proven from the written files in
    tests/test_writers.py::test_write_ordered_corpus_tiles_positions."""
    out = docs.join(order.select("pos", "doc_id"), "doc_id")
    (
        out.repartitionByRange(n_files, "pos")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .parquet(path)
    )


def export_packed_corpus(
    spark: SparkSession, sf_dir: str, path: str, fmt: str = "parquet"
) -> None:
    """End-to-end export: shard-pack the documents table and write the
    sharded corpus."""
    docs = load_table(spark, sf_dir, "documents")
    write_shards(docs, shard_pack(spark, sf_dir), path, fmt=fmt)


import os as _os
import re as _re

_VERSION_RE = _re.compile(r"^v(\d+)$")
_STALE_TMP_SECONDS = 60.0


def _current_version(root: str) -> int | None:
    """Version number CURRENT points at, or None if absent/corrupt.
    A corrupt (hand-edited, torn) CURRENT is treated as absent rather
    than raising — the publisher then recovers the numbering from the
    version directories actually on disk."""
    try:
        with open(_os.path.join(root, "CURRENT")) as f:
            m = _VERSION_RE.match(f.read().strip())
        return int(m.group(1)) if m else None
    except OSError:
        return None


def _existing_versions(root: str) -> list[int]:
    out = []
    for d in _os.listdir(root):
        m = _VERSION_RE.match(d)
        if m and _os.path.isdir(_os.path.join(root, d)):
            out.append(int(m.group(1)))
    return sorted(out)


def _claim_version(root: str) -> int:
    """Atomically claim the next version number via O_EXCL directory
    creation: ``mkdir`` either succeeds (the number is ours alone) or
    raises and we try the next. Two concurrent publishers therefore get
    DISTINCT version dirs — neither can clobber the other's output.
    Orphan dirs from crashed publishes are skipped, not reused."""
    cur = _current_version(root)
    vers = _existing_versions(root)
    n = max([cur if cur is not None else -1] + [v for v in vers]) + 1
    while True:
        try:
            _os.mkdir(_os.path.join(root, f"v{n}"))
            return n
        except FileExistsError:
            n += 1


def _sweep_stale_tmp(root: str) -> None:
    """Remove ``_current_*`` temp files orphaned by a crash between
    mkstemp and os.replace. Age-gated so a concurrent publisher's
    in-flight temp (a microseconds-wide window) is never swept."""
    import time

    now = time.time()
    for d in _os.listdir(root):
        p = _os.path.join(root, d)
        if d.startswith("_current_") and _os.path.isfile(p):
            try:
                if now - _os.path.getmtime(p) > _STALE_TMP_SECONDS:
                    _os.remove(p)
            except OSError:
                pass


def publish_corpus(spark: SparkSession, sf_dir: str, root: str) -> str:
    """Atomic versioned publish of the packed corpus — the batch twin
    of the streaming sink's commit protocol (streaming/incremental.py
    ``run_upsert_sink``): claim ``root/v<n>/`` exclusively (O_EXCL
    mkdir — concurrent publishers get distinct versions), write the
    FULL new corpus into it, then atomically swap the ``CURRENT``
    pointer. Readers resolving through CURRENT see the old corpus
    until the instant of the swap and the new one after — never a torn
    mix. A crash mid-write leaves an orphan ``v`` dir and CURRENT
    untouched; later publishes skip past it and prune it. The pointer
    never moves backwards: a slow publisher that finishes after a
    newer version committed leaves CURRENT alone. The previous pointer
    target is kept (one-step time travel / rollback), older ones
    pruned. Corrupt CURRENT content is recovered from the on-disk
    version dirs instead of raising.

    At object-store scale the pointer file becomes a manifest commit
    (Delta/Iceberg); the layout here is the same contract on a
    filesystem. Returns the published version string."""
    import shutil
    import tempfile

    _os.makedirs(root, exist_ok=True)
    _sweep_stale_tmp(root)
    prev_n = _current_version(root)
    n = _claim_version(root)
    nxt = f"v{n}"
    export_packed_corpus(spark, sf_dir, _os.path.join(root, nxt))
    # Commit: write-temp + rename is atomic on POSIX; re-check that a
    # concurrent publisher hasn't already advanced past us (monotonic
    # pointer — last-writer-wins would let a slow v1 clobber a v2).
    cur_now = _current_version(root)
    won = cur_now is None or cur_now < n
    if won:
        fd, tmp = tempfile.mkstemp(dir=root, prefix="_current_")
        with _os.fdopen(fd, "w") as f:
            f.write(nxt)
        _os.replace(tmp, _os.path.join(root, "CURRENT"))  # the commit
        # Prune (winner only): keep the new pointer target and the
        # pointer's previous target (rollback); every other dir BELOW
        # the pointer is garbage — crashed orphans and superseded
        # losers alike. Dirs ABOVE the pointer belong to concurrent
        # publishers still writing and are never touched.
        keep = {n} | ({prev_n} if prev_n is not None else set())
        for v in _existing_versions(root):
            if v not in keep and v < n:
                shutil.rmtree(_os.path.join(root, f"v{v}"), ignore_errors=True)
    return nxt


def read_published(spark: SparkSession, root: str, version: str | None = None) -> DataFrame:
    """Read the published corpus: CURRENT by default, or a pinned
    version (the retained previous one) for rollback/repro reads."""
    import os

    if version is None:
        with open(os.path.join(root, "CURRENT")) as f:
            version = f.read().strip()
    return spark.read.parquet(os.path.join(root, version))
