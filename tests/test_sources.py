"""The paged cursor source: batch and streaming reads, retries,
backpressure and checkpoint restarts."""

from __future__ import annotations

import os

import pytest


def test_paged_source_batch_roundtrip(spark, tmp_path):
    """Custom Python data source: rows written into the page chain come
    back exactly, in one partition per slot (contiguous page ranges
    fetched in parallel), never more partitions than pages."""
    from labelmain_spark.sources import paged

    rows = [(i, i % 7, "click" if i % 2 else "view", float(i) / 4) for i in range(1234)]
    n_pages = paged.write_page_fixture(str(tmp_path / "pages"), rows, page_size=100)
    assert n_pages == 13
    paged.register(spark)
    df = spark.read.format("paged_json").option("path", str(tmp_path / "pages")).load()
    slots = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(n_pages, slots)
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(rows)


def test_paged_source_stream_resumes_from_checkpoint(spark, tmp_path):
    """Streaming form: offsets are page indices stored in the streaming
    checkpoint — new pages appearing after a restart are picked up
    WITHOUT re-reading committed ones (the durable-endCursor contract
    the reference lacks, chainabuse/main.py:107-109)."""
    from labelmain_spark.sources import paged

    pages_dir, cp = str(tmp_path / "pages"), str(tmp_path / "cp")
    out = str(tmp_path / "out")
    rows1 = [(i, i % 5, "click", float(i)) for i in range(300)]
    paged.write_page_fixture(pages_dir, rows1, page_size=100)
    paged.register(spark)

    def run_once():
        q = (
            spark.readStream.format("paged_json").option("path", pages_dir).load()
            .writeStream.format("parquet").option("path", out)
            .outputMode("append").option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 300

    # "the remote API grew pages" — extend the chain, keep old pages
    rows2 = [(1000 + i, i % 5, "view", float(i)) for i in range(150)]
    all_rows = rows1 + rows2
    paged.write_page_fixture(pages_dir, all_rows, page_size=100)
    run_once()
    # the file sink appends only the NEW micro-batch: committed pages
    # were not re-read (no duplicates), the two new ones arrived
    got = spark.read.parquet(out)
    assert got.count() == 450, "restart re-read or skipped pages"
    assert got.select("event_id").distinct().count() == 450


def test_retry_linear_backoff_unit():
    """T5 retry policy in isolation: linear sleeps (b, 2b, 3b — the
    reference's bitcoinabuse backoff shape), success passes through,
    exhaustion re-raises the transient error."""
    from labelmain_spark.sources.paged import _with_retries

    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] <= 3:
            raise OSError("transient")
        return "ok"

    assert _with_retries(flaky, 3, 0.1, sleeper=sleeps.append) == "ok"
    assert sleeps == pytest.approx([0.1, 0.2, 0.3]), "backoff must be linear"
    assert calls["n"] == 4

    def always_down():
        raise OSError("still down")

    sleeps.clear()
    try:
        _with_retries(always_down, 2, 0.1, sleeper=sleeps.append)
        raise AssertionError("exhausted retries must re-raise")
    except OSError:
        pass
    assert sleeps == pytest.approx([0.1, 0.2])

    def schema_bug():
        raise ValueError("not transient")

    try:
        _with_retries(schema_bug, 3, 0.1, sleeper=sleeps.append)
        raise AssertionError("non-transient errors must not be retried")
    except ValueError:
        pass


def test_paged_source_retries_transient_fault(spark, tmp_path):
    """A page that faults transiently (flaky sidecar = the remote
    429/timeout) is absorbed by the in-source retry: the batch read
    returns every row, no task re-run needed, and the fault budget is
    consumed."""
    from labelmain_spark.sources import paged

    pages_dir = str(tmp_path / "pages")
    rows = [(i, i % 5, "click", float(i)) for i in range(300)]
    paged.write_page_fixture(pages_dir, rows, page_size=100)
    flaky = os.path.join(pages_dir, "page-1.flaky")
    with open(flaky, "w") as f:
        f.write("2")  # two transient failures, under the 3-retry budget
    paged.register(spark)
    df = (
        spark.read.format("paged_json")
        .option("path", pages_dir)
        .option("backoffS", "0.01")
        .option("injectFaults", "true")
        .load()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(rows)
    with open(flaky) as f:
        assert f.read().strip() == "0", "retry path was never exercised"


def test_paged_source_retries_fault_inside_page_range(spark, tmp_path):
    """A transient fault on a page in the middle of its task's page
    range is retried in place: the pages before it are not re-read and
    every row arrives exactly once."""
    from labelmain_spark.sources import paged

    pages_dir = str(tmp_path / "pages")
    rows = [(i, i % 5, "click", float(i)) for i in range(1200)]
    n_pages = paged.write_page_fixture(pages_dir, rows, page_size=100)
    slots = spark.sparkContext.defaultParallelism
    ranges = paged._page_ranges(paged._walk_cursor_chain(pages_dir), slots)
    assert len(ranges[0]) > 1 and n_pages > slots
    inner = ranges[0][-1]  # last page of the first range, not its first
    flaky = inner[: -len(".json")] + ".flaky"
    with open(flaky, "w") as f:
        f.write("2")
    paged.register(spark)
    df = (
        spark.read.format("paged_json")
        .option("path", pages_dir)
        .option("backoffS", "0.01")
        .option("injectFaults", "true")
        .load()
    )
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(set(got)) and sorted(got) == sorted(rows)
    with open(flaky) as f:
        assert f.read().strip() == "0", "retry path was never exercised"


def test_page_ranges_are_contiguous_and_slot_bounded():
    from labelmain_spark.sources.paged import _page_ranges

    pages = [f"page-{i}.json" for i in range(10)]
    for slots in (1, 2, 3, 4, 10, 32):
        ranges = _page_ranges(pages, slots)
        assert len(ranges) == min(slots, len(pages))
        assert [p for r in ranges for p in r] == pages
        assert max(map(len, ranges)) - min(map(len, ranges)) <= 1
    assert _page_ranges([], 4) == []


def test_paged_source_ignores_stray_sidecar_without_opt_in(spark, tmp_path):
    """The fault-injection hook is test-only and OPT-IN (r10 advice): a
    stray ``.flaky`` sidecar in a production landing directory must be
    ignored — no fault injected, no executor task rewriting it."""
    from labelmain_spark.sources import paged

    pages_dir = str(tmp_path / "pages")
    rows = [(i, i % 5, "click", float(i)) for i in range(200)]
    paged.write_page_fixture(pages_dir, rows, page_size=100)
    flaky = os.path.join(pages_dir, "page-0.flaky")
    with open(flaky, "w") as f:
        f.write("5")
    paged.register(spark)
    df = spark.read.format("paged_json").option("path", pages_dir).load()
    assert df.count() == 200
    with open(flaky) as f:
        assert f.read().strip() == "5", "production read consulted the sidecar"


def test_paged_stream_backpressure_max_pages_per_trigger(spark, tmp_path):
    """T5 admission control: a RUNNING stream with maxPagesPerTrigger=2
    drains a 6-page burst in bounded micro-batches — every anchored
    offset-log step advances ≤ 2 pages — instead of one unbounded
    catch-up batch, and still delivers every row exactly once. (The
    first-ever trigger has no anchor — the API passes latestOffset no
    committed offset — so the burst is landed after batch 0; see the
    reader docstring.)"""
    from labelmain_spark.sources import paged

    pages_dir, cp = str(tmp_path / "pages"), str(tmp_path / "cp")
    out = str(tmp_path / "out")
    rows1 = [(i, i % 5, "click", float(i)) for i in range(200)]
    burst = [(1000 + i, i % 5, "view", float(i)) for i in range(600)]
    paged.write_page_fixture(pages_dir, rows1, page_size=100)
    paged.register(spark)
    q = (
        spark.readStream.format("paged_json")
        .option("path", pages_dir)
        .option("maxPagesPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # "the remote API grew a backlog while the stream was up"
        paged.write_page_fixture(pages_dir, rows1 + burst, page_size=100)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 800
    assert got.select("event_id").distinct().count() == 800
    # the offset log is the ground truth for admission: parse each
    # batch's planned end offset and check per-trigger advance ≤ cap
    # once anchored (every batch after the first)
    import json as _json

    offsets_dir = os.path.join(cp, "offsets")
    ends = []
    batches = [n for n in os.listdir(offsets_dir) if n.isdigit()]
    for name in sorted(batches, key=int):
        with open(os.path.join(offsets_dir, name)) as f:
            last = [ln for ln in f.read().splitlines() if ln.strip()][-1]
        ends.append(_json.loads(last)["page"])
    assert ends[-1] == 8 and sorted(ends) == ends, ends
    deltas = [b - a for a, b in zip(ends, ends[1:])]
    assert deltas and max(deltas) <= 2, f"an anchored trigger exceeded the cap: {ends}"
    assert len([d for d in deltas if d > 0]) >= 3, f"burst not split: {ends}"


def test_paged_stream_fault_across_checkpoint_restart(spark, tmp_path):
    """T5 retry × T3 durable offsets interacting across a restart — the
    reference's actual failure mode (chainabuse/main.py:29-39 re-enters
    after a sleep but holds endCursor only in memory, so a crash
    mid-fetch loses the cursor). Here: a micro-batch dies on a
    persistent fault EXCEEDING the retry budget, the query fails, and a
    restart resumes from the durable checkpoint offset — the faulted
    page is re-fetched (absorbing one residual transient fault via the
    in-source retry) and NO page is lost or double-counted."""
    from labelmain_spark.sources import paged

    pages_dir, cp = str(tmp_path / "pages"), str(tmp_path / "cp")
    out = str(tmp_path / "out")
    rows1 = [(i, i % 5, "click", float(i)) for i in range(300)]
    paged.write_page_fixture(pages_dir, rows1, page_size=100)
    paged.register(spark)

    def run_once():
        q = (
            spark.readStream.format("paged_json")
            .option("path", pages_dir)
            .option("injectFaults", "true")
            .option("maxRetries", "2")
            .option("backoffS", "0.01")
            .load()
            .writeStream.format("parquet").option("path", out)
            .outputMode("append").option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 300

    # the chain grows a page, and that page's remote endpoint goes down
    # HARD: 99 consecutive faults >> the 2-retry budget × Spark's own
    # task-retry tier, so the micro-batch — and the query — fail.
    rows2 = [(1000 + i, i % 5, "view", float(i)) for i in range(100)]
    paged.write_page_fixture(pages_dir, rows1 + rows2, page_size=100)
    flaky = os.path.join(pages_dir, "page-3.flaky")
    with open(flaky, "w") as f:
        f.write("99")
    with pytest.raises(Exception):  # noqa: B017 — StreamingQueryException
        run_once()
    # the failed batch must not have committed: sink still shows
    # exactly the pre-fault rows (FileStreamSink's metadata log hides
    # any orphan files from the dead batch)
    assert spark.read.parquet(out).count() == 300

    # the endpoint recovers, with ONE residual transient fault left —
    # inside the in-source retry budget. Restart: the durable offset
    # re-plans the SAME page window; retry absorbs the fault.
    with open(flaky, "w") as f:
        f.write("1")
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 400, "restart lost or duplicated a page"
    assert got.select("event_id").distinct().count() == 400
    with open(flaky) as f:
        assert f.read().strip() == "0", "post-restart retry path never ran"


def test_walk_cursor_chain_excludes_inflight_page(tmp_path):
    """A page whose .next pointer is not yet published is IN-FLIGHT and
    must be excluded instead of crashing the poll (r14: latestOffset
    races the writer's page-N.json → page-N.next publish sequence; the
    old unconditional open killed the whole streaming query with
    FileNotFoundError)."""
    from labelmain_spark.sources import paged

    rows = [(i, i % 3, "click", float(i)) for i in range(30)]
    paged.write_page_fixture(str(tmp_path / "pages"), rows, page_size=10)
    # simulate the writer mid-publish: page-2.json exists, .next not yet
    os.remove(str(tmp_path / "pages" / "page-2.next"))
    chain = paged._walk_cursor_chain(str(tmp_path / "pages"))
    assert chain == [
        str(tmp_path / "pages" / f"page-{i}.json") for i in range(2)
    ]


def test_walk_cursor_chain_resumes_from_tail(tmp_path, monkeypatch):
    """A resumed walk re-reads the tail's next-cursor and then opens one
    ``.next`` per new page, not one per page ever published; the
    in-flight rule still holds at the resumed end."""
    import builtins

    from labelmain_spark.sources import paged

    pages_dir = str(tmp_path / "pages")
    rows = [(i, i % 3, "click", float(i)) for i in range(400)]
    paged.write_page_fixture(pages_dir, rows[:300], page_size=10)
    known = paged._walk_cursor_chain(pages_dir)
    assert len(known) == 30

    opens: list[str] = []

    def counting_open(file, *a, **kw):
        if str(file).endswith(".next"):
            opens.append(str(file))
        return builtins.open(file, *a, **kw)

    monkeypatch.setattr(paged, "open", counting_open, raising=False)
    # the chain grows 10 pages; the old tail's .next is rewritten
    paged.write_page_fixture(pages_dir, rows, page_size=10)
    opens.clear()
    chain = paged._walk_cursor_chain(pages_dir, known)
    assert chain == [os.path.join(pages_dir, f"page-{i}.json") for i in range(40)]
    assert len(opens) == 1 + 10, opens  # the tail's pointer, then the new pages

    opens.clear()
    assert paged._walk_cursor_chain(pages_dir, chain) == chain
    assert len(opens) == 1

    # a new page whose pointer is not yet published is not admitted
    with open(os.path.join(pages_dir, "page-39.next"), "w") as f:
        f.write("page-40.json")
    with open(os.path.join(pages_dir, "page-40.json"), "w") as f:
        f.write("")
    assert paged._walk_cursor_chain(pages_dir, chain) == chain
