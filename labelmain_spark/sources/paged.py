"""Cursor-paginated source as a first-class Spark data source
(SURVEY §2.1 S5, §4 "possibly custom" — now implemented).

The reference walks remote pages serially, carrying a cursor forward
(chainabuse/main.py:10-39 GraphQL ``endCursor`` loop;
bitcoinabuse/main.go:86-119 ``?page=N`` loop) and loses the cursor on
restart. The Spark-4 Python Data Source API lets the same protocol be a
real ``spark.read.format(...)`` source instead of driver-side glue:

- **Batch** (`PagedJsonDataSource`): the driver walks the cursor chain
  exactly like the reference (cheap metadata hops — one small header
  read per page), then splits it into at most ``defaultParallelism``
  contiguous page ranges, one InputPartition per slot; each task
  fetches its pages in order and yields one Arrow batch per page.
  Serial discovery, parallel I/O — the shape a paginated HTTP API
  actually permits at scale — without a Python task per page: each
  task pays a fixed start-up cost, so a task per page made a 10-page
  read cost 10 of them on 2 slots. The slot count is read from the
  session by :func:`register`, because the planner runs in a Python
  worker that has none, and it is fixed for the registration: a
  cluster whose executors arrive after ``register`` (dynamic
  allocation, where ``defaultParallelism`` can start at 2) keeps that
  many ranges until the source is registered again. Only ``local[N]``
  sessions have measured this.
- **Streaming** (`reader` + ``readStream``): offsets are page indices;
  each micro-batch reads exactly the pages that appeared since the last
  committed offset, grouped the same way, and the offset lives in the
  streaming CHECKPOINT — restart resumes from the durable cursor,
  fixing the reference's lost-``endCursor`` restart bug
  (chainabuse/main.py:107-109). The reader keeps the chain it has
  walked and resumes each walk from its tail, so a trigger costs one
  hop per new page; after a restart the first walk starts at page-0.

Pages are JSON-lines files ``page-<n>.json`` with a sidecar chain file
``page-<n>.next`` naming the next page (empty = last) — a faithful
local stand-in for an HTTP endpoint + next-cursor response field; the
container has no network, so tests render the corpus with
:func:`write_page_fixture`.

**T5 backpressure / retry (SURVEY §2.9)** — implemented in the source,
not left to ops config:

- ``maxRetries`` / ``backoffS`` options: every page fetch retries
  transient faults with LINEAR backoff (sleep = attempt · backoff),
  the reference's exact policy (bitcoinabuse/main.go:29-36 sleeps
  ``retries * time.Minute``; chainabuse/main.py:29-39 re-enters after
  a fixed sleep). Bounded attempts, then the task fails and Spark's
  own task-retry tier takes over — two-level retry, transient faults
  absorbed page-locally without re-running the stage.
- ``maxPagesPerTrigger`` option (streaming): per-micro-batch admission
  control, the ``maxOffsetsPerTrigger`` analog implemented INSIDE the
  source — ``latestOffset`` advances at most N pages past the last
  planned batch, bounding state/sink pressure when the stream starts
  far behind the chain head. The first trigger after a restart is
  uncapped (the Python DataSource API exposes no committed offset to
  ``latestOffset``); steady-state triggers are bounded, which is the
  backpressure property that matters when draining a backlog.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

PAGE_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"

# T5 retry defaults: 3 attempts, 50 ms base — the reference's
# linear-backoff shape at test-friendly scale (options override).
MAX_RETRIES = 3
BACKOFF_S = 0.05


def _with_retries(fn, max_retries: int = MAX_RETRIES,
                  backoff_s: float = BACKOFF_S, sleeper=time.sleep):
    """Linear-backoff retry around one page fetch: sleep attempt·backoff
    after the i-th failure, re-raise once attempts are exhausted.
    OSError ONLY (the remote 429/timeout stand-in) — a permanently
    malformed payload (json.JSONDecodeError) or a schema bug must fail
    the task immediately, not burn the retry budget looping on a
    deterministic error (r10 advice)."""
    attempt = 0
    while True:
        try:
            return fn()
        except OSError:
            attempt += 1
            if attempt > max_retries:
                raise
            sleeper(attempt * backoff_s)


def _maybe_inject_fault(page_file: str) -> None:
    """Test-only transient-fault hook: a ``page-<n>.flaky`` sidecar
    holding a countdown makes the next reads raise OSError until it
    drains — the local stand-in for the remote 429/timeout the
    reference retries on. Reached ONLY when the reader was opened with
    ``.option("injectFaults", "true")`` (r10 advice: the production
    read path must never stat sidecar files — a stray ``.flaky`` in a
    real landing directory would otherwise inject faults and be
    rewritten by executor tasks)."""
    flaky = page_file[: -len(".json")] + ".flaky"
    if os.path.isfile(flaky):
        with open(flaky) as f:
            n = int(f.read().strip() or 0)
        if n > 0:
            with open(flaky, "w") as f:
                f.write(str(n - 1))
            raise OSError(f"injected transient fault ({n} left) on {page_file}")


def write_page_fixture(path: str, rows: list[tuple], page_size: int = 500) -> int:
    """Render rows into the paged landing layout (test stand-in for the
    remote endpoint). Returns the number of pages written."""
    os.makedirs(path, exist_ok=True)
    pages = [rows[i : i + page_size] for i in range(0, len(rows), page_size)] or [[]]
    for n, page in enumerate(pages):
        with open(os.path.join(path, f"page-{n}.json"), "w") as f:
            for event_id, user_id, event_type, value in page:
                f.write(
                    json.dumps(
                        {
                            "event_id": event_id,
                            "user_id": user_id,
                            "event_type": event_type,
                            "value": value,
                        }
                    )
                    + "\n"
                )
        nxt = f"page-{n + 1}.json" if n + 1 < len(pages) else ""
        with open(os.path.join(path, f"page-{n}.next"), "w") as f:
            f.write(nxt)
    return len(pages)


def _next_cursor(page_file: str) -> str | None:
    """The page's next-cursor (``""`` = last page), or None while its
    ``.next`` pointer is not yet published."""
    try:
        with open(page_file[: -len(".json")] + ".next") as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def _walk_cursor_chain(path: str, known: Sequence[str] = ()) -> list[str]:
    """The reference's cursor loop: start at page-0, follow each page's
    next-cursor until exhausted. Driver-side metadata hops only.

    ``known`` is a chain prefix an earlier walk returned: the walk
    resumes from its tail page's next-cursor, re-read because the tail's
    ``.next`` is rewritten when the next page lands, so a stream pays
    one hop per new page instead of one per page ever published.

    A page whose ``.next`` pointer is not yet visible is IN-FLIGHT
    (writers publish page-N.json before page-N.next, non-atomically)
    and is excluded: latestOffset polls concurrently with the writer,
    and r14's load-flake postmortem showed the old unconditional open
    crashing the whole streaming query with FileNotFoundError when a
    poll landed between the two writes. The next poll sees the
    completed pointer — offsets stay monotone."""
    pages = list(known)
    cur = _next_cursor(pages[-1]) if pages else "page-0.json"
    while cur:
        full = os.path.join(path, cur)
        if not os.path.isfile(full):
            break
        cur = _next_cursor(full)
        if cur is None:
            break  # pointer not yet published — page is in-flight
        pages.append(full)
    return pages


def _page_ranges(pages: list[str], slots: int) -> list[list[str]]:
    """Split the chain into at most ``slots`` contiguous page ranges of
    near-equal length: one read task per slot instead of per page."""
    k = min(len(pages), max(slots, 1))
    if not k:
        return []
    q, r = divmod(len(pages), k)
    cuts = [i * q + min(i, r) for i in range(k + 1)]
    return [pages[a:b] for a, b in zip(cuts, cuts[1:])]


def _read_page(page_file: str) -> Iterator[tuple]:
    with open(page_file) as f:
        for line in f:
            if line.strip():
                d = json.loads(line)
                yield (d["event_id"], d["user_id"], d["event_type"], d["value"])


def _read_page_arrow(
    page_file: str,
    max_retries: int = MAX_RETRIES,
    backoff_s: float = BACKOFF_S,
    inject_faults: bool = False,
) -> Iterator:
    """One Arrow RecordBatch per page — the Python Data Source API's
    fast path: rows cross the Python→JVM boundary as ONE columnar
    batch instead of per-tuple pickling (measured 13.2 s → ~3 s for
    the 100k-row sf0.1 corpus). The fetch itself rides the T5
    linear-backoff retry, so a transient fault never costs a task (let
    alone a stage) re-run."""

    def fetch() -> list[tuple]:
        if inject_faults:
            _maybe_inject_fault(page_file)
        return list(_read_page(page_file))

    import pyarrow as pa

    rows = _with_retries(fetch, max_retries, backoff_s)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], type=pa.int64()),
            pa.array([r[1] for r in rows], type=pa.int64()),
            pa.array([r[2] for r in rows], type=pa.string()),
            pa.array([r[3] for r in rows], type=pa.float64()),
        ],
        names=["event_id", "user_id", "event_type", "value"],
    )


class _PageRange(InputPartition):
    def __init__(self, pages: list[str]) -> None:
        self.pages = pages


def _retry_opts(options: dict) -> tuple[int, float, bool]:
    opts = {str(k).lower(): v for k, v in dict(options).items()}
    return (
        int(opts.get("maxretries", MAX_RETRIES)),
        float(opts.get("backoffs", BACKOFF_S)),
        str(opts.get("injectfaults", "false")).lower() == "true",
    )


class _PageReads:
    """What the batch and stream readers share: the options, and
    reading one page range as one Arrow batch per page, each page
    on its own retry budget."""

    def __init__(self, options: dict, slots: int) -> None:
        self.path = options["path"]
        self.slots = slots
        (self.max_retries, self.backoff_s,
         self.inject_faults) = _retry_opts(options)

    def read(self, partition: _PageRange) -> Iterator:
        for page in partition.pages:
            yield from _read_page_arrow(
                page, self.max_retries, self.backoff_s, self.inject_faults,
            )


class _PagedReader(_PageReads, DataSourceReader):
    def partitions(self) -> Sequence[InputPartition]:
        return [_PageRange(r) for r in
                _page_ranges(_walk_cursor_chain(self.path), self.slots)]


class _PagedStreamReader(_PageReads, DataSourceStreamReader):
    """Micro-batch reader: offset = number of pages consumed. The
    checkpoint stores it — the durable form of the reference's
    in-memory endCursor.

    T5 admission control: with ``maxPagesPerTrigger`` set,
    ``latestOffset`` advances at most that many pages past the
    last position it knows the query reached, so a running stream
    drains a backlog (a burst of new pages, a restart far behind
    the head) in bounded micro-batches instead of one unbounded
    catch-up batch. The anchor is every position the engine
    actually tells us — ``initialOffset``, each planned batch's
    end (``partitions``, which also covers the post-restart replay
    batch), each ``commit`` — never a guess: the Python DataSource
    API gives ``latestOffset`` no committed offset
    (python_streaming_source_runner protocol: LATEST_OFFSET takes
    no input), so the one trigger planned before any anchor exists
    (observed: a fresh query's batch 0 — the JVM calls
    latestOffset before initialOffset) runs uncapped; guessing an
    anchor of 0 there would return an offset BELOW the committed
    one after a clean-commit restart and re-deliver pages. Every
    anchored trigger is bounded, which is the backpressure
    property that matters while the stream runs."""

    def __init__(self, options: dict, slots: int) -> None:
        super().__init__(options, slots)
        opts = {str(k).lower(): v for k, v in dict(options).items()}
        cap = int(opts.get("maxpagespertrigger", 0))
        self.max_pages = cap if cap > 0 else None
        self._anchor: int | None = None
        # Complete pages seen so far, from page ``_base`` on: each
        # walk resumes from the tail, and commit drops what no batch
        # can plan again (the tail stays, it is the walk's cursor).
        self._chain: list[str] = []
        self._base = 0

    def _walk(self, upto: int | None = None) -> int:
        if upto is None or self._base + len(self._chain) < upto:
            self._chain = _walk_cursor_chain(self.path, self._chain)
        return self._base + len(self._chain)

    def initialOffset(self) -> dict:
        self._anchor = 0
        return {"page": 0}

    def latestOffset(self) -> dict:
        # Cap against the anchor WITHOUT mutating it (r10 advice):
        # the anchor advances only at positions the engine actually
        # reached (initialOffset / partitions / commit), so a
        # micro-batch that keeps failing re-plans the SAME window
        # instead of each trigger admitting another cap's worth of
        # outstanding pages.
        n = self._walk()
        if self.max_pages is not None and self._anchor is not None:
            n = min(n, self._anchor + self.max_pages)
        return {"page": n}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._anchor = end["page"]
        self._walk(end["page"])
        window = self._chain[start["page"] - self._base : end["page"] - self._base]
        return [_PageRange(r) for r in _page_ranges(window, self.slots)]

    def commit(self, end: dict) -> None:
        # offsets are durable in the streaming checkpoint; the
        # committed position re-anchors the admission cap
        self._anchor = max(end["page"], self._anchor or 0)
        drop = min(end["page"] - self._base, len(self._chain) - 1)
        if drop > 0:
            del self._chain[:drop]
            self._base += drop


class PagedJsonDataSource(DataSource):
    """``spark.read.format("paged_json").option("path", dir)``.

    ``slots`` caps the read partitions of a batch or micro-batch.
    The planner runs in a Python worker that has no session, so
    :func:`register` sets it from the session's
    ``defaultParallelism`` on a subclass made at registration. The
    value is the one at registration time and holds for every
    later batch read and stream trigger of that registration, even
    after executors are added; register again to pick up a new
    one."""

    slots = 1

    @classmethod
    def name(cls) -> str:
        return "paged_json"

    def schema(self) -> str:
        return PAGE_SCHEMA

    def reader(self, schema) -> _PagedReader:
        return _PagedReader(self.options, self.slots)

    def streamReader(self, schema) -> _PagedStreamReader:
        return _PagedStreamReader(self.options, self.slots)


def register(spark: SparkSession) -> None:
    class _SessionPagedJson(PagedJsonDataSource):
        # Defined here, so it is pickled by value with this attribute.
        slots = spark.sparkContext.defaultParallelism

    spark.dataSource.register(_SessionPagedJson)


def _fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Render the events table into the paged layout once per sf_dir —
    the local stand-in for the remote paginated endpoint. The corpus
    must exist OUTSIDE Spark to demonstrate ingestion, so this is
    fixture generation (driver-side by necessity), not an operator."""
    import tempfile

    from labelmain_spark.sources.readers import load_table

    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"labelmain_paged_{tag}")
    done = os.path.join(path, "_FIXTURE_DONE")
    # Fingerprint the source parquet (size + mtime) so a regenerated
    # testdata dir invalidates the cached page corpus instead of
    # silently serving stale rows.
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    fingerprint = f"{st.st_size}:{int(st.st_mtime)}"
    current = ""
    if os.path.isfile(done):
        with open(done) as f:
            current = f.read().strip()
    if current != fingerprint:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        rows = [tuple(r) for r in ev.orderBy("event_id").collect()]
        write_page_fixture(path, rows)
        with open(done, "w") as f:
            f.write(fingerprint)
    return path


def paged_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 as a real source: read the paged landing zone through the
    custom data source and aggregate — proving rows arrive with full
    fidelity through the page protocol."""
    register(spark)
    path = _fixture_dir(spark, sf_dir)
    return spark.read.format("paged_json").option("path", path).load()


QUERIES = {"paged_source_scan": paged_source_scan}

ORACLE = {
    "paged_source_scan": """
        SELECT event_id, user_id, event_type, value FROM events
    """,
}
