"""The ``label_refresh`` workload: the reference's own loop, closed, with
one client.

Each cycle publishes one burst of report pages to the paged layout. The
running ``paged_json`` stream query takes the burst as one micro-batch;
its ``foreachBatch`` extracts bitcoinabuse-shaped labels, runs
``labelstore.store.consolidate`` against the current store version and
lands a new version with ``labelstore.layout.write_partitioned``. Once
the commit is seen the client looks up a few addresses with
``layout.lookup_partitioned(...).collect()``, half from the burst and
half from the pool, and only then publishes the next burst.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import gen

BURST_PAGES = 10  # 5,000 rows: a cycle at 2 task threads takes about as long as 20 pages at 3
PAGE_ROWS = 500
LOOKUPS_PER_CYCLE = 2
POOL = 20000
COMMIT_TIMEOUT_S = 60.0


def extract_labels(batch):
    """One row per address with its labels from this batch, in the
    store's label schema (bitcoinabuse-shaped: type and amount band)."""
    from pyspark.sql import functions as F

    label = F.struct(
        F.lit("abuse").alias("name"),
        F.lit(None).cast("string").alias("date"),
        F.col("event_type").alias("type"),
        F.format_string("%.2f", F.col("value")).alias("desc"),
        F.lit("bitcoinAbuse").alias("src"),
    )
    return batch.groupBy(F.format_string("addr%06d", F.col("user_id")).alias("addr")).agg(
        F.array_sort(F.array_distinct(F.collect_list(label))).alias("labels")
    )


class Sink:
    """The ``foreachBatch`` side: merges each micro-batch into a new store
    version and tells the waiting client when it has landed."""

    def __init__(self, ctx, store_root: str) -> None:
        self.ctx = ctx
        self.store_root = store_root
        self.version: str | None = None
        self.cycle_span = None
        self.done = threading.Event()
        self.error: BaseException | None = None
        self.commit_t = 0.0

    def __call__(self, batch, batch_id: int) -> None:
        from labelmain_spark.labelstore.layout import write_partitioned
        from labelmain_spark.labelstore.store import consolidate

        tr, parent = self.ctx.tracer, self.cycle_span
        try:
            if self.ctx.trace:
                # Traced runs read the micro-batch on its own, so the
                # source read is a span rather than part of the write.
                with tr.span("paged.read", "exec", parent=parent) as r:
                    batch = batch.persist()
                    r.span.attrs["rows"] = batch.count()
            with tr.span("store.merge", "build", parent=parent):
                fresh = extract_labels(batch)
                store = (fresh if self.version is None else
                         consolidate(batch.sparkSession.read.parquet(self.version), fresh))
            path = os.path.join(self.store_root, f"v{batch_id}")
            with tr.span("layout.write", "exec", parent=parent) as w:
                write_partitioned(store, path)
            self.commit_t = time.perf_counter()
            if self.ctx.trace:
                batch.unpersist()
                w.span.attrs["rows_written"] = batch.sparkSession.read.parquet(path).count()
                w.span.attrs["files_written"] = sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
            self.version = path
        except BaseException as e:  # noqa: BLE001 - handed to the waiting client
            self.error = e
        finally:
            self.done.set()


def run(ctx) -> None:
    from labelmain_spark.labelstore.layout import lookup_partitioned

    pages_dir = os.path.join(ctx.work, "pages")
    reports = gen.ReportStream(ctx.seed, pool=POOL, page_rows=PAGE_ROWS)
    spark, tr = ctx.start_session()
    sink = Sink(ctx, os.path.join(ctx.work, "store"))
    query = (
        spark.readStream.format("paged_json").option("path", pages_dir).load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
        .start()
    )
    next_page = 0
    cycles: list[dict] = []

    def cycle(name: str = "cycle") -> dict | None:
        nonlocal next_page
        ctx.attempted += 1
        rows, n_changed = reports.burst(BURST_PAGES)
        with tr.span(name) as c:
            sink.done.clear()
            sink.error = None
            sink.cycle_span = c.span
            t_pub = time.perf_counter()
            with tr.span("publish"):
                next_page += gen.publish_burst(pages_dir, next_page, rows, PAGE_ROWS)
            if not sink.done.wait(COMMIT_TIMEOUT_S) or sink.error is not None:
                ctx.fail(f"refresh: {sink.error or 'no commit within timeout'}")
                return None
            rec = {"t_pub": t_pub, "refresh_s": sink.commit_t - t_pub, "rows": len(rows),
                   "changed": n_changed, "lookup_ms": []}
            for user in reports.pick_lookups(rows, LOOKUPS_PER_CYCLE):
                ctx.attempted += 1
                try:
                    with tr.span("lookup") as lk:
                        with tr.span("layout.lookup", "build"):
                            df = lookup_partitioned(spark, sink.version, gen.addr_of(user))
                        with tr.span("lookup.collect", "exec"):
                            got = df.collect()
                except Exception as e:  # noqa: BLE001
                    ctx.fail(f"lookup {user}: {type(e).__name__}: {e}")
                    continue
                rec["lookup_ms"].append(1000 * lk.dur)
                if not _lookup_ok(ctx.corrupt(got), user, reports.truth):
                    ctx.fail(f"lookup {user}: read-your-writes violated: {got!r:.200}")
        rec["cycle_s"] = c.dur
        return rec

    try:
        # Set-up: the first warm cycle lands the first store version, the
        # second is the first to consolidate. With one warm cycle the
        # timed cycles still sped up from first to last (11.3, 8.6, 7.1 s),
        # and their median spread 0.17 over ten seeds.
        warm = cycle("warm")
        if warm is not None:
            warm = cycle("warm")
        ctx.setup_done()
        t_end = time.perf_counter() + ctx.seconds
        while warm is not None and ctx.another([c["cycle_s"] for c in cycles], t_end):
            rec = cycle()
            if rec is None:
                break
            cycles.append(rec)
    finally:
        query.stop()
    progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]

    ctx.attempted += 1
    with ctx.untimed():
        if sink.version is None or not _store_ok(spark, sink.version, reports.rows):
            ctx.fail("final store differs from the DuckDB consolidation of every published row")
    if not cycles:
        raise RuntimeError("label_refresh: no refresh cycle completed")
    _report(ctx, cycles, progress)


def _expected_labels(user: int, truth: dict) -> set:
    return {("abuse", None, t, d, "bitcoinAbuse") for t, d in truth.get(user, ())}


def _lookup_ok(got, user: int, truth: dict) -> bool:
    want = _expected_labels(user, truth)
    if got is None:
        return False
    if not want:
        return len(got) == 0
    if len(got) != 1 or got[0]["addr"] != gen.addr_of(user):
        return False
    labels = [tuple(lbl) for lbl in got[0]["labels"]]
    return len(labels) == len(want) and set(labels) == want


def _store_ok(spark, path: str, published: list[tuple]) -> bool:
    """Whole store against DuckDB's consolidation of every published row."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("reports", pd.DataFrame(published, columns=["event_id", "user_id", "event_type", "value"]))
    want: dict[str, set] = {}
    for addr, typ, desc in con.execute(
        "SELECT DISTINCT printf('addr%06d', user_id), event_type, printf('%.2f', value) FROM reports"
    ).fetchall():
        want.setdefault(addr, set()).add(("abuse", None, typ, desc, "bitcoinAbuse"))
    con.close()
    got = {}
    for r in spark.read.parquet(path).select("addr", "labels").collect():
        labels = [tuple(lbl) for lbl in r["labels"]]
        if r["addr"] in got or len(set(labels)) != len(labels):
            return False
        got[r["addr"]] = set(labels)
    return got == want


def _report(ctx, cycles: list[dict], progress: list[dict]) -> None:
    refresh = [c["refresh_s"] for c in cycles]
    lookups = [v for c in cycles for v in c["lookup_ms"]]
    span_s = cycles[-1]["t_pub"] + cycles[-1]["refresh_s"] - cycles[0]["t_pub"]
    med = statistics.median
    ctx.metric("wall_s", med(c["cycle_s"] for c in cycles), "s")
    ctx.info("cycles", len(cycles), "count", " ".join(f"{c['cycle_s']:.2f}" for c in cycles))
    ctx.info("ingest_rows_per_s", sum(c["rows"] for c in cycles) / span_s, "rows/s")
    ctx.info("refresh_p50_s", med(refresh), "s")
    ctx.tail_info("refresh", refresh, "s")
    ctx.info("lookup_p50_ms", med(lookups), "ms")
    ctx.tail_info("lookup", lookups, "ms")
    for name, key in (("latest_offset_ms", "latestOffset"), ("planning_ms", "queryPlanning"),
                      ("add_batch_ms", "addBatch"), ("trigger_ms", "triggerExecution")):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        if vals and ctx.trace:
            ctx.layer(f"streaming.{name}", med(vals))
        elif vals:
            ctx.info(f"streaming.{name}", med(vals), "ms", f"n={len(vals)} batches")
    if not ctx.trace:
        return
    ctx.layers_from_spans("cycle")
    tr = ctx.tracer
    by_parent: dict = {}
    for sp in tr.spans:
        by_parent.setdefault(sp.parent, []).append(sp)
    cycle_spans = [sp for sp in tr.spans if sp.name == "cycle"]
    reads, merges, writes, looks = [], [], [], []
    for c in cycle_spans:
        for sp in by_parent.get(c.id, []):
            if sp.name == "paged.read":
                reads.append(sp)
            elif sp.name == "layout.write":
                writes.append(sp)
            elif sp.name == "store.merge":
                merges.append(sp)
            elif sp.name == "lookup":
                looks.append(by_parent.get(sp.id, []))
    ctx.layer("paged.read_s", med(r.dur for r in reads))
    ctx.layer("paged.rows_per_s", med(r.attrs["rows"] / r.dur for r in reads))
    ctx.layer("paged.tasks", med(r.tasks for r in reads))
    ctx.layer("store.merge_s", med(m.dur + w.dur for m, w in zip(merges, writes)))
    ctx.layer("store.addrs", med(w.attrs["rows_written"] for w in writes))
    ctx.layer("store.write_amp", med(
        w.attrs["rows_written"] / max(c["changed"], 1) for w, c in zip(writes, cycles)))
    ctx.layer("layout.files_written", med(w.attrs["files_written"] for w in writes))
    ctx.layer("layout.lookup_jobs", med(sum(s.jobs for s in kids) for kids in looks))
    ctx.layer("layout.lookup_tasks", med(sum(s.tasks for s in kids) for kids in looks))
    largest: dict[str, int] = {}
    for c in cycle_spans:
        top = max(by_parent.get(c.id, []), key=lambda s: s.dur)
        largest[top.name] = largest.get(top.name, 0) + 1
    ctx.info("trace.largest_cycle_span", max(largest, key=largest.get), "name", str(largest))
