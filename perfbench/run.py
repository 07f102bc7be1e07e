"""labelmain_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload corpus_keys --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``label_refresh``: closed-loop label refresh with one client. Publish a
  burst of report pages, let the running ``paged_json`` stream merge it
  into a new store version (``foreachBatch``: ``labelstore.store`` then
  ``labelstore.layout``), then point-look-up a few addresses.
- ``corpus_keys``: an exec-bound and a build-bound registry key over the
  seeded corpus.

End-to-end metrics (every workload prints both):

- ``setup_s``: process start until the session is built, ``paged_json``
  is registered and the untimed warm pass (or warm cycle) has run. Input
  generation, oracle preparation and output checks are excluded.
- ``wall_s``: the median time of one unit of the workload. For
  ``corpus_keys`` a pass over the key list (registry callable, noop-sink
  write and ``release_caches`` per key); for ``label_refresh`` one cycle
  of the closed loop (publish, commit of the new store version, and the
  checked lookups).

``label_refresh`` also prints ``ingest_rows_per_s``, ``refresh_p50_s``,
``lookup_p50_ms`` and the tails, and every run prints ``error_rate``
(failed over attempted operations, also in the result's ``failed`` and
``attempted``), as ``metric`` lines.

Every input is generated from ``--seed`` under ``.bench_work/`` in the
checkout. Every output is checked: key results against their DuckDB
twins, lookups against the generator's ground truth, the final store
against a DuckDB consolidation of every published row.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that records spans around every call into a layer (written to
``.bench_work/traces/``) and prints the per-layer metrics. Human-readable
``metric`` lines and a run-conditions stamp come first; the last line of
stdout is the JSON result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tracing  # noqa: E402

WORKLOADS = ["label_refresh", "corpus_keys"]

# Spark task threads per workload, half the cores of a 4-core box: a stage
# waits for its slowest task, so a task thread on a core the host takes
# away (steal time) slows the whole stage. corpus_keys runs many small
# jobs whose time is scheduling and JIT-bound; its median pass time spread
# 0.35 over nine seeds (quartile distance over median) with 4 task
# threads, and 0.06 over ten with 2. label_refresh cycles spread 0.17 over
# ten seeds with 4 threads and 0.22 over ten with 3; slow runs went with
# high steal time.
CPUS = {"label_refresh": 2, "corpus_keys": 2}
# The Spark JVM compiles with C1 only. With the default tiered JIT, C2
# compilation during the timed passes set otherwise identical runs apart:
# corpus_keys passes read 2.7-3.9 s over four seeds against 4.3-4.6 s
# with C1 only, and label_refresh cycles were slower (8.0-8.8 s against
# 6.2-7.2 s), on the same 4-core box, interleaved.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
MIN_UNITS = 3  # timed passes or cycles per run, at the least

END_TO_END = {"setup_s": "s", "wall_s": "s"}
PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "build.stages": "count", "build.tasks": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "plan.exchanges": "count", "plan.broadcast_exchanges": "count",
    "plan.inmemory_scans": "count", "plan.python_eval_nodes": "count",
    "session.cached_mb_after": "MB", "session.jvm_peak_rss_mb": "MB",
    "paged.read_s": "s", "paged.tasks": "count", "paged.rows_per_s": "rows/s",
    "streaming.latest_offset_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.trigger_ms": "ms",
    "store.merge_s": "s", "store.addrs": "count", "store.write_amp": "ratio",
    "layout.files_written": "count", "layout.lookup_jobs": "count",
    "layout.lookup_tasks": "count",
    "control.duckdb_s": "s",
}


class Run:
    """State of one benchmark run, shared by the workload modules."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self._corrupt = args.corrupt
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or min(CPUS[self.workload], os.cpu_count() or 4))
        base = os.path.join(ROOT, ".bench_work")
        self.work = os.path.join(base, f"run-{self.workload}-{self.seed}-{os.getpid()}")
        self.traces = os.path.join(base, "traces")
        self.results = os.path.join(base, "results")
        self.data_dir = os.path.join(self.work, "data")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.lines: list[str] = []
        self._untimed = 0.0
        self.spark = None
        self.tracer: tracing.Tracer | None = None

    # ---- set-up -------------------------------------------------------------

    @contextmanager
    def untimed(self):
        """Work excluded from ``setup_s``: input generation, oracle
        preparation and output checks."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._untimed += time.perf_counter() - t0

    def start_session(self):
        """Build the session the way the library does, with the run's
        scratch inside the checkout and ``labelmain_spark`` on the Python
        workers' path (the ``paged_json`` reader runs there)."""
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.work, "warehouse")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

        from labelmain_spark.session import build_session
        from labelmain_spark.sources import paged

        self.spark = build_session(
            app_name=f"perfbench_{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp {JIT_OPTS}",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "50000",
            },
        )
        paged.register(self.spark)
        self.tracer = tracing.Tracer(self.spark.sparkContext, f"{self.workload}-{self.seed}", self.trace)
        return self.spark, self.tracer

    def setup_done(self) -> None:
        self.e2e["setup_s"] = (time.perf_counter() - T_PROCESS - self._untimed, "s")

    def another(self, durations: list[float], t_end: float) -> bool:
        """Whether to start another timed unit (pass or cycle): always
        until there are ``MIN_UNITS``, then only if it should end within
        a quarter of the run length past the deadline. Units are long,
        and overshooting by a whole one would stretch the run."""
        if len(durations) < MIN_UNITS:
            return True
        return time.perf_counter() + durations[-1] <= t_end + 0.25 * self.seconds

    # ---- checks -------------------------------------------------------------

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:400])
        print(f"# FAIL {msg[:400]}", file=sys.stderr, flush=True)

    def corrupt(self, value):
        """``--corrupt`` damages the first output checked, so the self-
        check can see that a wrong output is counted as a failure."""
        if not self._corrupt:
            return value
        self._corrupt = False
        if hasattr(value, "iloc"):  # pandas result: drop a row, or add one
            return value.iloc[1:] if len(value) else value.head(0).reindex([0])
        return None

    # ---- per-action observations (traced runs only) -------------------------

    def plan_mark(self) -> int:
        return tracing.last_execution_id(self.spark) if self.trace else -1

    def observe_action(self, timer, mark: int) -> None:
        """After an action, outside its span: final AQE plan node counts
        and storage memory still held (before ``release_caches``)."""
        if not self.trace:
            return
        attrs = timer.span.attrs
        attrs.update(tracing.plan_counts_since(self.spark, mark))
        jsc = self.spark.sparkContext._jsc.sc()
        attrs["cached_mb"] = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo()) / 2**20

    # ---- metrics ------------------------------------------------------------

    def metric(self, name: str, value: float, unit: str) -> None:
        self.e2e[name] = (value, unit)

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = (value, PER_LAYER[name])

    def info(self, name: str, value, unit: str, note: str = "") -> None:
        v = f"{value:.6g}" if isinstance(value, float) else str(value)
        self.lines.append(f"metric {name} = {v} {unit}{'  (' + note + ')' if note else ''}")

    def tail_info(self, name: str, xs: list[float], unit: str) -> None:
        """The highest percentile with at least ten samples beyond it,
        printed with that percentile and the sample count."""
        xs = sorted(xs)
        n = len(xs)
        if n <= 10:
            self.info(f"{name}_tail", "n/a", unit, f"n={n}, fewer than 11 samples")
            return
        pct = 100.0 * (n - 10) / n
        self.info(f"{name}_tail", xs[n - 11], unit, f"p{pct:.0f}, n={n}")

    def layers_from_spans(self, unit_name: str) -> None:
        """Per-layer metrics from the trace: sums over the build and exec
        spans under each ``unit_name`` span (one pass or one cycle), then
        the median over units; per-key detail goes to the report."""
        if not self.trace:
            return
        tr = self.tracer
        tr.finish()
        kids: dict[int, list] = {}
        for sp in tr.spans:
            kids.setdefault(sp.parent, []).append(sp)

        def under(sp):
            for c in kids.get(sp.id, []):
                yield c
                yield from under(c)

        units = [sp for sp in tr.spans if sp.name == unit_name]
        per_unit: dict[str, list[float]] = {}
        per_key: dict[str, list[float]] = {}
        for u in units:
            acc: dict[str, float] = {}
            for sp in under(u):
                for k, v in sp.attrs.items():
                    if k in ("exchanges", "broadcast_exchanges", "inmemory_scans", "python_eval_nodes"):
                        acc[f"plan.{k}"] = acc.get(f"plan.{k}", 0) + v
                    elif k == "cached_mb":
                        acc["session.cached_mb_after"] = max(acc.get("session.cached_mb_after", 0.0), v)
                if sp.kind not in ("build", "exec"):
                    continue
                for f in ("s", "jobs", "stages", "tasks"):
                    v = sp.dur if f == "s" else getattr(sp, f)
                    acc[f"{sp.kind}.{f}"] = acc.get(f"{sp.kind}.{f}", 0) + v
                key = sp.attrs.get("key")
                if key:
                    per_key.setdefault(f"{sp.kind}.{key}.s", []).append(sp.dur)
                    per_key.setdefault(f"{sp.kind}.{key}.jobs", []).append(sp.jobs)
            for k, v in acc.items():
                per_unit.setdefault(k, []).append(v)
        for name in PER_LAYER:
            if name.split(".")[0] in ("build", "exec", "plan") or name == "session.cached_mb_after":
                self.layer(name, statistics.median(per_unit.get(name) or [0]))
        for name, vs in sorted(per_key.items()):
            self.info(name, statistics.median(vs), "s" if name.endswith(".s") else "count")
        self.info("trace.units", len(units), "count")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def versions() -> dict[str, str]:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size relative to sf0.1 (only the self-check changes it)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the first checked output (self-check only)")
    args = ap.parse_args()

    import labelmain_spark  # noqa: F401 - fail fast outside a checkout of the repo
    import oracle

    run = Run(args)
    stamp = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": int(run.trace), "scale": run.scale,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpus_used": run.cpus, "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        **versions(),
    }
    os.makedirs(run.work, exist_ok=True)
    try:
        with run.untimed():
            control_s = oracle.control_query_s(run.cpus)
            if run.workload == "corpus_keys":
                import corpus

                gen.write_documents(run.data_dir, run.seed, run.scale)
        if run.workload == "label_refresh":
            import refresh

            refresh.run(run)
        else:
            corpus.run(run)
        rss = jvm_peak_rss_mb(run.spark)
        if run.trace:
            os.makedirs(run.traces, exist_ok=True)
            run.tracer.dump(os.path.join(run.traces, f"{run.workload}-seed{run.seed}.jsonl"))
    finally:
        if run.spark is not None:
            run.spark.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    stamp["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    stamp["control.duckdb_s"] = round(control_s, 4)
    run.layer("control.duckdb_s", control_s)
    run.layer("session.jvm_peak_rss_mb", rss)
    if run.trace:
        for name in PER_LAYER:  # layers this workload never touches ran no work
            run.layers.setdefault(name, (0, PER_LAYER[name]))

    wall_file = os.path.join(run.results, f"{run.workload}-seed{run.seed}.json")
    if run.trace:
        try:
            with open(wall_file) as f:
                untraced = json.load(f)["wall_s"]
            run.info("trace.overhead_s", run.e2e["wall_s"][0] - untraced, "s",
                     "traced wall_s minus the untraced run's, same seed")
        except (OSError, KeyError, ValueError):
            run.info("trace.overhead_s", "n/a", "s", "no untraced run with this seed yet")
    else:
        os.makedirs(run.results, exist_ok=True)
        with open(wall_file, "w") as f:
            json.dump({"wall_s": run.e2e["wall_s"][0]}, f)

    print("run " + json.dumps(stamp, sort_keys=True))
    for name, (v, unit) in {**run.e2e, **run.layers}.items():
        run.info(name, v, unit)
    run.info("error_rate", run.failed / max(run.attempted, 1), "ratio",
             f"{run.failed}/{run.attempted}")
    for line in run.lines:
        print(line)
    for e in run.errors[:20]:
        print(f"error {e}")
    chosen = {n: run.e2e[n] for n in END_TO_END} if not run.trace else run.layers
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


CHILD_ENV = "PERFBENCH_CHILD"  # set in the supervised benchmark process
STOP_GRACE_S = 20.0  # SIGTERM, then SIGKILL for what is left after this


def _session_procs(sid: int) -> dict[int, str]:
    """Process id to state of every process in session ``sid``, zombies
    included."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid:
            procs[int(d)] = state
    return procs


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _stop_session(sid: int) -> None:
    """Stop every process of session ``sid`` and wait until each has ended
    and been reaped. Orphans of the session are this process's children
    (it is their subreaper), so their zombies are reaped here too."""
    deadline = time.monotonic() + STOP_GRACE_S
    sig = signal.SIGTERM
    while True:
        _reap()
        procs = _session_procs(sid)
        if not procs or time.monotonic() > deadline + STOP_GRACE_S:
            return
        for pid, state in procs.items():
            if state != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def supervise() -> int:
    """Run the benchmark in a child process with a session of its own,
    then stop whatever of that session is still running. The Spark JVM
    and its Python workers otherwise outlive the benchmark process by a few
    seconds. This process is their subreaper, so it can reap them."""
    import ctypes
    import subprocess

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                             env={**os.environ, CHILD_ENV: "1"}, start_new_session=True)
    try:
        code = child.wait()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        _stop_session(child.pid)
    return code if code >= 0 else 1


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise())
