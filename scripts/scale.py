"""One measurement harness: registry keys on seeded scale tiers, timed
layer by layer, on one checkout or as an interleaved A/B of two.

Usage:
  python scripts/scale.py --keys quality_kn5_nll --tier docs:x20
  python scripts/scale.py --keys a+b,a,b --pairs 5 --trees ../parent,.

--keys   comma-separated sessions; ``+`` joins keys that share one
         Spark session (run in order, caches released between keys).
--tier   ``docs:xN``, ``events:xN``, ``vectors:N``, ``zipf:xN``,
         ``vocab:V``, or any sf directory (default: $SPARK_GRAFT_SF_DIR
         or the sf0.1 fixture).
--pairs  how many times every tree runs every session. Pair i runs the
         trees in the given order for even i and reversed for odd i.
--trees  comma-separated checkouts (default: this one). A plan variant
         or a forced constant is a separate copy of the tree, not a flag.

Each session runs in a fresh Spark subprocess whose working directory
and PYTHONPATH are the tree, so the driver and its Python workers
import that tree's library. Per key it calls the key once (filling the
row-count memo), releases, then records build and exec seconds, jobs
and tasks (``checks.jobs_and_tasks``), the exchange count
(``checks.count_exchanges``) and the cached bytes before and after
``release_caches``, and writes the formatted final plan of the timed
write beside the records. After each tree's sessions exit, the DuckDB
control runs the keys' oracle SQL in its own process, with a
``memory_limit`` of half the machine's available memory, a
``temp_directory`` to spill to, and ``DUCK_TIMEOUT_S`` per query.

Records land in ``.scale_runs/<stamp>/records.jsonl``; a markdown
summary goes to stdout. Tiers are written once under
``.scale_fixtures/<tier>/`` and reused; a path is never rewritten.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIXTURES = ROOT / ".scale_fixtures"
BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROW_GROUP = 16384  # splittable: a one-group file scans as one task
# Per oracle query: user_components' recursive CTE on events:x4 ran
# past 17 CPU-minutes and 7.6 GB without finishing.
DUCK_TIMEOUT_S = 600

WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS, LANG_W = ["en", "zh", "es", "fr", "de"], [0.40, 0.15, 0.15, 0.15, 0.15]
P_EXACT_DUP, P_NEAR_DUP = 0.003, 0.04
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
BASE_EVENTS, BASE_USERS = 100_000, 1_500
DIM = 64
ZIPF_V, ZIPF_S = 5000, 1.05
VOCAB_DOCS, VOCAB_TOKS = 60_000, 100


# ---- tiers ----------------------------------------------------------------


def _text(rng: random.Random, texts: list[str], i: int, first: int, pick) -> str:
    """One generated document: an exact copy of an earlier one, a
    near copy (its first 70% of tokens, a fresh tail), or fresh
    tokens, 10-100 of them. Copies start after document ``first``."""
    r = rng.random()
    if r < P_EXACT_DUP and i > first:
        return texts[rng.randrange(i)]
    if r < P_EXACT_DUP + P_NEAR_DUP and i > first:
        toks = texts[rng.randrange(i)].split(" ")
        cut = max(1, int(len(toks) * 0.7))
        return " ".join(toks[:cut] + pick(len(toks) - cut))
    return " ".join(pick(rng.randint(10, 100)))


def _documents(texts: list[str], langs: list[str], sources: list[str]):
    import pyarrow as pa

    return pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _docs(scale: int):
    """sf0.1 documents verbatim, then seeded rows up to ``scale``×,
    uniform over the 30-word vocabulary (x1 is the sf0.1 table)."""
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(BASE, "documents.parquet"))
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    sources = base.column("source").to_pylist()
    rng = random.Random(4242 + scale)
    n_base = len(texts)
    for i in range(n_base, n_base * scale):
        texts.append(_text(rng, texts, i, n_base, lambda k: [rng.choice(WORDS) for _ in range(k)]))
        langs.append(rng.choices(LANGS, LANG_W)[0])
        sources.append(f"src{rng.randrange(20)}")
    return _documents(texts, langs, sources)


def _zipf(scale: int):
    """5,000 × ``scale`` documents of Zipf(1.05) tokens over 5,000
    words, with the docs tier's copy rates: the natural-text shape."""
    rng = random.Random(777 + scale + 1)
    vocab = [f"w{k}" for k in range(ZIPF_V)]
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(ZIPF_V)]
    texts: list[str] = []
    for i in range(5000 * scale):
        texts.append(_text(rng, texts, i, 0, lambda k: rng.choices(vocab, weights, k=k)))
    n = len(texts)
    return _documents(texts, ["en"] * n, [f"src{i % 20}" for i in range(n)])


def _vocab(v: int):
    """60,000 documents × 100 tokens drawn uniformly from ``v`` words."""
    rng = random.Random(77 + v)
    words = [f"w{i:05d}" for i in range(v)]
    texts = [" ".join(rng.choice(words) for _ in range(VOCAB_TOKS)) for _ in range(VOCAB_DOCS)]
    return _documents(texts, ["en"] * VOCAB_DOCS, ["src0"] * VOCAB_DOCS)


def _vectors(n: int):
    """``n`` seeded gaussian 64-d embeddings, labels 0-4."""
    import numpy as np
    import pyarrow as pa

    v = np.random.RandomState(7).standard_normal((n, DIM)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(v.tolist(), pa.list_(pa.float32())),
        "label": pa.array([i % 5 for i in range(n)], pa.int32()),
    })


def _events(scale: int):
    """sf0.1 events verbatim, then seeded rows up to ``scale``×: a
    30-day window, uniform event types, and a user pool that grows
    with the tier, so per-user density stays the same."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(BASE, "events.parquet"))
    n = BASE_EVENTS * (scale - 1)
    rng = np.random.RandomState(911 + scale)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t1 = np.datetime64("2024-01-31T00:00:00", "us").astype(np.int64)
    ts = rng.randint(t0, t1, size=n).astype("datetime64[us]")
    new = pa.table({
        "event_id": pa.array(range(BASE_EVENTS, BASE_EVENTS + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(BASE_USERS + rng.randint(0, max(1, BASE_USERS * (scale - 1)), size=n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.randint(0, len(EVENT_TYPES), size=n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.randint(0, 100, size=n)]),
    })
    i = base.schema.get_field_index("ts")
    base = base.set_column(i, "ts", base.column("ts").cast(pa.timestamp("us")))
    return pa.concat_tables([base.select(new.column_names), new])


# name -> (generator, table written, row-group size). vocab keeps the
# 4k-row groups the cap measurement in PERF.md used.
TIERS = {
    "docs": (_docs, "documents", ROW_GROUP),
    "zipf": (_zipf, "documents", ROW_GROUP),
    "vocab": (_vocab, "documents", 4096),
    "vectors": (_vectors, "embeddings", ROW_GROUP),
    "events": (_events, "events", ROW_GROUP),
}


def tier(spec: str, root: Path = FIXTURES) -> str:
    """The sf directory for ``spec``, writing the tier first if absent.
    A file is written under a temporary name and renamed into place,
    so an interrupted write never leaves a table to reuse."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    name, _, size = spec.partition(":")
    if name not in TIERS or not size.lstrip("x").isdigit():
        raise SystemExit(f"unknown tier {spec!r}: one of {sorted(TIERS)} or an sf dir")
    gen, table, row_group = TIERS[name]
    out_dir = root / spec.replace(":", "_")
    out = out_dir / f"{table}.parquet"
    if not out.exists():
        import pyarrow.parquet as pq

        out_dir.mkdir(parents=True, exist_ok=True)
        tmp = out.with_suffix(".tmp")
        pq.write_table(gen(int(size.lstrip("x"))), tmp, row_group_size=row_group)
        os.replace(tmp, out)
    return str(out_dir)


# ---- children: one Spark session, one DuckDB control ------------------------


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _last_plan(spark) -> str:
    """The formatted final plan of the session's last SQL execution
    (Spark's ``spark.sql.ui.explainMode`` defaults to formatted)."""
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList(store.executionsCount() - 1, 1).apply(0).physicalPlanDescription()


def measure(spark, fn, sf_dir: str, plan_path: Path) -> dict:
    """One key's record: a first call fills the row-count memo and is
    released, then the counted build and noop-sink exec, the plan, and
    the cache left before and after ``release_caches``."""
    from labelmain_spark.plans import checks
    from labelmain_spark.session import release_caches

    fn(spark, sf_dir)
    release_caches(spark)
    rec: dict = {}
    out: dict = {}

    def timed(phase, f):
        def run():
            t0 = time.perf_counter()
            f()
            rec[f"{phase}_s"] = round(time.perf_counter() - t0, 3)

        rec[f"{phase}_jobs"], rec[f"{phase}_tasks"] = checks.jobs_and_tasks(spark, run)

    timed("build", lambda: out.setdefault("df", fn(spark, sf_dir)))
    timed("exec", lambda: out["df"].write.format("noop").mode("overwrite").save())
    rec["exchanges"] = checks.count_exchanges(out["df"])
    plan_path.parent.mkdir(parents=True, exist_ok=True)
    plan_path.write_text(_last_plan(spark))
    rec["plan"] = str(plan_path)
    rec["cached_bytes"] = _cached_bytes(spark)
    release_caches(spark)
    rec["cached_after_release"] = _cached_bytes(spark)
    return rec


def spark_child(sf_dir: str, keys: list[str], plan_dir: str) -> None:
    from labelmain_spark import registry
    from labelmain_spark.session import build_session

    spark = build_session(app_name="scale", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.read.parquet(str(next(Path(sf_dir).glob("*.parquet")))).count()  # warm the JVM
    qs = registry.queries()
    for key in keys:
        rec = measure(spark, qs[key], sf_dir, Path(plan_dir) / f"{key}.txt")
        print(json.dumps({"key": key, **rec}), flush=True)
    spark.stop()


def duck_memory_limit() -> str:
    """Half of the memory the machine has available now: an unbounded
    oracle once grew to 82 GB at docs:x200 and was OOM-killed."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
    return f"{kb // 2048}MB"


def duck_connect(sf_dir: str, temp_dir: str):
    import duckdb

    con = duckdb.connect(config={"memory_limit": duck_memory_limit(), "temp_directory": temp_dir})
    con.execute("SET enable_progress_bar = false")  # it writes to stdout, where the records go
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def duck_child(sf_dir: str, keys: list[str], temp_dir: str) -> None:
    """Each key's oracle query, timed; one that runs past
    ``DUCK_TIMEOUT_S`` is interrupted and recorded as a timeout."""
    import duckdb

    from labelmain_spark import registry

    oracle = registry.oracle_sql()
    con = duck_connect(sf_dir, temp_dir)
    for key in keys:
        if key not in oracle:
            continue
        timer = threading.Timer(DUCK_TIMEOUT_S, con.interrupt)
        t0 = time.perf_counter()
        timer.start()
        try:
            rec = {"duck_rows": len(con.execute(oracle[key]).fetchall())}
            rec["duck_s"] = round(time.perf_counter() - t0, 3)
        except duckdb.InterruptException:
            rec = {"duck_error": "timeout"}
        except duckdb.Error as exc:
            rec = {"duck_error": f"{type(exc).__name__}: {str(exc)[:200]}"}
        finally:
            timer.cancel()
        print(json.dumps({"key": key, **rec}), flush=True)
    con.close()


def _child(tree: Path, fn: str, *args) -> list[dict]:
    """Run ``scale.<fn>(*args)`` in a fresh interpreter that imports
    ``tree``'s library, and return the JSON lines it printed."""
    code = (
        f"import sys; sys.path[:0] = [{str(tree)!r}, {str(ROOT / 'scripts')!r}]; "
        f"import scale; scale.{fn}(*{args!r})"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(tree), os.environ.get("PYTHONPATH")) if p))
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    p = subprocess.run([sys.executable, "-c", code], cwd=tree, env=env,
                       stdout=subprocess.PIPE, text=True)
    if p.returncode:
        print(f"# {fn} in {tree} exited {p.returncode}", file=sys.stderr)
    return [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]


# ---- the loop and its summary ---------------------------------------------


def _stats(xs: list[float]) -> tuple[float, float, float]:
    """(median, Q1, Q3)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def _summary(records: list[dict], n_trees: int) -> str:
    rows: dict[tuple, list[dict]] = {}
    for r in records:
        rows.setdefault((r["session"], r["key"], r["tree"]), []).append(r)
    head = "| session | key | tree | spark s median [Q1, Q3] | build/exec jobs | exchanges | cached MB | duck s | spark/duck |"
    out = [head, "|" + "---|" * 9]
    for (s, key, t), rs in sorted(rows.items()):
        sp = _stats([r["build_s"] + r["exec_s"] for r in rs])
        du = [r["duck_s"] for r in rs if "duck_s" in r]
        duck = statistics.median(du) if du else None
        jobs = sorted({f"{r['build_jobs']}/{r['exec_jobs']}" for r in rs})
        ex = sorted({str(r["exchanges"]) for r in rs})
        mb = max(r["cached_bytes"] for r in rs) / 2**20
        ratio = f"{sp[0] / duck:.2f}" if duck else "—"
        errs = {r["duck_error"][:40] for r in rs if "duck_error" in r}
        duck_cell = f"{duck:.2f}" if duck is not None else (", ".join(errs) or "—")
        out.append(f"| {s} | `{key}` | {t} | {sp[0]:.2f} [{sp[1]:.2f}, {sp[2]:.2f}] "
                   f"| {', '.join(jobs)} | {', '.join(ex)} | {mb:.1f} | {duck_cell} | {ratio} |")
    if n_trees == 2:
        out += ["", "| session | key | tree 0 | tree 1 | 1 − 0 | tree 0 Q3 − Q1 | tree 1 lower |",
                "|" + "---|" * 7]
        for (s, key, t), rs in sorted(rows.items()):
            if t:
                continue
            a = {r["pair"]: r["build_s"] + r["exec_s"] for r in rs}
            b = {r["pair"]: r["build_s"] + r["exec_s"] for r in rows.get((s, key, 1), [])}
            pairs = sorted(a.keys() & b.keys())
            if not pairs:
                continue
            ma, qa1, qa3 = _stats([a[p] for p in pairs])
            mb_, _, _ = _stats([b[p] for p in pairs])
            lower = sum(b[p] < a[p] for p in pairs)
            out.append(f"| {s} | `{key}` | {ma:.2f} | {mb_:.2f} | {mb_ - ma:+.2f} "
                       f"| {qa3 - qa1:.2f} | {lower}/{len(pairs)} |")
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--keys", required=True)
    ap.add_argument("--tier", default=BASE)
    ap.add_argument("--pairs", type=int, default=1)
    ap.add_argument("--trees", default=str(ROOT))
    args = ap.parse_args()
    sf_dir = tier(args.tier)
    sessions = [s.split("+") for s in args.keys.split(",")]
    keys = list(dict.fromkeys(k for s in sessions for k in s))
    trees = [Path(t).resolve() for t in args.trees.split(",")]
    run_dir = ROOT / ".scale_runs" / time.strftime("%Y%m%dT%H%M%S")
    run_dir.mkdir(parents=True)
    records: list[dict] = []
    with open(run_dir / "records.jsonl", "w") as log:
        for pair in range(args.pairs):
            for tree in trees if pair % 2 == 0 else trees[::-1]:
                t = trees.index(tree)
                here = []
                for s, sess in enumerate(sessions):
                    plans = run_dir / "plans" / f"t{t}_p{pair}_s{s}"
                    for r in _child(tree, "spark_child", sf_dir, sess, str(plans)):
                        here.append({"tree": t, "pair": pair, "session": s, **r})
                duck = {r["key"]: r for r in _child(tree, "duck_child", sf_dir, keys, str(run_dir / "duck_tmp"))}
                for r in here:
                    r.update({k: v for k, v in duck.get(r["key"], {}).items() if k != "key"})
                    log.write(json.dumps(r) + "\n")
                    print(f"# pair {pair} tree {t} s{r['session']} {r['key']}: "
                          f"{r.get('build_s')}+{r.get('exec_s')} s, duck {r.get('duck_s')}", file=sys.stderr)
                log.flush()
                records += here
    cores = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    print(f"tier {args.tier} ({sf_dir}), {args.pairs} pair(s), local[{cores}], "
          f"trees {', '.join(f'{i}={t}' for i, t in enumerate(trees))}, records {run_dir}")
    print(_summary(records, len(trees)))


if __name__ == "__main__":
    main()
