"""The ``corpus_keys`` workload: registry keys over the seeded corpus.

One pass runs every key: the registry callable (the build phase:
``functions.*``, ``pipeline`` and ``operators.*`` planning plus their
construction-time jobs), then a noop-sink write of the returned plan
(the exec phase), then ``release_caches``. The untimed warm pass
collects each result instead and compares it with the key's DuckDB
twin.
"""

from __future__ import annotations

import statistics
import time

import oracle

KEYS = [
    # Exec-bound: a Jelinek-Mercer n-gram rung (shuffle-keyed count
    # tables joined back onto the gram stream), where plan, shuffle and
    # persist changes show.
    "quality_bigram_nll",
    # Build-bound: the unigram rung's exact-cardinality tier probe runs
    # at construction time, so a build-job budget shows here.
    "quality_unigram_nll",
]


def run(ctx) -> None:
    from labelmain_spark import registry
    from labelmain_spark.session import release_caches

    keys = KEYS
    with ctx.untimed():
        sqls = registry.oracle_sql()
        con = oracle.connect(ctx.data_dir, ["documents"], ctx.cpus)
        want = {k: oracle.expected(con, sqls[k]) for k in keys}
        con.close()
    spark, tr = ctx.start_session()
    qs = registry.queries()

    # Warm pass (part of set-up): JIT, codegen and the readers' memos
    # fill here, and each result is checked against its DuckDB twin.
    ran = []
    for k in keys:
        ctx.attempted += 1
        try:
            with tr.span(f"warm:{k}"):
                pdf = qs[k](spark, ctx.data_dir).toPandas()
                release_caches(spark)
            with ctx.untimed():
                ok = oracle.matches(ctx.corrupt(pdf), want[k])
        except Exception as e:  # noqa: BLE001 - a failed key is a counted failure
            ctx.fail(f"warm {k}: {type(e).__name__}: {e}")
            continue
        ran.append(k)
        if not ok:
            ctx.fail(f"warm {k}: result differs from its DuckDB twin")
    # One untimed noop pass more: the first noop pass after the checked
    # one still runs about 40% slow while the JIT warms.
    for k in ran:
        with tr.span(f"warm:{k}"):
            qs[k](spark, ctx.data_dir).write.format("noop").mode("overwrite").save()
            release_caches(spark)
    ctx.setup_done()

    passes: list[float] = []
    per_key: dict[str, list[float]] = {k: [] for k in keys}
    t_end = time.perf_counter() + ctx.seconds
    while ctx.another(passes, t_end):
        with tr.span("pass") as p:
            for k in keys:
                ctx.attempted += 1
                try:
                    with tr.span(f"key:{k}") as ks:
                        mark = ctx.plan_mark()
                        with tr.span(f"build:{k}", "build", key=k):
                            df = qs[k](spark, ctx.data_dir)
                        with tr.span(f"exec:{k}", "exec", key=k) as x:
                            df.write.format("noop").mode("overwrite").save()
                        ctx.observe_action(x, mark)
                        release_caches(spark)
                except Exception as e:  # noqa: BLE001
                    ctx.fail(f"{k}: {type(e).__name__}: {e}")
                    continue
                per_key[k].append(ks.dur)
        passes.append(p.dur)

    ctx.metric("wall_s", statistics.median(passes), "s")
    ctx.info("passes", len(passes), "count", " ".join(f"{v:.3f}" for v in passes))
    ctx.tail_info("wall", passes, "s")
    for k, vs in per_key.items():
        if vs:
            ctx.info(f"key.{k}.s", statistics.median(vs), "s")
    ctx.layers_from_spans("pass")

