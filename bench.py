"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec}, "sf": ..., "duck_total": ..., "dqv": [...]}
— "dqv" is the per-key DuckDB median vector aligned with the
"queries" dict's key order (null where a key has no dual-engine twin),
so every artifact carries its own per-key denominator.

Headline set = the heavier representatives of each operator family
(scan, agg, rollup, distinct, nest, explode, topk, ...); extended as
families land. Each query is executed SPARK_GRAFT_BENCH_N times
(default 3) as interleaved full passes over the list — pass-level
interleaving decorrelates this box's ±40% time-local contention from
query identity — with the cache cleared before every run so each
measurement is the cold-plan cost. Reported per-query time is the
MEDIAN across passes; "spread" records max-min per query so a
contention-squeezed round is visible in the artifact instead of
masquerading as a regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "scan_project",
    "filter_nonempty",
    "count_sum",
    "count_distinct",
    "collect_nested",
    "rollup_agg",
    "topk",
    "filter_null",
    "join_inner",
    "join_asof",
    "merge_upsert",
    "window_rank",
    "window_running",
    "reshape_3col",
    "regex_extract",
    "text_quality",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "similarity_topk",
    # udaf_grouped stays a §2.10 surface pin but is not headline: a
    # grouped-map over a 5-value key is deliberately not the scale-safe
    # plan; approx_quantiles (mergeable JVM sketch) is its scalable twin.
    "approx_quantiles",
    "parse_html_reports",
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    "order_priority_count",
    "customer_distribution",
    "top_supplier",
    "sessionize",
    "window_session",
    "time_rollup",
    "join_range",
    "label_consolidate",
    "doc_winnow",
    "contamination_check",
    "dedup_paragraph",
    "dedup_clusters",
    "shard_pack",
    "corpus_pipeline",
    "duplicate_spans",
    "remove_duplicate_spans",
    "funnel_match",
    "dsir_weights",
    "validate_constraints",
    "dedup_incremental",
    # round-5 close: one key per NEW family (variants of families
    # already in the set — url_canonical, mix_temperature, c4_line_
    # filter, pack_sequences — stay out; their families are
    # represented by domain_stats, mix_sources-class keys, text_
    # quality and shard_pack respectively).
    "dedup_incremental_near",
    "semantic_dedup",
    "knn_join",
    "chunk_documents",
    # round-6: the one new family (training-order randomization);
    # bpe_token_count / pack_sequences_bpe are variants of families
    # already represented (text_tokens-class, shard_pack-class).
    "corpus_shuffle",
    # round-7 new families: the incremental-lifecycle composition,
    # BM25 retrieval, and time-series gap fill. Excluded as variants:
    # sample_weighted (TakeOrdered top-N — topk-class), pagerank and
    # bpe_train (driver-coordinated iterative loops whose sf0.1 wall
    # is stage dispatch on a bounded graph/vocab, the family
    # dedup_clusters already measures), the PQ/IVF-PQ ANN keys
    # (ann/semantic family represented by semantic_dedup + knn_join).
    "corpus_incremental",
    "bm25_topk",
    "gap_fill",
    # late-r7: the NLL/LM-quality family's first bench representative
    # (its hardest member — the bigram table is the scale-interesting
    # shuffle; 2.3x DuckDB at x20 falling to 1.1-1.7x at x100), plus
    # the two NEW-family report keys the x20/x100 tiers measured
    # beating DuckDB outright (tag_and_filter 0.32x, the decision
    # layer; contamination_matrix 0.07x, the release-triage report).
    # The other late keys are map-only or variants of represented
    # families.
    "quality_bigram_nll",
    "tag_and_filter",
    "contamination_matrix",
]

# Second tracked group (r11, verdict item 6): the r8-r11-born hot keys
# the 56-key continuity set predates — round-over-round perf tracking
# was blind to the newest (and most expensive) surface. The original
# HEADLINE list stays untouched so "value"/"duck_total" remain
# comparable across rounds; this group is measured with the identical
# interleaved 3-pass median discipline and reported separately as
# "g2"/"g2_duck" in the primary line. (The two r11-born keys joined
# before g2's first shipped artifact, so its continuity starts whole.)
HEADLINE2 = [
    "ann_ivf_pq_seeded_topk",
    "heavy_hitters",
    "pagerank",
    "bm25_topk",
    "quality_kn5_nll",
    "quality_kn4_nll",
    "sample_group",
    "pack_bins_harmonic",
    "semantic_dedup_seeded",
    "ann_ivf_pq_frozen_topk",
    "dedup_simhash",
    "domain_rank",
    "cluster_topics",
    "pipeline_e2e",
    "cms_user_sketch",
    "group_quantiles",
    "card_drift",
    "dataset_card",
    "blocklist_filter",
    # late-r11 keys
    "hll_registers",
    "hll_grouped",
    "bloom_decontaminate",
    "embedding_drift",
    # r12-born keys — join g2 at birth like the late-r11 keys did;
    # r11→r12 g2 continuity comparisons must exclude them (PERF.md r12
    # reports both with/without)
    "split_leakage_safe",
    "sample_token_budget",
    "fim_transform",
    # r12-continuation keys — same join-at-birth rule
    "chat_sft_render",
    "dedup_prefix",
    "shard_manifest",
    "ann_recall_audit",
    "lsh_recall_audit",
    "containment_dedup",
]


# r14 (VERDICT #3, the phantom dropped_from_bench fix): when the
# primary line outgrows the driver's ~2000-char capture window and the
# per-key map must shrink, the selection used to be "top-40 slowest" —
# so each round's timing shifts changed WHICH ~0.7-0.9 s keys fell out,
# and the driver's round-over-round PERF diff reported keys that ran
# fine as dropped_from_bench (4 phantom rows each way in r13). The
# reported set is now PINNED: every key below (the union of r13's
# reported 40 and the 4 keys its truncation dropped) is always in the
# primary line, and remaining space is filled slowest-first from the
# rest. Additions-only: keys never leave this list; HEADLINE/HEADLINE2
# unchanged; the full record still lands in BENCH_DETAIL.json.
REPORT_PIN = [
    "ann_ivf_pq_frozen_topk", "ann_ivf_pq_seeded_topk", "ann_recall_audit",
    "bloom_decontaminate", "bm25_topk", "cluster_topics",
    "containment_dedup", "contamination_check", "contamination_matrix",
    "corpus_incremental", "corpus_pipeline", "dedup_clusters",
    "dedup_incremental_near", "dedup_minhash", "dedup_paragraph",
    "dedup_simhash", "doc_winnow", "domain_rank", "dsir_weights",
    "duplicate_spans", "embedding_drift", "filter_null", "gap_fill",
    "group_quantiles", "label_consolidate", "lsh_recall_audit",
    "ngram_jaccard", "pack_bins_harmonic", "pagerank",
    "parse_html_reports", "pricing_summary", "quality_bigram_nll",
    "quality_kn4_nll", "quality_kn5_nll", "region_revenue",
    "remove_duplicate_spans", "sample_token_budget", "semantic_dedup",
    "semantic_dedup_seeded", "shard_manifest", "shipping_priority",
    "split_leakage_safe", "time_rollup", "top_supplier",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from labelmain_spark import registry
    from labelmain_spark.session import build_session

    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    # Stop starting new passes past this wall budget so the JSON line is
    # always emitted even under an external runner's timeout — medians
    # of the completed passes beat a killed process with no output.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))

    spark = build_session(app_name="labelmain_spark_bench")
    qs = registry.queries()
    keys = [k for k in HEADLINE if k in qs]
    # Group-2 keys are measured in the same interleaved passes; a key
    # in both groups (bm25_topk) is measured once and counted in both
    # group totals.
    keys += [k for k in HEADLINE2 if k in qs and k not in keys]

    # Warm the JVM/codegen path once so per-query timings measure the
    # engine, not session startup.
    try:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    except Exception as e:  # noqa: BLE001 — warm-up is best-effort
        print(f"# warm-up failed: {e}", file=sys.stderr)

    t_start = time.time()
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    samples: dict[str, list[float]] = {k: [] for k in keys}
    errors: dict[str, str] = {}
    passes_done = 0
    for p in range(n_passes):
        if p > 0 and time.time() - t_start > budget_s:
            print(f"# budget {budget_s}s hit after {p} passes", file=sys.stderr)
            break
        for key in keys:
            if key in errors:  # failed once — don't burn budget retrying
                continue
            # Cold-plan each run: several queries persist shared
            # intermediates (e.g. the exploded-shingle table); without
            # the clear, passes 2..n would measure the warm cache.
            spark.catalog.clearCache()
            t0 = time.time()
            # One broken query must never zero the whole artifact
            # (round-3 postmortem: a plan-time AnalysisException in one
            # key erased all 34 numbers). Record the error per-key and
            # keep measuring the rest.
            #
            # The timed action is a NOOP-SINK WRITE, not count():
            # Catalyst prunes columns a count never reads, so map-only
            # queries (pii_scrub, string_norm, ...) were measuring
            # scheduling, not their expressions (measured 6× under-
            # report on pii_scrub). The noop sink evaluates every
            # output column, matching what DuckDB's fetchall pays.
            try:
                qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — record and continue
                errors[key] = f"{type(e).__name__}: {e}"[:300]
                print(f"# pass {p + 1}/{n_passes} {key}: ERROR {errors[key]}", file=sys.stderr)
                continue
            dt = round(time.time() - t0, 3)
            samples[key].append(dt)
            print(f"# pass {p + 1}/{n_passes} {key}: {dt}s", file=sys.stderr)
        passes_done = p + 1

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {k: median(v) for k, v in samples.items() if v}
    spread = {k: round(max(v) - min(v), 3) for k, v in samples.items() if v}

    # "value" stays the ORIGINAL 56-key group total for round-over-round
    # continuity; group 2 totals ride separate fields.
    g1 = [k for k in HEADLINE if k in timings]
    g2 = [k for k in HEADLINE2 if k in timings]
    total = round(sum(timings[k] for k in g1), 3)
    g2_total = round(sum(timings[k] for k in g2), 3)

    # DuckDB denominator, measured in the SAME process right after the
    # Spark passes (r5 verdict item 7): the driver's box carries
    # ~1.3-1.5× time-local contention vs an idle box, so a Spark total
    # compared against a BASELINE.md number measured at a different
    # time conflates contention with regression. Running the identical
    # oracle SQL serialized here gives every artifact its own
    # same-session denominator. Same pass count, median per key.
    duck_timings: dict[str, float] = {}
    duck_total = None
    try:
        import duckdb

        oracles = registry.oracle_sql()
        duck_keys = [k for k in keys if k in oracles and k not in errors]
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        duck_samples: dict[str, list[float]] = {k: [] for k in duck_keys}
        duck_budget = float(os.environ.get("SPARK_GRAFT_DUCK_BUDGET", "150"))
        t_duck = time.time()
        for p in range(passes_done or 1):
            if p > 0 and time.time() - t_duck > duck_budget:
                print(f"# duck budget hit after {p} passes", file=sys.stderr)
                break
            for key in duck_keys:
                t0 = time.time()
                try:
                    con.execute(oracles[key]).fetchall()
                except Exception as e:  # noqa: BLE001 — denominator is best-effort
                    print(f"# duck {key}: ERROR {e}", file=sys.stderr)
                    duck_keys = [k for k in duck_keys if k != key]
                    # drop the key's earlier samples too: a
                    # partial-pass median entering duck_total would
                    # quietly compare unequal sample counts against
                    # the full-pass Spark medians
                    duck_samples.pop(key, None)
                    continue
                duck_samples[key].append(round(time.time() - t0, 3))
        con.close()
        duck_timings = {k: median(v) for k, v in duck_samples.items() if v}
        # Sum the denominator ONLY over keys measured on both engines
        # so spark_total/duck_total compare identical work — per group,
        # so duck_total stays comparable to r01-r10 artifacts.
        both1 = set(duck_timings) & set(timings) & set(g1)
        both2 = set(duck_timings) & set(timings) & set(g2)
        duck_total = round(sum(duck_timings[k] for k in both1), 3)
        spark_common = round(sum(timings[k] for k in both1), 3)
        g2_duck_total = round(sum(duck_timings[k] for k in both2), 3)
        g2_spark_common = round(sum(timings[k] for k in both2), 3)
    except Exception as e:  # noqa: BLE001 — never cost the Spark artifact
        print(f"# duck twin skipped: {e}", file=sys.stderr)
        spark_common = None
        g2_duck_total = g2_spark_common = None
    # The round driver keeps only the LAST ~2000 chars of output
    # (BENCH_r04: the primary line + per-key spread overflowed that
    # window and the head of the JSON was cut → parsed:null). So the
    # per-key spread/errors detail goes on its OWN line first, and the
    # compact primary line is the ABSOLUTE last thing printed — after
    # spark.stop(), whose shutdown chatter would otherwise land below
    # it — sized to fit the capture window with margin.
    # Run-conditions stamp (r11 verdict item 5): BENCH_DETAIL.json and
    # the primary line must be cross-auditable — r11 shipped a detail
    # file from a contended window (Spark 97.8 s) next to a round-close
    # headline (71.4 s) on identical code, reconstructing a phantom
    # contradiction. Both artifacts now carry the SAME stamp (wall-
    # clock window + box load at start/end), so an auditor can see at
    # a glance whether two artifacts came from the same run and what
    # the box looked like while it ran.
    run_conditions = {
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(t_start)),
        "wall_s": round(time.time() - t_start, 1),
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "n_passes_requested": n_passes,
    }
    detail = {"spread": spread, "passes": passes_done,
              "spark_queries": timings, "run_conditions": run_conditions}
    if errors:
        detail["errors"] = errors
    if duck_timings:
        detail["duck_queries"] = duck_timings
    print(json.dumps({"bench_detail": detail}, separators=(",", ":")))
    # The primary line truncates past 40 keys (driver capture window),
    # so the FULL per-key record also lands in a committed artifact —
    # round-over-round tracking must not lose exactly the keys that
    # got fast enough to fall out of the top-40.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump({"sf": sf, **detail}, fh, indent=1, sort_keys=True)
    except Exception as e:  # noqa: BLE001 — never cost the artifact
        print(f"# detail file skipped: {e}", file=sys.stderr)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        # 2-dp in the primary line (full 3-dp medians ride the detail
        # line): with 75 tracked keys the extra digit would push the
        # line past the driver's ~2000-char capture and trigger the
        # top-40 truncation — worse than the lost precision.
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "passes": passes_done,
        "sf": sf,
        "g2_total": g2_total,
        # compact run-conditions echo: full stamp in BENCH_DETAIL.json
        "run_utc": run_conditions["started_utc"],
        "load1": run_conditions["loadavg_end"][0],
    }
    if duck_total is not None:
        out["duck_total"] = duck_total
        out["spark_common_total"] = spark_common
        out["n_duck_keys"] = len(duck_timings)
        if g2_duck_total is not None:
            out["g2_duck_total"] = g2_duck_total
            out["g2_spark_common"] = g2_spark_common
        # Per-key DuckDB medians IN the parsed artifact (r6 verdict
        # item 7): values aligned with the "queries" dict's key order
        # (JSON object order is preserved), null = no dual-engine
        # twin for that key — compact enough to fit the driver's
        # 2000-char capture alongside the Spark timings.
        out["dqv"] = [duck_timings.get(k) for k in timings]
    if errors:
        out["n_errors"] = len(errors)
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # never let the primary line outgrow the capture
        # Shed detail in order of least information per byte: first
        # the aligned duck vector, then the spark per-key tail.
        out.pop("dqv", None)
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        # STABLE truncation (see REPORT_PIN): pinned continuity keys
        # always report; the rest join slowest-first while the line
        # still fits the capture window.
        out["queries_truncated"] = True
        keep = [k for k in REPORT_PIN if k in timings]
        rest = sorted(
            (k for k in timings if k not in set(REPORT_PIN)),
            key=timings.get,  # type: ignore[arg-type]
            reverse=True,
        )
        def _render(ks: list[str]) -> str:
            out["queries"] = {k: round(timings[k], 2) for k in ks}
            return json.dumps(out, separators=(",", ":"))
        for k in rest:
            if len(_render(keep + [k])) > 1900:
                break
            keep = keep + [k]
        line = _render(keep)
        while len(line) > 1900 and keep:  # paranoia: never overflow
            keep = sorted(keep, key=timings.get, reverse=True)[:-1]  # type: ignore[arg-type]
            line = _render(keep)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — shutdown noise must not cost the artifact
        pass
    print(line, flush=True)


if __name__ == "__main__":
    main()
