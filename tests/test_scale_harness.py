"""``scripts/scale.py``, the measurement harness: its tiers are seeded
and splittable, a key's record counts the same jobs as a direct
``checks.jobs_and_tasks`` call, and the DuckDB control is bounded."""

from __future__ import annotations

import json

import pyarrow.parquet as pq

from labelmain_spark.functions import text
from labelmain_spark.plans import checks
from labelmain_spark.session import release_caches
from scripts import scale


def test_tier_is_seeded_and_written_in_16k_row_groups(tmp_path):
    a = scale.tier("vectors:20000", tmp_path / "a")
    b = scale.tier("vectors:20000", tmp_path / "b")
    fa = pq.ParquetFile(f"{a}/embeddings.parquet")
    fb = pq.ParquetFile(f"{b}/embeddings.parquet")
    groups = [fa.metadata.row_group(i).num_rows for i in range(fa.num_row_groups)]
    assert groups == [16384, 3616]
    assert fa.read().equals(fb.read())


def test_key_record_counts_the_jobs_of_a_direct_call(spark, sf_dir, tmp_path):
    """Same method as the n-gram job pins: a first call, a release,
    then the counted build and noop-sink exec."""
    fn = text.quality_kn3_nll
    rec = scale.measure(spark, fn, sf_dir, tmp_path / "plan.txt")

    fn(spark, sf_dir)
    release_caches(spark)
    built = {}
    build_jobs, _ = checks.jobs_and_tasks(spark, lambda: built.setdefault("df", fn(spark, sf_dir)))
    exec_jobs, _ = checks.jobs_and_tasks(
        spark, lambda: built["df"].write.format("noop").mode("overwrite").save()
    )
    exchanges = checks.count_exchanges(built["df"])
    release_caches(spark)
    assert (rec["build_jobs"], rec["exec_jobs"]) == (build_jobs, exec_jobs) == (5, 6)
    assert rec["exchanges"] == exchanges
    assert rec["cached_bytes"] > 0 and rec["cached_after_release"] == 0
    assert "isFinalPlan=true" in (tmp_path / "plan.txt").read_text()


def test_duck_control_runs_under_a_memory_limit(sf_dir, tmp_path, monkeypatch, capsys):
    import duckdb

    configs = []
    connect = duckdb.connect

    def spy(*args, config=None, **kw):
        configs.append(config or {})
        return connect(*args, config=config, **kw)

    monkeypatch.setattr(duckdb, "connect", spy)
    scale.duck_child(sf_dir, ["join_inner"], str(tmp_path))
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["key"] == "join_inner" and rec["duck_rows"] > 0
    assert configs and configs[0]["memory_limit"].endswith("MB")
    assert int(configs[0]["memory_limit"][:-2]) > 0
    assert configs[0]["temp_directory"] == str(tmp_path)


def test_duck_control_times_out_a_query(sf_dir, tmp_path, monkeypatch, capsys):
    """A query past ``DUCK_TIMEOUT_S`` is interrupted and recorded as a
    timeout, and the next key still runs on the same connection."""
    from labelmain_spark import registry

    oracle = registry.oracle_sql()
    slow = "SELECT sum(i * i) FROM range(100000000000) t(i)"
    monkeypatch.setattr(registry, "oracle_sql", lambda: {**oracle, "slow": slow})
    monkeypatch.setattr(scale, "DUCK_TIMEOUT_S", 0.5)
    scale.duck_child(sf_dir, ["slow", "join_inner"], str(tmp_path))
    recs = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert recs[0] == {"key": "slow", "duck_error": "timeout"}
    assert recs[1]["key"] == "join_inner" and recs[1]["duck_rows"] > 0
