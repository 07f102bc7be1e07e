"""The local mirror of the driver's correctness gate: every query key
with an oracle twin must match DuckDB on row count, columns, and values.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from labelmain_spark.session import release_caches
from tests.oracle_utils import assert_parity

_QUERIES = entrymod.queries()
_ORACLE = entrymod.oracle_sql()


def _stored(spark):
    """Ids of the RDDs that hold memory or disk storage, with names."""
    return {
        i.id(): str(i.name())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.memSize() > 0 or i.diskSize() > 0
    }


def _assert_released(spark, key, stored_before):
    """``release_caches`` must leave no new RDD storage behind: every
    library persist is session-tracked, so releasing the session drops
    exactly what the key cached. Storage held before the key ran (an
    earlier test's cache) is not the key's to release."""
    release_caches(spark)
    left = {k: v for k, v in _stored(spark).items() if k not in stored_before}
    assert not left, f"{key} left cached storage after release_caches: {left}"


def test_registry_shape():
    assert _QUERIES, "no queries registered"
    missing = _ORACLE.keys() - _QUERIES.keys()
    assert not missing, f"oracle without query: {missing}"


@pytest.mark.parametrize("key", sorted(_ORACLE))
def test_parity(key, spark, duck, sf_dir):
    stored_before = _stored(spark)
    sdf = _QUERIES[key](spark, sf_dir).toPandas()
    _assert_released(spark, key, stored_before)
    ddf = duck.execute(_ORACLE[key]).fetchdf()
    assert_parity(sdf, ddf, key)


@pytest.mark.parametrize("key", sorted(_QUERIES.keys() - _ORACLE.keys()))
def test_rows_only(key, spark, sf_dir):
    stored_before = _stored(spark)
    df = _QUERIES[key](spark, sf_dir)
    assert df.count() >= 0
    assert df.schema.fieldNames()
    _assert_released(spark, key, stored_before)


def test_entry(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_seeded_keys_singleton_parity(spark, tmp_path):
    """n == 1 embeddings: the seeded keys must keep deriving centroids
    from the data — semantic_dedup_seeded's old n < 2 frozen-centroid
    fallback diverged from its oracle here (the SQL twin selects the
    lone vector as centroid 0 → cluster=0, c2c=1.0; frozen random
    centroids do not). Review catch, r10."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    vec = [0.1 * (i % 7) for i in range(64)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], pa.int64()),
                "embedding": pa.array([vec], pa.list_(pa.float32())),
                "label": pa.array([0], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    for key in ("semantic_dedup_seeded", "ann_ivf_seeded_topk"):
        sdf = _QUERIES[key](spark, str(tmp_path)).toPandas()
        ddf = con.execute(_ORACLE[key]).fetchdf()
        assert_parity(sdf, ddf, f"{key}@n=1")
    sem = _QUERIES["semantic_dedup_seeded"](spark, str(tmp_path)).collect()
    assert [r.cluster for r in sem] == [0]
    assert [r.removed for r in sem] == [False]
