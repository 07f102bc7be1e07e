"""Fixture-drift tripwire + timestamp-layout round-trips.

Round-3 postmortem: the testdata fixtures were regenerated with
``events.ts`` as parquet ``timestamp[us]`` instead of TIMESTAMP(NANOS),
and the two code sites that assumed the old layout failed *silently*
(streams emitted zero rows) or at plan time (sessionize). These tests
make the next regeneration fail loudly in one obvious place, naming the
drifted table/column, and keep the legacy-nanos fallback honest by
actually exercising it against a freshly written nanos file.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from labelmain_spark.sources.readers import TABLES, load_table
from labelmain_spark.streaming.incremental import stream_events

# What the code paths assume about the parquet files on disk. Values are
# sets of acceptable pyarrow type strings: time-typed columns accept
# every layout the readers branch on (native us/ms, legacy ns); all
# other columns are pinned exactly. A regeneration that moves outside
# these sets must fail HERE, not as silently-empty streams.
TIME_OK = {"timestamp[us]", "timestamp[ms]", "timestamp[ns]", "int64"}
EXPECTED: dict[str, dict[str, set[str]]] = {
    "region": {"r_regionkey": {"int32"}, "r_name": {"string", "large_string"}},
    "nation": {
        "n_nationkey": {"int32"},
        "n_name": {"string", "large_string"},
        "n_regionkey": {"int32"},
    },
    "customer": {
        "c_custkey": {"int64"},
        "c_name": {"string", "large_string"},
        "c_nationkey": {"int32"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string", "large_string"},
    },
    "supplier": {
        "s_suppkey": {"int64"},
        "s_name": {"string", "large_string"},
        "s_nationkey": {"int32"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"int64"},
        "p_name": {"string", "large_string"},
        "p_brand": {"string", "large_string"},
        "p_type": {"string", "large_string"},
        "p_size": {"int32"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"int64"},
        "o_custkey": {"int64"},
        "o_orderstatus": {"string", "large_string"},
        "o_totalprice": {"double"},
        "o_orderdate": TIME_OK | {"date32[day]"},
        "o_orderpriority": {"string", "large_string"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_partkey": {"int64"},
        "l_suppkey": {"int64"},
        "l_linenumber": {"int32"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string", "large_string"},
        "l_linestatus": {"string", "large_string"},
        "l_shipdate": TIME_OK | {"date32[day]"},
    },
    "events": {
        "event_id": {"int64"},
        "ts": TIME_OK,
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
        "source": {"string", "large_string"},
        "n_chars": {"int64"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>", "large_list<element: float>"},
        "label": {"int32"},
    },
}


@pytest.mark.parametrize("table", TABLES)
def test_fixture_schema_tripwire(sf_dir, table):
    """Names + physical types of every fixture table vs what the code
    assumes. On failure the message names the drifted column so the
    regeneration is diagnosed in one read."""
    schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
    exp = EXPECTED[table]
    got = {f.name: str(f.type) for f in schema}
    assert set(got) == set(exp), (
        f"FIXTURE DRIFT: {table}.parquet columns changed: "
        f"missing={set(exp) - set(got)} unexpected={set(got) - set(exp)}"
    )
    for col, ok in exp.items():
        assert got[col] in ok, (
            f"FIXTURE DRIFT: {table}.{col} is parquet {got[col]!r}, but the "
            f"readers only handle {sorted(ok)}. Update "
            f"labelmain_spark/sources/readers.py: normalize_events_ts is the "
            f"one ts rule, used by load_table and stream_events alike."
        )


def test_events_ts_normalized_to_timestamp(spark, sf_dir):
    """Whatever the on-disk layout, load_table must hand every consumer
    a plain TIMESTAMP ts (epoch casts and watermarks both reject NTZ)."""
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        f"events.ts loaded as {df.schema['ts'].dataType}, expected TimestampType — "
        "the normalization branch in readers.load_table missed this layout"
    )
    # the stream over the same files must normalize to the same type
    ts_field = stream_events(spark, sf_dir).schema["ts"].dataType
    assert isinstance(ts_field, T.TimestampType), (
        f"stream_events ts is {ts_field}, expected TimestampType"
    )


NANOS_ROWS = [
    # (event_id, epoch-ns with sub-µs noise, user_id)
    (1, 1_704_067_200_123_456_789, 10),
    (2, 1_704_070_800_000_000_001, 10),
    (3, 1_704_153_600_999_999_999, 11),
]


def _write_nanos_events(path: str) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in NANOS_ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in NANOS_ROWS], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in NANOS_ROWS], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(tbl, path, version="2.6", coerce_timestamps=None)


def test_nanos_fallback_roundtrip(spark, tmp_path):
    """The legacy TIMESTAMP(NANOS) branch (readers.py nanosAsLong +
    div-1000) is dead code against current fixtures; keep it alive by
    writing a real nanos parquet and asserting the µs truncation matches
    what DuckDB's epoch semantics would produce. The stream over the
    same file must yield the same TIMESTAMP values."""
    _write_nanos_events(str(tmp_path / "events.parquet"))

    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = {r.event_id: r.ts for r in df.collect()}
    for event_id, ns, _u in NANOS_ROWS:
        want = datetime.datetime.fromtimestamp(ns // 1000 / 1e6, tz=datetime.timezone.utc)
        assert got[event_id] == want.replace(tzinfo=None), (
            f"event {event_id}: ns={ns} loaded as {got[event_id]}, want {want}"
        )

    stream = stream_events(spark, str(tmp_path))
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    stream.select("event_id", "ts").writeStream.format("memory").queryName(
        "nanos_stream"
    ).trigger(availableNow=True).start().awaitTermination()
    streamed = {r.event_id: r.ts for r in spark.sql("SELECT * FROM nanos_stream").collect()}
    assert streamed == got
