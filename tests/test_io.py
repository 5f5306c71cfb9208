"""Parquet reads with a per-process schema cache (io.parquet_schema).

A read that has to infer its schema runs a Spark job; these tests pin that
repeated reads start none, that a table rewritten at the same path is read
with its new schema, and that the events ``ts`` column stays TIMESTAMP
whatever nanosAsLong setting the session had before the read.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from basin_climbing_data_pipeline_spark import io

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group and return (its result, the ids
    of the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"test-io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_reads_start_no_job(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_NO_MATERIALIZE", raising=False)
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    first, jobs = _jobs_in(spark, lambda: io.read_parquet(spark, path))
    assert jobs, "the first read of a file infers its schema in a Spark job"
    again, jobs = _jobs_in(spark, lambda: io.read_parquet(spark, path))
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(r.k for r in again.collect()) == [1, 2, 3]

    for name in ("orders", "events"):
        io.load_table(spark, sf_dir, name)
        _df, jobs = _jobs_in(spark, lambda: io.load_table(spark, sf_dir, name))
        assert jobs == [], name

    build = io.materialized(f"test_io_{uuid.uuid4().hex[:8]}")(
        lambda s, _sf: s.range(5).withColumnRenamed("id", "k")
    )
    build(spark, str(tmp_path))
    df, jobs = _jobs_in(spark, lambda: build(spark, str(tmp_path)))
    assert jobs == []
    assert sorted(r.k for r in df.collect()) == [0, 1, 2, 3, 4]


def test_table_rewritten_at_same_path_reads_new_schema(spark, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/orders.parquet"

    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)  # one file
    df = io.load_table(spark, sf, "orders")
    assert df.columns == ["o_orderkey"]
    assert sorted(r.o_orderkey for r in df.collect()) == [1, 2]

    # file -> directory, one more column
    os.remove(path)
    spark.createDataFrame([(3, "a"), (4, "b")], "o_orderkey long, tag string").write.parquet(path)
    df = io.load_table(spark, sf, "orders")
    assert df.columns == ["o_orderkey", "tag"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "a"), (4, "b")]

    # directory -> directory, one more column again
    spark.createDataFrame(
        [(5, "c", 1.5)], "o_orderkey long, tag string, price double"
    ).write.mode("overwrite").parquet(path)
    df = io.load_table(spark, sf, "orders")
    assert df.columns == ["o_orderkey", "tag", "price"]
    assert [tuple(r) for r in df.collect()] == [(5, "c", 1.5)]


_TS = [dt.datetime(2024, 3, 1, 12, 0, 0, 123456), dt.datetime(1999, 12, 31, 23, 59, 59)]
_TS_MICROS = [
    int((t - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1)) for t in _TS
]


@pytest.mark.parametrize("encoding", ["ns", "us-naive", "us-utc"])
@pytest.mark.parametrize("nanos_as_long_before", ["true", "false"])
def test_events_ts_is_timestamp_whatever_nanos_setting(
    spark, tmp_path, encoding, nanos_as_long_before
):
    """TIMESTAMP(NANOS), naive and UTC-adjusted micros all load as TIMESTAMP
    holding the same instants, after a read under either nanosAsLong
    setting."""
    unit, tz = {"ns": ("ns", None), "us-naive": ("us", None), "us-utc": ("us", "UTC")}[encoding]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(_TS, pa.timestamp(unit, tz)),
            }
        ),
        f"{sf}/events.parquet",
    )
    before = spark.conf.get(NANOS_AS_LONG)
    try:
        for setting in (nanos_as_long_before, "true", "false"):
            spark.conf.set(NANOS_AS_LONG, setting)
            df = io.load_table(spark, sf, "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id")
            assert [r.us for r in got.collect()] == _TS_MICROS
    finally:
        spark.conf.set(NANOS_AS_LONG, before)


def test_schema_cache_key_holds_nanos_setting(spark, tmp_path):
    """A TIMESTAMP(NANOS) file infers to BIGINT only under nanosAsLong; a
    schema inferred under one setting is never served under the other."""
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array(_TS, pa.timestamp("ns"))}), path)
    before = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        assert io.parquet_schema(spark, path)["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
            io.parquet_schema(spark, path)
    finally:
        spark.conf.set(NANOS_AS_LONG, before)
