"""``io.load_table`` passes the schema it derives from the parquet footer:
it must equal what Spark infers, and a single-file table must load
without running a Spark job."""

from __future__ import annotations

import datetime
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_py_spark import io
from tests.conftest import SF_SMOKE, TABLES


def _jobs_in(spark, fn):
    sc = spark.sparkContext
    group = "test-io-load-table"
    sc.setJobGroup(group, "load_table")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_equals_inferred(spark, name):
    path = f"{SF_SMOKE}/{name}.parquet"
    schema, nano = io._footer_schema(spark, path)
    assert nano == []
    assert schema == spark.read.parquet(path).schema
    df, jobs = _jobs_in(spark, lambda: io.load_table(spark, SF_SMOKE, name))
    assert jobs == 0
    assert df.schema == io.load_table(spark, SF_SMOKE, name).schema


def test_nanos_events_take_nanos_as_long_path(spark, tmp_path):
    """``events`` rewritten with TIMESTAMP(NANOS): the derived schema
    reads ``ts`` as long, equals Spark's own inference under
    nanosAsLong, and load_table restores the very same timestamps as the
    microsecond original — without flipping that session-global conf."""
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        schema, nano = io._footer_schema(spark, path)
        assert nano == ["ts"]
        df, jobs = _jobs_in(
            spark, lambda: io.load_table(spark, str(tmp_path), "events")
        )
        assert jobs == 0
        want = io.load_table(spark, SF_SMOKE, "events")
        assert df.schema == want.schema
        assert sorted(df.collect()) == sorted(want.collect())
        assert spark.conf.get(key) == "false"
        spark.conf.set(key, "true")
        assert schema == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, before)


def test_every_mapped_type_equals_inferred(spark, tmp_path):
    # the mapping's other types, beyond what the fixtures use; an
    # unsigned column falls back to inference
    t = pa.table(
        {
            "b": pa.array([True, None]),
            "i8": pa.array([1, 2], pa.int8()),
            "i16": pa.array([1, 2], pa.int16()),
            "f": pa.array([1.5, None], pa.float32()),
            "ls": pa.array(["x", "y"], pa.large_string()),
            "d": pa.array([datetime.date(2020, 1, 1), None]),
            "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(10, 2)),
            "utc": pa.array([1, 2], pa.timestamp("us", tz="UTC")),
            "ms": pa.array([1, 2], pa.timestamp("ms")),
            "arr": pa.array([[1.0, None], None], pa.list_(pa.float64())),
            "sarr": pa.array([["a"], []], pa.list_(pa.string())),
        }
    )
    pq.write_table(t, tmp_path / "typed.parquet")
    path = str(tmp_path / "typed.parquet")
    schema, _ = io._footer_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    df, jobs = _jobs_in(spark, lambda: io.load_table(spark, str(tmp_path), "typed"))
    assert jobs == 0 and len(df.collect()) == 2
    pq.write_table(t.append_column("u", pa.array([1, 2], pa.uint32())), path)
    assert io._footer_schema(spark, path)[0] is None
    assert "u" in io.load_table(spark, str(tmp_path), "typed").columns


def test_directory_keeps_inference(spark, tmp_path):
    # a partitioned directory falls back to Spark's schema inference
    # (partition discovery adds the partition column)
    out = tmp_path / "docs.parquet"
    io.load_table(spark, SF_SMOKE, "documents").write.partitionBy("lang").parquet(
        str(out)
    )
    assert io._footer_schema(spark, str(out))[0] is None
    df = io.load_table(spark, str(tmp_path), "docs")
    assert df.schema == spark.read.parquet(str(out)).schema
    assert "lang" in df.columns


def test_inference_fallback_restores_nanos_as_long(spark, tmp_path):
    """A single file the footer schema cannot map (an unsigned column)
    that also holds a TIMESTAMP(NANOS) column takes the inference
    fallback: nanosAsLong is set around the inference call only, so the
    session conf is the same after load_table as before, and the nanos
    column still comes back as the microsecond timestamps."""
    micros = pa.array([1_600_000_000_000_001, None], pa.timestamp("us"))
    t = pa.table(
        {
            "u": pa.array([1, 2], pa.uint32()),
            "ts": micros.cast(pa.timestamp("ns")),
        }
    )
    pq.write_table(t, tmp_path / "mixed.parquet")
    pq.write_table(
        pa.table({"u": pa.array([1, 2], pa.int64()), "ts": micros}),
        tmp_path / "want.parquet",
    )
    assert io._footer_schema(spark, str(tmp_path / "mixed.parquet")) == (
        None,
        ["ts"],
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    try:
        for prior in (None, "false"):
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
            df = io.load_table(spark, str(tmp_path), "mixed")
            assert spark.conf.get(key, None) == prior
            want = io.load_table(spark, str(tmp_path), "want")
            assert df.schema == want.schema
            assert sorted(df.collect(), key=str) == sorted(
                want.collect(), key=str
            )
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
