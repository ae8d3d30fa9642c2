"""``io.read_parquet`` (and ``io.load_table`` through it) passes the schema
it derives from one parquet footer: it must equal what Spark infers, and a
single file or a directory must load without running a Spark job."""

from __future__ import annotations

import datetime
import decimal
import warnings
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_py_spark import io
from tests.conftest import SF_SMOKE, TABLES, code_matches


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
    schema, nano = io._footer_schema(path)
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
        schema, nano = io._footer_schema(path)
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
    schema, _ = io._footer_schema(path)
    assert schema == spark.read.parquet(path).schema
    df, jobs = _jobs_in(spark, lambda: io.load_table(spark, str(tmp_path), "typed"))
    assert jobs == 0 and len(df.collect()) == 2
    pq.write_table(t.append_column("u", pa.array([1, 2], pa.uint32())), path)
    assert io._footer_schema(path)[0] is None
    assert "u" in io.load_table(spark, str(tmp_path), "typed").columns


def _spark_error(fn):
    """The exception ``fn`` raises (the test fails if it returns)."""
    with pytest.raises(Exception) as info:
        fn()
    return info.value


def test_partitioned_directory_is_job_free(spark, tmp_path):
    """A ``partitionBy`` directory loads with exactly the schema Spark
    infers — the partition column and its inferred type included — and
    runs no Spark job; Spark's ``_SUCCESS`` and ``.crc`` files are not
    taken for the first data file."""
    out = tmp_path / "docs.parquet"
    io.load_table(spark, SF_SMOKE, "documents").write.partitionBy(
        "lang"
    ).parquet(str(out))
    names = {p.name for p in out.rglob("*")}
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    src, parts = io._schema_file(spark, str(out))
    first = min(
        str(p)
        for p in out.rglob("*.parquet")
        if not p.name.startswith((".", "_"))
    )
    assert (src, parts) == (first, {"lang"})
    df, jobs = _jobs_in(spark, lambda: io.load_table(spark, str(tmp_path), "docs"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(str(out)).schema
    assert "lang" in df.columns
    want = io.load_table(spark, SF_SMOKE, "documents").select(df.columns)
    assert sorted(df.collect(), key=str) == sorted(want.collect(), key=str)


def test_first_file_follows_full_path_order(spark, tmp_path):
    """Spark infers a directory's schema from the first data file in
    full-path string order: ``k=a-b/x`` sorts before ``k=a/x`` (``-`` <
    ``/``) although the directory ``k=a`` sorts before ``k=a-b``. Files
    in a subdirectory of an unpartitioned directory are not data files."""
    root = tmp_path / "t"
    for sub, typ in (("k=a", pa.int32()), ("k=a-b", pa.int64())):
        (root / sub).mkdir(parents=True)
        pq.write_table(
            pa.table({"v": pa.array([1, 2], typ)}), root / sub / "x.parquet"
        )
    want = str(root / "k=a-b" / "x.parquet")
    assert io._schema_file(spark, str(root)) == (want, {"k"})
    inferred = spark.read.parquet(str(root)).schema
    assert inferred["v"].dataType.simpleString() == "bigint"
    df, jobs = _jobs_in(spark, lambda: io.read_parquet(spark, str(root)))
    assert jobs == 0 and df.schema == inferred
    flat = tmp_path / "flat"
    (flat / "sub").mkdir(parents=True)
    pq.write_table(pa.table({"v": pa.array([1], pa.int32())}), flat / "z.parquet")
    pq.write_table(pa.table({"w": pa.array([1], pa.int64())}), flat / "sub" / "a.parquet")
    assert io._schema_file(spark, str(flat))[0] == str(flat / "z.parquet")
    df, jobs = _jobs_in(spark, lambda: io.read_parquet(spark, str(flat)))
    assert jobs == 0 and df.schema == spark.read.parquet(str(flat)).schema


def test_summary_file_and_merge_schema_keep_inference(spark, tmp_path):
    """A ``_common_metadata`` summary file is what Spark infers from, and
    ``mergeSchema`` merges every footer: both give Spark's own result."""
    root = tmp_path / "t"
    root.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int32())}), root / "p0.parquet")
    pq.write_table(
        pa.table({"a": pa.array([2], pa.int32()), "b": pa.array(["x"])}),
        root / "p1.parquet",
    )
    assert io.read_parquet(spark, str(root)).columns == ["a"]
    key = "spark.sql.parquet.mergeSchema"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert io._schema_file(spark, str(root))[0] is None
        merged = io.read_parquet(spark, str(root)).schema
        assert merged == spark.read.parquet(str(root)).schema
        assert merged.names == ["a", "b"]
    finally:
        spark.conf.set(key, before)
    pq.write_metadata(
        pa.schema([("a", pa.int64()), ("c", pa.float64())]),
        root / "_common_metadata",
    )
    assert io._schema_file(spark, str(root))[0] is None
    df = io.read_parquet(spark, str(root))
    assert df.schema == spark.read.parquet(str(root)).schema
    assert df.columns == ["a", "c"]
    sink = tmp_path / "sink"
    (sink / "_spark_metadata").mkdir(parents=True)
    pq.write_table(pa.table({"a": pa.array([1])}), sink / "p0.parquet")
    assert io._schema_file(spark, str(sink))[0] is None


def test_data_column_named_like_partition_keeps_inference(spark, tmp_path):
    """A file that stores a column under a partition column's name: Spark
    places it at the file's position with the type read from the path,
    so the schema is left to Spark."""
    root = tmp_path / "t"
    (root / "k=1").mkdir(parents=True)
    pq.write_table(
        pa.table({"k": pa.array(["x"]), "v": pa.array([1.5])}),
        root / "k=1" / "f.parquet",
    )
    df = io.read_parquet(spark, str(root))
    assert df.schema == spark.read.parquet(str(root)).schema
    assert df.columns == ["k", "v"]


def test_empty_directory_raises_sparks_error(spark, tmp_path):
    (tmp_path / "empty.parquet").mkdir()
    (tmp_path / "empty.parquet" / "_SUCCESS").touch()
    path = str(tmp_path / "empty.parquet")
    want = _spark_error(lambda: spark.read.parquet(path))
    got = _spark_error(lambda: io.load_table(spark, str(tmp_path), "empty"))
    assert type(got) is type(want)
    assert got.getCondition() == want.getCondition()


def test_nanos_in_partitioned_directory(spark, tmp_path):
    """TIMESTAMP(NANOS) in a partitioned directory: the footer schema
    reads it as long, job-free, and the load restores the microsecond
    timestamps without touching nanosAsLong."""
    micros = pa.array(
        [1_600_000_000_000_001, None, 1_600_000_000_123_456], pa.timestamp("us")
    )
    base = {"k": pa.array([1, 1, 2]), "x": pa.array(["p", "q", "r"])}
    for name, ts in (("nanos", micros.cast(pa.timestamp("ns"))), ("want", micros)):
        pq.write_to_dataset(
            pa.table({**base, "ts": ts}),
            str(tmp_path / f"{name}.parquet"),
            partition_cols=["k"],
        )
    src, parts = io._schema_file(spark, str(tmp_path / "nanos.parquet"))
    assert parts == {"k"} and io._footer_schema(src)[1] == ["ts"]
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df, jobs = _jobs_in(
            spark, lambda: io.load_table(spark, str(tmp_path), "nanos")
        )
        assert jobs == 0
        assert spark.conf.get(key) == "false"
        want = io.load_table(spark, str(tmp_path), "want")
        assert df.schema == want.schema
        assert sorted(df.collect(), key=str) == sorted(want.collect(), key=str)
    finally:
        spark.conf.set(key, before)


def test_index_reads_are_job_free(spark, tmp_path):
    """The durable indexes read their partitioned directories through
    ``read_parquet``: building the read-committed corpus view and the
    centroid table runs no Spark job."""
    from pyspark.sql import functions as F

    from data_ingestion_py_spark.operators import dedup
    from data_ingestion_py_spark.operators.band_index import BandIndex
    from data_ingestion_py_spark.operators.ivf_index import IvfIndex

    band = BandIndex(spark, str(tmp_path / "band"))
    docs = io.load_table(spark, SF_SMOKE, "documents").where(F.col("doc_id") < 5)
    band.append_batch(dedup.minhash_signatures(docs.select("doc_id", "text")), 0)
    ivf = IvfIndex(spark, str(tmp_path / "ivf"), k=2)
    ivf.append_batch(
        io.load_table(spark, SF_SMOKE, "embeddings")
        .where(F.col("vec_id") < 20)
        .select("vec_id", "embedding"),
        0,
    )
    for build in (
        lambda: band._read_committed(band._sigs_path),
        ivf.centroids,
        ivf.vectors,
    ):
        df, jobs = _jobs_in(spark, build)
        assert jobs == 0
        assert df.count() > 0


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
    assert io._footer_schema(str(tmp_path / "mixed.parquet")) == (
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


def test_naive_timestamps_read_without_touching_the_session(spark, tmp_path):
    """On a non-UTC session that infers TIMESTAMP_NTZ, a naive (not
    ``isAdjustedToUTC``) timestamp column loads as TIMESTAMP holding
    the stored micros — through the footer schema and on the inference
    fallback (an unsigned column beside it) — with no warning, and the
    session's timezone and inference conf are as they were."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts = pa.array([1_600_000_000_000_001, None], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), tmp_path / "naive.parquet")
    pq.write_table(
        pa.table({"u": pa.array([1, 2], pa.uint32()), "ts": ts}),
        tmp_path / "fallback.parquet",
    )
    conf = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    }
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for name in ("naive", "fallback"):
            with warnings.catch_warnings():
                warnings.simplefilter("error")
                df = io.load_table(spark, str(tmp_path), name)
            assert df.schema["ts"].dataType == T.TimestampType()
            got = [r[0] for r in df.select(F.unix_micros("ts")).collect()]
            assert got == [1_600_000_000_000_001, None]
            assert {k: spark.conf.get(k) for k in conf} == conf
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_package_reads_parquet_through_one_reader():
    """Outside ``io.py`` the package never calls ``.read.parquet(`` with
    no ``.schema(``: that form infers the schema with a Spark job, which
    ``io.read_parquet`` avoids. Strings and comments are not code."""
    pkg = Path(io.__file__).parent
    assert code_matches(r"\.\s*read\s*\.\s*parquet\s*\(", [pkg], io.__file__) == []
