"""Table loaders / writers for the engine.

The driver-generated star schema lives as one parquet file per table
under ``/root/testdata/sf{0.001,0.01,0.1}/`` (see TESTDATA.md). At
cluster scale the same API points at partitioned parquet/Delta
directories; Catalyst pushes filters and prunes columns into the scan
either way (reference contrast: ``data_ingestion.py:306-311`` fetches
entire collections then filters client-side).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _footer_schema(path: str):
    """(spark_schema | None, nano_ts_columns) from one parquet file's
    footer, read with pyarrow (no Spark job).

    ``spark_schema`` is the StructType Spark's inference would derive
    from this footer (``read_parquet`` passes it back through
    ``spark.read.schema``, for a single file and for the file Spark
    infers a directory's schema from). Types map through pyspark's own
    ``from_arrow_type``; nested nullability may come out stricter than
    inference, which does not matter because Spark reads a file source
    with its schema made nullable. It is ``None`` — fall back to
    inference — for an unreadable footer (a torn file), a
    type ``from_arrow_type`` rejects (unsigned ints, ...), or a leaf
    whose Spark reading depends on session settings or that Spark reads
    differently: INT96 timestamps, binary (``binaryAsString``), TIME,
    and timestamps nested below the top level.

    What this module owns is the top-level INT64 timestamp rule: every
    such column reads as TIMESTAMP, ``isAdjustedToUTC`` or not — what
    Spark infers with ``inferTimestampNTZ`` off, whatever the session
    says (a naive column read as TIMESTAMP keeps its stored micros, as
    the DuckDB oracle reads them) — and ``nano_ts_columns``, the
    columns stored as TIMESTAMP(NANOS), read as long: Spark's reader
    rejects them outright (PARQUET_TYPE_ILLEGAL), so they take the
    nanosAsLong path + an explicit restore to TimestampType."""
    import json

    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    try:
        meta = pq.read_metadata(path)
        arrow = meta.schema.to_arrow_schema()
    except Exception:
        return None, []
    nano, unmapped = [], False
    for i in range(meta.num_columns):
        col = meta.schema.column(i)
        lt = json.loads(col.logical_type.to_json() or "{}")
        kind = lt.get("Type")
        if col.physical_type == "INT96" or kind == "Time":
            unmapped = True
        elif col.physical_type.endswith("BYTE_ARRAY"):
            unmapped |= kind not in ("String", "Decimal")
        elif kind == "Timestamp" and col.path not in arrow.names:
            unmapped = True
        elif kind == "Timestamp" and lt.get("timeUnit") == "nanoseconds":
            nano.append(col.path)
    if unmapped:
        return None, nano
    fields = []
    for f in arrow:
        try:
            dt = (
                T.LongType()
                if f.name in nano
                else from_arrow_type(f.type, prefer_timestamp_ntz=False)
            )
        except PySparkTypeError:
            return None, nano
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields), nano


_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _listed(name: str) -> bool:
    """Spark's listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    names starting with ``_`` (unless they contain ``=``) or ``.``, and
    names ending in ``._COPYING_``, are not listed — except names
    starting with a summary file's name."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARY_FILES)


def _schema_file(spark: SparkSession, path: str) -> tuple[str | None, set]:
    """The local file whose footer Spark's inference reads for ``path``
    (``None``: leave the schema to Spark), and the lower-cased partition
    column names found in the directory names below ``path``.

    A file is itself. For a directory, Spark 4.1's
    ``ParquetUtils.inferSchema`` with ``mergeSchema`` off reads a
    ``_common_metadata``, else a ``_metadata`` summary file, else the
    first listed data file in full-path string order (``splitFiles``
    sorts the leaves by ``getPath.toString``). The data files are every
    leaf of a partitioned directory, and only the files directly under
    an unpartitioned one (``PartitioningAwareFileIndex.allFiles``).

    The walk lists what Spark lists (``_listed``) and defers to Spark
    when the read would not come from that first data file: a summary
    file exists, ``spark.sql.parquet.mergeSchema`` is on, a streaming
    sink's ``_spark_metadata`` log names the files, or there is no data
    file (so the error stays Spark's own). A glob pattern, a non-local
    path and a missing path also stay with Spark."""
    if any(c in path for c in "*?[]{}\\"):
        return None, set()
    if os.path.isfile(path):
        return path, set()
    if (
        not os.path.isdir(path)
        or os.path.isdir(os.path.join(path, "_spark_metadata"))
        or spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower()
        == "true"
    ):
        return None, set()
    top, files, parts = [], [], set()
    stack = [path]
    while stack:
        d = stack.pop()
        for e in os.scandir(d):
            if not _listed(e.name):
                continue
            if e.name in _SUMMARY_FILES:
                return None, set()
            if e.is_dir():
                if "=" in e.name:
                    parts.add(e.name.split("=", 1)[0].lower())
                stack.append(e.path)
            else:
                (top if d == path else files).append(e.path)
    files = files + top if parts else top
    return (min(files) if files else None), parts


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file or directory with the schema Spark would
    infer, taken from one footer (``_schema_file``, ``_footer_schema``)
    and passed through ``spark.read.schema`` — so building the
    DataFrame runs no Spark job. Partition columns are not passed:
    Spark discovers them from the directory names, as it does when it
    infers. Where the schema cannot be taken from a footer, or a data
    column shares a partition column's name, Spark infers it.

    Nano-precision timestamp columns (e.g. ``events.ts``) are read as
    long and restored to microsecond timestamps (the fixtures carry no
    sub-microsecond data, so this is lossless and matches the DuckDB
    oracle exactly). A passed schema reads them as long as is; only
    schema inference needs ``spark.sql.legacy.parquet.nanosAsLong``, so
    on that fallback the conf is set around the inference call alone,
    then restored, and the table is read with the inferred schema.

    Top-level INT64 timestamps read as TIMESTAMP (``_footer_schema``);
    where inference reads one as TIMESTAMP_NTZ (``inferTimestampNTZ``
    on), the table is read again with that column typed TIMESTAMP. No
    session conf is changed by the read.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src, parts = _schema_file(spark, path)
    schema, nano_cols = (None, []) if src is None else _footer_schema(src)
    if schema is not None and parts & {n.lower() for n in schema.names}:
        schema = None
    if nano_cols and schema is None:
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            schema = spark.read.parquet(path).schema
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    fields = df.schema.fields if schema is None else schema.fields
    if any(isinstance(f.dataType, T.TimestampNTZType) for f in fields):
        df = spark.read.schema(
            T.StructType(
                [
                    T.StructField(f.name, T.TimestampType(), f.nullable)
                    if isinstance(f.dataType, T.TimestampNTZType)
                    else f
                    for f in fields
                ]
            )
        ).parquet(path)
    for c in nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, ``<sf_dir>/<name>.parquet``, through
    ``read_parquet``: a plain parquet scan (full pushdown/pruning) whose
    schema comes from one footer, so loading runs no Spark job — for a
    single file, and for a directory too (the footer of the first data
    file, the one Spark's inference reads; summary files, mergeSchema
    and the other cases ``_schema_file`` names leave it to Spark)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a serving table, partitioned for pruning at scale.

    E.g. the flat snippets table partitions by (category/source) so a
    per-category cascade delete (reference ``omit_category``,
    data_ingestion.py:344-363) is a partition drop, not a full rewrite.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    out_path: str | None = None,
) -> None:
    """Compact a small-file-fragmented parquet dataset to
    ``target_files`` files (streaming sinks and per-batch appends
    fragment tables; scan cost at 100 TB is dominated by file count
    once files drop below ~128 MB).

    ``coalesce`` (no shuffle) when reducing, ``repartition`` when
    growing. Writes to ``out_path`` (default: in-place via a temp
    subdir swap is intentionally NOT done here — at scale compaction
    writes a new snapshot and swaps a table pointer atomically).
    """
    df = read_parquet(spark, path)
    n_now = df.rdd.getNumPartitions()
    out = out_path or (path.rstrip("/") + "_compacted")
    if target_files < n_now:
        df.coalesce(target_files).write.mode("overwrite").parquet(out)
    else:
        df.repartition(target_files).write.mode("overwrite").parquet(out)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Write a catalog table hash-bucketed (and per-file sorted) on the
    join key — the shuffle-elimination layout for repeated big joins.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT either side exchanging: Spark trusts the on-disk
    hash partitioning (``HashPartitioning(key, n)``) and plans a
    sort-merge join whose sort is also satisfied by ``sortBy``. At
    100 TB this converts every fact⋈fact join on the bucket key from
    two full-table shuffles into a zero-shuffle zip of co-numbered
    buckets — the single biggest repeated-join win there is; pinned by
    ``tests/test_bucketing.py`` (zero Exchange operators in the
    executed plan, results equal to the plain join).

    Requires ``saveAsTable`` (bucket metadata lives in the session
    catalog, not in parquet files), hence ``table`` + explicit
    ``path``. The catalog entry is session-scoped here; a real
    deployment points this at a shared metastore.
    """
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .saveAsTable(table)
    )
