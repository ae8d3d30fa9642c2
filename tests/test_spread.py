"""The per-payload Arrow stage helpers in ``sources/spread.py``: the
``kernel_rows`` row contract and the job-free ``spread_for_kernel``
probe."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.plans import explain as E
from data_ingestion_py_spark.sources.spread import (
    kernel_rows,
    spread_for_kernel,
)
from tests.conftest import SF_SMOKE


def _jobs(spark, group, fn):
    """(fn(), jobs fn ran in its own job group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_kernel_rows_contract(spark):
    """Only the projected columns reach the row function, the payload
    arrives as bytes or None, rows expand or vanish per input row, and
    integer fields keep exact values next to NULLs."""
    big = (1 << 62) + 1  # not a float64 value
    df = spark.createDataFrame(
        [(1, "a", b"xyz", 7.5), (2, "b", None, 1.0), (3, "c", b"", 2.0)],
        "media_id long, tag string, payload binary, unused double",
    )
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("tag", T.StringType(), False),
            T.StructField("n", T.ShortType(), True),
            T.StructField("wide", T.LongType(), True),
            T.StructField("raw", T.BinaryType(), True),
        ]
    )

    def fn(mid, tag, payload):
        kind = f"{tag}:{type(payload).__name__}"
        if payload is None:
            return [(mid, kind, None, None, None)]
        if not payload:
            return None  # no rows
        return ((mid, kind, i, big + i, payload) for i in range(2))

    got = sorted(
        tuple(r)
        for r in kernel_rows(
            df, ("media_id", "tag", "payload"), fn, schema
        ).collect()
    )
    assert got == [
        (1, "a:bytes", 0, big, bytearray(b"xyz")),
        (1, "a:bytes", 1, big + 1, bytearray(b"xyz")),
        (2, "b:NoneType", None, None, None),
    ]


def test_kernel_rows_empty_output_keeps_schema(spark):
    df = spark.createDataFrame([(1, b"a")], "media_id long, payload binary")
    schema = T.StructType([T.StructField("media_id", T.LongType(), False)])
    out = kernel_rows(df, ("media_id", "payload"), lambda m, p: [], schema)
    assert out.collect() == []
    assert out.schema == schema


def test_spread_probe_runs_no_jobs(spark):
    """An un-executed adaptive plan is walked as planned: the node walk
    sees the shuffle Exchange and runs zero jobs, and the probe skips
    the spread on it. Every ``explain`` helper reads such a plan
    without a job too."""
    g = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    names, jobs = _jobs(
        spark,
        "test-spread-walk",
        lambda: [n.nodeName() for n in E.nodes(g)],
    )
    assert jobs == 0
    assert names[0] == "AdaptiveSparkPlan" and "Exchange" in names
    # a cached input: its scan is read inside the cached plan
    orders = load_table(spark, SF_SMOKE, "orders").where("o_custkey < 10")
    orders = orders.persist()
    top = orders.withColumn(
        "rk", F.rank().over(Window.orderBy("o_totalprice"))
    ).where("rk <= 3")
    df = top.join(orders.select("o_orderkey"), "o_orderkey").crossJoin(g)
    helpers = [
        E.executed_plan, E.op_counts, E.has_broadcast_join,
        E.has_sort_merge_join, E.num_exchanges, E.uses_python_eval,
        E.codegen_stage_count, E.pushed_filters, E.partition_filters,
        E.read_schemas, E.single_partition_window_input_rows,
        E.bnlj_broadcast_rows,
    ]
    got, jobs = _jobs(
        spark,
        "test-explain-helpers",
        lambda: {h.__name__: h(df) for h in helpers},
    )
    orders.unpersist()
    assert jobs == 0
    assert got["op_counts"]["AdaptiveSparkPlan"] == 1, got
    assert got["op_counts"]["InMemoryRelation"] == 2, got
    assert got["pushed_filters"] and got["read_schemas"], got
    # a Window over a final WindowGroupLimit, and one BNLJ; nothing ran,
    # so their metrics read 0
    assert got["single_partition_window_input_rows"] == [0, 0], got
    assert got["bnlj_broadcast_rows"] == [0], got
    out, jobs = _jobs(spark, "test-spread-probe", lambda: spread_for_kernel(g))
    assert jobs == 0
    assert out is g


def test_broadcast_only_plan_still_spreads(spark):
    """A BroadcastExchange does not redistribute the stream side, so an
    under-partitioned input behind a broadcast join is still spread."""
    stream = spark.range(0, 200, 1, 1)
    small = spark.range(10).withColumnRenamed("id", "k")
    df = stream.join(F.broadcast(small), stream["id"] == small["k"])
    names = [n.nodeName() for n in E.nodes(df)]
    assert "BroadcastExchange" in names and "Exchange" not in names
    target = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < target
    assert spread_for_kernel(df).rdd.getNumPartitions() == target
