"""Two-phase global rank (operators/ranking.with_global_rank) against a
single-partition ``row_number()`` window — the definition it replaces.

The range shuffle's partition count is left to AQE, which coalesces
contiguous ranges; the rank must not depend on that (skewed keys, an
input far smaller than the shuffle partition count, AQE on and off).
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.window import Window

from data_ingestion_py_spark.operators import ranking


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.fixture
def pinned_parts(monkeypatch):
    """Partition count of every range-shuffled input ``with_global_rank``
    pins: the partitions of each eager ``localCheckpoint`` it takes
    (the operator's one)."""
    seen: list[int] = []
    real = DataFrame.localCheckpoint

    def spy(df, *args, **kwargs):
        out = real(df, *args, **kwargs)
        seen.append(out.rdd.getNumPartitions())
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return seen


def _skewed(spark, n: int):
    # 90% of rows share key 0; id is the unique tie-break
    return spark.range(n).select(
        "id",
        F.when(F.col("id") % 10 != 0, F.lit(0))
        .otherwise(F.col("id") % 7)
        .alias("k"),
        (F.col("id") % 13).alias("v"),
    )


def _check(df):
    order = [F.asc("k"), F.desc("id")]
    got = ranking.with_global_rank(
        df, order, cumsum={"run": F.col("v")}, total_col="tot"
    )
    w = Window.orderBy(*order)
    want = df.select(
        "id",
        F.row_number().over(w).alias("rnk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("tot"),
    )
    key = lambda r: (r.id, r.rnk, r.run, r.tot)  # noqa: E731
    assert sorted(map(key, got.select("id", "rnk", "run", "tot").collect())) == sorted(
        map(key, want.collect())
    )


#: AQE with a tiny advisory size: the 64 range partitions coalesce into
#: SEVERAL contiguous ranges (the default advisory size merges a test-sized
#: input into one partition, which would not exercise the offsets).
_AQE_SMALL = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
}


@pytest.mark.parametrize(
    "conf,parts",
    [
        ({"spark.sql.adaptive.enabled": "true"}, (1, 64)),
        (_AQE_SMALL, (2, 63)),
        ({"spark.sql.adaptive.enabled": "false"}, (64, 64)),
    ],
    ids=["aqe", "aqe-coalesced-ranges", "no-aqe"],
)
def test_rank_equals_row_number_skewed(spark, conf, parts, pinned_parts):
    with _conf(spark, **{"spark.sql.shuffle.partitions": "64"}, **conf):
        _check(_skewed(spark, 3000))
    lo, hi = parts
    assert len(pinned_parts) == 1 and lo <= pinned_parts[0] <= hi


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_input_smaller_than_shuffle_partitions(spark, aqe, pinned_parts):
    # 40 rows into 64 requested range partitions
    with _conf(
        spark,
        **{"spark.sql.adaptive.enabled": aqe, "spark.sql.shuffle.partitions": "64"},
    ):
        _check(_skewed(spark, 40).repartition(4))
    assert pinned_parts[0] < 64
