"""Scalable global ordering: rank / running-sum / ntile over a total
order WITHOUT a single-partition sort.

``Window.orderBy(...)`` with no partition key moves the whole input to
one task ("WindowExec: No Partition Defined") — fine on a 6-row year
table, a scale-killer on anything row-proportional. This module is the
two-phase form (same family as ``operators/packing.with_pack_ids``,
generalized to arbitrary sort keys):

1. ``repartitionByRange`` on the sort key → every Spark partition holds
   one contiguous slice of the total order (boundaries come from
   Spark's deterministic reservoir sampling; correctness never depends
   on where the boundaries land, only that equal keys co-locate — and
   callers must pass a UNIQUE tie-broken key anyway).
2. Per-partition counts/sums → a tiny offsets table (rows = #partitions)
   whose exclusive prefix sums broadcast back.
3. A per-partition window finishes rank and running sums locally:
   ``global = partition_offset + local``.

The big table shuffles twice (range + window hash on the partition id)
but both are parallel shuffles; nothing ever single-partitions. The
range-shuffled input is pinned by an eager ``localCheckpoint`` so both
branches read one set of range boundaries; its fault-tolerance cost is
the usual one (lineage cut, unreplicated executor-local blocks: losing
an executor that holds them fails the query).

``ntile_expr`` then derives exact SQL ``NTILE(b)`` buckets from the
global rank — the closed form over (rank, total), bit-identical to the
window function in Spark and DuckDB — so quantile segmentation needs no
global sort either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "_gr_pid"
_CNT = "_gr_cnt"
_ROFF = "_gr_rank_off"
_TOT = "_gr_total"


def with_global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rnk",
    cumsum: dict[str, Column] | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """df + ``rank_col`` (global row_number over ``order_by``) and, for
    each ``cumsum`` entry ``name -> col``, a running inclusive sum in
    the same order. ``order_by`` MUST be a total order (append a unique
    tie-break column) — with ties the rank would be partition-boundary
    dependent. ``total_col`` optionally emits the global row count on
    every row (needed by ``ntile_expr``) — it rides the same broadcast,
    no extra pass.

    Build-time jobs: that pin runs at construction (the boundary sample
    plus the range shuffle), so each call costs jobs before the caller's
    action. It cannot be dropped — see the comment at the pin below —
    and callers ranking on different keys (the three RFM ntiles) cannot
    share one. The range shuffle's partition count is left to AQE,
    which coalesces the near-empty partitions of a small input.
    """
    cumsum = cumsum or {}
    # The range shuffle is REPARTITION_BY_NONE, so AQE may coalesce its
    # (mostly near-empty, at small inputs) partitions. Coalescing merges
    # only CONTIGUOUS reducer ranges, in order, so spark_partition_id()
    # stays monotone in the sort order and the offsets below stay correct.
    # EAGER localCheckpoint pins ONE materialization of the range shuffle:
    # RangePartitioner samples boundaries with an rdd-id-dependent seed,
    # so if the offsets branch and the window branch each re-executed the
    # exchange they could see DIFFERENT boundaries — _pid would then
    # disagree between branches and ranks near boundaries would be off
    # (observed at sf0.1 where boundary sampling is partial). Both
    # branches must read the same blocks, not the same plan.
    ranged = (
        df.repartitionByRange(*order_by)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sums = [F.sum(c).alias(f"_gr_s_{n}") for n, c in cumsum.items()]
    pstats = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias(_CNT), *sums)
    # exclusive prefix over the partition-count table: rows = #partitions,
    # the one place an unpartitioned window is the CORRECT two-phase form
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = pstats.select(
        _PID,
        F.coalesce(F.sum(_CNT).over(w_off), F.lit(0)).alias(_ROFF),
        F.sum(_CNT).over(Window.partitionBy()).alias(_TOT),
        *[
            F.coalesce(F.sum(f"_gr_s_{n}").over(w_off), F.lit(0)).alias(
                f"_gr_off_{n}"
            )
            for n in cumsum
        ],
    )
    w_local = Window.partitionBy(_PID).orderBy(*order_by)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        ranged.join(F.broadcast(offsets), _PID)
        .withColumn(rank_col, F.col(_ROFF) + F.row_number().over(w_local))
        .withColumns(
            {
                n: F.col(f"_gr_off_{n}") + F.sum(c).over(w_run)
                for n, c in cumsum.items()
            }
        )
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_TOT))
    drop = [_PID, _CNT, _ROFF, _TOT] + [f"_gr_off_{n}" for n in cumsum]
    return out.drop(*drop)


def ntile_expr(rank: Column, total: Column, buckets: int) -> Column:
    """Exact SQL ``NTILE(buckets)`` from a 1-based unique global rank:
    the first ``total % buckets`` tiles get ``total div buckets + 1``
    rows, the rest ``total div buckets`` — the same distribution Spark
    and DuckDB window functions produce, as a closed-form expression.
    """
    size = F.floor(total / buckets).cast("long")
    rem = (total % buckets).cast("long")
    threshold = (size + 1) * rem
    small_case = rem + F.floor((rank - 1 - threshold) / size).cast("long") + 1
    big_case = F.floor((rank - 1) / (size + 1)).cast("long") + 1
    return (
        F.when(rank <= threshold, big_case).otherwise(small_case).cast("int")
    )
