"""Per-payload Arrow kernel stages: input rebalance and the one row helper.

The decode/walk kernels (PDF parse, OCR-lite, JPEG/JPX/JBIG2/H.264
decode, shard-manifest walks) are embarrassingly parallel per item —
but only across however many partitions the input arrives in. A corpus
that arrives as a few fat files (the sf fixtures are ONE parquet file →
a 1–2-task scan) funnels the whole kernel stage onto 1–2 cores while
the other 30 idle: measured r15, ``pdf_jpx_scanned_digits`` ran its
entire 5,000-document EBCOT decode on ONE task, 103 s where 32-way
spread costs ~4 s (guide §2.5 "input skew — one huge unsplittable
file: repartition immediately after the read"; same rationale as the
signature-stage rebalance in ``operators/dedup.minhash_signatures``).

``spread_for_kernel`` rebalances ONLY when the input is
under-partitioned relative to the cluster — a multi-file corpus that
already spans the cluster (the 100 TB case) must not pay a gratuitous
full shuffle of payload bytes, so there the helper is an exact no-op
and the wrappers stay narrow. The check is scale-adaptive
(``defaultParallelism``), not a tuned constant.

``kernel_rows`` is the one place a kernel's result becomes rows. Every
per-payload wrapper under ``sources/`` is a row function plus one call
to it, under this contract:

- the stage sees only the projected ``cols``; the LAST one is the
  payload, handed to the row function as ``bytes``, or None for NULL
  (the other columns arrive as plain Python values);
- the row function returns an iterable of complete output tuples in
  schema order, or None / empty for no rows;
- integer output fields are typed by the schema — pandas nullable
  ``Int8/16/32/64`` arrays, so a NULL next to a large value never turns
  the column into float64 — and every other field is a plain list.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_ingestion_py_spark.plans.explain import nodes

_NULLABLE_INT = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
}


def spread_for_kernel(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to the cluster's parallelism when (and only
    when) it arrives with fewer partitions — call with the PROJECTED
    input of an Arrow kernel stage so the exchange, when it happens at
    all, carries only the columns the kernel needs (guide §2.3).
    Streaming DataFrames pass through untouched (no ``.rdd`` on a
    streaming plan; foreachBatch hands the walkers plain batch
    DataFrames, which do get spread).

    The width probe must not run jobs at plan-BUILD time: under AQE,
    ``df.rdd`` on a plan that already contains an Exchange eagerly
    materializes every upstream shuffle stage as a real job (advisor,
    r15 — chained wrapped kernels paid the inner spread's payload
    shuffle once for the probe and again at action time, and even
    ``.explain()`` triggered jobs). So when the physical plan already
    carries a shuffle Exchange node the helper skips entirely — a
    shuffle already (re)distributes this input across the cluster, so
    a second round-robin would be a gratuitous extra pass over the
    payload anyway. Exchange-free plans (scan → project → optional
    Python stage) build their RDD lazily, so the probe is job-free
    there. The probe walks the current physical plan's nodes (an
    un-executed adaptive plan is walked as planned, without running
    its query stages; subquery and cached-input plans are walked too,
    as ``explain.nodes`` does); a BroadcastExchange does NOT redistribute the
    stream side, so only a node named ``Exchange`` skips the spread."""
    if df.isStreaming:
        return df
    if any(n.nodeName() == "Exchange" for n in nodes(df)):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def kernel_rows(
    df: DataFrame, cols, fn, schema: T.StructType, spread: bool = False
) -> DataFrame:
    """``df`` → one ``mapInPandas`` stage whose rows are ``fn``'s tuples
    (the row contract is in the module docstring). ``cols`` are
    projected first, then spread with ``spread_for_kernel`` when
    ``spread`` is set; ``fn(*values)`` runs once per input row."""
    src = df.select(*cols)
    if spread:
        src = spread_for_kernel(src)
    names = schema.fieldNames()
    dtypes = [_NULLABLE_INT.get(type(f.dataType)) for f in schema.fields]

    def _rows(batches):
        for pdf in batches:
            out: list = []
            for *keys, payload in zip(*(pdf[c].tolist() for c in cols)):
                out.extend(
                    fn(*keys, None if payload is None else bytes(payload))
                    or ()
                )
            columns = list(zip(*out)) if out else [()] * len(names)
            yield pd.DataFrame(
                {
                    name: list(col) if dt is None else pd.array(col, dtype=dt)
                    for name, col, dt in zip(names, columns, dtypes)
                }
            )

    return src.mapInPandas(_rows, schema)
