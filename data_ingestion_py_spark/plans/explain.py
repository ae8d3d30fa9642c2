"""Plan introspection: make "is this the plan I'd want at 100 TB?" a
testable assertion instead of a manual .explain() read.

Used by tests/test_plans.py to pin the physical properties that matter
at scale: filters reaching the parquet scan, column pruning, dimension
joins broadcasting (not shuffling), hot paths staying inside
whole-stage codegen, and shuffle counts not regressing.

Every fact is read off the physical nodes of ``df``'s executed plan by
one walker, ``nodes``; no helper parses plan text. The walker runs
nothing on an un-executed plan: an AdaptiveSparkPlan is read as it is
currently planned (the initial plan before the query runs, the final
plan after). It visits each node the plan text prints, once: it
follows AdaptiveSparkPlan and QueryStage nodes into the plans they
wrap, and a node's inner children (a subquery's plan, a cached
relation's plan below its InMemoryTableScan). A ReusedExchange is a
leaf there, since its exchange is visited where it first appears;
row counts are read through it, off that exchange's metrics.
``executed_plan`` is the plan text, kept for assertion messages and
expression-level checks.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame

# Python evaluation nodes: row-at-a-time and Arrow UDFs, and the Arrow
# batch stages of ``mapInPandas`` / ``mapInArrow``.
_PYTHON_EVAL_OPS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def _seq(s) -> list:
    """A Scala ``Seq`` read over py4j as a list."""
    return [s.apply(i) for i in range(s.size())]


def _inputs(node) -> list:
    """The nodes whose rows flow into ``node``: its children, following
    the indirections a plain ``children()`` walk would stop at:
    AdaptiveSparkPlan's current plan, QueryStage wrappers' inner plan,
    and ReusedExchange's original exchange (the node that holds the
    populated SQL metrics). The adaptive plan is read with
    ``executedPlan()``, which runs nothing (``finalPhysicalPlan()``
    would run the query stages)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    return _seq(node.children())


def _printed(node) -> list:
    """The nodes the plan text prints below ``node``: its inputs, but
    none under a ReusedExchange, plus its inner children."""
    if node.nodeName() == "ReusedExchange":
        return []
    return _inputs(node) + _seq(node.innerChildren())


def _walk(node, below):
    yield node
    for k in below(node):
        yield from _walk(k, below)


def nodes(df: DataFrame):
    """Pre-order walk of the physical plan of ``df`` via py4j, visiting
    each node the plan text prints once."""
    return _walk(df._jdf.queryExecution().executedPlan(), _printed)


def op_counts(df: DataFrame) -> Counter:
    """Node name → number of such nodes in the plan."""
    return Counter(n.nodeName() for n in nodes(df))


def count_ops(df: DataFrame, op: str) -> int:
    return op_counts(df)[op]


def has_broadcast_join(df: DataFrame) -> bool:
    ops = op_counts(df)
    return ops["BroadcastHashJoin"] + ops["BroadcastNestedLoopJoin"] > 0


def has_sort_merge_join(df: DataFrame) -> bool:
    return count_ops(df, "SortMergeJoin") > 0


def num_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (broadcast exchanges excluded)."""
    return count_ops(df, "Exchange")


def python_eval_in(ops: Counter) -> bool:
    """Whether node-name counts ``ops`` hold a Python evaluation node."""
    return any(ops[op] for op in _PYTHON_EVAL_OPS)


def uses_python_eval(df: DataFrame) -> bool:
    return python_eval_in(op_counts(df))


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages."""
    return len(
        {
            n.codegenStageId()
            for n in nodes(df)
            if n.nodeName().startswith("WholeStageCodegen")
        }
    )


def _file_scans(df: DataFrame) -> list:
    return [
        n for n in nodes(df)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across file scans, one per filter."""
    return [
        f.toString() for s in _file_scans(df) for f in _seq(s.pushedDownFilters())
    ]


def partition_filters(df: DataFrame) -> list[str]:
    """All PartitionFilters entries across file scans, one per filter."""
    return [
        f.toString() for s in _file_scans(df) for f in _seq(s.partitionFilters())
    ]


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings per file scan (column pruning evidence)."""
    return [s.metadata().apply("ReadSchema") for s in _file_scans(df)]


def _single_task_window(node) -> bool:
    """A partition-less window: every row of its input goes to one
    task. A map-side (Partial) WindowGroupLimit runs per input
    partition, so it is not one, even with an empty partitionSpec."""
    name = node.nodeName()
    if name == "WindowGroupLimit" and node.mode().toString() == "Partial":
        return False
    return name in ("Window", "WindowGroupLimit") and (
        node.partitionSpec().size() == 0
    )


def _rows_out(node) -> int | None:
    """Rows flowing out of ``node``, read off the nearest node at or
    below it that measures them: a shuffle Exchange's
    ``shuffleRecordsWritten``, else a ``numOutputRows`` metric."""
    m = node.metrics()
    for key in ("shuffleRecordsWritten", "numOutputRows"):
        if m.contains(key):
            return int(m.apply(key).value())
    return _rows_in(node)


def _rows_in(node) -> int | None:
    """Rows flowing into ``node``: its measured children's rows summed
    (a join feeding it directly has two), or None if none is measured."""
    got = [v for k in _inputs(node) if (v := _rows_out(k)) is not None]
    return sum(got) if got else None


def single_partition_window_input_rows(df: DataFrame) -> list[int | None]:
    """One entry per partition-less window (a Window, or a final
    WindowGroupLimit, with an empty ``partitionSpec``) in the plan of
    ``df``: its measured input rows, or None where nothing below it
    measures rows. Legit only over provably bounded inputs; a
    row-proportional input must use the two-phase form in
    ``operators/ranking.py`` / ``operators/packing.py``. The rows come
    from SQL metrics, so ``df`` must already have run for them to be
    filled (an action on ``df`` itself)."""
    return [_rows_in(n) for n in nodes(df) if _single_task_window(n)]


def bnlj_broadcast_rows(df: DataFrame) -> list[int]:
    """The measured broadcast rows of every BroadcastNestedLoopJoin's
    build side (numOutputRows of the BroadcastExchange feeding it) in
    the final plan of ``df``, which must already have run."""
    rows: list[int] = []
    for node in nodes(df):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        side = node.buildSide().toString()
        build = node.left() if side == "BuildLeft" else node.right()
        for sub in _walk(build, _inputs):
            if sub.nodeName() == "BroadcastExchange":
                rows.append(
                    int(sub.metrics().apply("numOutputRows").value())
                )
                break
    return rows
