"""Plan introspection: make "is this the plan I'd want at 100 TB?" a
testable assertion instead of a manual .explain() read.

Used by tests/test_plans.py to pin the physical properties that matter
at scale: filters reaching the parquet scan, column pruning, dimension
joins broadcasting (not shuffling), hot paths staying inside
whole-stage codegen, and shuffle counts not regressing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame | str) -> str:
    """Final (post-AQE-planning) physical plan as text. A ``str`` is
    plan text read earlier and passes through, so the text predicates
    below also judge a plan read before its query ran."""
    if isinstance(df, str):
        return df
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') output (scan details incl. PushedFilters)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings per scan (column pruning evidence)."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", formatted_plan(df))


def count_ops(df: DataFrame, op: str) -> int:
    return len(re.findall(rf"\b{re.escape(op)}\b", executed_plan(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return count_ops(df, "BroadcastHashJoin") > 0 or count_ops(
        df, "BroadcastNestedLoopJoin"
    ) > 0


def has_sort_merge_join(df: DataFrame) -> bool:
    return count_ops(df, "SortMergeJoin") > 0


def num_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (broadcast exchanges excluded)."""
    plan = executed_plan(df)
    return len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))


def uses_python_eval(df: DataFrame | str) -> bool:
    """Any Python evaluation node: row-at-a-time or Arrow UDFs, and the
    Arrow batch stages (``mapInPandas`` / ``mapInArrow``)."""
    plan = executed_plan(df)
    return any(
        op in plan
        for op in (
            "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"
        )
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages ("*(N)" or "WholeStageCodegen (N)")."""
    plan = executed_plan(df)
    ids = re.findall(r"WholeStageCodegen \((\d+)\)", plan)
    ids += re.findall(r"\*\((\d+)\)", plan)
    return len(set(ids))


def single_partition_windows(df: DataFrame | str) -> int:
    """Window operators fed by an Exchange SinglePartition — i.e.
    partition-less windows that move their whole input to one task.
    Legit only over provably bounded inputs (year tables, per-range
    offset tables); a registry query whose window input is
    row-proportional must use the two-phase form in
    ``operators/ranking.py`` / ``operators/packing.py`` instead.
    AQE may interpose ShuffleQueryStage/AQEShuffleRead between the
    Window's Sort and the exchange, so we look a few lines ahead.
    """
    lines = executed_plan(df).splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if re.search(r"\bWindow(?:GroupLimit)? ", line) and "WindowGroupLimit" not in line:
            window = len(lines)
            for j in range(i + 1, min(i + 6, window)):
                if "SinglePartition" in lines[j]:
                    hits += 1
                    break
                # a partitioned exchange or a deeper operator means
                # we've left this Window's input chain
                if re.search(
                    # no \b before Join: SortMergeJoin/BroadcastHashJoin
                    # etc. have no word boundary in front of "Join";
                    # aggregates render as "HashAggregate(keys=..." (a
                    # parenthesis, not a trailing space) and come in
                    # Hash/ObjectHash/Sort variants
                    r"Exchange (?:hash|range)partitioning"
                    r"|(?:Hash|ObjectHash|Sort)Aggregate\(|Join |\bWindow ",
                    lines[j],
                ):
                    break
    return hits


def _node_children(node):
    """Children of an executed SparkPlan node via py4j, following the
    indirections a plain ``children()`` walk would stop at:
    AdaptiveSparkPlan's current plan, QueryStage wrappers' inner plan,
    and ReusedExchange's original exchange (the node that actually
    holds the populated SQL metrics). The adaptive plan is read with
    ``executedPlan()``, which runs nothing: before the query runs it is
    the initial plan, after it runs it is the final plan
    (``finalPhysicalPlan()`` would run the query stages)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _iter_physical_nodes(node):
    """Pre-order walk of an executed SparkPlan via py4j (see
    ``_node_children`` for the followed indirections)."""
    yield node
    for k in _node_children(node):
        yield from _iter_physical_nodes(k)


def _first_rowcount(node) -> int | None:
    """Rows flowing out of the nearest descendant that measures them:
    a shuffle Exchange's ``shuffleRecordsWritten``, else the first
    ``numOutputRows`` metric. Multiple measured branches (a join
    feeding the operator directly) sum."""
    m = node.metrics()
    if m.contains("shuffleRecordsWritten"):
        return int(m.apply("shuffleRecordsWritten").value())
    if m.contains("numOutputRows"):
        return int(m.apply("numOutputRows").value())
    total, found = 0, False
    for k in _node_children(node):
        v = _first_rowcount(k)
        if v is not None:
            total += v
            found = True
    return total if found else None


def single_partition_window_input_rows(df: DataFrame) -> list[int]:
    """The measured input rows of every partition-less
    Window/WindowGroupLimit in the final plan of ``df``, which must
    already have run: an action on ``df`` itself fills the SQL metrics
    read here (``_first_rowcount`` below each window). ``partitionSpec``
    is read off the node, so no text heuristic decides which windows
    are partition-less."""
    rows: list[int] = []
    for node in _iter_physical_nodes(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() not in ("Window", "WindowGroupLimit"):
            continue
        if node.partitionSpec().size() != 0:
            continue
        got = None
        for k in _node_children(node):
            v = _first_rowcount(k)
            if v is not None:
                got = (got or 0) + v
        if got is not None:
            rows.append(got)
    return rows


def bnlj_broadcast_rows(df: DataFrame) -> list[int]:
    """The measured broadcast rows of every BroadcastNestedLoopJoin's
    build side (numOutputRows of the BroadcastExchange feeding it) in
    the final plan of ``df``, which must already have run."""
    rows: list[int] = []
    for node in _iter_physical_nodes(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        side = node.buildSide().toString()
        build = node.left() if side == "BuildLeft" else node.right()
        for sub in _iter_physical_nodes(build):
            if sub.nodeName() == "BroadcastExchange":
                rows.append(
                    int(sub.metrics().apply("numOutputRows").value())
                )
                break
    return rows
