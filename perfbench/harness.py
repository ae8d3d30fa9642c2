"""Run lifecycle, span tracing and statistics shared by the workloads.

Tracing is off in timed runs. In a traced run every span records its
name, start, end, parent and op id in memory; each span runs under its
own Spark job group, so the jobs it fires (and their stages' task time,
shuffle and spill from Spark's status store) are attributed to it.
Everything is written out once, when the run ends.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
MB = 1024 * 1024


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder; a no-op unless built with a SparkContext."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self.op: int | None = None

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op,
                 parent.sid if parent else None, 0.0)
        self.spans.append(s)
        if parent:
            parent.children.append(s.sid)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._collect(s)

    def _collect(self, s: Span) -> None:
        """Jobs of the span's own group and their stages' metrics. The
        status store is fed by an asynchronous listener, so drain it
        first."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.sid}"))
        stage_ids = set()
        for j in s.jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        totals = defaultdict(float)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: count it, skip it
                totals["stages_missing"] += 1
                continue
            totals["task_s"] += st.executorRunTime() / 1000.0
            totals["shuffle_mb"] += (
                st.shuffleReadBytes() + st.shuffleWriteBytes()
            ) / MB
            totals["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / MB
            totals["stages"] += 1
        s.stages = dict(totals)

    # -- reading the record -------------------------------------------------

    def inclusive(self, s: Span, key: str) -> float:
        """Metric of a span including its descendants (jobs via groups)."""
        own = len(s.jobs) if key == "jobs" else s.stages.get(key, 0.0)
        return own + sum(self.inclusive(self.spans[c], key) for c in s.children)

    def self_s(self, s: Span) -> float:
        return (s.end - s.start) - sum(
            self.spans[c].end - self.spans[c].start for c in s.children
        )

    def by_name(self, name: str, op_only: bool = True) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (s.op is not None or not op_only)
        ]

    def dump(self) -> list[dict]:
        return [
            {
                "sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                "start": s.start, "end": s.end, "self_s": self.self_s(s),
                "jobs": s.jobs, **{f"stage_{k}": v for k, v in s.stages.items()},
            }
            for s in self.spans
        ]


def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), with that percentile and the sample count."""
    n = len(values)
    ordered = sorted(values)
    for permille in (999, 990, 950, 900, 750, 500):
        if n * (1000 - permille) >= 10 * 1000:
            rank = max(1, -(-permille * n // 1000))
            return {"value": ordered[rank - 1], "percentile": permille / 10,
                    "n": n}
    return None


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of peak RSS (VmHWM) over the driver, the JVM and the Python
    workers: the sum of per-process peaks, an upper bound on the peak
    of the sum."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def pin_environment(work: Path) -> None:
    """The same session inputs on both sides of a comparison: core count,
    driver heap, local dirs, temp dirs. No Spark conf is set here;
    ``session.get_spark`` supplies the program's own defaults."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    import tempfile

    tempfile.tempdir = str(tmp)


def fresh_workdir(workload: str, seed: int) -> Path:
    work = WORK_ROOT / f"{workload}-s{seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    return work


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while _alive(tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in _alive(tree):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _alive(tree) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _alive(pids: list[int]) -> list[int]:
    """The pids still running (zombies count as ended)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            continue
    return out
