"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,catalog,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Builds the workload's inputs from the
seed, starts a Spark session through ``session.get_spark`` on
``local[min(4, cpus)]``, warms up, runs a fixed number of ops (set by
``--seconds`` and the workload's nominal rate, never by a clock), checks
the outputs, stops every process it started and prints one JSON line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and reports the per-layer metrics, and writes the full span
record to ``.perfbench_out/``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

# Steps (a write and its reads, or one query) per second of --seconds,
# per workload. On a 4-core box a run's timed loop lasts about --seconds
# for catalog, ~1.4 x --seconds for ingest (ten writes, whose median
# spread half as much across runs as one of six did) and one whole pass,
# ~17 s, for query. Fixed counts keep the work identical on both sides of
# a comparison.
NOMINAL_OPS_PER_S = {"ingest": 1.0, "catalog": 0.35, "query": 0.35}
MIN_OPS = 5

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_latency_s": "s",
    "read_latency_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark.s": "s",
    "op.build_s": "s",
    "op.build_jobs": "count",
    "op.plan_s": "s",
    "op.exec_s": "s",
    "op.exec_jobs": "count",
    "op.exec_task_s": "s",
    "op.exec_shuffle_mb": "MB",
    "op.exec_spill_mb": "MB",
    "op.busy_share": "ratio",
    "read.build_s": "s",
    "read.build_jobs": "count",
    "read.plan_s": "s",
    "read.exec_s": "s",
    "read.exec_jobs": "count",
    "read.exec_task_s": "s",
    "io.load_table.s": "s",
    "io.load_table.jobs": "count",
    "trace.op_latency_s": "s",
    "trace.items_per_s": "1/s",
}
# Which op kinds feed the op_* and read_* metrics. A query is both the
# workload's item-completing op and a read.
OP_KINDS = ("write", "query")
READ_KINDS = ("read", "query")
PHASES = {
    "build": ("write.build", "read.build", "query.build",
              "catalog.apply_actions"),
    "plan": ("write.plan", "read.plan", "query.plan"),
    "exec": ("write.exec", "read.exec", "query.exec",
             "catalog.materialize", "streaming.pin_audit"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(NOMINAL_OPS_PER_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def wrap_load_table(tracer) -> None:
    """Traced runs: a span around every ``io.load_table`` call, in every
    program module that imported it by name."""
    from data_ingestion_py_spark import io

    original = io.load_table

    def traced(*args, **kwargs):
        with tracer.span("io.load_table"):
            return original(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("data_ingestion_py_spark") and (
            getattr(mod, "load_table", None) is original
        ):
            mod.load_table = traced


def typical(wl, kinds, value) -> float:
    """The median over passes of the mean ``value(op)`` in a pass, over
    the timed ops of ``kinds``. A pass is one op, except on query, where
    it is one run of the seven queries: they differ up to sixfold in
    cost, so a median over them is the latency of whichever query sits
    in the middle and jumps with that query, while the pass mean carries
    every query."""
    from perfbench.harness import p50

    vals = [value(o) for o in wl.ops if o.kind in kinds]
    if not vals:
        return 0.0
    n = wl.pass_size
    return p50([statistics.fmean(vals[i:i + n]) for i in range(0, len(vals), n)])


def phase_metrics(wl, tracer, slots: int) -> dict:
    from perfbench.harness import p50

    per_op: dict[int, dict] = {}
    for s in tracer.spans:
        if s.op is None:
            continue
        for phase, names in PHASES.items():
            if s.name in names:
                d = per_op.setdefault(s.op, {})
                d[f"{phase}_s"] = d.get(f"{phase}_s", 0.0) + (s.end - s.start)
                d[f"{phase}_jobs"] = d.get(f"{phase}_jobs", 0) + tracer.inclusive(s, "jobs")
                for key in ("task_s", "shuffle_mb", "spill_mb"):
                    d[f"{phase}_{key}"] = d.get(f"{phase}_{key}", 0.0) + tracer.inclusive(s, key)

    out = {}
    for prefix, kinds in (("op", OP_KINDS), ("read", READ_KINDS)):
        for key in ("build_s", "build_jobs", "plan_s", "exec_s", "exec_jobs",
                    "exec_task_s", "exec_shuffle_mb", "exec_spill_mb"):
            out[f"{prefix}.{key}"] = typical(
                wl, kinds, lambda o: per_op.get(o.idx, {}).get(key, 0.0))
    out["op.busy_share"] = out["op.exec_task_s"] / (out["op.exec_s"] * slots)
    calls = tracer.by_name("io.load_table", op_only=False)
    out["io.load_table.s"] = p50([s.end - s.start for s in calls]) if calls else 0.0
    out["io.load_table.jobs"] = (
        p50([tracer.inclusive(s, "jobs") for s in calls]) if calls else 0.0
    )
    return out


def self_times(wl, tracer) -> dict:
    """Median over timed ops of each span name's summed self time."""
    from perfbench.harness import p50

    per: dict[str, dict[int, float]] = {}
    for s in tracer.spans:
        if s.op is not None:
            d = per.setdefault(s.name, {})
            d[s.op] = d.get(s.op, 0.0) + tracer.self_s(s)
    return {name: p50(list(d.values())) for name, d in sorted(per.items())}


def end_to_end(wl, setup_s: float, rss_mb: float) -> dict:
    wall = sum(o.latency for o in wl.ops)
    items = sum(o.items for o in wl.ops if o.ok)
    return {
        "setup_s": setup_s,
        "items_per_s": items / wall,
        "op_latency_s": typical(wl, OP_KINDS, lambda o: o.latency),
        "read_latency_s": typical(wl, READ_KINDS, lambda o: o.latency),
        "peak_rss_mb": rss_mb,
    }


def tails(wl) -> dict:
    from perfbench.harness import tail

    return {
        name: tail([o.latency for o in wl.ops if o.kind in kinds])
        for name, kinds in (("op", OP_KINDS), ("read", READ_KINDS))
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "data_ingestion_py_spark").is_dir():
        print("perfbench: run from a checkout that holds data_ingestion_py_spark",
              file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    work = harness.fresh_workdir(args.workload, args.seed)
    harness.pin_environment(work)
    from data_ingestion_py_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = harness.Tracer(spark.sparkContext if args.trace else None)
        if args.trace:
            wrap_load_table(tracer)
        cls = WORKLOADS[args.workload]
        n_ops = max(MIN_OPS, round(args.seconds * NOMINAL_OPS_PER_S[args.workload]))
        n_ops = -(-n_ops // cls.pass_size) * cls.pass_size
        wl = cls(spark, work, args.seed, n_ops, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        wl.run()
        rss_mb = harness.peak_rss_mb(os.getpid())
        t_check = time.perf_counter()
        try:
            wl.check()
        except Exception as exc:  # a check that cannot run fails every op
            print(f"perfbench: check raised {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            for o in wl.ops:
                o.ok = False
        check_s = time.perf_counter() - t_check
        e2e = end_to_end(wl, setup_s, rss_mb)
        layers = None
        if args.trace:
            layers = {"session.get_spark.s": get_spark_s,
                      **phase_metrics(wl, tracer, int(os.environ["SPARK_GRAFT_CPUS"])),
                      "trace.op_latency_s": e2e["op_latency_s"],
                      "trace.items_per_s": e2e["items_per_s"]}
            own = wl.layer_metrics()
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(wl.ops)
    failed = sum(not o.ok for o in wl.ops)
    report = {
        "workload": args.workload, "seed": args.seed, "n_ops": n_ops,
        "warmup_s": wl.warmup_s, "tails": tails(wl),
        "ops": [o.__dict__ for o in wl.ops],
        "end_to_end": e2e,
    }
    if args.trace:
        report.update(per_layer=layers, workload_layers=own,
                      self_s=self_times(wl, tracer),
                      counts=dict(tracer.counts), spans=tracer.dump())
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{args.workload}-s{args.seed}.json"
        path.write_text(json.dumps(report, indent=1, default=str))
        print(f"perfbench: span record in {path}", file=sys.stderr)
        metrics, units = layers, PER_LAYER
        for k, v in own.items():
            print(f"perfbench: {k} = {v}", file=sys.stderr)
    else:
        metrics, units = e2e, END_TO_END
    print(f"perfbench: get_spark {get_spark_s:.1f}s, setup {setup_s:.1f}s, "
          f"check {check_s:.1f}s, total {time.perf_counter() - T_START:.1f}s; "
          f"warm-up steps {[round(x, 2) for x in wl.warmup_s]}; "
          f"tails {report['tails']}", file=sys.stderr)
    print("perfbench: ops " + " ".join(
        f"{o.kind}:{o.label.replace(' ', '_')}:{o.latency:.2f}" for o in wl.ops), file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
