"""Benchmark entry point.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one Spark driver
(``local[<nproc>]``), generates its inputs from ``--seed``, warms up,
times the workload for about ``--seconds`` seconds in whole passes,
checks every output, and prints one JSON result as its last stdout
line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics from spans, Spark's status tracker and
its event log. All scratch files live under ``.perfbench_work/``;
traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_s.geomean": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
}
PER_LAYER = {
    "setup.session_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "driver_peak_rss_mb": "MB",
    "failed_ops_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "io.open.calls": "count",
    "io.open.s": "s",
    "io.open.jobs": "count",
    "io.open.jobs_per_call": "ratio",
    "io.read_csv.s": "s",
    "io.write.s": "s",
    "io.write.bytes": "bytes",
    "io.write.files": "count",
    "queries.build.s": "s",
    "queries.build.jobs": "count",
    "queries.build.stages": "count",
    "queries.pinned": "count",
    "plan.s": "s",
    "plan.chars": "chars",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.batch_ms.p50": "ms",
    "streaming.addbatch_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.sink_lost_rows": "rows",
    "ingest_rows_per_s": "rows/s",
    "consume_legs_per_s": "legs/s",
    "consume.legs": "count",
    "consume.expand_ratio": "ratio",
    "consume.unknown": "count",
    "lookup.s": "s",
    "lookup.jobs": "count",
    "lookup_s.p50": "s",
    "lookup_s.tail": "s",
}
EXEC_LAYERS = ("exec", "io.write", "lookup")


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile. Below 21 samples that percentile would fall under
    the median, so the maximum stands in (percentile 100)."""
    xs = sorted(values)
    i = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[i], round(100.0 * (i + 1) / len(xs), 1)


def host_context(spark, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_probe_s() -> float:
    """Seconds one core takes for a fixed pure-Python loop: tells a slow
    host phase from a slow commit. Timed outside every metric."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def start_spark(work: str, trace: bool):
    """One driver on every core of the machine, engine defaults otherwise,
    with all of its scratch space inside ``work``. The extra settings
    reach the driver JVM at launch through ``PYSPARK_SUBMIT_ARGS``."""
    import shlex

    from flirt_consume_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
        os.makedirs(conf["spark.eventLog.dir"])
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    return get_spark("perfbench", master=f"local[{os.cpu_count()}]")


def jvm_peak_rss_mb(spark) -> float:
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, passes: int, log_dir: str) -> dict[str, float]:
    """Fold spans into per-pass layer totals."""
    from spans import fold_event_log

    out: dict[str, float] = {}

    def add(name, value):
        out[name] = out.get(name, 0.0) + value

    exec_groups = set()
    for rec in tracer.spans:
        layer = rec["layer"]
        if layer == "io.open":
            add("io.open.calls", 1)
            add("io.open.s", rec["end"] - rec["start"])
            add("io.open.jobs", rec["jobs"])
        elif layer == "queries.build":
            add("queries.build.s", tracer.self_time(rec))
            add("queries.build.jobs", rec["jobs"])
            add("queries.build.stages", rec["stages"])
            add("queries.pinned", rec["pinned"])
        elif layer == "plan":
            add("plan.s", rec["end"] - rec["start"])
        if layer in EXEC_LAYERS:
            exec_groups.add(rec["group"])
            add("exec.s", rec["end"] - rec["start"])
            add("exec.jobs", rec["jobs"])
            add("exec.stages", rec["stages"])
            add("exec.tasks", rec["tasks"])
            add("exec.tasks_failed", rec["tasks_failed"])
            add("plan.chars", rec.get("plan_chars", 0))
    for name, value in fold_event_log(log_dir, exec_groups).items():
        add(f"exec.{name}", value)
    return {k: v / passes for k, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine is the package at the checkout root; without it there
    # is nothing to measure, so fail before starting anything.
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import flirt_consume_spark.queries  # noqa: F401

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # Every temp file of this process and its children stays in ``work``.
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Sized for a small machine: one shuffle partition per core, a modest heap.
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", str(os.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = None
    try:
        details, result = measure(args, work, trace, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


def summarize(ops) -> dict:
    """End-to-end figures of one run. Throughput counts operation time
    only: the closed loop's untimed output checks are not the engine's.
    Every operation kind (a query key; drain, consume or lookup) weighs
    the same in the geometric mean."""
    lat = [op.seconds for op in ops]
    by_kind: dict[str, list] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op)
    tail_s, tail_pct = tail(lat)
    out = {
        "ops_per_s": len(lat) / sum(lat),
        "op_s.geomean": math.exp(statistics.fmean(
            math.log(statistics.median(o.seconds for o in v)) for v in by_kind.values())),
        "op_s.p50": statistics.median(lat),
        "op_s.tail": tail_s,
        "samples": len(lat),
        "tail_percentile": tail_pct,
        "kinds": {k: {"n": len(v), "median_s": statistics.median(o.seconds for o in v)}
                  for k, v in by_kind.items()},
    }
    # The ingest workload's own figures, from the same untraced operations.
    for kind, rate in (("drain", "ingest_rows_per_s"), ("consume", "consume_legs_per_s")):
        if kind in by_kind:
            out[rate] = sum(o.amount for o in by_kind[kind]) / sum(o.seconds for o in by_kind[kind])
    if "lookup" in by_kind:
        lookups = [o.seconds for o in by_kind["lookup"]]
        out["lookup_s.p50"] = statistics.median(lookups)
        out["lookup_s.tail"], out["lookup_s.tail_percentile"] = tail(lookups)
        out["lookup_s.samples"] = len(lookups)
    return out


def measure(args, work: str, trace: bool, workload) -> tuple[dict, dict]:
    import numpy as np

    from spans import Tracer, wrap_table_opens
    from workloads import Run

    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    probe_start = cpu_probe_s()
    t0 = time.perf_counter()
    spark = start_spark(work, trace)
    session_s = time.perf_counter() - t0
    try:
        t = time.perf_counter()
        workload.generate(os.path.join(work, "data"), args.seed)
        generate_s = time.perf_counter() - t

        tracer = Tracer(spark, trace)
        if trace:
            wrap_table_opens(tracer)
        run = Run(spark, tracer, np.random.default_rng(args.seed), work)
        # Untimed passes first. A session's first pass carries 10-20 s of
        # JVM and Python-worker start-up on top of the pass itself, and
        # its next passes still speed up (NOTES.md).
        warmup_s = []
        for p in range(workload.warmup_passes):
            t = time.perf_counter()
            (workload.run_pass if p else workload.warmup)(run, -1)
            warmup_s.append(time.perf_counter() - t)
        run.ops.clear()
        run.layer.clear()
        tracer.reset()

        # Whole passes only, as many as fit the run length at the
        # workload's nominal pass time, so both sides of a comparison
        # do the same work. A traced run interleaves each traced pass
        # with an untraced one; the pair prices the tracing.
        passes = max(1, int(args.seconds // workload.pass_s))
        ops = {True: [], False: []}
        pass_s = []
        for p in range(passes):
            for on in (True, False) if trace else (False,):
                tracer.enabled = on
                t = time.perf_counter()
                workload.run_pass(run, p)
                pass_s.append(time.perf_counter() - t)
                ops[on] += run.ops
                run.ops = []
        tracer.enabled = trace
        summary = summarize(ops[trace])
        untraced = summarize(ops[False])
        lost_rows = workload.probe_sink_bug(run) if trace and hasattr(workload, "probe_sink_bug") else 0
        rss_mb = jvm_peak_rss_mb(spark)
        context = host_context(spark, args.seed)
    finally:
        stop_spark(spark)

    ticks_end = cpu_ticks()
    failed_frac = run.failed / run.checked
    details = {
        "workload": args.workload,
        "context": {
            **context,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            # Time the hypervisor ran other guests on this machine's CPUs.
            "cpu_steal_frac": (ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1]),
            "cpu_probe_s": [probe_start, cpu_probe_s()],
        },
        "passes": passes,
        "warmup_pass_s": warmup_s,
        "pass_s": pass_s,
        "untraced": untraced,
        "driver_peak_rss_mb": rss_mb,
        "failed_ops_frac": failed_frac,
    }
    if trace:
        overhead = untraced["ops_per_s"] / summary["ops_per_s"] - 1.0
        details["trace.overhead_frac"] = overhead
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(layer_metrics(tracer, passes, os.path.join(work, "eventlog")))
        layer.update({k: v / passes for k, v in run.layer.items()})
        if layer["io.open.calls"]:
            layer["io.open.jobs_per_call"] = layer["io.open.jobs"] / layer["io.open.calls"]
        n_lookups = summary.get("lookup_s.samples")
        if n_lookups:
            layer["lookup.s"] *= passes / n_lookups
            layer["lookup.jobs"] *= passes / n_lookups
        layer.update({k: untraced[k] for k in PER_LAYER if k in untraced})
        layer.update({
            "setup.session_s": session_s,
            "setup.generate_s": generate_s,
            "setup.warmup_s": sum(warmup_s),
            "driver_peak_rss_mb": rss_mb,
            "failed_ops_frac": failed_frac,
            "trace.overhead_frac": overhead,
            "streaming.sink_lost_rows": lost_rows,
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        e2e = {"setup_s": session_s + generate_s + sum(warmup_s), **summary}
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": run.failed == 0,
        "attempted": run.checked,
        "failed": run.failed,
        "metrics": metrics,
    }
    return details, result


if __name__ == "__main__":
    sys.exit(main())
