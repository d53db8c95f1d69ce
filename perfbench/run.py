#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload mart_reload|stream_ingest \
        --seed N --seconds S --trace 0|1

Runs from any working directory against the engine package next to this
directory, and fails (exit 2) when that package is missing. Scratch
output goes to a temporary directory under ``.perfbench/`` in the
checkout and is removed at exit; traced runs keep their spans in
``.perfbench/spans/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``. The
line before it records the regime (cpus, load, steal) and the error
rate. Exit code 1 means an output did not verify.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "crypto_prediction_etl_spark"

E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "bulk_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "readers.table_calls": "count",
    "readers.table_s": "s",
    "readers.table_jobs": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "operators.pyworker_cpu_s": "s",
    "jvm.cpu_s": "s",
    "pipeline.run_indicator_mart_s": "s",
    "pipeline.self_s": "s",
    "writers.reload_window_s": "s",
    "writers.files_written": "count",
    "writers.bytes_written": "bytes",
    "writers.partitions_written": "count",
    "mart.rows_written": "count",
    "quality.check_s": "s",
    "quality.check_jobs": "count",
    "quality.rows_scanned_per_row_written": "ratio",
    "quality.offset_lag_alarms": "count",
    "stream.drain_msgs_per_s": "1/s",
    "stream.batches": "count",
    "stream.rows_per_batch": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.add_batch_share": "ratio",
    "stream.latest_offset_s": "s",
    "stream.query_planning_s": "s",
    "stream.commit_s": "s",
    "stream.latency_tail_s": "s",
    "stream.latency_tail_pct": "%",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "compact.rows_in": "count",
    "compact.rows_out": "count",
    "self.session_s": "s",
    "self.plans_s": "s",
    "self.readers_s": "s",
    "self.operators_s": "s",
    "self.writers_s": "s",
    "self.quality_s": "s",
    "self.streaming_s": "s",
    "self.sinks_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.spans": "count",
    "trace.overhead_share": "ratio",
}


def _driver_mem() -> str:
    """A quarter of host memory, between 1 and 4 GiB: the inputs are
    small, and the host is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(4096, max(1024, total_kb // 4096))}m"


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run(args, tmp: str) -> dict:
    import spans
    from workloads import WORKLOADS, Ctx

    load1, load5 = spans.loadavg()
    steal0 = spans.steal_jiffies()
    from crypto_prediction_etl_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    ev_dir = os.path.join(tmp, "eventlog")
    if args.trace:
        os.makedirs(ev_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer.enabled = bool(args.trace)
    t0 = time.time()
    with tracer.span("get_spark", "session"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
    session_s = time.time() - t0
    tracer.enabled = False
    tracer.sc = spark.sparkContext
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cpus = spark.sparkContext.defaultParallelism
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        def cpu() -> tuple[float, float]:
            kids = spans.descendants(jvm_pid)
            return spans.proc_cpu_s(jvm_pid, children=False), sum(map(spans.proc_cpu_s, kids))

        ctx = Ctx(spark, tracer, tmp, args.seed, float(args.seconds), bool(args.trace), cpu)
        res = WORKLOADS[args.workload](ctx)
        rss = spans.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        _stop_spark(spark)

    for note in res.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    print(f"perfbench: samples {json.dumps(res.samples)}", file=sys.stderr)
    regime = {"cpus": cpus, "load1": load1, "load5": load5,
              "steal_jiffies": spans.steal_jiffies() - steal0}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "regime": regime,
                      "error_rate": res.failed / max(res.attempted, 1)}))

    if not args.trace:
        values = dict(res.e2e, setup_s=session_s + res.setup_s)
        units = E2E
    else:
        values = _layer_metrics(res, ctx, ev_dir, args.workload)
        values["session.get_spark_s"] = session_s
        values["mem.peak_rss_mb"] = rss
        os.makedirs(os.path.join(ROOT, ".perfbench", "spans"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench", "spans", f"{tracer.run_id}.jsonl")
        tracer.dump(path)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
        units = PER_LAYER
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def _layer_metrics(res, ctx, ev_dir: str, workload: str) -> dict:
    import spans

    log = spans.read_event_log(ev_dir)
    tr = ctx.tracer
    if workload == "stream_ingest":
        # micro-batch jobs run on the stream's own threads, outside any span
        t0, t1 = ctx.marks["t0"], ctx.marks["t1"]
        jobs = [j for j, v in log.jobs.items() if t0 <= v["submit"] <= t1]
    else:
        groups = {s.group for s in tr.spans}
        jobs = [j for j, v in log.jobs.items() if v["group"] in groups]
    out = dict(res.layer)
    out.update(spans.exec_totals(log, jobs))
    (jvm0, py0), (jvm1, py1) = ctx.marks["cpu0"], ctx.marks["cpu1"]
    out["jvm.cpu_s"] = jvm1 - jvm0
    out["operators.pyworker_cpu_s"] = py1 - py0
    out["plans.build_jobs"] = len(spans.group_jobs(log, tr.groups("plans") | tr.groups("readers")))
    out["readers.table_jobs"] = len(spans.group_jobs(log, tr.groups("readers")))
    quality = tr.groups("quality")
    out["quality.check_jobs"] = len(spans.group_jobs(log, quality))
    written = out.get("mart.rows_written", 0)
    out["quality.rows_scanned_per_row_written"] = (
        spans.group_records_read(log, quality) / written if written else 0.0)
    for layer, s in tr.self_times().items():
        out["pipeline.self_s" if layer == "pipeline" else f"self.{layer}_s"] = s
    out["trace.spans"] = len(tr.spans)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["mart_reload", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a checkout", file=sys.stderr)
        return 2

    # Spark's Python workers import the package: they inherit PYTHONPATH
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
    })
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _driver_mem())
    try:
        out = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
