#!/usr/bin/env python3
"""TPCx-BB-shaped benchmark of gpu_bdb_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout. One run: build the data if the checkout
has none yet (excluded from every metric), set up (session, seeded
inputs, one warm pass at the timed data that also collects the outputs
for the check), measure the fixed number of timed units `--seconds`
buys, check the outputs, and print as the LAST stdout line one JSON
object {correct, attempted, failed, metrics}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the timed phase runs three times
with the units half of `--seconds` buys (settle, untraced, traced), the
metrics are the per-layer ones, and the spans go to
.bench_build/perfbench/traces/. A detail JSON line comes just before the
last line. Everything the run writes stays under .bench_build/.

See perfbench/NOTES.md for the workloads, the metric map and the noise
facts.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
#: Scale factor of the generated data (NOTES.md: why not sf0.1).
SF = 0.01

#: name -> unit. Per-op values are means over the traced phase's ops.
PER_LAYER = {
    "session.start_s": "s",
    "queries.construct_s": "s/op", "queries.construct_jobs": "count/op",
    "registry.boundary_s": "s/op", "registry.cached_blocks": "count/op",
    "exec.s": "s/op", "exec.jobs": "count/op", "exec.stages": "count/op",
    "exec.tasks": "count/op", "exec.task_run_s": "s/op",
    "exec.task_cpu_s": "s/op", "exec.gc_s": "s/op",
    "exec.occupancy": "ratio", "exec.empty_task_frac": "ratio",
    "exec.sched_wait_s": "s/op", "exec.shuffle_read_bytes": "B/op",
    "exec.shuffle_write_bytes": "B/op", "exec.spill_bytes": "B/op",
    "io.scan_rows": "count/op", "io.scan_bytes": "B/op",
    "io.scan_task_max_frac": "ratio",
    "operators.py_boot_s": "s/op", "operators.py_init_s": "s/op",
    "operators.py_run_s": "s/op", "operators.py_bytes_sent": "B/op",
    "operators.py_bytes_recv": "B/op",
    "runner.stream_wall_max_s": "s", "runner.stream_wall_min_s": "s",
    "runner.stream_skew": "ratio",
    "streaming.batch_s": "s", "streaming.add_batch_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_mem_bytes": "B", "streaming.input_rows": "count",
    "fail_frac": "ratio", "trace.overhead_frac": "ratio",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(tmp: str, cores: int) -> None:
    """Point every temp and scratch location of the run (Python, the JVM,
    Spark's local dirs) into `tmp`, before the JVM starts."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session(workload: str, tmp: str, traced: bool):
    from gpu_bdb_spark.session import TUNED_CONF, get_spark

    java = TUNED_CONF["spark.driver.extraJavaOptions"]
    extra = {
        "spark.driver.extraJavaOptions":
            f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if traced:
        # keep every job of a run in the status store for the trace
        extra.update({"spark.ui.retainedJobs": "50000",
                      "spark.ui.retainedStages": "50000",
                      "spark.sql.ui.retainedExecutions": "50000"})
    if workload == "streams_mix":
        extra["spark.scheduler.mode"] = "FAIR"
    return get_spark(app_name=f"perfbench-{workload}", extra_conf=extra)


def _ensure_data(spark) -> tuple[str, float]:
    """The generated tables, built once per checkout."""
    from gpu_bdb_spark.testdata_gen import write_testdata

    data = os.path.join(BUILD, f"sf{SF}")
    if os.path.exists(os.path.join(data, "_READY")):
        return data, 0.0
    t0 = time.time()
    part = f"{data}.part{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    write_testdata(spark, part, SF)
    open(os.path.join(part, "_READY"), "w").close()
    shutil.rmtree(data, ignore_errors=True)
    os.rename(part, data)
    return data, time.time() - t0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def _phase(wl, ctx, log) -> float:
    t0 = time.perf_counter()
    wl.timed(ctx, log)
    return time.perf_counter() - t0


def run(args, tmp: str, cores: int) -> tuple[dict, dict]:
    from perfbench import stats, tracing as trace
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"known: {', '.join(WORKLOADS)}")
    t0 = time.time()
    spark = _session(args.workload, tmp, bool(args.trace))
    session_s = time.time() - t0
    try:
        data, build_s = _ensure_data(spark)
        ctx = Ctx(spark, data, tmp, args.seed, args.seconds, cores,
                  trace.Tracer(enabled=False), None)
        wl = WORKLOADS[args.workload]()
        t_prep = time.time()
        wl.prepare(ctx)
        t_warm = time.time()
        wl.warm(ctx)
        t_ready = time.time()
        setup_s = t_ready - T_START - build_s
        detail = {"workload": args.workload, "seed": args.seed,
                  "cores": cores, "sf": SF, "build_s": build_s,
                  "setup_phases": {"start_s": t0 - T_START,
                                   "session_s": session_s,
                                   "prepare_s": t_warm - t_prep,
                                   "warm_s": t_ready - t_warm}}

        if args.trace:
            # two timed phases, untraced then traced, in one run's time,
            # after an unrecorded one so that neither still warms up
            ctx.seconds = args.seconds / 2
            _phase(wl, ctx, stats.OpLog())
        log = stats.OpLog()
        timed_s = _phase(wl, ctx, log)
        logs = [log]
        e2e, detail["untraced"] = stats.end_to_end(log, timed_s, setup_s)
        if args.trace:
            sc = spark.sparkContext
            ctx.tracer = trace.Tracer(sc, enabled=True)
            ctx.store = trace.StatusStore(spark)
            tlog = stats.OpLog()
            traced_s = _phase(wl, ctx, tlog)
            logs.append(tlog)
            e2e_traced, detail["traced"] = stats.end_to_end(
                tlog, traced_s, setup_s)
            if hasattr(wl, "attribution_pass"):
                wl.attribution_pass(ctx)
            dump = {"jobs": ctx.store.jobs(), "stages": ctx.store.stages(),
                    "executions": ctx.store.sql_executions()}
            trace.attach_jobs_by_group(ctx.tracer.spans, dump["jobs"])
            layers = wl.layers(ctx, dump)

        detail["checks"] = wl.check(ctx)
        for lg in logs:
            for key, err in detail["checks"].items():
                if err is not None:
                    lg.mark_wrong(key)
        attempted = sum(lg.attempted for lg in logs)
        failed = sum(lg.failed for lg in logs)
        if not args.trace:
            metrics = e2e
        else:
            overhead = {k: e2e_traced[k]["value"] / e2e[k]["value"] - 1
                        for k in e2e if k != "setup_s"}
            detail["trace_overhead"] = overhead
            layers.update({
                "session.start_s": session_s,
                "fail_frac": failed / attempted,
                # ops_per_s falls when tracing costs time
                "trace.overhead_frac": -overhead["ops_per_s"],
            })
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            path = os.path.join(
                BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
            ctx.tracer.write(path, {**detail, "layers": metrics})
            detail["trace_file"] = os.path.relpath(path, ROOT)
        result = {"correct": failed == 0 and all(
                      v is None for v in detail["checks"].values()),
                  "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        return result, detail
    finally:
        _stop(spark)


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(BUILD, "tmp"))
    _isolate(tmp, cores)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != HERE]
    try:
        result, detail = run(args, tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
