#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage::

    python3 perfbench/run.py --workload warehouse_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run is a fresh process on
``local[nproc]`` and one client issuing the workload's operations back
to back (a closed loop). The first pass over the operations is the cold
pass; later passes are warm and repeat until ``--seconds`` have passed
since the cold pass began (at least ``MIN_WARM`` of them). Every
operation's output is checked outside the timer.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the Spark event log is turned on from outside the
program, warm passes alternate untraced and traced, and the last line
carries the per-layer metrics. The line before it holds run details
(host load, pass times, per-operation times, fail ratio).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM = 1
END_TO_END = [
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
    ("rows_per_s", "rows/s"),
    ("output_mb", "MB"),
    ("retained_heap_mb", "MB"),
]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _host_probe_s() -> float:
    """Seconds for a fixed pure-Python loop. On a shared host the speed
    drifts with the neighbours' load, which loadavg inside a VM does not
    show; this gauge does."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _retained_heap_mb(spark) -> float:
    """Heap the session still holds after full collections. The second
    collection frees what Spark's context cleaner released after the
    first one."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / (1 << 20)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(k) for k in kids) and time.time() < deadline:
        time.sleep(0.1)
    for k in kids:
        if _alive(k):
            os.kill(k, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _configure_env(run_dir: str, trace: bool) -> str:
    """Host hygiene: threads pinned to nproc, a fresh local dir, temp
    files inside the run directory. Tracing turns on the event log
    through the submit arguments, so the session factory is untouched."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "eventlog")
    for d in (local, tmp, events):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return events


def _enough(passes: list[dict], trace: bool) -> bool:
    """An untraced run needs ``MIN_WARM`` warm passes. In a traced run
    warm passes alternate untraced and traced, and it needs a traced
    one bracketed by untraced ones, so the JIT ramp between passes does
    not read as tracing overhead."""
    warm = passes[1:]
    if trace:
        return len(warm) >= 3 and not warm[-1]["traced"]
    return len(warm) >= MIN_WARM


def _run_pass(ops, spark, tracer, section, traced):
    """One pass over the operations: returns (seconds, results, per-op
    seconds, failed count). Only the operation is timed; its check runs
    after the timer stops."""
    total, results, times, failed = 0.0, [], {}, 0
    for op in ops:
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span(op.layer, section, op.name):
                    res = op.run(spark)
            else:
                res = op.run(spark)
        except Exception as e:  # a failed operation is counted, not fatal
            total += time.perf_counter() - t0
            print(f"perfbench: {op.name} raised {type(e).__name__}: {e}", file=sys.stderr)
            failed += 1
            results.append(None)
            continue
        dt = time.perf_counter() - t0
        total += dt
        times[op.name] = round(dt, 4)
        results.append(res)
        try:
            ok = op.check(res)
        except Exception as e:
            print(f"perfbench: check of {op.name} raised {e!r}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {op.name} output check failed", file=sys.stderr)
            failed += 1
    return total, results, times, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "convoy_spark", "session.py")):
        print(f"perfbench: no convoy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, trace, work_root, run_dir, workloads)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _setup(wl, trace: bool):
    """Time the set-up: session factory, package shipping and one
    trivial action. Returns the session, its seconds, and the tracer
    (holding the set-up span when tracing)."""
    t0, e0 = time.perf_counter(), time.time()
    from convoy_spark.session import ensure_executor_imports, get_spark

    spark = get_spark("perfbench", data_dir=wl.data_dir)
    ensure_executor_imports(spark)
    sc = spark.sparkContext
    if trace:
        sc.setJobGroup("perfbench-session", "session")
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    import spans

    tracer = spans.Tracer(sc, trace)
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sorted(sc.statusTracker().getJobIdsForGroup("perfbench-session"))
        tracer.spans.append(
            spans.Span(
                "perfbench-session", "session", "setup", "get_spark", e0, time.time(), jobs
            )
        )
    return spark, setup_s, tracer


def _measure(wl, spark, tracer, seed: int, seconds: float, trace: bool):
    """The cold pass, then warm passes until ``seconds`` have passed.
    Traced runs trace the cold pass and every other warm pass."""
    ops = wl.ops(seed)
    passes: list[dict] = []
    attempted = failed = 0
    results: list = []
    start = time.perf_counter()
    while not (_enough(passes, trace) and time.perf_counter() - start >= seconds):
        i = len(passes)
        traced = trace and i % 2 == 0
        section = "cold" if i == 0 else f"warm{i}"
        secs, results, times, n_failed = _run_pass(ops, spark, tracer, section, traced)
        attempted += len(ops)
        failed += n_failed
        passes.append({"seconds": secs, "traced": traced, "ops": times})
    return passes, attempted, failed, results


def _run(args, trace, work_root, run_dir, workloads) -> int:
    events_dir = _configure_env(run_dir, trace)
    wl = workloads.WORKLOADS[args.workload]()
    wl.prepare(os.path.join(work_root, "inputs"), run_dir, args.seed)
    load_before, probe_before = os.getloadavg(), _host_probe_s()
    spark, setup_s, tracer = _setup(wl, trace)
    try:
        passes, attempted, failed, results = _measure(
            wl, spark, tracer, args.seed, args.seconds, trace
        )
        output_mb = wl.output_mb(results)
        peak_rss_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        retained_mb = _retained_heap_mb(spark)
        extras = wl.trace_extras(spark, tracer) if trace else {}
    finally:
        _stop_spark(spark)
    load_after, probe_after = os.getloadavg(), _host_probe_s()

    warm_s = statistics.median(p["seconds"] for p in passes[1:] if not p["traced"])
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": _nproc(),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "host_probe_s": [round(probe_before, 4), round(probe_after, 4)],
        "input_rows": wl.input_rows,
        "passes": [round(p["seconds"], 4) for p in passes],
        "pass_traced": [p["traced"] for p in passes],
        "cold_op_seconds": passes[0]["ops"],
        "op_seconds": passes[-1]["ops"],
        "fail_ratio": failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    if trace:
        import spans

        values = wl.per_layer(tracer, spans.read_event_log(events_dir))
        values.update(extras)
        values["session.peak_rss_mb"] = peak_rss_mb
        traced_warm = [p["seconds"] for p in passes[1:] if p["traced"]]
        values["trace.overhead_s"] = statistics.median(traced_warm) - warm_s
        details["trace_overhead_s"] = values["trace.overhead_s"]
        metrics = spans.as_metrics(values)
    else:
        values = {
            "setup_s": setup_s,
            "cold_s": passes[0]["seconds"],
            "warm_s": warm_s,
            "rows_per_s": wl.input_rows / warm_s,
            "output_mb": output_mb,
            "retained_heap_mb": retained_mb,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"details": details}))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
