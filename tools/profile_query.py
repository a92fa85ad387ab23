#!/usr/bin/env python
"""Time catalog queries bench-style and profile their stages via the
Spark event log.

Usage: python tools/profile_query.py <q1,q2,...> [sf_dir] [runs]

Runs each query bench-style (1 warm-up + ``runs`` timed noop-sink
executions, ``bench.py``'s protocol) in a ``get_spark`` session with the
event log on, and prints per query the median, the samples and the
loadavg (a contended sample self-documents). Then it parses the event
log and prints, for each query's timed window: per-job wall ranges
and, per stage, the wall duration, task count, summed task time, and
the dominant metric split (executor compute / shuffle fetch / GC /
scheduler+overhead) — the "where is the time going" readout the
disabled UI would otherwise provide.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    names = [s.strip() for s in sys.argv[1].split(",") if s.strip()]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    # The event log must be on before the JVM launches, and the session
    # must be get_spark's own so profiled runs execute under the same
    # confs, memory and PYTHONPATH as the bench they diagnose.
    log_dir = tempfile.mkdtemp(prefix="spark-events-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    from convoy_spark.session import get_spark

    spark = get_spark("convoy-spark-profile", data_dir=sf_dir)
    from convoy_spark.queries import QUERIES

    spark.range(1000).selectExpr("sum(id)").collect()

    def noop(name):
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    windows = []
    for name in names:
        noop(name)  # warm-up
        t0 = time.time() * 1000
        samples = []
        for _ in range(runs):
            s = time.perf_counter()
            noop(name)
            samples.append(round(time.perf_counter() - s, 3))
        windows.append((name, t0, time.time() * 1000))
        med = sorted(samples)[len(samples) // 2]
        print(
            f"{name} @ {sf_dir}: median={med}s samples={samples} "
            f"loadavg={os.getloadavg()[0]:.1f}"
        )
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Spark 4 rolling layout: eventlog_v2_<appId>/events_*; fall back
    # to the classic single file.
    v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        paths = sorted(
            os.path.join(v2, f)
            for f in os.listdir(v2)
            if f.startswith("events_")
        )
    else:
        paths = [os.path.join(log_dir, app_id)]
    jobs = {}
    stages = {}
    task_acc = {}

    def _lines():
        for p in paths:
            with open(p) as fh:
                yield from fh

    for line in _lines():
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit": ev.get("Submission Time", 0)}
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["end"] = ev.get("Completion Time", 0)
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is None:
                continue
            stages[si["Stage ID"]] = {
                "submit": sub,
                "name": si.get("Stage Name", "")[:70],
                "wall": (si.get("Completion Time", 0) - sub) / 1000.0,
                "tasks": si.get("Number of Tasks", 0),
            }
        elif e == "SparkListenerTaskEnd":
            # TaskEnd precedes StageCompleted in the log; bank
            # unconditionally and join on stage id afterwards.
            sid = ev["Stage ID"]
            if sid not in task_acc:
                task_acc[sid] = {
                    "task_ms": 0,
                    "gc_ms": 0,
                    "fetch_ms": 0,
                    "cpu_ns": 0,
                    "ser_ms": 0,
                }
            ti = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            st = task_acc[sid]
            dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            st["task_ms"] += max(dur, 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["ser_ms"] += tm.get("Result Serialization Time", 0) + tm.get(
                "Executor Deserialize Time", 0
            )
            srm = tm.get("Shuffle Read Metrics") or {}
            st["fetch_ms"] += srm.get("Fetch Wait Time", 0)

    for name, t0, t1 in windows:
        in_jobs = [j for j in jobs.values() if t0 <= j["submit"] <= t1]
        in_stages = {
            sid: st for sid, st in stages.items() if t0 <= st["submit"] <= t1
        }
        total_job_wall = sum(
            (j.get("end", 0) - j["submit"]) / 1000.0 for j in in_jobs
        )
        # gaps between jobs = driver-side planning/scheduling time
        spans = sorted((j["submit"], j.get("end", j["submit"])) for j in in_jobs)
        gap = 0.0
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            if s2 > e1:
                gap += (s2 - e1) / 1000.0
        print(
            f"{name}: jobs={len(in_jobs)} job_wall_sum={total_job_wall:.2f}s "
            f"inter-job driver gap={gap:.2f}s (planning/analysis)"
        )
        print(
            f"{'sid':>4} {'wall_s':>7} {'tasks':>5} {'task_s':>7} {'cpu_s':>6} "
            f"{'gc_s':>5} {'fetch_s':>7} {'sched_s':>7}  name"
        )
        for sid in sorted(in_stages, key=lambda s: -in_stages[s]["wall"]):
            st = {**{"task_ms": 0, "gc_ms": 0, "fetch_ms": 0, "cpu_ns": 0,
                     "ser_ms": 0}, **task_acc.get(sid, {}), **in_stages[sid]}
            cpu_s = st["cpu_ns"] / 1e9
            sched = max(st["task_ms"] / 1000.0 - cpu_s - st["gc_ms"] / 1000.0, 0)
            print(
                f"{sid:>4} {st['wall']:>7.2f} {st['tasks']:>5} "
                f"{st['task_ms'] / 1000.0:>7.2f} {cpu_s:>6.2f} "
                f"{st['gc_ms'] / 1000.0:>5.2f} {st['fetch_ms'] / 1000.0:>7.2f} "
                f"{sched:>7.2f}  {st['name']}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
