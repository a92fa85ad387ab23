"""Spans around the benchmark's calls into each layer, and the per-layer
figures joined from Spark's status tracker and event log.

A span gives every Spark job it starts its own job group. Jobs per
span come from ``statusTracker().getJobIdsForGroup``; stage, task, GC,
shuffle and job-interval figures come from the event log, joined on the
``spark.jobGroup.id`` job property. Spans never nest, so a span's self
time is its duration.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers are the repository's modules (``convoy_spark.<layer>``);
# ``session`` is the session factory.
LAYERS = [
    "session",
    "sources.jsonl",
    "pipeline.ingest",
    "operators.closure",
    "operators.treestats",
    "pipeline.warehouse",
    "queries.shared",
    "queries.relational",
    "queries.joins",
    "queries.extjoins",
    "queries.eventwin",
    "queries.treestats",
    "queries.graph",
    "queries.similarity",
    "operators.pq",
    "queries.dedup",
    "queries.textops",
    "queries.funnel",
]
LAYER_FIELDS = [
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("gc_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"),
]
SHARED_BUILDS = ["tree_pairs", "lsh_pairs"]
EXTRA_METRICS = [
    ("session.peak_rss_mb", "MB", "lower"),
    ("sources.jsonl.scan_nodes_per_build", "count", "lower"),
    ("pipeline.ingest.keep_ratio", "ratio", "higher"),
    ("pipeline.warehouse.write_mb", "MB", "lower"),
    ("pipeline.warehouse.whole_s", "s", "lower"),
    ("pipeline.warehouse.staged_s", "s", "lower"),
    ("pipeline.warehouse.jobs_per_build", "count", "lower"),
    *[
        (f"queries.shared.{b}.{kind}", "s", "lower")
        for b in SHARED_BUILDS
        for kind in ("cold_s", "warm_s")
    ],
    ("operators.pq.exact_l2_topk.self_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def per_layer_spec() -> list[dict]:
    """Every per-layer metric: name, unit, and which way is better."""
    spec = [
        {"name": f"{layer}.{f}", "unit": unit, "better": better}
        for layer in LAYERS
        for f, unit, better in LAYER_FIELDS
    ]
    spec += [{"name": n, "unit": u, "better": b} for n, u, b in EXTRA_METRICS]
    return spec


@dataclass
class Span:
    group: str
    layer: str
    section: str  # part of the run: "setup", "cold", "warm<i>", "staged", ...
    name: str
    start: float
    end: float
    jobs: list[int]

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans when enabled; a disabled tracer adds nothing."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, section: str, name: str = ""):
        if not self.enabled:
            yield
            return
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, layer)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(Span(group, layer, section, name, t0, t1, jobs))

    def in_section(self, section: str) -> list[Span]:
        return [s for s in self.spans if s.section == section]


@dataclass
class GroupStats:
    tasks: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    scan_json_nodes: int = 0


def _count_json_scans(plan: dict) -> int:
    n = 1 if plan.get("nodeName", "").startswith("Scan json") else 0
    return n + sum(_count_json_scans(c) for c in plan.get("children", []))


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: tasks, GC time, shuffle bytes written, job
    intervals, and JSON scan nodes in the plans of its SQL executions."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not f.endswith(".crc")
    )
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    exec_plans: dict[int, int] = {}
    exec_groups: dict[int, set[str]] = {}
    stats: dict[str, GroupStats] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a partly flushed last line
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_groups.setdefault(int(eid), set()).add(group)
                    stats.setdefault(group, GroupStats())
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        stats[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    st = stats[group]
                    st.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_plans[ev["executionId"]] = _count_json_scans(
                        ev.get("sparkPlanInfo") or {}
                    )
    for eid, groups in exec_groups.items():
        for g in groups:
            stats[g].scan_json_nodes += exec_plans.get(eid, 0)
    return stats


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_figures(spans: list[Span], stats: dict[str, GroupStats]) -> dict[str, dict]:
    """Sum the figures of the given spans per layer."""
    out: dict[str, dict] = {}
    for s in spans:
        g = stats.get(s.group, GroupStats())
        dur = s.end - s.start
        d = out.setdefault(
            s.layer,
            {f: 0.0 for f, _, _ in LAYER_FIELDS},
        )
        d["self_s"] += dur
        d["jobs"] += len(s.jobs)
        d["tasks"] += g.tasks
        d["shuffle_write_mb"] += g.shuffle_bytes / 1e6
        d["gc_s"] += g.gc_ms / 1000.0
        d["driver_gap_s"] += max(0.0, dur - _busy(g.job_intervals, s.start, s.end))
    return out


def layer_values(
    tracer: Tracer, stats: dict[str, GroupStats], groups: list[list[str]]
) -> dict[str, float]:
    """``<layer>.<field>`` values. Each group of sections gives the
    per-layer sums of one section, as the median over the group's
    sections; layers are expected to be disjoint across groups."""
    values: dict[str, float] = {}
    for sections in groups:
        figs = [layer_figures(tracer.in_section(sec), stats) for sec in sections]
        for layer in {layer for f in figs for layer in f}:
            for f, _, _ in LAYER_FIELDS:
                values[f"{layer}.{f}"] = statistics.median(
                    fig.get(layer, {}).get(f, 0.0) for fig in figs
                )
    return values


def as_metrics(values: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric with its unit; a layer or figure the
    workload never reached reads 0."""
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in per_layer_spec()
    }
