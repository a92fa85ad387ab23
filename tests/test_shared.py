"""The session-shared build registry (queries/shared.py), over fake
builds on ``spark.range``: one build per (applicationId, sf_dir), a hit
that submits no Spark job, per-query read recording and self time."""

from __future__ import annotations

import os
import time

from convoy_spark.queries.shared import Registry

SF = "fake/sf"


def _fake_builds(reg: Registry, calls: list):
    @reg.shared_build("base")
    def base(spark, sf_dir):
        calls.append(("base", sf_dir))
        time.sleep(0.3)
        return spark.range(100).localCheckpoint(eager=False)

    @reg.shared_build("pair", family="fam")
    def pair(spark, sf_dir):
        calls.append(("pair", sf_dir))
        b = base(spark, sf_dir)
        time.sleep(0.1)
        return b.selectExpr("id * 2 AS id"), spark.range(3)

    return base, pair


def _in_group(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_registry_builds_once_per_session_and_dir(spark):
    reg = Registry()
    calls = []
    base, pair = _fake_builds(reg, calls)

    built, n_jobs = _in_group(spark, "registry-miss", lambda: pair(spark, SF))
    assert n_jobs > 0
    assert calls == [("pair", SF), ("base", SF)]
    assert isinstance(built, tuple) and len(built) == 2

    # a hit returns the cached value and submits no Spark job
    hit, n_jobs = _in_group(spark, "registry-hit", lambda: pair(spark, SF))
    assert n_jobs == 0
    assert hit is built
    assert calls == [("pair", SF), ("base", SF)]

    # a distinct sf_dir string is a distinct key: it builds again
    fresh = SF + os.sep
    pair(spark, fresh)
    assert calls[2:] == [("pair", fresh), ("base", fresh)]
    assert reg.families == {"base": "base", "pair": "fam"}


def test_registry_records_reads_and_self_time(spark):
    reg = Registry()
    base, pair = _fake_builds(reg, [])

    t0 = time.perf_counter()
    pair(spark, SF)  # outside recording: builds, records nothing
    wall = time.perf_counter() - t0
    assert reg.reads == {}
    # the nested build's time is charged to it alone, not to its caller
    assert reg.seconds["base"] >= 0.3
    assert reg.seconds["pair"] >= 0.1
    assert reg.seconds["base"] + reg.seconds["pair"] <= wall

    with reg.recording("q_pair"):
        pair(spark, SF)  # a hit still credits the build it was built from
    with reg.recording("q_base"):
        base(spark, SF)
    assert reg.reads == {"q_pair": {"pair", "base"}, "q_base": {"base"}}
