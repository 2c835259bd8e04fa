"""Tests of the benchmark's own arithmetic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import cputime  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(BENCH)


# -- tail percentile ---------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert stats.tail_percentile([1.0] * 10) is None
    assert stats.tail_percentile([float(i) for i in range(11)]) == (9, 0.0)


@pytest.mark.parametrize("n", [11, 20, 37, 64, 100, 250, 2000])
def test_tail_leaves_at_least_ten_beyond_and_is_the_highest(n):
    values = [float(i) for i in range(n)]  # distinct, so "beyond" is exact
    p, v = stats.tail_percentile(values)
    assert sum(x > v for x in values) >= 10
    if p < 99:  # the next whole percentile would leave fewer than ten
        rank = -(-(p + 1) * n // 100)
        assert n - rank < 10


def test_tail_of_a_hundred_is_p90():
    values = [float(i) for i in range(1, 101)]
    assert stats.tail_percentile(values) == (90, 90.0)


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert stats.tail_percentile(values) == stats.tail_percentile(sorted(values))


def test_geomean_of_medians_weighs_every_key_once():
    passes = [{"a": 1.0, "b": 4.0}, {"a": 3.0, "b": 4.0}, {"a": 2.0, "b": 100.0}]
    # medians a=2, b=4
    assert stats.geomean_of_medians(passes) == pytest.approx((2.0 * 4.0) ** 0.5)


def test_geomean_of_medians_skips_a_key_missing_from_a_pass():
    passes = [{"a": 1.0, "b": 9.0}, {"a": 1.0}]  # b failed in the second pass
    assert stats.geomean_of_medians(passes) == pytest.approx(3.0)


# -- span self time ----------------------------------------------------

def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_covered_child_time():
    t = tracing.Tracer()
    q = t.add("q", "query", 0.0, 10.0, None)
    b = t.add("build", "build", 0.0, 4.0, q)
    t.add("exec", "exec", 4.0, 10.0, q)
    t.add("job 1", "job", 1.0, 2.0, b)
    t.add("job 2", "job", 1.5, 3.0, b)  # overlaps job 1
    st = tracing.self_times(t.spans)
    assert st["query"] == pytest.approx(0.0)
    assert st["build"] == pytest.approx(2.0)
    assert st["exec"] == pytest.approx(6.0)
    assert st["job"] == pytest.approx(2.5)


def test_self_time_clips_children_to_parent():
    t = tracing.Tracer()
    p = t.add("exec", "exec", 1.0, 2.0, None)
    t.add("job", "job", 0.999, 2.001, p)  # ms-rounded event-log clock
    assert tracing.self_times(t.spans)["exec"] == pytest.approx(0.0)


# -- process-tree CPU ----------------------------------------------------

def test_parse_stat_counts_fields_after_the_last_paren():
    fields = ["S", "42"] + [str(i) for i in range(2, 20)]
    line = "123 (a) b (c)) " + " ".join(fields)
    # fields[13] and [14] of the rest are cutime and cstime
    assert cputime.parse_stat(line) == (42, 13 + 14)


def _burn(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_tree_cpu_counts_this_process():
    c0 = cputime.tree_cpu_s()
    _burn(0.2)
    assert cputime.tree_cpu_s() - c0 >= 0.19


def test_tree_cpu_counts_a_child_alive_and_after_it_is_reaped():
    code = ("import time\nend = time.process_time() + 0.3\n"
            "while time.process_time() < end: pass\nprint(flush=True)\ninput()")
    c0 = cputime.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", code],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the child has burnt its CPU
        alive = cputime.tree_cpu_s() - c0
    finally:
        child.stdin.close()
        child.wait()
    reaped = cputime.tree_cpu_s() - c0
    assert alive >= 0.29
    assert reaped >= alive - 0.02  # reaped child time is kept, in ticks


# -- event log attribution ----------------------------------------------

def _task(stage, tid, launch, finish, **metrics):
    accs = metrics.pop("accs", [])
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Task ID": tid, "Launch Time": launch, "Finish Time": finish,
                      "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": metrics.get("run_ms", 0),
            "Executor CPU Time": metrics.get("cpu_ns", 0),
            "JVM GC Time": 0,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": metrics.get("in_bytes", 0),
                              "Records Read": metrics.get("in_rows", 0)},
            "Output Metrics": {"Bytes Written": metrics.get("out_bytes", 0),
                               "Records Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": metrics.get("sr", 0)},
        },
    }


def _tiny_log() -> list[str]:
    """Query span 7: its build phase (span 8) runs job 0, its exec phase
    (span 9) runs jobs 1 and 2; job 3 has no group. Stage 2 runs an
    ArrowEvalPython node whose row metric is accumulator 55."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "8"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1100}},
        _task(0, 0, 1000, 1100, run_ms=100, in_bytes=2_000_000, in_rows=50),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "WholeStageCodegen", "metrics": [], "children": [
             {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
                 {"name": "number of output rows", "accumulatorId": 55}]}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "9"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1200, "Completion Time": 1300}},
        _task(1, 1, 1200, 1300, run_ms=100, sw=1_000_000),
        _task(1, 2, 1200, 1220, run_ms=20, sw=500_000),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 1300, "Completion Time": 1400}},
        _task(2, 3, 1300, 1400, run_ms=80, sr=1_500_000, out_bytes=4096, accs=[
            {"ID": 55, "Name": "number of output rows", "Update": "12"},
            {"ID": 60, "Name": "number of output rows", "Update": "99"},
            {"ID": 56, "Name": "data sent to Python workers", "Update": "300"},
            {"ID": 57, "Name": "data returned from Python workers", "Update": "700"}]),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1400,
         "Stage IDs": [1, 3], "Properties": {"spark.jobGroup.id": "9"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1450},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1500,
         "Stage IDs": [], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1510},
    ]
    return [json.dumps(e) for e in events]


def test_jobs_are_attributed_to_build_or_exec_by_group():
    log = tracing.parse_event_log(_tiny_log())
    groups = tracing.jobs_by_group(log)
    assert [j.id for j in groups["8"]] == [0]
    assert [j.id for j in groups["9"]] == [1, 2]
    assert all(j.id != 3 for js in groups.values() for j in js)
    assert groups["8"][0].start == pytest.approx(1.0)
    assert groups["8"][0].end == pytest.approx(1.1)


def test_stage_totals_of_exec_jobs():
    log = tracing.parse_event_log(_tiny_log())
    exec_jobs = tracing.jobs_by_group(log)["9"]
    # stage 1 belongs to jobs 1 and 2 but is counted once; stage 3 never ran
    stages = tracing.job_stages(log, exec_jobs)
    assert sorted(s.id for s in stages) == [1, 2]
    tot = tracing.stage_totals(stages, cores=4)
    assert tot["tasks"] == 3 and tot["stages"] == 2
    assert tot["run_s"] == pytest.approx(0.2)
    assert tot["shuffle_write"] == 1_500_000 and tot["shuffle_read"] == 1_500_000
    assert tot["slot_util"] == pytest.approx(0.2 / (0.2 * 4))
    assert tot["task_skew"] == pytest.approx(0.1 / 0.06)  # stage 1 only
    assert tot["py_rows"] == 12 and tot["py_bytes"] == 1000
    assert tot["py_stage_s"] == pytest.approx(0.08)
    assert [j.id for j in tracing.write_jobs(exec_jobs, log)] == [1]


def test_build_job_scans_input():
    log = tracing.parse_event_log(_tiny_log())
    build = tracing.stage_totals(
        tracing.job_stages(log, tracing.jobs_by_group(log)["8"]), cores=4)
    assert build["in_bytes"] == 2_000_000 and build["in_rows"] == 50
    assert build["py_rows"] == 0


# -- BENCHMARK.json and workloads ---------------------------------------

def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_unique():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_every_declared_metric_is_computed_by_run_py():
    with open(os.path.join(BENCH, "run.py")) as fh:
        source = fh.read()
    spec = _spec()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert f'"{m["name"]}"' in source, m["name"]


def test_declared_workloads_exist():
    assert {w["name"] for w in _spec()["workloads"]} == set(WORKLOADS)
    for w in WORKLOADS.values():
        assert set(w.fixture_keys) <= set(w.keys)


# -- input generation ----------------------------------------------------

def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = datagen.tables(7), datagen.tables(7), datagen.tables(8)
    assert list(a) == datagen.TABLES
    for t in datagen.TABLES:
        assert a[t].equals(b[t]), t
    assert not a["lineitem"].equals(c["lineitem"])
