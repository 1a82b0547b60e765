"""Unit tests for the benchmark's measurement helpers (no JVM needed).

Run: python3 -m pytest perfbench/tests/test_trace.py -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import trace as tr


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms, cpu_ns=0, gc=0, read=0, sr=0, sw=0, spill=0, out=0):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Input Metrics": {"Bytes Read": read},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Output Metrics": {"Bytes Written": out},
            },
        },
    )


def _job_start(jid, t, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return _ev("SparkListenerJobStart", **{
        "Job ID": jid, "Submission Time": t, "Stage IDs": stages, "Properties": props,
    })


SYNTHETIC_LOG = [
    _ev("SparkListenerLogStart", **{"Spark Version": "4.1.2"}),
    _ev("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        executionId=0, time=990, jobGroupId="op0"),
    _job_start(0, 1000, [0, 1], "op0"),
    _task(0, 10, cpu_ns=4_000_000, gc=1, read=100, sw=50),
    _task(0, 20, cpu_ns=6_000_000, read=100, sw=50),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    # stage 1 is skipped: it never completes and runs no task
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1100}),
    _job_start(1, 1050, [2], "op0.rank"),
    _task(2, 5, sr=100, spill=7, out=300),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1200}),
    _job_start(2, 1300, [3]),
    _task(3, 1),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 3}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 1310}),
]


def test_parse_event_log_attributes_work_to_job_groups():
    groups = tr.parse_event_log(SYNTHETIC_LOG)
    op0 = groups["op0"]
    assert (op0.jobs, op0.stages, op0.tasks, op0.sql_execs) == (1, 1, 2, 1)
    assert op0.job_intervals == [(1000, 1100)]
    assert op0.executor_run_ms == 30
    assert op0.executor_cpu_ms == pytest.approx(10.0)
    assert op0.gc_ms == 1
    assert (op0.input_bytes, op0.shuffle_write_bytes) == (200, 100)
    rank = groups["op0.rank"]
    assert (rank.jobs, rank.stages, rank.tasks) == (1, 1, 1)
    assert (rank.shuffle_read_bytes, rank.spill_bytes, rank.output_bytes) == (100, 7, 300)
    assert groups[""].jobs == 1  # a job run outside any group
    assert groups[""].job_intervals == [(1300, 1310)]


def test_union_merges_overlapping_and_nested_intervals():
    assert tr.union_ms([]) == 0
    assert tr.union_ms([(0, 10)]) == 10
    assert tr.union_ms([(0, 10), (5, 15)]) == 15  # overlap
    assert tr.union_ms([(0, 10), (2, 3)]) == 10  # nested
    assert tr.union_ms([(20, 30), (0, 10)]) == 20  # disjoint, unsorted
    assert tr.union_ms([(0, 10), (10, 12)]) == 12  # touching


def test_driver_gap_is_wall_minus_clipped_union():
    # an op from 1000 to 1400 whose jobs cover 1000-1200 and 1300-1310
    jobs = [(1000, 1100), (1050, 1200), (1300, 1310), (900, 1005)]
    covered = tr.union_ms(tr.clip(jobs, 1000, 1400))
    assert covered == 210
    assert 400 - covered == 190
    assert tr.clip([(0, 5)], 10, 20) == []


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert tr.percentile(xs, 50) == 50
    assert tr.percentile(xs, 90) == 90
    assert tr.percentile(xs, 99) == 99
    assert tr.percentile([7.0], 99.9) == 7.0
    with pytest.raises(ValueError):
        tr.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert tr.tail(list(range(19))) is None  # p50 would leave only 9.5 beyond
    assert tr.tail(list(range(1, 21))) == (50.0, 10)
    assert tr.tail(list(range(1, 101))) == (90.0, 90)
    assert tr.tail(list(range(1, 1001))) == (99.0, 990)
    assert tr.tail(list(range(1, 10001))) == (99.9, 9990)


def test_latency_summary_is_geomean_of_per_kind_medians():
    assert tr.latency_summary([("batch", 30.0), ("batch", 10.0), ("batch", 12.0)]) == 12.0
    two = [("a", 100.0), ("b", 4.0), ("a", 300.0), ("b", 6.0)]  # medians 200, 5
    assert tr.latency_summary(two) == pytest.approx(31.6227766)
    assert tr.latency_summary([]) == 0.0


class _Store:
    def __init__(self):
        self.seen = []

    def read(self, name):
        self.seen.append(("read", name))
        return self.mor_read(name) if name == "mor" else name

    def rewrite(self, name, df):
        self.seen.append(("rewrite", name))

    def rewrite_many(self, updates):
        self.seen.append(("rewrite_many", tuple(updates)))

    def mor_upsert(self, name, df, classes=None):
        return 1

    def mor_read(self, name):
        return "merged"

    def mor_compact(self, name):
        return 0


def test_store_timer_counts_nested_calls_under_both_names():
    store = _Store()
    timer = tr.StoreTimer(store)
    assert store.read("cow") == "cow"
    assert store.read("mor") == "merged"
    store.rewrite("t", None)
    store.rewrite_many({"a": None, "b": None})
    ms, calls = timer.snapshot()
    assert calls == {"read": 2, "mor_read": 1, "rewrite": 2}
    assert set(ms) == set(calls)
    assert store.seen[-1] == ("rewrite_many", ("a", "b"))


def test_total_sums_groups_of_one_operation():
    groups = tr.parse_event_log(SYNTHETIC_LOG)
    t = tr.total([groups["op0"], groups["op0.rank"]])
    assert (t.jobs, t.stages, t.tasks, t.sql_execs) == (2, 2, 3, 1)
    assert t.job_intervals == [(1000, 1100), (1050, 1200)]
    assert tr.union_ms(t.job_intervals) == 200
    assert (t.input_bytes, t.output_bytes, t.spill_bytes) == (200, 300, 7)
    assert tr.total([]).jobs == 0
