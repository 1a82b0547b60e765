"""Measurement helpers: statistics, spans, the TableStore timer and the
Spark event-log parser.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field, fields
from fractions import Fraction

MB = 1024 * 1024

# tail percentiles considered, highest first; one is reported only when at
# least ten samples lie beyond it
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile p among n samples, computed
    exactly (p = 99.9 in binary floating point would shift the rank)."""
    return max(1, math.ceil(n * Fraction(str(p)) / 100))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in TAIL_PERCENTILES that has
    at least ``min_beyond`` samples beyond it, or None when the run has too
    few samples for any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - _rank(n, p) >= min_beyond:
            return p, percentile(values, p)
    return None


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def latency_summary(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.

    With one kind (an ingest batch) this is the median. With a rotation of
    queries a plain median would jump between whichever queries sit in the
    middle; the geometric mean weighs every query alike, so a 10% change in
    one of n queries moves it by about 10%/n."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for kind, ms in samples:
        by_kind[kind].append(ms)
    if not by_kind:
        return 0.0
    return math.exp(statistics.fmean(math.log(median(v)) for v in by_kind.values()))


def spin_ms(n: int = 2_000_000) -> float:
    """Single-thread spin: a fixed pure-Python loop whose wall time is a
    cheap load proxy for the shared box (the ``bench.py`` pattern)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    del s
    return (time.perf_counter() - t0) * 1000.0


@dataclass
class Span:
    """One timed call: name, the Spark job group it ran under, and its
    wall interval in epoch milliseconds (the event log's clock)."""

    name: str
    group: str
    start_ms: float
    end_ms: float

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


class Spans:
    """In-memory span recorder; ``run`` tags the call's Spark jobs with
    ``setJobGroup(group)`` so the event log attributes them to the span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []

    def run(self, name: str, group: str, fn, *args, **kwargs):
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(Span(name, group, t0 * 1000.0, time.time() * 1000.0))


class StoreTimer:
    """Times the TableStore entry points of one store instance by
    shadowing its bound methods; nested calls (``read`` of a merge-on-read
    table calls ``mor_read``) are counted under both names."""

    METHODS = {
        "read": "read",
        "rewrite": "rewrite",
        "rewrite_many": "rewrite",
        "mor_upsert": "mor_upsert",
        "mor_read": "mor_read",
        "mor_compact": "mor_compact",
    }

    def __init__(self, store):
        self.ms: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        for method, bucket in self.METHODS.items():
            setattr(store, method, self._timed(getattr(store, method), bucket))

    def _timed(self, fn, bucket: str):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.ms[bucket] += (time.perf_counter() - t0) * 1000.0
                self.calls[bucket] += 1

        return wrapper

    def snapshot(self) -> tuple[dict, dict]:
        return dict(self.ms), dict(self.calls)


@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    sql_execs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def total(stats: list[GroupStats]) -> GroupStats:
    """Field-wise sum of several groups' stats (intervals concatenated)."""
    out = GroupStats()
    for gs in stats:
        for f in fields(GroupStats):
            setattr(out, f.name, getattr(out, f.name) + getattr(gs, f.name))
    return out


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Fold an uncompressed, non-rolling Spark event log (an iterable of
    JSON lines) into per-job-group stats. Jobs without a group land
    under ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            groups[g].jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                groups[job_group[jid]].job_intervals.append(
                    (job_start[jid], e["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            gs = groups[stage_group.get(e["Stage ID"], "")]
            gs.tasks += 1
            m = e.get("Task Metrics") or {}
            gs.executor_run_ms += m.get("Executor Run Time", 0)
            gs.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            gs.gc_ms += m.get("JVM GC Time", 0)
            gs.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            gs.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            gs.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            gs.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            gs.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind == _SQL_START:
            groups[e.get("jobGroupId") or ""].sql_execs += 1
    return dict(groups)
