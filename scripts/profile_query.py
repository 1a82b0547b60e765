"""Per-query Spark layers and per-operator SQL metrics, read from the event log.

Runs each query to the noop sink in a ``get_spark`` session, after the
q01 warm-up time_query.py uses, and tags every run with ``setJobGroup``.
The build — the ``fn(spark, sf)`` call that returns the DataFrame, before
the write — is timed on its own, and the py4j commands it sends to the
JVM are counted: that is the driver-planning layer. The classes Janino
compiles, and its time, are read for the build and for the write apart:
that is the codegen layer, which a warm generated-class cache keeps at 0.
The session's JVM starts with an uncompressed, non-rolling event log,
switched on through a temporary SPARK_CONF_DIR as perfbench/run.py does.
After the session stops, ``perfbench.trace`` parses that log. For each
query's best (lowest-wall) run it prints:

- the build time and its py4j command count;
- the classes compiled and the compile time, in the build and in the run;
- jobs, stages and tasks;
- job time (the union of job intervals) and the driver gap (wall minus
  job time: planning, collects and scheduling that no job covers);
- input, shuffle-read and shuffle-write bytes;
- the row, time and size metrics of every physical operator in the
  run's last SQL execution (its final adaptive plan).

Usage: python scripts/profile_query.py q58 q104 [--sf DIR] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import threading
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_SQL_UI = "org.apache.spark.sql.execution.ui."
# metric names worth a column: rows, times, sizes and the broadcast/collect phases
_KEEP = ("rows", "time", "size", "build", "collect")


def sql_executions(lines) -> tuple[dict[int, dict], dict[int, float]]:
    """SQL executions and accumulator totals from event-log JSON lines.

    Executions map id → {"group", "plan" (the last plan AQE reported),
    "ms"}; totals map accumulator id → the sum of its task and driver
    updates, which is the value the SQL UI shows for a metric."""
    execs: dict[int, dict] = {}
    totals: dict[int, float] = defaultdict(float)
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == _SQL_UI + "SparkListenerSQLExecutionStart":
            execs[e["executionId"]] = {
                "group": e.get("jobGroupId") or "",
                "plan": e["sparkPlanInfo"],
                "start": e["time"],
                "ms": None,
            }
        elif kind == _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate":
            execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif kind == _SQL_UI + "SparkListenerSQLExecutionEnd":
            ex = execs[e["executionId"]]
            ex["ms"] = e["time"] - ex["start"]
        elif kind == _SQL_UI + "SparkListenerDriverAccumUpdates":
            for aid, value in e["accumUpdates"]:
                totals[aid] += value
        elif kind == "SparkListenerTaskEnd":
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":  # updates are logged as strings
                    totals[acc["ID"]] += float(acc["Update"])
    return execs, dict(totals)


def _fmt(value: float, metric_type: str) -> str:
    if metric_type == "nsTiming":
        return f"{value / 1e6:.1f}ms"
    if metric_type == "timing":
        return f"{value:.0f}ms"
    if metric_type == "size":
        return f"{value / 1024 / 1024:.2f}MB"
    return f"{value:.0f}"


def operator_lines(plan: dict, totals: dict[int, float], depth: int = 0):
    """One line per physical operator that reports a kept metric, indented
    under the nearest printed ancestor."""
    mets = {
        m["name"]: _fmt(totals[m["accumulatorId"]], m["metricType"])
        for m in plan.get("metrics", [])
        if m["accumulatorId"] in totals and any(k in m["name"] for k in _KEEP)
        and m["metricType"] != "average"
    }
    if mets:
        yield f"{'  ' * depth}{plan['nodeName'][:50]}  " + ", ".join(f"{k}={v}" for k, v in mets.items())
    for child in plan.get("children", []):
        yield from operator_lines(child, totals, depth + bool(mets))


def timed_build(fn, spark, sf: str):
    """(DataFrame, build seconds, py4j commands, classes compiled, compile
    ms) of ``fn(spark, sf)``: the driver's share before any write —
    analysis, plan building, and any job the query runs while it builds
    (a build that runs jobs compiles their classes). Commands are counted by
    wrapping the py4j client's ``send_command`` for the call, on the
    calling thread only: py4j's finalizer thread wakes once a second to
    send the deletes of earlier garbage, hundreds at a time."""
    from py4j.clientserver import ClientServerConnection

    from job_etl_spark.session import codegen_compiles

    compiles0, compile_ms0 = codegen_compiles(spark)
    send = ClientServerConnection.send_command
    caller = threading.get_ident()
    n = 0

    def counting(self, command):
        nonlocal n
        if threading.get_ident() == caller:
            n += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf)
        build_s = time.perf_counter() - t0
    finally:
        ClientServerConnection.send_command = send
    compiles, compile_ms = codegen_compiles(spark)
    return df, build_s, n, compiles - compiles0, compile_ms - compile_ms0


def enable_event_log(work: Path) -> None:
    """Point the JVM that ``get_spark`` will launch at ``work/conf``, which
    turns the event log on into ``work/eventlog``; ``get_spark`` itself is
    unchanged."""
    from perfbench.run import EVENT_LOG, LOG4J, SPARK_DEFAULTS

    for d in (work / "conf", work / "eventlog"):
        d.mkdir()
    (work / "conf" / "spark-defaults.conf").write_text((SPARK_DEFAULTS + EVENT_LOG).format(work=work))
    (work / "conf" / "log4j2.properties").write_text(LOG4J)
    os.environ["SPARK_CONF_DIR"] = str(work / "conf")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from _resolve import resolve_query

    from job_etl_spark.queries import registry
    from job_etl_spark.session import codegen_compiles, get_spark
    from perfbench import trace as tr
    from perfbench.run import stop_spark

    reg = registry()
    names = [resolve_query(reg, q) for q in args.queries]
    with tempfile.TemporaryDirectory(prefix="jobspark-profile-") as work:
        work = Path(work)
        enable_event_log(work)
        spark = get_spark("jobspark-profile")
        sc = spark.sparkContext
        windows: dict[str, tuple[float, float]] = {}
        builds: dict[str, tuple[float, int, int, float]] = {}
        run_compiles: dict[str, tuple[int, float]] = {}
        try:
            reg["q01_pricing_summary"].fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            for name in names:
                for k in range(args.runs):
                    group = f"{name}#{k}"
                    sc.setJobGroup(group, group)
                    t0 = time.time() * 1000.0
                    df, *build = timed_build(reg[name].fn, spark, args.sf)
                    builds[group] = tuple(build)
                    compiles0, compile_ms0 = codegen_compiles(spark)
                    df.write.format("noop").mode("overwrite").save()
                    windows[group] = (t0, time.time() * 1000.0)
                    compiles, compile_ms = codegen_compiles(spark)
                    run_compiles[group] = (compiles - compiles0, compile_ms - compile_ms0)
        finally:
            stop_spark(spark)
        logs = sorted((work / "eventlog").iterdir())
        if len(logs) != 1:
            raise SystemExit(f"expected one event log, found {[p.name for p in logs]}")
        lines = logs[0].read_text().splitlines()
    groups = tr.parse_event_log(lines)
    execs, totals = sql_executions(lines)

    for name in names:
        runs = [f"{name}#{k}" for k in range(args.runs)]
        best = min(runs, key=lambda g: windows[g][1] - windows[g][0])
        lo, hi = windows[best]
        gs = groups.get(best, tr.GroupStats())
        job_ms = tr.union_ms(tr.clip(gs.job_intervals, lo, hi))
        walls = ", ".join(f"{(windows[g][1] - windows[g][0]) / 1000:.3f}" for g in runs)
        print(f"\n=== {name}: best wall {(hi - lo) / 1000:.3f}s (runs {walls}) ===")
        build_s, calls, compiles, compile_ms = builds[best]
        print(
            f"  build {build_s:.3f}s, {calls} py4j commands, "
            f"{compiles} classes compiled in {compile_ms:.0f} ms"
        )
        compiles, compile_ms = run_compiles[best]
        print(f"  run {compiles} classes compiled in {compile_ms:.0f} ms")
        print(
            f"  {gs.jobs} jobs, {gs.stages} stages, {gs.tasks} tasks; job time "
            f"{job_ms / 1000:.3f}s, driver gap {(hi - lo - job_ms) / 1000:.3f}s"
        )
        print(
            f"  input {gs.input_bytes / tr.MB:.2f} MB, shuffle read "
            f"{gs.shuffle_read_bytes / tr.MB:.2f} MB, shuffle write "
            f"{gs.shuffle_write_bytes / tr.MB:.2f} MB"
        )
        last = max((i for i, ex in execs.items() if ex["group"] == best), default=None)
        if last is None:
            continue
        print(f"  last SQL execution {last} ({execs[last]['ms']} ms), per operator:")
        for line in operator_lines(execs[last]["plan"], totals):
            print(f"    {line}")


if __name__ == "__main__":
    main()
