"""jobspark benchmark: one workload, one closed-loop client, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_multijob --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/workloads.py and perfbench/NOTES.md):

- ``query_multijob``: a fixed rotation of declared queries, noop sink;
- ``ingest_cow``: incremental batches, default copy-on-write write-back;
- ``ingest_mor``: the same batches with merge-on-read write-back.

The program runs on ``local[nproc]`` through ``job_etl_spark.session.
get_spark``; every file the run writes (warehouse, Spark local dirs, temp
files, event log) lives under ``.perfbench_work/`` in the checkout and is
removed at exit. Set-up (JVM launch, inputs, warm-up with output checks)
is timed as ``setup_s``. Operations are then timed in whole workload
cycles (two rotation passes, or three batches) until at least ``--seconds``
have passed, with Python and JVM garbage collection between operations.
``latency_ms`` is the geometric mean over operation kinds of each kind's
median latency: for ingest the median batch, for the query rotation the
geometric mean of each query's median.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log at launch, tags every call with ``setJobGroup`` and prints
the per-layer metrics instead. The last stdout line is the result object;
the line before it holds the raw samples (latencies, spin samples, tail
percentile, failures).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("query_multijob", "ingest_cow", "ingest_mor")

SPARK_DEFAULTS = """\
spark.ui.showConsoleProgress false
spark.sql.warehouse.dir file://{work}/spark-warehouse
"""
EVENT_LOG = """\
spark.eventLog.enabled true
spark.eventLog.dir file://{work}/eventlog
spark.eventLog.compress false
spark.eventLog.rolling.enabled false
"""
LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = stderr
appender.stderr.type = Console
appender.stderr.name = stderr
appender.stderr.target = SYSTEM_ERR
appender.stderr.layout.type = PatternLayout
appender.stderr.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def launch_env(work: Path, trace: bool) -> None:
    """Launch-time configuration for the JVM that ``get_spark`` starts: a
    benchmark-owned SPARK_CONF_DIR (event log only when tracing), and every
    scratch location inside the work dir. The session itself is never
    pre-created, so ``get_spark`` applies its own config."""
    conf = work / "conf"
    for d in (conf, work / "tmp", work / "local", work / "eventlog"):
        d.mkdir(parents=True)
    defaults = SPARK_DEFAULTS + (EVENT_LOG if trace else "")
    (conf / "spark-defaults.conf").write_text(defaults.format(work=work))
    (conf / "log4j2.properties").write_text(LOG4J)
    for k in [k for k in os.environ if k.startswith("JOBSPARK_")]:
        del os.environ[k]  # program knobs stay at their defaults
    os.environ.update({
        "SPARK_CONF_DIR": str(conf),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "JOBSPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })


def block_mb(sc) -> float:
    """Bytes the block manager holds for persisted RDDs and frames."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def run(args, work: Path) -> tuple[dict, dict]:
    from perfbench import trace as tr

    t_start = time.perf_counter()
    spins = [tr.spin_ms()]
    launch_env(work, bool(args.trace))
    from job_etl_spark.session import get_spark

    from perfbench.workloads import Ingest, QueryMultijob

    t = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t
    sc = spark.sparkContext
    spans = tr.Spans(sc)
    try:
        if args.workload == "query_multijob":
            wl = QueryMultijob(spark, str(work), args.seed, spans)
        else:
            wl = Ingest(spark, str(work), args.seed, spans, mor=args.workload == "ingest_mor")
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_checked, warm_failures = wl.warm()
        warm_s = time.perf_counter() - t
        gc.collect()
        sc._jvm.System.gc()
        spins.append(tr.spin_ms())
        setup_s = time.perf_counter() - t_start

        timer0 = wl.store_timer.snapshot() if wl.store_timer else ({}, {})
        lat_ms, kinds, units, ok, failures = [], [], 0, [], []
        op_windows: dict[int, tuple[float, float]] = {}
        block_max = block_mb(sc)
        depth_max = wl.delta_depth()
        t_run = time.perf_counter()
        i = 0
        while i == 0 or i % wl.cycle or time.perf_counter() - t_run < args.seconds:
            wl.prepare(i)
            w0, t0 = time.time(), time.perf_counter()
            try:
                units += wl.op(i)
                err = None
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                err = f"op {i}: {type(e).__name__}: {e}"
            lat_ms.append((time.perf_counter() - t0) * 1000.0)
            kinds.append(wl.kind(i))
            op_windows[i] = (w0 * 1000.0, time.time() * 1000.0)
            if err is None:
                try:
                    err = wl.check(i)
                except Exception as e:  # noqa: BLE001 - a failed check is counted
                    err = f"check {i}: {type(e).__name__}: {e}"
            ok.append(err is None)
            if err:
                failures.append(err)
            gc.collect()
            sc._jvm.System.gc()
            block_max = max(block_max, block_mb(sc))
            depth_max = max(depth_max, wl.delta_depth())
            i += 1
            if i % wl.cycle == 0:
                spins.append(tr.spin_ms())
        ops = i
        timer1 = wl.store_timer.snapshot() if wl.store_timer else ({}, {})
        store_bytes = wl.store_bytes()
    finally:
        stop_spark(spark)

    good = [(k, ms) for k, ms, fine in zip(kinds, lat_ms, ok) if fine] or list(zip(kinds, lat_ms))
    latency = tr.latency_summary(good)
    failed = ok.count(False) + len(warm_failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": ops,
        "samples": len(good),
        "kinds": sorted(set(kinds)),
        "latencies_ms": [round(x, 3) for x in lat_ms],
        "tail": tr.tail([ms for _, ms in good]),
        "spin_ms": [round(x, 2) for x in spins],
        "setup_s": {"total": round(setup_s, 3), "start": round(start_s, 3),
                    "inputs": round(inputs_s, 3), "warm": round(warm_s, 3)},
        "failures": (warm_failures + failures)[:10],
    }
    result = {
        "correct": failed == 0,
        "attempted": ops + warm_checked,
        "failed": failed,
        "metrics": {},
    }
    if not args.trace:
        result["metrics"] = {
            "latency_ms": {"value": latency, "unit": "ms"},
            "work_per_s": {"value": units / (sum(lat_ms) / 1000.0), "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "store_mb": {"value": store_bytes / tr.MB, "unit": "MB"},
        }
        return detail, result

    groups = tr.parse_event_log(_event_log_lines(work))
    layer = layer_metrics(
        groups, spans, op_windows, ops, wl, timer0, timer1, mor=args.workload == "ingest_mor",
        start_s=start_s, warm_s=warm_s, block_max=block_max, depth_max=depth_max,
        spins=spins, latency=latency, units=units, store_bytes=store_bytes,
    )
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    return detail, result


def _event_log_lines(work: Path):
    logs = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {[p.name for p in logs]}")
    with open(logs[0]) as fh:
        yield from fh


def layer_metrics(groups, spans, op_windows, ops, wl, timer0, timer1, *, mor, start_s,
                  warm_s, block_max, depth_max, spins, latency, units, store_bytes) -> dict:
    """Per-layer metrics of the timed operations, as (value, unit); rates
    are per operation unless the name says otherwise."""
    from perfbench import trace as tr
    from perfbench.workloads import ROTATION, STAGES

    per_op = []
    job_ms = gap_ms = 0.0
    for i in range(ops):
        gs = tr.total([g for name, g in groups.items() if name == f"op{i}" or name.startswith(f"op{i}.")])
        lo, hi = op_windows[i]
        covered = tr.union_ms(tr.clip(gs.job_intervals, lo, hi))
        job_ms += covered
        gap_ms += (hi - lo) - covered
        per_op.append(gs)
    t = tr.total(per_op)
    n = max(1, ops)
    out: dict[str, tuple[float, str]] = {
        "spark.jobs": (t.jobs / n, "count"),
        "spark.stages": (t.stages / n, "count"),
        "spark.tasks": (t.tasks / n, "count"),
        "spark.sql_execs": (t.sql_execs / n, "count"),
        "spark.job_ms": (job_ms / n, "ms"),
        "spark.driver_gap_ms": (gap_ms / n, "ms"),
        "spark.executor_run_ms": (t.executor_run_ms / n, "ms"),
        "spark.executor_cpu_ms": (t.executor_cpu_ms / n, "ms"),
        "spark.gc_ms": (t.gc_ms / n, "ms"),
        "spark.input_mb": (t.input_bytes / n / tr.MB, "MB"),
        "spark.shuffle_read_mb": (t.shuffle_read_bytes / n / tr.MB, "MB"),
        "spark.shuffle_write_mb": (t.shuffle_write_bytes / n / tr.MB, "MB"),
        "spark.spill_mb": (t.spill_bytes / n / tr.MB, "MB"),
        "spark.output_mb": (t.output_bytes / n / tr.MB, "MB"),
    }

    timed = [s for s in spans.spans if s.group.split(".")[0] in {f"op{i}" for i in range(ops)}]

    def mean_ms(name):
        xs = [s.ms for s in timed if s.name == name]
        return sum(xs) / len(xs) if xs else 0.0

    def mean_jobs(name):
        gs = [s.group for s in timed if s.name == name]
        return sum(groups[g].jobs for g in gs if g in groups) / len(gs) if gs else 0.0

    for q in ROTATION:
        out[f"queries.{q}.ms"] = (mean_ms(f"queries.{q}"), "ms")
        out[f"queries.{q}.jobs"] = (mean_jobs(f"queries.{q}"), "count")
    for st in STAGES:
        out[f"pipeline.{st}.ms"] = (mean_ms(f"pipeline.{st}"), "ms")
        out[f"pipeline.{st}.jobs"] = (mean_jobs(f"pipeline.{st}"), "count")
    out["sources.land.ms"] = (mean_ms("sources.land"), "ms")
    out["sources.land.jobs"] = (mean_jobs("sources.land"), "count")
    rejected = [wl.rejected[i] for i in range(ops) if i in wl.rejected]
    out["pipeline.rows_rejected"] = (sum(rejected) / n, "count")

    ms0, calls0 = timer0
    ms1, calls1 = timer1
    # the merge-on-read methods are reported only where they run
    for b in ("read", "rewrite") + (("mor_upsert", "mor_read", "mor_compact") if mor else ()):
        out[f"store.{b}.ms"] = ((ms1.get(b, 0.0) - ms0.get(b, 0.0)) / n, "ms")
        out[f"store.{b}.calls"] = ((calls1.get(b, 0) - calls0.get(b, 0)) / n, "count")
    if mor:
        out["store.delta_depth_max"] = (float(depth_max), "count")
    landed = units if wl.store_timer else 0  # only the ingest workloads land rows
    out["store.write_bytes_per_row"] = (t.output_bytes / landed if landed else 0.0, "B")
    live = wl.live_rows()
    out["store.live_bytes_per_row"] = (store_bytes / live if live else 0.0, "B")

    out["session.start_s"] = (start_s, "s")
    out["session.warm_s"] = (warm_s, "s")
    out["session.block_mb_max"] = (block_max, "MB")
    out["spin_ms"] = (tr.median(spins), "ms")
    out["trace.latency_ms"] = (latency, "ms")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "job_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no job_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run still owns a work dir
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
