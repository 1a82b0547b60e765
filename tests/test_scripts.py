"""scripts/ guards: every tool imports without side effects, the
time_query A/B refuses a variant whose rows differ from its query, and
profile_query reads per-operator SQL metrics from an event log."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parents[1]

IMPORT_ALL = """
import importlib.util, sys
from pathlib import Path
root = Path(sys.argv[1])
sys.path[:0] = [str(root), str(root / "scripts")]
paths = sorted((root / "scripts").glob("*.py"))
for p in paths:
    spec = importlib.util.spec_from_file_location("_script_" + p.stem, p)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
from pyspark import SparkContext
assert SparkContext._gateway is None, "a script launched Spark at import"
print(len(paths))
"""

VARIANTS = """
from job_etl_spark.queries import registry


def same(spark, sf):
    return registry()["q01_pricing_summary"].fn(spark, sf)


def drop_one(spark, sf):
    df = same(spark, sf)
    return df.limit(df.count() - 1)
"""


def test_every_script_imports_without_starting_spark():
    out = subprocess.run(
        [sys.executable, "-c", IMPORT_ALL, str(ROOT)],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == len(list((ROOT / "scripts").glob("*.py")))


def test_time_query_variant_check(spark, tmp_path):
    from job_etl_spark.queries import registry
    from scripts.time_query import check_variant, group_args, load_variant

    path = tmp_path / "variant.py"
    path.write_text(textwrap.dedent(VARIANTS))
    assert group_args(["q01", f"{path}:same", "q02"]) == [("q01", [f"{path}:same"]), ("q02", [])]
    base = registry()["q01_pricing_summary"].fn
    check_variant(spark, SF_SMOKE, base, load_variant(f"{path}:same"), "same")
    with pytest.raises(SystemExit, match="rows differ"):
        check_variant(spark, SF_SMOKE, base, load_variant(f"{path}:drop_one"), "drop_one")


def test_profile_query_reads_operator_metrics_from_event_log():
    from scripts.profile_query import operator_lines, sql_executions

    ui = "org.apache.spark.sql.execution.ui."

    def node(name, metrics, children=()):
        return {"nodeName": name, "children": list(children), "metrics": [
            {"name": n, "accumulatorId": a, "metricType": t} for n, a, t in metrics
        ]}

    scan = node("Scan parquet", [("number of output rows", 2, "sum"), ("scan time", 3, "nsTiming")])
    final = node("AdaptiveSparkPlan", [], [node("WholeStageCodegen", [], [
        node("Filter", [("number of output rows", 1, "sum")], [scan])])])
    events = [
        {"Event": ui + "SparkListenerSQLExecutionStart", "executionId": 7,
         "jobGroupId": "q#1", "time": 100, "sparkPlanInfo": node("Initial", [])},
        {"Event": ui + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 7,
         "sparkPlanInfo": final},
        *({"Event": "SparkListenerTaskEnd", "Task Info": {"Accumulables": [
            {"ID": 1, "Update": "5", "Metadata": "sql"},
            {"ID": 2, "Update": "10", "Metadata": "sql"},
            {"ID": 9, "Update": 4},  # a task-metric accumulator, not SQL
        ]}} for _ in range(2)),
        {"Event": ui + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[3, 2_500_000]]},
        {"Event": ui + "SparkListenerSQLExecutionEnd", "executionId": 7, "time": 160},
    ]
    execs, totals = sql_executions(json.dumps(e) for e in events)
    assert execs[7]["group"] == "q#1" and execs[7]["ms"] == 60
    assert totals == {1: 10.0, 2: 20.0, 3: 2_500_000}
    assert list(operator_lines(execs[7]["plan"], totals)) == [
        "Filter  number of output rows=10",
        "  Scan parquet  number of output rows=20, scan time=2.5ms",
    ]


def test_profile_query_times_the_build(spark):
    """The build layer: fn(spark, sf) timed apart from the write, with the
    py4j commands it sent, and the client's send_command restored after.
    The codegen layer: a build that runs a job compiles its classes the
    first time, and a rebuild finds them all in the generated-class cache."""
    from py4j.clientserver import ClientServerConnection

    from job_etl_spark.queries import registry
    from scripts.profile_query import timed_build

    send = ClientServerConnection.send_command
    df, build_s, calls, compiles, compile_ms = timed_build(
        registry()["q01_pricing_summary"].fn, spark, SF_SMOKE
    )
    assert ClientServerConnection.send_command is send
    assert build_s > 0 and calls > 0
    assert compiles >= 0 and compile_ms >= 0
    assert df.columns  # a DataFrame, not yet written

    def counted(spark, sf):
        return spark.createDataFrame([(i,) for i in range(3)], "n long").selectExpr(
            "n * 3 + 1 AS m"
        ).where("m > 2").count()

    _, _, _, first, first_ms = timed_build(counted, spark, SF_SMOKE)
    _, _, _, again, again_ms = timed_build(counted, spark, SF_SMOKE)
    assert first >= 1 and first_ms > 0
    assert again == 0 and again_ms == 0
