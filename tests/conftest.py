from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# test inputs are tiny — fewer cores/shuffle partitions cut per-action overhead
os.environ.setdefault("JOBSPARK_SHUFFLE_PARTITIONS", "8")
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("JOBSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

# Speed tiers (markers registered in pyproject.toml):
#   smoke  — `pytest -m smoke`, sub-60 s, run on every commit
#   oracle — full DuckDB parity sweep
#   slow   — heavy e2e / property / streaming suites
# Everything else (plans, scale guards, …) runs in the default full suite.
_TIER_BY_FILE = {
    "test_semantics.py": "smoke",
    "test_tables_layouts.py": "smoke",
    "test_readers_sql.py": "smoke",
    "test_store_crash.py": "smoke",
    "test_scripts.py": "smoke",
    "test_notifier.py": "smoke",
    "test_asof.py": "smoke",
    "test_expectations.py": "smoke",
    "test_udaf.py": "smoke",
    "test_approx.py": "oracle",  # ~10 s of HLL sampling — too heavy for smoke
    "test_oracle_parity.py": "oracle",
    "test_tz_independence.py": "oracle",
    "test_pipeline_e2e.py": "slow",
    "test_property.py": "slow",
    "test_streaming.py": "slow",
    "test_scale_operators.py": "slow",
    "test_sketch_ops.py": "slow",
    "test_training_ops.py": "slow",
    "test_plans.py": "slow",
    "test_datasource.py": "slow",
    "test_company_match.py": "slow",
    "test_multimodal.py": "slow",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        tier = _TIER_BY_FILE.get(item.path.name)
        if tier is not None:
            item.add_marker(getattr(pytest.mark, tier))


@pytest.fixture(scope="session")
def spark():
    from job_etl_spark.session import get_spark

    s = get_spark("jobspark-tests")
    yield s
    s.stop()
