"""The copy-on-write and merge-on-read ingest arms must converge to the
same tables for the same seed (starts a local Spark session; ~2 min).

Run: python3 -m pytest perfbench/tests/test_ingest_parity.py -q
"""

from __future__ import annotations

import pytest

from perfbench.trace import Spans
from perfbench.workloads import Ingest, checksum


@pytest.fixture(scope="module")
def spark():
    from job_etl_spark.session import get_spark

    s = get_spark("perfbench-parity")
    yield s
    s.stop()


def _drive(spark, work: str, seed: int, mor: bool, batches: int) -> tuple:
    wl = Ingest(spark, work, seed, Spans(), mor=mor, base_rows=2_000)
    wl.setup()
    checked, failures = wl.warm()
    assert (checked, failures) == (1, [])
    for i in range(batches):
        wl.prepare(i)
        assert wl.op(i) == 1_005  # 500 fresh + 500 re-seen + 5 malformed
        assert wl.check(i) is None
        assert wl.rejected[i] == 5
    if mor:
        assert wl.store_timer.calls["mor_compact"] > 0
    return checksum(wl.store)


def test_cow_and_mor_checksums_match(spark, tmp_path):
    cow = _drive(spark, str(tmp_path / "cow"), seed=7, mor=False, batches=2)
    mor = _drive(spark, str(tmp_path / "mor"), seed=7, mor=True, batches=2)
    assert cow == mor
    assert cow[0] == 2_000 + 3 * 500  # seeded base + every distinct fresh key
