"""Crash-point matrix for TableStore's directory commits.

Every operation below commits through ``os.rename``. For each k, the k-th
rename raises (a crash at that step), and a fresh store must then read
every table as exactly its pre-state or its post-state: never empty, never
an error.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from job_etl_spark.pipeline.store import TableStore


class _Crash(Exception):
    pass


def _checksum(df) -> tuple:
    """(row count, order-insensitive sum of per-row hashes)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(20,0)")).alias("h"),
    ).first()
    return r["n"], r["h"]


def _base(spark, n: int = 20):
    return spark.range(n).selectExpr("cast(id as string) k", "id v")


def _upsert(store, name: str, lo: int, hi: int) -> None:
    store.mor_upsert(
        name, store.spark.range(lo, hi).selectExpr("cast(id as string) k", "id * 100 v")
    )


def _setup_cow(store):
    store.write("t", _base(store.spark))


def _setup_mor(store, buckets=None):
    store.write("t", _base(store.spark))
    store.mor_init("t", store.read("t"), ["k"], buckets=buckets)
    _upsert(store, "t", 15, 25)


def _setup_cow_and_mor(store):
    store.write("a", _base(store.spark))
    store.write("b", _base(store.spark))
    store.mor_init("b", store.read("b"), ["k"])


def _bump(store, name: str):
    return store.read(name).withColumn("v", F.col("v") + 1)


CASES = {
    "cow_rewrite": (["t"], _setup_cow, lambda s: s.rewrite("t", _bump(s, "t"))),
    "mor_rewrite": (["t"], _setup_mor, lambda s: s.rewrite("t", _bump(s, "t"))),
    "rewrite_many_cow_and_mor": (
        ["a", "b"],
        _setup_cow_and_mor,
        lambda s: s.rewrite_many({"a": _bump(s, "a"), "b": _bump(s, "b")}),
    ),
    "flat_mor_compact": (["t"], _setup_mor, lambda s: s.mor_compact("t")),
    "bucketed_mor_compact": (
        ["t"],
        lambda s: _setup_mor(s, buckets=2),
        lambda s: s.mor_compact("t"),
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_crash_at_every_rename_reads_pre_or_post_state(spark, tmp_path, monkeypatch, case):
    tables, setup, op = CASES[case]
    pristine = str(tmp_path / "pristine")
    setup(TableStore(spark, pristine))
    real_rename = os.rename

    def run(crash_at: int | None) -> tuple[dict, int]:
        """Run ``op`` on a copy of the pristine tables, crashing at the
        ``crash_at``-th rename; return what a fresh store reads and the
        number of renames attempted."""
        root = str(tmp_path / f"crash_{crash_at}")
        shutil.copytree(pristine, root)
        calls = 0

        def rename(src, dst):
            nonlocal calls
            calls += 1
            if calls == crash_at:
                raise _Crash(f"rename {calls}")
            real_rename(src, dst)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            try:
                op(TableStore(spark, root))
            except _Crash:
                pass
            else:
                assert crash_at is None, "op finished without reaching the crash"
        fresh = TableStore(spark, root)
        return {t: _checksum(fresh.read(t)) for t in tables}, calls

    before = TableStore(spark, pristine)
    pre = {t: _checksum(before.read(t)) for t in tables}
    post, renames = run(None)
    assert renames >= 2 * len(tables), renames
    for k in range(1, renames + 1):
        got, _ = run(k)
        for t in tables:
            assert got[t][0] > 0, (case, k, t, "read empty")
            assert got[t] in (pre[t], post[t]), (case, k, t, got[t], pre[t], post[t])


def test_crash_in_delta_cleanup_after_mor_rewrite_reads_post_state(spark, tmp_path, monkeypatch):
    """A merge-on-read ``rewrite`` swaps in a base that already holds the
    deltas' values, then deletes the deltas. A crash inside that delete
    leaves deltas next to a base that folded them: a fresh store must not
    fold their pre-rewrite values over the new base, and the next upsert
    must land past them."""
    root = str(tmp_path / "wh")
    _setup_mor(TableStore(spark, root))  # k 0..19 v=id, then delta k 15..24 v=id*100
    real_rmtree = shutil.rmtree

    def rmtree(path, *a, **k):
        if os.sep + "delta" + os.sep in str(path):
            raise _Crash(path)
        real_rmtree(path, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", rmtree)
        store = TableStore(spark, root)
        with pytest.raises(_Crash):
            store.rewrite("t", _bump(store, "t"))

    def rows():
        return {r["k"]: r["v"] for r in TableStore(spark, root).read("t").collect()}

    post = {str(i): (i * 100 if i >= 15 else i) + 1 for i in range(25)}
    assert rows() == post
    _upsert(TableStore(spark, root), "t", 30, 31)
    assert rows() == {**post, "30": 3000}
