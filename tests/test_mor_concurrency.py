"""MOR single-writer enforcement + atomic schema commit (r10 verdict #5
and the r10 ADVICE items).

The reference's orchestration serializes each table's writer
(``max_active_runs=1`` on the DAG) — these tests pin that the engine
ENFORCES the contract instead of assuming it: a second concurrent writer
fails loudly (flock on ``_mor/_LOCK``), the stale-tmp sweep can never
remove a LIVE writer's in-flight delta (pid-stamped tmp dirs, dead-owner
check), and a base swap publishes data + schema atomically (the
``_SCHEMA.json`` sidecar rides inside the renamed base dir, the one home
of the base's columns and schema).
"""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import tempfile

import pytest
from pyspark.sql import functions as F

from job_etl_spark.pipeline.runner import TableStore


def _store(spark):
    return TableStore(spark, tempfile.mkdtemp(prefix="jobspark_morlock_"))


def _init_kv(spark, store, name="t", policy=None, rows=((1, "a"), (2, "b"))):
    df = spark.createDataFrame(list(rows), "k int, v string")
    store.mor_init(name, df, ["k"], policy=policy)
    return df


def test_second_writer_fails_loudly(spark):
    """While one writer holds the table lock, every mutating entry point
    (upsert / compact / base rewrite / re-init) raises instead of
    queueing or silently interleaving."""
    store = _store(spark)
    _init_kv(spark, store)
    fd = os.open(store._mor_dir("t", "_LOCK"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # the "other writer"
        batch = spark.createDataFrame([(3, "c")], "k int, v string")
        with pytest.raises(ValueError, match="concurrent writer"):
            store.mor_upsert("t", batch)
        with pytest.raises(ValueError, match="concurrent writer"):
            store.mor_compact("t")
        with pytest.raises(ValueError, match="concurrent writer"):
            store.rewrite("t", batch)
    finally:
        os.close(fd)
    # lock released (the OS drops flock with the fd) → writes proceed
    store.mor_upsert("t", spark.createDataFrame([(3, "c")], "k int, v string"))
    assert store.mor_deltas("t") == [1]
    assert store.mor_read("t").count() == 3


def test_crashed_writer_releases_lock(spark):
    """flock dies with its holder: a writer process that crashes while
    holding the lock never wedges the table."""
    store = _store(spark)
    _init_kv(spark, store)
    lock_path = store._mor_dir("t", "_LOCK")
    # a real separate process takes the lock, then exits WITHOUT releasing
    code = (
        "import fcntl, os, sys\n"
        f"fd = os.open({lock_path!r}, os.O_CREAT | os.O_RDWR)\n"
        "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
        "os._exit(0)\n"  # no cleanup path at all
    )
    subprocess.run([os.sys.executable, "-c", code], check=True)
    store.mor_upsert("t", spark.createDataFrame([(9, "z")], "k int, v string"))
    assert store.mor_read("t").count() == 3


def test_sweep_never_removes_live_writers_tmp(spark):
    """The stale-delta sweep removes only tmp dirs whose stamped owner is
    DEAD (plus pre-r11 unstamped debris). A live foreign writer's
    in-flight dir — the r10 silent-data-loss scenario — survives."""
    store = _store(spark)
    _init_kv(spark, store)
    delta = store._mor_dir("t", "delta")

    live = subprocess.Popen(["sleep", "30"])
    dead = subprocess.Popen([os.sys.executable, "-c", "pass"])
    dead.wait()  # reaped → its pid no longer exists
    try:
        os.makedirs(os.path.join(delta, "7.tmp"))  # pre-r11 unstamped
        os.makedirs(os.path.join(delta, f"8.tmp.{dead.pid}"))  # dead owner
        live_dir = os.path.join(delta, f"9.tmp.{live.pid}")
        os.makedirs(live_dir)

        store.mor_upsert("t", spark.createDataFrame([(5, "e")], "k int, v string"))

        left = sorted(os.listdir(delta))
        assert os.path.basename(live_dir) in left  # live writer untouched
        assert "7.tmp" not in left  # unstamped debris swept
        assert f"8.tmp.{dead.pid}" not in left  # dead-owner debris swept
        assert "1" in left  # our own delta registered
    finally:
        live.kill()
        live.wait()


def test_base_swap_publishes_schema_atomically(spark):
    """ADVICE r10: a schema-changing rewrite commits data + schema in the
    ONE base-swap rename (the ``_SCHEMA.json`` sidecar rides inside the
    base dir), so the read sees the new column instead of silently
    dropping it."""
    store = _store(spark)
    _init_kv(spark, store)

    widened = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, v string, w double"
    )
    store.rewrite("t", widened)
    with open(store._mor_dir("t", "base", "_SCHEMA.json")) as f:
        assert json.load(f)["columns"] == ["k", "v", "w"]
    with open(store._mor_dir("t", "_META")) as f:
        assert set(json.load(f)) == {"keys"}  # no second copy of the schema

    got = store.mor_read("t")
    assert "w" in got.columns
    assert {r["w"] for r in got.collect()} == {10.0, 20.0}


def test_fact_mor_refuses_latest_wins_table(spark):
    """A merge-on-read fact_jobs without ``fact_merge_policy`` would let a
    marts delta's NULL rank columns replace landed scores wholesale: the
    marts and rank stages refuse it instead of writing to it."""
    from job_etl_spark.pipeline.runner import _ensure_fact_mor

    store = _store(spark)
    fact = spark.createDataFrame([("h1", 1.5)], "hash_key string, rank_score double")
    store.mor_init("fact_jobs", fact, ["hash_key"])
    with pytest.raises(ValueError, match="fact_merge_policy"):
        _ensure_fact_mor(store, None)
    assert store.mor_deltas("fact_jobs") == []
    assert store._mor_meta("fact_jobs") == {"keys": ["hash_key"]}
