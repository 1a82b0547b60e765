"""Custom Python DataSource (S1 scale path): page ranges fan out across
executors and produce exactly the rows the driver-side fetch loop does.
The driver-side landing (``land_raw``, an Arrow table) is pinned here too:
schema, collected_at instants and the fetch order its raw_ids carry."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import functions as F

from job_etl_spark.schema import RAW_SCHEMA
from job_etl_spark.sources.base import land_raw
from job_etl_spark.sources.datasource import JobsRestDataSource
from job_etl_spark.sources.mock_adapter import MockAdapter


def _read(spark, **opts):
    spark.dataSource.register(JobsRestDataSource)
    r = spark.read.format("jobs_rest").option("adapter", "mock")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_datasource_partitions_and_rows(spark):
    df = _read(
        spark,
        num_jobs=100,
        jobs_per_page=10,
        pages_per_partition=3,
        collected_at="2026-01-01T07:00:00",
    )
    assert df.rdd.getNumPartitions() == 4  # ceil(10 pages / 3)
    assert df.count() == 100
    assert df.select("raw_id").distinct().count() == 100


def test_datasource_matches_driver_fetch_loop(spark):
    """Distributed read == the reference-shaped driver loop (same payloads,
    same source), and replays are identical (deterministic raw_id)."""
    run_ts = dt.datetime(2026, 1, 1, 7, 0, 0)
    df = _read(
        spark, num_jobs=40, jobs_per_page=7, collected_at=run_ts.isoformat()
    )
    loop = land_raw(spark, MockAdapter(num_jobs=40, jobs_per_page=7).fetch_all(), run_ts)

    def keyset(frame):
        return {
            (r["source"], json.loads(r["payload"])["provider_job_id"], r["payload"])
            for r in frame.collect()
        }

    assert keyset(df) == keyset(loop)
    again = _read(
        spark, num_jobs=40, jobs_per_page=7, collected_at=run_ts.isoformat()
    )
    assert sorted(r["raw_id"] for r in again.collect()) == sorted(
        r["raw_id"] for r in df.collect()
    )


def test_land_raw_empty_batch(spark):
    empty = land_raw(spark, [], dt.datetime(2026, 1, 1, 7))
    assert empty.schema == RAW_SCHEMA
    assert empty.count() == 0


def _landed_micros(spark, collected_at) -> int:
    jobs = MockAdapter(num_jobs=3).fetch_all()
    got = land_raw(spark, jobs, collected_at).select(F.unix_micros("collected_at")).collect()
    assert len({r[0] for r in got}) == 1
    return got[0][0]


def test_land_raw_collected_at_instants(spark):
    """collected_at lands as the instant a row-based createDataFrame gave
    it (the values below were recorded from that path): a naive value is
    the host's local time, an aware one its own instant, and the session
    time zone (UTC) plays no part. The naive case runs with the process
    time zone at Asia/Kolkata (UTC+5:30) so its value pins local-time
    reading on any host."""
    wall = dt.datetime(2026, 1, 1, 7, 0, 0, 123456)
    aware = wall.replace(tzinfo=dt.timezone(dt.timedelta(hours=-8)))
    assert _landed_micros(spark, aware) == 1767279600123456  # 15:00:00.123456Z
    host_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    try:
        assert _landed_micros(spark, wall) == 1767231000123456  # 01:30:00.123456Z
    finally:
        if host_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = host_tz
        time.tzset()


def test_land_raw_ids_carry_fetch_order(spark):
    """raw_id is the fetch position (14 digits) then the first 16 hex
    digits of the record's uuid, so sorting raw_ids is fetch order."""
    jobs = MockAdapter(num_jobs=12, jobs_per_page=5).fetch_all()
    rows = land_raw(spark, jobs, dt.datetime(2026, 1, 1, 7)).collect()
    assert [r["raw_id"] for r in rows] == [
        f"{i:014d}-{j.raw_id.replace('-', '')[:16]}" for i, j in enumerate(jobs)
    ]
    assert [json.loads(r["payload"]) for r in sorted(rows, key=lambda r: r["raw_id"])] == [
        j.payload for j in jobs
    ]


def test_chunk_udtf_matches_native(spark):
    """The Python UDTF extension point produces row-identical chunks to
    the native array-expression plan (including blank/whitespace docs)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    from job_etl_spark.functions.chunking import (
        ChunkDocuments,
        chunks_expr,
        tokens_expr,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(70))), (2, "one two"), (3, "   "),
         (4, None), (5, "x " * 32)],
        "doc_id long, text string",
    )
    native = docs.select(
        "doc_id", F.explode(chunks_expr(tokens_expr("text"))).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.n_tokens", "c.chunk_text")

    spark.udtf.register(
        "chunk_documents",
        udtf(ChunkDocuments,
             returnType="doc_id bigint, chunk_idx int, n_tokens int, chunk_text string"),
    )
    docs.createOrReplaceTempView("chunk_in")
    via_udtf = spark.sql(
        "SELECT u.* FROM chunk_in, LATERAL chunk_documents(doc_id, text) u"
    )
    assert sorted(map(tuple, native.collect())) == sorted(map(tuple, via_udtf.collect()))
    # doc 1 → 3 windows (32+32+6), doc 3/4 → none
    assert native.where("doc_id = 1").count() == 3
    assert native.where("doc_id in (3,4)").count() == 0


def test_datasource_streaming_reader(spark):
    """The same registered source streams: page-number offsets advance per
    micro-batch, and the drained stream carries exactly the batch rows."""
    import time

    spark.dataSource.register(JobsRestDataSource)
    stream = (
        spark.readStream.format("jobs_rest")
        .option("adapter", "mock")
        .option("num_jobs", 60)
        .option("jobs_per_page", 10)
        .option("pages_per_batch", 2)
        .option("collected_at", "2026-01-01T07:00:00")
        .load()
    )
    assert stream.isStreaming
    seen = []
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, _b: seen.extend(df.collect()))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while len(seen) < 60 and time.time() < deadline:
            time.sleep(1)
    finally:
        q.stop()
    assert len(seen) == 60
    batch_ids = {
        r["raw_id"]
        for r in _read(
            spark, num_jobs=60, jobs_per_page=10, collected_at="2026-01-01T07:00:00"
        ).collect()
    }
    assert {r["raw_id"] for r in seen} == batch_ids
