"""Streaming soak bench (r6 verdict item 3): sustained-input measurements
for the two stateful streaming operators that had only parity tests —
``ewma_stateful`` (applyInPandasWithState) and
``foreach_batch_lsh_neardup`` (incremental MinHash-LSH dedup against a
parquet state store).

Each soak drives a rate source for >= 50 one-second triggers and reports,
from the query's progress events: input rows/s, per-trigger batchDuration
p50/p95, and state growth (state-store rows/memory for the
applyInPandasWithState operator; state-table rows/files for the
foreachBatch one). "Bounded" means: EWMA state rows plateau at the entity
count, and LSH per-trigger latency stays flat-ish while its state table
grows linearly in ACCEPTED docs only (first-10 vs last-10 trigger p50 is
printed so drift is a number, not a feeling).

Round-7 additions: ``sessionize_stateful`` (the second
applyInPandasWithState operator — closed-session emission via event-time
timeout, driven by a bursty cohort-rotation input so sessions actually
close) and the upsert pair ``foreach_batch_merge`` (copy-on-write:
read + full-outer-merge + REWRITE the whole table per trigger — O(table)
write amplification) vs ``foreach_batch_mor`` (merge-on-read: one
immutable delta per trigger + periodic compaction — O(batch)), measured
against the same seeded key space so the per-trigger cost difference is
the design's number, not a guess.

Usage:
    python scripts/stream_soak.py [--triggers 50] [--ewma-rate 20000]
        [--lsh-rate 100] [--users 1000]
        [--only ewma|lsh|sessionize|merge|mor]

Results are recorded in BASELINE.md ("Streaming soak" section).
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = min(len(xs) - 1, max(0, round(q * (len(xs) - 1))))
    return xs[i]


def _drain_progress(q, n_triggers: int, timeout_s: float) -> list[dict]:
    """Wait until >= n_triggers non-empty progress events, then stop."""
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(prog) >= n_triggers:
            break
        time.sleep(1.0)
    q.stop()
    q.awaitTermination(60)
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def _report(name: str, prog: list[dict], extra: dict) -> dict:
    durs = [p["batchDuration"] for p in prog]
    rows = sum(p["numInputRows"] for p in prog)
    wall_s = sum(durs) / 1000.0
    out = {
        "soak": name,
        "triggers": len(prog),
        "rows_total": rows,
        "rows_per_busy_sec": round(rows / wall_s, 1) if wall_s else None,
        "trigger_ms_p50": _pct(durs, 0.50),
        "trigger_ms_p95": _pct(durs, 0.95),
        "first10_p50_ms": _pct(durs[:10], 0.50),
        "last10_p50_ms": _pct(durs[-10:], 0.50),
        **extra,
    }
    print(json.dumps(out), flush=True)
    return out


def soak_ewma(spark, triggers: int, rate: int, users: int, workdir: Path) -> dict:
    from pyspark.sql import functions as F

    from job_etl_spark.streaming.stateful import ewma_stateful

    events = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            F.pmod("value", F.lit(users)).cast("long").alias("user_id"),
            (F.pmod("value", F.lit(997)) * 0.5).cast("double").alias("value"),
        )
    )
    q = (
        ewma_stateful(events)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", str(workdir / "ewma_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    prog = _drain_progress(q, triggers, timeout_s=triggers * 4 + 120)
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    extra = {
        "state_rows_first": state[0]["numRowsTotal"] if state else None,
        "state_rows_last": state[-1]["numRowsTotal"] if state else None,
        "state_mb_last": round(state[-1]["memoryUsedBytes"] / 1e6, 2)
        if state
        else None,
        "rate_rows_per_sec": rate,
        "users": users,
    }
    return _report("ewma_stateful", prog, extra)


def soak_lsh(
    spark, triggers: int, rate: int, workdir: Path, compact_every: int | None = None
) -> dict:
    import glob

    from pyspark.sql import functions as F

    from job_etl_spark.pipeline.runner import TableStore
    from job_etl_spark.streaming.pipeline import foreach_batch_lsh_neardup
    from job_etl_spark.tables import table as load_table

    store = TableStore(spark, str(workdir / "lsh_store"))
    ingest = foreach_batch_lsh_neardup(store, compact_every=compact_every)

    # seed the state at sf0.1 scale: the full 5k-doc corpus becomes the
    # stored bands/accepted tables the stream dedups against
    seed = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    t0 = time.time()
    ingest(seed, -1)
    seed_rows = store.read("accepted_docs").count()
    print(
        json.dumps(
            {
                "soak": "lsh_seed",
                "seed_secs": round(time.time() - t0, 2),
                "seed_accepted": seed_rows,
            }
        ),
        flush=True,
    )

    # synthetic docs, deterministic in `value`: ~40 tokens from a ~200k
    # vocab (docs mostly unique, so the state tables actually GROW —
    # a small vocab made every doc collide and acceptance trivial);
    # every 10th doc reuses doc (value-5)'s token stream (a near-dup
    # that the stored-bands join must catch), ids offset above the seed ids
    docs = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            (F.col("value") + F.lit(1 << 40)).alias("doc_id"),
            F.when(F.pmod("value", F.lit(10)) == 0, F.col("value") - 5)
            .otherwise(F.col("value"))
            .alias("_base"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(39)),
                    lambda i: F.concat(
                        F.lit("tok"),
                        F.pmod(F.col("_base") * 37 + i * 7919, F.lit(200003)).cast(
                            "string"
                        ),
                    ),
                ),
            ).alias("text"),
        )
    )
    q = (
        docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(workdir / "lsh_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    prog = _drain_progress(q, triggers, timeout_s=triggers * 6 + 180)
    accepted = store.read("accepted_docs").count()
    band_files = len(glob.glob(str(workdir / "lsh_store" / "lsh_bands" / "*.parquet")))
    extra = {
        "rate_rows_per_sec": rate,
        "accepted_final": accepted,
        "accepted_new": accepted - seed_rows,
        "state_band_files": band_files,
        "compact_every": compact_every,
    }
    return _report("foreach_batch_lsh_neardup", prog, extra)


def soak_sessionize(
    spark, triggers: int, rate: int, users: int, workdir: Path
) -> dict:
    from pyspark.sql import functions as F

    from job_etl_spark.streaming.stateful import sessionize_stateful

    # the cohort formula below yields users//2 + users//2 distinct ids, so
    # an odd --users would plateau at users-1 and break the "state rows ==
    # user count" invariant the soak reports on; surfaced at parse time
    # rather than silently shrunk (an odd 1 would soak zero users)
    if users % 2 or users <= 0:
        raise SystemExit(
            f"--users must be a positive even number for the sessionize "
            f"soak (cohort rotation splits the id space in half); got {users}"
        )

    # bursty cohort rotation: half the user space is active for ~10 s,
    # then idle while the other half runs — idle users' sessions pass the
    # 5 s gap and the event-time timeout closes them (the other cohort's
    # events keep the watermark advancing). Without the rotation every
    # user stays hot and nothing ever closes.
    cohort_rows = rate * 10  # rows per cohort phase
    events = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (
                F.pmod("value", F.lit(users // 2))
                + F.pmod((F.col("value") / F.lit(cohort_rows)).cast("long"), F.lit(2))
                * (users // 2)
            ).cast("long").alias("user_id"),
            (F.pmod("value", F.lit(997)) * 0.5).cast("double").alias("value"),
        )
    )
    q = (
        sessionize_stateful(events, gap_us=5_000_000, watermark="10 seconds")
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", str(workdir / "sess_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    prog = _drain_progress(q, triggers, timeout_s=triggers * 4 + 120)
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    extra = {
        "state_rows_first": state[0]["numRowsTotal"] if state else None,
        "state_rows_max": max(s["numRowsTotal"] for s in state) if state else None,
        "state_rows_last": state[-1]["numRowsTotal"] if state else None,
        "sessions_closed": sum(p["sink"]["numOutputRows"] for p in prog),
        "rate_rows_per_sec": rate,
        "users": users,
    }
    return _report("sessionize_stateful", prog, extra)


def soak_upsert(
    spark,
    triggers: int,
    rate: int,
    workdir: Path,
    mode: str,
    seed_keys: int = 200_000,
    compact_every: int = 10,
) -> dict:
    import glob

    from pyspark.sql import functions as F

    from job_etl_spark.pipeline.runner import TableStore
    from job_etl_spark.streaming.pipeline import (
        foreach_batch_merge,
        foreach_batch_mor,
    )

    store = TableStore(spark, str(workdir / f"upsert_{mode}"))
    tname = "target"
    seed = spark.range(seed_keys).select(
        F.col("id").alias("key"),
        (F.col("id") * 0.25).alias("val"),
        F.lit(0).cast("long").alias("updated_us"),
    )
    if mode == "merge":
        store.write(tname, seed)
        ingest = foreach_batch_merge(
            store, tname, keys=["key"], overwrite_cols=["val", "updated_us"]
        )
    else:
        ingest = foreach_batch_mor(store, tname, keys=["key"], compact_every=compact_every)
        ingest(seed, -1)  # mor_init

    # 90% of each batch updates existing keys; every 10th row mints a
    # fresh key above the seed space, so the table grows a little every
    # trigger and the merge exercises both arms of the upsert
    updates = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
        .select(
            F.when(
                F.pmod("value", F.lit(10)) == 0,
                F.lit(seed_keys) + (F.col("value") / 10).cast("long"),
            )
            .otherwise(F.pmod("value", F.lit(seed_keys)))
            .cast("long")
            .alias("key"),
            (F.col("value") * 0.5).cast("double").alias("val"),
            F.col("value").cast("long").alias("updated_us"),
        )
    )
    q = (
        updates.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(workdir / f"{mode}_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    prog = _drain_progress(q, triggers, timeout_s=triggers * 6 + 180)
    final_rows = (
        store.read(tname).count() if mode == "merge" else store.mor_read(tname).count()
    )
    files = len(glob.glob(str(workdir / f"upsert_{mode}" / tname / "**" / "*.parquet"), recursive=True))
    extra = {
        "rate_rows_per_sec": rate,
        "seed_keys": seed_keys,
        "final_rows": final_rows,
        "parquet_files": files,
        **({"compact_every": compact_every} if mode == "mor" else {}),
    }
    return _report(f"foreach_batch_{mode}", prog, extra)




def soak_upsert_policy(
    spark,
    triggers: int,
    rate: int,
    workdir: Path,
    seed_keys: int = 200_000,
    compact_every: int = 10,
) -> dict:
    """Policy-fold streaming J3 soak (r9 verdict #6): each micro-batch is
    a merge STATEMENT (overwrite updated_us / coalesce val / keep-first
    first_val) landed as one MOR delta; the read folds the stack through
    merge_statements. Measures per-trigger latency across a growing
    base, kills and restarts the query mid-run (replay-after-kill must be
    idempotent under the fold), bounds delta fan-in via compact_every, and
    VALIDATES the final merged view against an append-only raw log of the
    same batches: per key, updated_us == max(value), val == 0.5*max(value)
    (latest statement wins both classes — values are never null), and
    first_val == 0.5*min(value) (keep-first pins the first statement)."""
    import glob

    from pyspark.sql import functions as F

    from job_etl_spark.pipeline.runner import TableStore
    from job_etl_spark.streaming.pipeline import foreach_batch_mor

    store = TableStore(spark, str(workdir / "upsert_policy"))
    tname = "target"
    policy = {"overwrite": ["updated_us"], "coalesce": ["val"], "keep_first": ["first_val"]}
    seed = spark.range(seed_keys).select(
        F.col("id").alias("key"),
        (F.col("id") * 0.25).alias("val"),
        (F.col("id") * 0.25).alias("first_val"),
        F.lit(0).cast("long").alias("updated_us"),
    )
    mor_ingest = foreach_batch_mor(
        store, tname, keys=["key"], compact_every=compact_every, policy=policy
    )
    mor_ingest(seed, -1)  # mor_init with the policy
    logdir = str(workdir / "policy_log")

    def ingest(batch_df, batch_id):
        # raw log first (append-only; replays duplicate rows — the oracle
        # dedups by value), then the policy upsert
        batch_df.write.mode("append").parquet(logdir)
        mor_ingest(batch_df, batch_id)

    def stream():
        updates = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate)
            .load()
            .select(
                F.when(
                    F.pmod("value", F.lit(10)) == 0,
                    F.lit(seed_keys) + (F.col("value") / 10).cast("long"),
                )
                .otherwise(F.pmod("value", F.lit(seed_keys)))
                .cast("long")
                .alias("key"),
                (F.col("value") * 0.5).cast("double").alias("val"),
                (F.col("value") * 0.5).cast("double").alias("first_val"),
                F.col("value").cast("long").alias("updated_us"),
                F.col("value").alias("value"),
            )
        )
        return (
            updates.writeStream.foreachBatch(
                lambda df, bid: ingest(df.drop("value"), bid)
            )
            .option("checkpointLocation", str(workdir / "policy_ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )

    # segment 1, then a hard stop + restart from the checkpoint (replay)
    q = stream()
    prog1 = _drain_progress(q, max(triggers // 2, 2), timeout_s=triggers * 6 + 180)
    q.stop()
    q.awaitTermination(30)
    q = stream()
    prog2 = _drain_progress(q, triggers - len(prog1), timeout_s=triggers * 6 + 180)
    q.stop()

    # oracle over the deduped raw log (replay-duplicated rows collapse on
    # the monotone rate value carried in updated_us). The FINAL q.stop()
    # can cut ingest between the log append and the upsert; with no later
    # restart that batch never replays, so compare against the view's
    # committed prefix (statements commit in value order — everything at
    # or below the view's max updated_us must have landed exactly).
    view = store.read(tname)
    vmax = view.agg(F.max("updated_us").alias("m")).collect()[0]["m"]
    log = (
        spark.read.parquet(logdir)
        .dropDuplicates(["updated_us"])
        .where(F.col("updated_us") <= vmax)
    )
    expect = log.groupBy("key").agg(
        F.max("updated_us").alias("mx"), F.min("updated_us").alias("mn")
    )
    joined = view.join(expect, "key", "left")
    bad_updated = joined.where(
        F.col("mx").isNotNull() & (F.col("updated_us") != F.col("mx"))
    ).count()
    bad_val = joined.where(
        F.col("mx").isNotNull() & (F.abs(F.col("val") - F.col("mx") * 0.5) > 1e-9)
    ).count()
    # keep-first: seeded keys pin the seed value; fresh keys pin their
    # first statement
    bad_first_seeded = joined.where(
        (F.col("key") < seed_keys)
        & F.col("mx").isNotNull()
        & (F.abs(F.col("first_val") - F.col("key") * 0.25) > 1e-9)
    ).count()
    bad_first_fresh = joined.where(
        (F.col("key") >= seed_keys)
        & (F.abs(F.col("first_val") - F.col("mn") * 0.5) > 1e-9)
    ).count()
    missing = expect.join(view.select("key"), "key", "left_anti").count()
    files = len(
        glob.glob(str(workdir / "upsert_policy" / tname / "**" / "*.parquet"), recursive=True)
    )
    extra = {
        "rate_rows_per_sec": rate,
        "seed_keys": seed_keys,
        "final_rows": view.count(),
        "parquet_files": files,
        "compact_every": compact_every,
        "deltas_now": len(store.mor_deltas(tname)),
        "restart_replay": True,
        "oracle_bad_updated": bad_updated,
        "oracle_bad_val": bad_val,
        "oracle_bad_first_seeded": bad_first_seeded,
        "oracle_bad_first_fresh": bad_first_fresh,
        "oracle_missing_keys": missing,
    }
    return _report("foreach_batch_mor_policy", prog1 + prog2, extra)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--triggers", type=int, default=50)
    ap.add_argument("--ewma-rate", type=int, default=20000)
    ap.add_argument("--lsh-rate", type=int, default=100)
    ap.add_argument("--users", type=int, default=1000)
    ap.add_argument(
        "--only",
        choices=["ewma", "lsh", "sessionize", "merge", "mor", "mor_policy"],
        default=None,
    )
    ap.add_argument("--compact-every", type=int, default=None)
    ap.add_argument("--upsert-rate", type=int, default=2000)
    ap.add_argument("--seed-keys", type=int, default=2_000_000)
    args = ap.parse_args()

    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-stream-soak")
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress is a ring buffer (default 100): --triggers above that
    # would spin _drain_progress until timeout and the first10/last10 drift
    # stats would compare rolled-off mid-run windows. Size it to the run.
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(max(100, args.triggers + 20)),
    )
    workdir = Path(tempfile.mkdtemp(prefix="jobspark_soak_"))
    try:
        if args.only in (None, "ewma"):
            soak_ewma(spark, args.triggers, args.ewma_rate, args.users, workdir)
        if args.only in (None, "lsh"):
            soak_lsh(
                spark,
                args.triggers,
                args.lsh_rate,
                workdir,
                compact_every=args.compact_every,
            )
        if args.only in (None, "sessionize"):
            soak_sessionize(spark, args.triggers, args.ewma_rate, args.users, workdir)
        if args.only in (None, "merge"):
            soak_upsert(
                spark,
                args.triggers,
                args.upsert_rate,
                workdir,
                "merge",
                seed_keys=args.seed_keys,
            )
        if args.only in (None, "mor"):
            soak_upsert(
                spark,
                args.triggers,
                args.upsert_rate,
                workdir,
                "mor",
                seed_keys=args.seed_keys,
                compact_every=args.compact_every or 10,
            )
        if args.only in (None, "mor_policy"):
            soak_upsert_policy(
                spark,
                args.triggers,
                args.upsert_rate,
                workdir,
                seed_keys=args.seed_keys,
                compact_every=args.compact_every or 10,
            )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
