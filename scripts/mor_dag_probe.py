"""Composed full-DAG write-amplification probe: ``run_pipeline``-shaped
sequential runs (normalize → enrich → marts → rank) in COW vs MOR mode
over a seeded warehouse, at two base scales (r10 verdict #4).

r9 composed the QUERY suite at 10×; r10 probed normalize/enrich/
compaction per stage. This composes the write path end-to-end: R
sequential DAG runs of a fixed B-identity feed (each run also re-lands
the previous batch — the re-seen/merge path) against a base seeded at N,
with compaction cadence, COW twin alongside. The 100 TB headline claim
under test: per-run COW cost tracks the TABLE (and grows as the runs
accumulate rows), per-run MOR cost tracks the BATCH — near-flat across
runs AND across a 10× base.

Usage: python scripts/mor_dag_probe.py [--sizes 300000 3000000]
       [--batch 2000] [--runs 10] [--compact-every 4] [--buckets 16]
Prints per-run stage timings + a summary for SCALING.md; temp dirs only.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED_TS = "2026-01-01 00:00:00"
SEED_TAG = "Co "
SEED_COMPANIES = 1009


def staging_frame(spark, n: int):
    """N fully enriched staging rows over SEED_COMPANIES companies."""
    from pyspark.sql import functions as F

    tag = F.lit(SEED_TAG)
    seen = F.to_timestamp(F.lit(SEED_TS))
    return spark.range(n).select(
        F.md5(F.concat(tag, F.col("id").cast("string"))).alias("hash_key"),
        F.concat(F.lit("job-"), tag, F.col("id")).alias("provider_job_id"),
        F.lit(None).cast("string").alias("job_link"),
        F.concat(F.lit("Senior Engineer "), F.col("id") % 977).alias("job_title"),
        F.concat(tag, F.col("id") % SEED_COMPANIES).alias("company"),
        F.lit("unknown").alias("company_size"),
        F.concat(F.lit("City "), F.col("id") % 499).alias("location"),
        F.lit("remote").alias("remote_type"),
        F.lit("full_time").alias("contract_type"),
        F.lit("senior").alias("seniority_level"),
        F.lit("upgraded").alias("seniority_enrichment_status"),
        F.lit(50000.0).alias("salary_min"),
        F.lit(90000.0).alias("salary_max"),
        F.lit("USD").alias("salary_currency"),
        F.concat(F.lit("python and spark, desc "), F.col("id")).alias("description"),
        F.array(F.lit("python")).alias("skills_raw"),
        F.lit(None).cast("timestamp").alias("posted_at"),
        F.lit(None).cast("string").alias("apply_url"),
        F.lit("mock").alias("source"),
        seen.alias("first_seen_at"),
        seen.alias("last_seen_at"),
    )


def companies_frame(spark, n: int):
    """The n seed companies the staging rows name."""
    from pyspark.sql import functions as F

    tag = F.lit(SEED_TAG)
    created = F.to_timestamp(F.lit(SEED_TS))
    return spark.range(n).select(
        F.md5(F.concat(tag, F.col("id").cast("string"))).alias("company_id"),
        F.concat(tag, F.col("id")).alias("name"),
        F.lit("mock").alias("source_first_seen"),
        F.lit(None).cast("timestamp").alias("enriched_at"),
        created.alias("created_at"),
        created.alias("updated_at"),
    )


def seed_warehouse(spark, store, n: int) -> None:
    """Staging at N (fully enriched), companies, fact pre-built + ranked
    (the steady-state a long-running deployment sits in)."""
    from pyspark.sql import functions as F

    from job_etl_spark.pipeline.marts import fact_projection

    store.write("staging_job_postings", staging_frame(spark, n))
    store.write("staging_companies", companies_frame(spark, min(n, SEED_COMPANIES)))
    fact = (
        fact_projection(store.read("staging_job_postings"), dt.datetime(2026, 1, 2))
        .withColumn("rank_score", F.lit(42.0))
        .withColumn("rank_explain", F.create_map(F.lit("seed"), F.lit(42.0)))
    )
    store.write("fact_jobs", fact)


def make_batch(template, batch: int, run_no: int):
    """B novel identities for this run (titles carry the run number, so
    every run inserts fresh keys — plus the caller re-lands run k-1)."""
    from job_etl_spark.sources.base import JobPostingRaw

    out = []
    for j in range(batch):
        payload = dict(template.payload)
        payload["title"] = f"Probe Engineer r{run_no} n{j}"
        payload["company"] = f"ProbeCo r{run_no} c{j % 97}"
        payload["description"] = (
            f"We are seeking a Probe Engineer r{run_no} n{j}. "
            "Skills: Python, SQL, Spark."
        )
        out.append(JobPostingRaw(source=template.source, payload=payload))
    return out


def checksum(store) -> tuple:
    """Cheap cross-arm equality witness over the mutable tables."""
    from pyspark.sql import functions as F

    fact = store.read("fact_jobs")
    r = fact.agg(
        F.count(F.lit(1)),
        F.sum(F.crc32(F.col("hash_key"))),
        F.count(F.when(F.col("rank_score").isNull(), 1)),
        F.sum(F.crc32(F.concat_ws("|", "seniority_level", "source"))),
    ).collect()[0]
    st = store.read("staging_job_postings")
    s = st.agg(
        F.count(F.lit(1)),
        F.sum(F.crc32(F.col("hash_key"))),
        F.sum(F.crc32(F.coalesce(F.col("seniority_enrichment_status"), F.lit("")))),
    ).collect()[0]
    return tuple(r) + tuple(s)


def drive(spark, n: int, batch: int, runs: int, mor: bool, compact_every: int,
          buckets: int | None):
    from job_etl_spark.pipeline.runner import (
        TableStore,
        run_enrich,
        run_marts,
        run_normalize,
        run_rank,
    )
    from job_etl_spark.sources.base import land_raw
    from job_etl_spark.sources.mock_adapter import MockAdapter

    wh = tempfile.mkdtemp(prefix=f"dagprobe_{'mor' if mor else 'cow'}_{n}_")
    store = TableStore(spark, wh)
    seed_warehouse(spark, store, n)
    template = MockAdapter(num_jobs=1).fetch_all()[0]
    mb = buckets if mor else None

    def one_run(run_no: int, jobs, timed: bool):
        ts = dt.datetime(2026, 2, 1) + dt.timedelta(days=run_no)
        stages = {}
        t0 = time.perf_counter()
        store.write("raw_job_postings", land_raw(spark, jobs, ts), mode="append")
        stages["land"] = time.perf_counter() - t0
        for name, fn in (
            ("normalize", lambda: run_normalize(
                store, MockAdapter(), min_collected_at=ts, run_ts=ts, mor=mor,
                mor_buckets=mb, compact_every=compact_every)),
            ("enrich", lambda: run_enrich(
                store, run_ts=ts, mor=mor, mor_buckets=mb,
                compact_every=compact_every)),
            ("marts", lambda: run_marts(
                store, run_ts=ts, mor=mor, mor_buckets=mb,
                compact_every=compact_every)),
            ("rank", lambda: run_rank(store, mor=mor, mor_buckets=mb)),
        ):
            t0 = time.perf_counter()
            fn()
            stages[name] = time.perf_counter() - t0
        return stages

    # run 0: untimed warm-up; in MOR mode it also pays the one-time layout
    # migration (reported separately — it is O(table) by design, once)
    t0 = time.perf_counter()
    prev = make_batch(template, batch, 0)
    one_run(0, prev, timed=False)
    setup_s = time.perf_counter() - t0

    per_run = []
    for k in range(1, runs + 1):
        jobs = make_batch(template, batch, k) + [
            type(j)(source=j.source, payload=j.payload) for j in prev
        ]
        stages = one_run(k, jobs, timed=True)
        stages["total"] = sum(stages.values())
        per_run.append(stages)
        prev = jobs[:batch]
    sig = checksum(store)
    shutil.rmtree(wh, ignore_errors=True)
    return setup_s, per_run, sig


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="*", default=[300_000, 3_000_000])
    ap.add_argument("--batch", type=int, default=2_000)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--compact-every", type=int, default=4)
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-dag-probe")
    spark.sparkContext.setLogLevel("ERROR")
    stage_names = ["land", "normalize", "enrich", "marts", "rank", "total"]
    summary = {}
    for n in args.sizes:
        for mor in (False, True):
            mode = "mor" if mor else "cow"
            setup_s, per_run, sig = drive(
                spark, n, args.batch, args.runs, mor, args.compact_every,
                args.buckets,
            )
            print(f"\n# {mode} base={n} batch={args.batch} runs={args.runs} "
                  f"(setup/migration {setup_s:.1f}s)")
            print("run  " + "  ".join(f"{s:>9s}" for s in stage_names))
            for i, st in enumerate(per_run, 1):
                print(f"{i:>3d}  " + "  ".join(f"{st[s]:9.2f}" for s in stage_names))
            head = sum(r["total"] for r in per_run[:3]) / 3
            tail = sum(r["total"] for r in per_run[-3:]) / 3
            cum = sum(r["total"] for r in per_run)
            summary[(mode, n)] = (head, tail, cum, sig)
            print(f"mean total: first3 {head:.2f}s  last3 {tail:.2f}s  "
                  f"drift x{tail / head:.2f}  cumulative {cum:.1f}s")
    print("\n# summary")
    for (mode, n), (head, tail, cum, _) in sorted(summary.items()):
        print(f"{mode} base={n:>8d}: per-run first3 {head:6.2f}s last3 {tail:6.2f}s "
              f"drift x{tail / head:4.2f} cum {cum:7.1f}s")
    ns = sorted(args.sizes)
    if len(ns) >= 2:
        lo, hi = ns[0], ns[-1]
        for mode in ("cow", "mor"):
            print(f"{mode} base x{hi // lo}: per-run cost "
                  f"x{summary[(mode, hi)][1] / summary[(mode, lo)][1]:.2f}")
    # cross-arm equality: both layouts must converge to the same tables
    for n in args.sizes:
        same = summary[("cow", n)][3] == summary[("mor", n)][3]
        print(f"checksum parity base={n}: {'OK' if same else 'MISMATCH'}")
        if not same:
            sys.exit(1)


if __name__ == "__main__":
    main()
