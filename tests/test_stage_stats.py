"""Stage stats contract and Spark-job budgets of an ingest batch.

Every pipeline stage returns a stats dict, and ``rejected`` drives the CLI
exit code. The stages take those stats with ``DataFrame.observe`` on the
frames they write, so the first group of tests pins every key and value on
a fixed MockAdapter feed, for copy-on-write and merge-on-read. The values
were recorded from the stages when each stat still ran its own count.

The second group pins how many Spark jobs the copy-on-write stages and a
steady-state merge-on-read marts run launch, counted with the status
tracker under a job group, and how many classes the copy-on-write batch
compiles, read off Janino's counter.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from job_etl_spark.pipeline.runner import (
    TableStore,
    run_enrich,
    run_marts,
    run_normalize,
    run_rank,
)
from job_etl_spark.session import codegen_compiles
from job_etl_spark.sources.base import JobPostingRaw, land_raw
from job_etl_spark.sources.mock_adapter import MockAdapter

T1 = dt.datetime(2026, 3, 1, 7)
T2 = T1 + dt.timedelta(days=1)
T3 = T1 + dt.timedelta(days=2)
_MOR_TABLES = ("staging_job_postings", "dim_companies", "fact_jobs")
# jobs of a steady-state merge-on-read marts run (test_mor_batch_job_budgets)
MOR_MARTS_JOBS = 19


def _posting(i: int, valid: bool = True, skills=("python",)) -> JobPostingRaw:
    """A posting with its own identity (title ``Platform Engineer <i>``);
    ``valid=False`` blanks the location, so normalize rejects it."""
    payload = MockAdapter()._fake_job(i)
    payload.update(
        title=f"Platform Engineer {i}",
        company=f"Fresh Co {i % 4}",
        location=payload["location"] if valid else " ",
        skills=list(skills),
        provider_job_id=f"fresh_{i}",
    )
    return JobPostingRaw(source="mock_api", payload=payload, provider_job_id=f"fresh_{i}")


def _land(store, jobs, ts) -> None:
    store.write("raw_job_postings", land_raw(store.spark, jobs, ts), mode="append")


def _scenario(spark, root: str, mor: bool) -> list[tuple[str, dict]]:
    """Drive every stage through three batches and return each call's
    stats in order:

    1. 60 mock postings (30 identities) and 3 rejects, on an empty
       warehouse: the first normalize finds no staging table;
    2. 4 rejects only: an all-rejected batch (then an empty one), so
       nothing is pending, no staging row is past the fact watermark and
       nothing is left to rank;
    3. the 30 mock identities again, 6 fresh postings (3 without skills)
       and 1 reject: the merge path.

    Dry runs of normalize, enrich and rank come before the first real run
    of each."""
    store = TableStore(spark, root)
    adapter = MockAdapter()
    kw = {"mor": True, "compact_every": 2} if mor else {}
    out = []

    def stage(label, fn, *args, **kwargs):
        stats = fn(store, *args, **kwargs)
        if mor:  # the delta stacks: an empty batch must not grow them
            stats = {**stats, "_deltas": {
                t: len(store.mor_deltas(t)) for t in _MOR_TABLES if store.mor_exists(t)
            }}
        out.append((label, stats))

    rejects = [_posting(900 + i, False) for i in range(3)]
    _land(store, MockAdapter(num_jobs=60).fetch_all() + rejects, T1)
    norm = dict(min_collected_at=T1, run_ts=T1)
    stage("normalize_dry_no_staging", run_normalize, adapter, dry_run=True, **norm, **kw)
    stage("normalize_no_staging", run_normalize, adapter, **norm, **kw)
    stage("enrich_dry", run_enrich, run_ts=T1, dry_run=True, mor=mor)
    stage("enrich", run_enrich, run_ts=T1, **kw)
    stage("marts_first", run_marts, run_ts=T1, **kw)
    stage("rank_dry", run_rank, dry_run=True, mor=mor)
    stage("rank", run_rank, mor=mor)

    _land(store, [_posting(910 + i, False) for i in range(4)], T2)
    norm = dict(min_collected_at=T2, run_ts=T2)
    stage("normalize_all_rejected", run_normalize, adapter, **norm, **kw)
    empty = dict(min_collected_at=T3, run_ts=T2)  # nothing landed at/after T3 yet
    stage("normalize_empty_batch", run_normalize, adapter, **empty, **kw)
    stage("enrich_nothing_pending", run_enrich, run_ts=T2, **kw)
    stage("marts_nothing_past_watermark", run_marts, run_ts=T2, **kw)
    stage("rank_nothing_left", run_rank, mor=mor)

    fresh = [_posting(i, skills=() if i % 2 else ("sql",)) for i in range(6)]
    _land(store, MockAdapter(num_jobs=30).fetch_all() + fresh + [_posting(920, False)], T3)
    norm = dict(min_collected_at=T3, run_ts=T3)
    stage("normalize_merge", run_normalize, adapter, **norm, **kw)
    stage("enrich_merge", run_enrich, run_ts=T3, **kw)
    stage("marts_merge", run_marts, run_ts=T3, **kw)
    stage("rank_dry_merge", run_rank, dry_run=True, mor=mor)
    stage("rank_merge", run_rank, mor=mor)
    return out


_RANK_30 = {"total_jobs": 30, "ranked_jobs": 30, "unranked_jobs": 0,
            "avg_score": 30.833333333333332, "max_score": 43.0, "min_score": 19.3}
_RANK_36 = {"total_jobs": 36, "ranked_jobs": 36, "unranked_jobs": 0,
            "avg_score": 31.02777777777778, "max_score": 43.0, "min_score": 19.3}

_EXPECTED_COW = [
    ("normalize_dry_no_staging", {"normalized": 30, "rejected": 3, "dry_run": True}),
    ("normalize_no_staging", {"normalized": 30, "rejected": 3, "dry_run": False}),
    ("enrich_dry", {"seniority_pending_before": 30, "dry_run": True}),
    ("enrich", {"seniority_pending_before": 30, "dry_run": False, "companies_total": 5}),
    ("marts_first", {"dim_rows": 5, "fact_rows": 30}),
    ("rank_dry", {"ranked_now": 30, "dry_run": True}),
    ("rank", {"ranked_now": 30, "dry_run": False, **_RANK_30}),
    ("normalize_all_rejected", {"normalized": 0, "rejected": 4, "dry_run": False}),
    ("normalize_empty_batch", {"normalized": 0, "rejected": 0, "dry_run": False}),
    ("enrich_nothing_pending",
     {"seniority_pending_before": 0, "dry_run": False, "companies_total": 5}),
    ("marts_nothing_past_watermark", {"dim_rows": 5, "fact_rows": 30}),
    ("rank_nothing_left", {"ranked_now": 0, "dry_run": False, **_RANK_30}),
    ("normalize_merge", {"normalized": 36, "rejected": 1, "dry_run": False}),
    ("enrich_merge", {"seniority_pending_before": 6, "dry_run": False, "companies_total": 9}),
    ("marts_merge", {"dim_rows": 9, "fact_rows": 36}),
    ("rank_dry_merge", {"ranked_now": 6, "dry_run": True}),
    ("rank_merge", {"ranked_now": 6, "dry_run": False, **_RANK_36}),
]


def _deltas(staging=None, dim=None, fact=None) -> dict:
    """Delta count per merge-on-read table (None: not migrated yet)."""
    return {t: n for t, n in zip(_MOR_TABLES, (staging, dim, fact)) if n is not None}


_EXPECTED_MOR = [
    ("normalize_dry_no_staging",
     {"normalized": 30, "rejected": 3, "dry_run": True, "_deltas": _deltas()}),
    ("normalize_no_staging",
     {"normalized": 30, "rejected": 3, "dry_run": False, "_deltas": _deltas(1)}),
    ("enrich_dry", {"seniority_pending_before": 30, "dry_run": True, "_deltas": _deltas(1)}),
    ("enrich", {"seniority_pending_before": 30, "dry_run": False, "enriched_rows": 30,
                "companies_total": 5, "_deltas": _deltas(0)}),
    ("marts_first", {"dim_new": None, "fact_new": None, "dim_rows": 5, "fact_rows": 30,
                     "_deltas": _deltas(0, 0, 0)}),
    ("rank_dry", {"ranked_now": 30, "dry_run": True, "_deltas": _deltas(0, 0, 0)}),
    ("rank", {"ranked_now": 30, "dry_run": False, **_RANK_30, "_deltas": _deltas(0, 0, 1)}),
    ("normalize_all_rejected",
     {"normalized": 0, "rejected": 4, "dry_run": False, "_deltas": _deltas(0, 0, 1)}),
    ("normalize_empty_batch",
     {"normalized": 0, "rejected": 0, "dry_run": False, "_deltas": _deltas(0, 0, 1)}),
    ("enrich_nothing_pending", {"seniority_pending_before": 0, "dry_run": False,
                                "enriched_rows": 0, "companies_total": 5,
                                "_deltas": _deltas(0, 0, 1)}),
    ("marts_nothing_past_watermark", {"dim_new": 0, "fact_new": 0, "dim_rows": 5,
                                      "fact_rows": 30, "_deltas": _deltas(0, 0, 1)}),
    ("rank_nothing_left",
     {"ranked_now": 0, "dry_run": False, **_RANK_30, "_deltas": _deltas(0, 0, 1)}),
    ("normalize_merge",
     {"normalized": 36, "rejected": 1, "dry_run": False, "_deltas": _deltas(1, 0, 1)}),
    ("enrich_merge", {"seniority_pending_before": 6, "dry_run": False, "enriched_rows": 6,
                      "companies_total": 9, "_deltas": _deltas(0, 0, 1)}),
    ("marts_merge", {"dim_new": 4, "fact_new": 6, "dim_rows": 9, "fact_rows": 36,
                     "_deltas": _deltas(0, 1, 0)}),
    ("rank_dry_merge", {"ranked_now": 6, "dry_run": True, "_deltas": _deltas(0, 1, 0)}),
    ("rank_merge", {"ranked_now": 6, "dry_run": False, **_RANK_36, "_deltas": _deltas(0, 1, 1)}),
]


def _assert_stats(got: list[tuple[str, dict]], want: list[tuple[str, dict]]) -> None:
    """Integers and flags match exactly; ``avg_score`` within 1e-9
    relative, because a float sum depends on the order Spark adds in."""
    assert [label for label, _ in got] == [label for label, _ in want]
    for (label, g), (_, w) in zip(got, want):
        assert set(g) == set(w), (label, g, w)
        for k, v in w.items():
            if k == "avg_score":
                assert math.isclose(g[k], v, rel_tol=1e-9), (label, k, g[k], v)
            else:
                assert g[k] == v, (label, k, g[k], v)


@pytest.mark.parametrize("mor", [False, True], ids=["cow", "mor"])
def test_stage_stats_contract(spark, tmp_path, mor):
    got = _scenario(spark, str(tmp_path / "wh"), mor)
    _assert_stats(got, _EXPECTED_MOR if mor else _EXPECTED_COW)


_GROUPS = itertools.count()


def _jobs(spark, fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cow_table_reads_without_a_job(spark, tmp_path):
    """A table TableStore wrote reads under its schema sidecar: no footer
    job, and the same schema a footer read infers."""
    store = TableStore(spark, str(tmp_path))
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("xs", T.ArrayType(T.DoubleType(), False)),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType(), False)),
        T.StructField("s", T.StructType([
            T.StructField("a", T.StringType(), False), T.StructField("b", T.IntegerType()),
        ])),
    ])
    df = spark.createDataFrame([("a", 1, [1.5], {"k": 2.0}, ("x", 2))], schema)
    store.write("w", df)
    store.write("a", df, mode="append")
    store.rewrite("r", df)
    for name in ("w", "a", "r"):
        read, jobs = _jobs(spark, lambda: store.read(name).schema)
        assert jobs == 0, (name, jobs)
        assert read == spark.read.parquet(store.path(name)).schema, name
    # an append of another schema drops the sidecar: the read infers again
    store.write("a", df.withColumn("extra", F.lit(1)), mode="append")
    assert _jobs(spark, lambda: store.read("a").schema)[1] >= 1
    assert "extra" in store.read("a", merge_schema=True).columns


def test_cow_batch_job_budgets(spark, tmp_path):
    """One Spark action per table a stage writes: a copy-on-write batch
    over existing tables runs normalize in ≤ 3 jobs, rank in ≤ 2, and the
    whole batch (land through digest) in ≤ 24. It compiles at most 85
    classes: 17 after the rest of this file has run, 71 alone, against
    105-106 with Spark's 100-entry generated-class cache, which the batch's
    working set overflows."""
    from job_etl_spark.pipeline.report import daily_digest

    store = TableStore(spark, str(tmp_path))
    adapter = MockAdapter()
    _land(store, MockAdapter(num_jobs=60).fetch_all(), T1)
    run_normalize(store, adapter, run_ts=T1)
    run_enrich(store, run_ts=T1)
    run_marts(store, run_ts=T1)
    run_rank(store)
    jobs = {}
    compiles0, _ = codegen_compiles(spark)
    batch = MockAdapter(num_jobs=30).fetch_all() + [_posting(i) for i in range(6)]
    _, jobs["land"] = _jobs(spark, _land, store, batch + [_posting(99, False)], T2)
    stats, jobs["normalize"] = _jobs(
        spark, run_normalize, store, adapter, min_collected_at=T2, run_ts=T2
    )
    _, jobs["enrich"] = _jobs(spark, run_enrich, store, run_ts=T2)
    _, jobs["marts"] = _jobs(spark, run_marts, store, run_ts=T2)
    _, jobs["rank"] = _jobs(spark, run_rank, store)
    _, jobs["digest"] = _jobs(spark, lambda: daily_digest(store.read("fact_jobs")))
    compiles = codegen_compiles(spark)[0] - compiles0
    assert stats["rejected"] == 1 and stats["normalized"] == 36
    assert compiles <= 85, compiles
    assert jobs["normalize"] <= 3, jobs
    assert jobs["rank"] <= 2, jobs
    assert sum(jobs.values()) <= 24, jobs


def test_mor_batch_job_budgets(spark, tmp_path):
    """A steady-state merge-on-read marts run, where no company is newer
    than the dimension, lands no dimension delta: the one aggregate that
    finds nothing new is all the dimension costs."""
    store = TableStore(spark, str(tmp_path))
    adapter = MockAdapter()
    kw = {"mor": True, "compact_every": 2}
    _land(store, MockAdapter(num_jobs=60).fetch_all() + [_posting(i) for i in range(4)], T1)
    run_normalize(store, adapter, run_ts=T1, **kw)
    run_enrich(store, run_ts=T1, **kw)
    run_marts(store, run_ts=T1, **kw)
    run_rank(store, mor=True)
    # same companies, fresh postings: nothing new for the dimension
    _land(store, [_posting(i) for i in range(30, 36)], T2)
    run_normalize(store, adapter, min_collected_at=T2, run_ts=T2, **kw)
    run_enrich(store, run_ts=T2, **kw)
    stats, jobs = _jobs(spark, run_marts, store, run_ts=T2, **kw)
    assert stats["dim_new"] == 0 and stats["fact_new"] == 6, stats
    assert store.mor_deltas("dim_companies") == []
    assert jobs <= MOR_MARTS_JOBS, jobs
