"""Pipeline runner + stage CLIs (reference parity: §3.1 DAG + §3.2 CLIs).

Replaces Airflow for single-process runs: extract → normalize → enrich →
marts → rank → dq → report, with tables persisted as parquet between
stages (a storage layer with atomic overwrite-rewrite; Delta MERGE drops
in behind ``TableStore`` when available).

CLI contract mirrors the reference services: ``--limit --source --dry-run
--verbose``, stats dict printed as JSON, exit codes 0 (ok), 1 (partial —
some rows rejected), 2 (fatal).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys
import tempfile

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from job_etl_spark.operators import dq
from job_etl_spark.pipeline import report as report_mod
from job_etl_spark.pipeline.enrich import (
    SkillsDictionary,
    enrich_seniority,
    enrich_skills,
    seed_company_records,
    skills_pending,
)
from job_etl_spark.pipeline.marts import build_dim_companies, build_fact_jobs
from job_etl_spark.pipeline.normalize import merge_into_staging, normalize_common
from job_etl_spark.pipeline.rank import RankingConfig, rank_jobs
from job_etl_spark.pipeline.store import TableStore
from job_etl_spark.schema import (
    STAGING_SCHEMA,
    VALID_CONTRACT_TYPES,
    VALID_REMOTE_TYPES,
    VALID_SENIORITY_LEVELS,
)
from job_etl_spark.sources.base import SourceAdapter, common_from_raw, land_raw
from job_etl_spark.sources.mock_adapter import MockAdapter


def _observed(obs: Observation) -> dict:
    """The metrics that ``df.observe(obs, ...)`` reported to the action
    that ran ``df``. Stage stats ride the stage's writes this way instead
    of running jobs of their own.

    An observed frame must reach exactly one action, in a place no
    optimizer rule can drop: the optimizer drops an empty
    ``createDataFrame`` on one side of a full outer join, and adaptive
    execution drops a shuffle stage that produced no rows, each with the
    observations inside it. Observe above a stage's shuffles."""
    try:
        return obs.get
    except (Py4JJavaError, AssertionError) as e:
        raise RuntimeError(
            "an observed stage frame reported no metrics: the optimizer "
            "pruned the observed node from the plan that ran"
        ) from e


def _noop(df: DataFrame) -> None:
    """Run ``df`` without writing it: a dry run's one action."""
    df.write.format("noop").mode("overwrite").save()


def run_extract(
    store: TableStore, adapter: SourceAdapter, max_jobs: int | None = None, run_ts=None
) -> dict:
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    jobs = adapter.fetch_all(max_jobs=max_jobs)
    raw_df = land_raw(store.spark, jobs, run_ts)
    store.write("raw_job_postings", raw_df, mode="append")
    return {"extracted_count": len(jobs), "source": adapter.source_name}


def run_normalize(
    store: TableStore,
    adapter: SourceAdapter,
    min_collected_at=None,
    limit: int | None = None,
    dry_run: bool = False,
    run_ts=None,
    mor: bool = False,
    compact_every: int = 16,
    mor_buckets: int | None = None,
) -> dict:
    """S5 scan (+watermark) → U3/U2 → J3 merge. Exit-code semantics via
    'rejected' in the stats dict (main.py:289-354).

    Write-back strategy follows the COW/MOR decision rule (COVERAGE.md
    "Choosing COW vs MOR"). Default COW: full-outer COALESCE merge + full
    staging rewrite — O(staging table) per batch, the write amplification
    the r7 soak measured (COW p50 tracks table size; MOR stays flat).
    ``mor=True`` is the 100 TB path: the normalized batch lands as ONE
    merge-on-read delta — O(batch) per run — and reads fold the delta
    stack through the SAME per-column policy (``staging_merge_policy``,
    recorded in the table's _META at migration), so ``store.read`` of
    either layout is bit-identical (pinned by test_pipeline_e2e +
    randomized fold-parity tests). First ``mor=True`` call migrates the
    COW files into the MOR layout. ``compact_every`` bounds the delta
    chain: once that many deltas accumulate, the run folds them into a
    new base (same knob as the streaming twin's ``compact_every``) —
    read-side fan-in stays O(compact_every), write cost stays O(batch)
    for every run except the 1-in-N compaction."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    raw = store.read("raw_job_postings")
    if min_collected_at is not None:
        raw = raw.where(F.col("collected_at") >= F.lit(min_collected_at))
    if limit:
        raw = raw.orderBy(F.desc("collected_at"), F.asc("raw_id")).limit(limit)
    # the stats/exit-code contract rides the batch's one write (a dry run
    # sends the same frame to the noop sink)
    res = normalize_common(common_from_raw(raw, adapter), run_ts)
    if dry_run:
        _noop(res.normalized)
    elif mor:
        _ensure_staging_mor(store, mor_buckets)
        # an empty batch registers no delta
        if store.mor_upsert("staging_job_postings", res.normalized) is not None:
            _compact_if_due(store, "staging_job_postings", compact_every)
    else:
        staging = store.read("staging_job_postings", STAGING_SCHEMA)
        store.rewrite("staging_job_postings", merge_into_staging(staging, res.normalized))
    return {**_observed(res.counts), "dry_run": dry_run}


def run_enrich(
    store: TableStore,
    dictionary_path: str | None = None,
    sources: list[str] | None = None,
    include_existing: bool = False,
    dry_run: bool = False,
    run_ts=None,
    mor: bool = False,
    compact_every: int = 16,
    mor_buckets: int | None = None,
) -> dict:
    """S6/S7 scans → U4/U5 → J6 write-back.

    Write-back strategy follows the COW/MOR decision rule (COVERAGE.md
    "Choosing COW vs MOR"). Default COW: full-table withColumn stages +
    staging rewrite — O(table) per enrich run. ``mor=True`` is the 100 TB
    path and matches the reference's ACTUAL shape — its enricher is a
    keyed point-UPDATE of the PENDING rows only (S6/S7 select the pending
    subset, services/enricher/db_operations.py:140-176,244-282): compute
    skills/seniority for the pending subset and land it as ONE
    merge-on-read delta carrying just (hash_key, skills_raw,
    seniority_level, seniority_enrichment_status) with OVERWRITE
    per-statement classes — the staging policy keeps those columns
    keep-first for normalize statements, so the classes recorded in the
    delta's schema sidecar override them for this statement only. Write
    cost O(pending), never O(table); the read folds mixed normalize/enrich
    statements through ``merge_statements`` bit-identically to the COW
    chain."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    # a dry run must not mutate ANYTHING, the layout included
    if mor and not dry_run:
        _ensure_staging_mor(store, mor_buckets)
    staging = store.read("staging_job_postings", STAGING_SCHEMA)
    dictionary = SkillsDictionary.load(dictionary_path)
    not_tried = F.col("seniority_enrichment_status") == "not_tried"
    pend, comp = Observation(), Observation()
    if mor:
        # the pending subset: exactly the rows either enrichment phase
        # would touch (S6 skills predicate ∪ S7 seniority-pending). Its
        # stats ride the delta write, which runs the subset once.
        pending = staging.where(skills_pending(sources, include_existing) | not_tried).observe(
            pend,
            F.count_if(not_tried).alias("seniority_pending_before"),
            F.count(F.lit(1)).alias("enriched_rows"),
        )
    else:
        # the whole table is rewritten; its pending count rides that write
        pending = staging.observe(pend, F.count_if(not_tried).alias("seniority_pending_before"))
    enriched = enrich_seniority(enrich_skills(pending, dictionary, sources, include_existing))
    companies_schema = (
        "company_id string, name string, source_first_seen string, "
        "enriched_at timestamp, created_at timestamp, updated_at timestamp"
    )
    companies = store.read("staging_companies", companies_schema)
    # company seeding scans ALL distinct staging companies (J4 over the
    # whole table), not just the pending rows. Enrichment does not change
    # the columns it reads, so seed from the unobserved staging read: the
    # observed frame then feeds exactly one action.
    companies2 = seed_company_records(companies, staging, run_ts)
    n_matched = None
    # company enrichment sub-phase (U6/J5/S13): runs when a cached
    # candidates table exists (offline snapshot of per-name API results);
    # matched + unmatched pending rows both get enriched_at stamped
    if store.exists("company_candidates"):
        from job_etl_spark.pipeline.company_match import (
            apply_company_matches,
            match_companies,
        )

        candidates = store.read("company_candidates")
        matches = match_companies(companies2, candidates)
        n_matched = matches.where(F.col("candidate_name").isNotNull()).count()
        companies2 = apply_company_matches(companies2, matches, run_ts)
    companies2 = companies2.observe(comp, F.count(F.lit(1)).alias("companies_total"))
    if dry_run:
        _noop(enriched)
    elif mor:
        # O(pending) delta: keys + the three enricher-owned columns,
        # OVERWRITE per-statement classes (the table policy keeps them
        # keep-first for normalize statements). An empty pending subset
        # registers no delta.
        store.mor_upsert(
            "staging_job_postings",
            enriched.select(
                "hash_key", "skills_raw", "seniority_level", "seniority_enrichment_status"
            ),
            classes={
                "overwrite": ["skills_raw", "seniority_level", "seniority_enrichment_status"]
            },
        )
        # companies2's plan reads the staging view lazily, but a delta
        # APPEND never invalidates already-listed files — only the
        # 1-in-N compaction swaps the base, so compact strictly last
        store.rewrite("staging_companies", companies2)
        _compact_if_due(store, "staging_job_postings", compact_every)
    else:
        # companies2's plan reads staging; two-phase swap avoids reading
        # files deleted by the staging rewrite
        store.rewrite_many(
            {"staging_job_postings": enriched, "staging_companies": companies2}
        )
    pending_stats = _observed(pend)
    stats = {
        "seniority_pending_before": pending_stats["seniority_pending_before"],
        "dry_run": dry_run,
    }
    if n_matched is not None:
        stats["companies_matched"] = n_matched
    if not dry_run:
        if mor:
            stats["enriched_rows"] = pending_stats["enriched_rows"]
        stats["companies_total"] = _observed(comp)["companies_total"]
    return stats


def _ensure_staging_mor(store: TableStore, buckets: int | None) -> None:
    """One shared staging_job_postings MOR table spec for both writers
    (normalize batch + enrich pending delta): keyed on hash_key under
    ``staging_merge_policy``; the first call migrates the COW files."""
    from job_etl_spark.pipeline.normalize import staging_merge_policy

    if not store.mor_exists("staging_job_postings"):
        store.mor_init(
            "staging_job_postings",
            store.read("staging_job_postings", STAGING_SCHEMA),
            ["hash_key"],
            policy=staging_merge_policy(),
            buckets=buckets,
        )


def _compact_if_due(store: TableStore, name: str, compact_every: int) -> None:
    """Fold ``name``'s delta chain into a new base once it holds
    ``compact_every`` deltas (0 never compacts)."""
    if compact_every and len(store.mor_deltas(name)) >= compact_every:
        store.mor_compact(name)


def _ensure_fact_mor(store: TableStore, buckets: int | None) -> None:
    """One shared fact_jobs MOR table spec for every writer (marts
    increment + rank write-back): keyed on hash_key under
    ``fact_merge_policy`` — data columns overwrite, the rank pair
    coalesces (the J2 carry). A MOR fact_jobs without that policy is
    refused: latest-wins would resolve a marts delta's NULL rank columns
    wholesale and silently null out landed scores."""
    from job_etl_spark.pipeline.marts import fact_merge_policy

    if not store.mor_exists("fact_jobs"):
        store.mor_init(
            "fact_jobs",
            store.read("fact_jobs"),
            ["hash_key"],
            policy=fact_merge_policy(),
            buckets=buckets,
        )
    elif store._mor_meta("fact_jobs").get("policy") is None:
        raise ValueError("MOR fact_jobs is latest-wins: marts and rank need fact_merge_policy")


def run_marts(
    store: TableStore,
    run_ts=None,
    mor: bool = False,
    mor_buckets: int | None = None,
    compact_every: int = 16,
) -> dict:
    """Marts stage: the two dbt models (dim_companies SCD1, fact_jobs
    incremental + rank carry).

    Write-back strategy follows the COW/MOR decision rule (COVERAGE.md
    "Choosing COW vs MOR"). Default COW: rebuild-and-rewrite both marts
    — O(table) per run even when the watermark admits zero rows, the
    write amplification the dbt full-refresh model pays. ``mor=True`` is
    the 100 TB path and matches the dbt INCREMENTAL semantics the models
    declare (``fact_jobs.sql:23-31``, ``dim_companies.sql:38-44``): the
    increment past each watermark lands as ONE merge-on-read delta —
    O(new rows) per run, a no-op run touches no base file —

    - fact_jobs: ``fact_increment`` rows (NULL rank columns) under
      ``fact_merge_policy`` — the fold's COALESCE on the rank pair IS
      the J2 rank carry, so the COW self-join disappears;
    - dim_companies: latest-wins keyed on company_id; the delta is the
      rows past the created_at watermark (every dim attribute is
      immutable post-seed — company_id is a function of the name — so
      the created_at watermark is exact, not approximate).

    First ``mor=True`` call migrates COW marts into the MOR layout;
    ``compact_every`` bounds the fact delta chain as in the other
    stages. Both layouts read bit-identically through ``store.read``
    (dual-mode parity test)."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    staging = store.read("staging_job_postings", STAGING_SCHEMA)
    companies = store.read(
        "staging_companies",
        "company_id string, name string, source_first_seen string, "
        "enriched_at timestamp, created_at timestamp, updated_at timestamp",
    )
    if mor:
        return _run_marts_mor(
            store, staging, companies, run_ts, mor_buckets, compact_every
        )
    existing_fact = store.read("fact_jobs") if store.exists("fact_jobs") else None
    # each table's size rides its rewrite
    dim_obs, fact_obs = Observation(), Observation()
    dim = build_dim_companies(companies, None)
    fact = build_fact_jobs(staging, existing_fact, run_ts)
    store.rewrite("dim_companies", dim.observe(dim_obs, F.count(F.lit(1)).alias("dim_rows")))
    store.rewrite("fact_jobs", fact.observe(fact_obs, F.count(F.lit(1)).alias("fact_rows")))
    return {**_observed(dim_obs), **_observed(fact_obs)}


def _run_marts_mor(
    store: TableStore,
    staging: DataFrame,
    companies: DataFrame,
    run_ts,
    mor_buckets: int | None,
    compact_every: int,
) -> dict:
    from job_etl_spark.operators.watermark import EPOCH_FLOOR
    from job_etl_spark.pipeline.marts import fact_increment, fact_merge_policy

    stats: dict = {}
    # -- dim_companies: latest-wins deltas past the created_at watermark.
    # The COW build is a stateless projection of staging_companies, so
    # migration and first build share one init frame. Dimension-sized →
    # flat base (no buckets).
    if not store.mor_exists("dim_companies"):
        store.mor_init(
            "dim_companies", build_dim_companies(companies, None), ["company_id"]
        )
        stats["dim_new"] = None  # init run: the whole projection is the base
    else:
        # one aggregate takes the dimension's watermark and the newest
        # company, so a run with nothing newer writes no empty delta
        created, null_ts = F.col("created_at"), F.lit(None).cast("timestamp")
        row = (
            store.read("dim_companies").select(created.alias("wm"), null_ts.alias("top"))
            .unionByName(companies.select(null_ts.alias("wm"), created.alias("top")))
            .agg(F.max("wm").alias("wm"), F.max("top").alias("top"))
            .first()
        )
        wm = row["wm"] or EPOCH_FLOOR
        if row["top"] is None or row["top"] <= wm:
            stats["dim_new"] = 0
        else:
            fresh = build_dim_companies(companies, None).where(created > F.lit(wm))
            obs = Observation()
            store.mor_upsert("dim_companies", fresh.observe(obs, F.count(F.lit(1)).alias("dim_new")))
            stats.update(_observed(obs))
    # -- fact_jobs: the increment as ONE delta under fact_merge_policy
    # (rank carry via the fold's COALESCE — no self-join, no base write)
    had_fact = store.exists("fact_jobs")
    if not store.mor_exists("fact_jobs") and not had_fact:
        # first build: the full projection IS the base
        store.mor_init(
            "fact_jobs",
            fact_increment(staging, None, run_ts),
            ["hash_key"],
            policy=fact_merge_policy(),
            buckets=mor_buckets,
        )
        stats["fact_new"] = None
    else:
        _ensure_fact_mor(store, mor_buckets)  # migrate if needed
        existing = store.read("fact_jobs")
        inc, obs = fact_increment(staging, existing, run_ts), Observation()
        store.mor_upsert("fact_jobs", inc.observe(obs, F.count(F.lit(1)).alias("fact_new")))
        stats.update(_observed(obs))
        _compact_if_due(store, "fact_jobs", compact_every)
    stats["dim_rows"] = store.read("dim_companies").count()
    stats["fact_rows"] = store.read("fact_jobs").count()
    return stats


def run_rank(
    store: TableStore,
    config: RankingConfig | None = None,
    rank_all: bool = False,
    min_ingested_at=None,
    limit: int | None = None,
    dry_run: bool = False,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """Rank unranked fact rows and write the scores back.

    Write-back strategy follows the COW/MOR decision rule (COVERAGE.md
    "Choosing COW vs MOR"): the default COW path rewrites the whole fact
    table — O(table) per run, fine while fact_jobs is dimension-sized.
    ``mor=True`` is the fact-sized path: the ranked rows land as ONE
    merge-on-read delta (``TableStore.mor_upsert``) and the rewrite is
    deferred to ``mor_compact`` on its own schedule — write cost O(ranked
    batch), never O(table). The r7 stream soak measured exactly this gap:
    COW merge p50 tracks table size (684→907 ms across a 10× seed) while
    MOR stays flat (464→507 ms); see ``streaming/pipeline.py::
    foreach_batch_mor`` for the streaming twin of this path. First
    ``mor=True`` call migrates the COW files into the MOR layout.
    """
    cfg = config or RankingConfig()
    # a dry run must not mutate ANYTHING, the layout included
    if mor and not dry_run:
        _ensure_fact_mor(store, mor_buckets)
    fact = store.read("fact_jobs")  # MOR-aware: merged view either way
    target = F.lit(True) if rank_all else F.col("rank_score").isNull()
    if min_ingested_at is not None and not rank_all:
        target = target & (F.col("ingested_at") >= F.lit(min_ingested_at))
    to_rank = fact.where(target)
    if limit:
        to_rank = to_rank.orderBy(F.desc("ingested_at"), F.asc("hash_key")).limit(limit)
    ranked = rank_jobs(to_rank, None, cfg)
    # ranked_now rides the ranked branch of the one write; the COW arm's
    # key anti-join reads the unobserved plan (scoring is a map: running it
    # twice costs less than a cache)
    rank_obs, stats = Observation(), {}
    observed = ranked.select(*fact.columns).observe(rank_obs, F.count(F.lit(1)).alias("ranked_now"))
    if dry_run:
        _noop(observed)
    elif mor:
        store.mor_upsert("fact_jobs", observed)  # an empty batch lands nothing
        # the merged view: downstream stages and these stats see the same
        stats = report_mod.ranking_stats(store.read("fact_jobs"))
    else:
        untouched = fact.join(ranked.select("hash_key"), "hash_key", "left_anti")
        table_obs = Observation()
        table = untouched.unionByName(observed).observe(table_obs, *report_mod.ranking_aggs())
        store.rewrite("fact_jobs", table)
        stats = report_mod.ranking_dict(_observed(table_obs))
    return {**_observed(rank_obs), "dry_run": dry_run, **stats}


def run_dq(store: TableStore) -> list[dq.DQResult]:
    """dbt-test equivalents over the marts (schema.yml parity)."""
    fact = store.read("fact_jobs")
    dim = store.read("dim_companies")
    checks = {
        "fact_jobs.hash_key.unique": dq.check_unique(fact, ["hash_key"]),
        "fact_jobs.hash_key.not_null": dq.check_not_null(fact, "hash_key"),
        "fact_jobs.remote_type.accepted": dq.check_accepted_values(
            fact, "remote_type", VALID_REMOTE_TYPES
        ),
        "fact_jobs.contract_type.accepted": dq.check_accepted_values(
            fact, "contract_type", VALID_CONTRACT_TYPES
        ),
        "fact_jobs.seniority_level.accepted": dq.check_accepted_values(
            fact, "seniority_level", VALID_SENIORITY_LEVELS
        ),
        "dim_companies.company_id.unique": dq.check_unique(dim, ["company_id"]),
        "fact_jobs.company_id.relationship": dq.check_relationships(
            fact, "company_id", dim, "company_id"
        ),
    }
    return dq.run_checks(checks)


def run_dedupe_report(store: TableStore) -> dict:
    """The reference's ``dedupe_consolidate`` DAG task is a placeholder
    echo (`airflow/dags/jobs_etl_daily.py:1624-1640` — exact dedup already
    happened in the hash-key merge). Here the stage earns its place:
    MinHash-LSH near-dup candidates over staging descriptions, clustered
    by connected components — surfacing postings that hash-key identity
    (company|title|location) treats as distinct but whose text is a
    near-copy (cross-company reposts, template spam)."""
    from job_etl_spark.ml.cluster import connected_components
    from job_etl_spark.ml.dedup import minhash_lsh_candidates

    staging = store.read("staging_job_postings").where(
        F.col("description").isNotNull()
    )
    pairs = minhash_lsh_candidates(staging, "hash_key", "description")
    n_pairs = pairs.count()
    if n_pairs == 0:
        return {"near_dup_pairs": 0, "near_dup_clusters": 0, "docs_in_clusters": 0}
    cc = connected_components(pairs)
    per_cluster = cc.groupBy("cluster_id").count()
    agg = per_cluster.agg(
        F.count(F.lit(1)).alias("clusters"), F.sum("count").alias("docs")
    ).first()
    return {
        "near_dup_pairs": n_pairs,
        "near_dup_clusters": agg["clusters"],
        "docs_in_clusters": agg["docs"],
    }


def run_pipeline(
    spark: SparkSession,
    warehouse: str | None = None,
    num_jobs: int = 100,
    run_ts=None,
    mor: bool = False,
    mor_buckets: int | None = None,
) -> dict:
    """The full DAG slice on the mock source — SURVEY.md §7.1's 'one real
    query' end-to-end. ``mor=True`` runs every mutable write-back
    (normalize/enrich/rank) through the merge-on-read layout — the 100 TB
    configuration — with ``mor_buckets`` selecting the bucketed base."""
    warehouse = warehouse or tempfile.mkdtemp(prefix="jobspark_wh_")
    run_ts = run_ts or dt.datetime(2026, 1, 1, 7, 0, 0)
    store = TableStore(spark, warehouse)
    adapter = MockAdapter(num_jobs=num_jobs)
    stats: dict = {"warehouse": warehouse}
    stats["extract"] = run_extract(store, adapter, run_ts=run_ts)
    stats["normalize"] = run_normalize(
        store, adapter, run_ts=run_ts, mor=mor, mor_buckets=mor_buckets
    )
    stats["enrich"] = run_enrich(store, run_ts=run_ts, mor=mor, mor_buckets=mor_buckets)
    stats["marts"] = run_marts(store, run_ts=run_ts, mor=mor, mor_buckets=mor_buckets)
    stats["dedupe"] = run_dedupe_report(store)
    stats["rank"] = run_rank(store, RankingConfig(), mor=mor, mor_buckets=mor_buckets)
    stats["dq"] = {r.name: r.violations for r in run_dq(store)}
    digest = report_mod.daily_digest(store.read("fact_jobs"), store.read("dim_companies"))
    stats["digest_unique_jobs"] = digest["unique_jobs"]
    stats["digest_top"] = [r["hash_key"] for r in digest["top_jobs"][:5]]
    # S12 notify: dry-run by default (no SMTP in this environment); failures
    # never fail the pipeline, matching the reference's all_done semantics
    from job_etl_spark.pipeline.notifier import send_digest

    notify = send_digest(
        "jobspark daily digest",
        {k: v for k, v in stats.items() if isinstance(v, (int, str))},
        digest["top_jobs"],
        dry_run=True,
    )
    stats["notify"] = {k: notify[k] for k in ("sent", "n_top", "error")}
    return stats


def run_publish(store: TableStore, out_dir: str) -> dict:
    """S11 stage: capped export of both mart tables
    (reference CLI surface ``services/publisher_hyper/main.py:18-22``)."""
    fact = store.read("fact_jobs")
    dim = store.read("dim_companies")
    return report_mod.export_tables(fact, dim, out_dir)


def run_notify(
    subject: str, text: str, html: str | None = None, metadata: str | None = None,
    dry_run: bool = True,
) -> dict:
    """S12 stage: standalone message send (reference CLI surface
    ``services/notifier/main.py:32-55`` — --subject --text [--html
    --metadata]); metadata is appended to the text body."""
    from job_etl_spark.pipeline.notifier import send_message

    body = text
    if metadata:
        meta = json.loads(metadata)
        if not isinstance(meta, dict):
            raise ValueError("--metadata must be a JSON object")
        body += "\n\n" + "\n".join(f"- {k}: {v}" for k, v in meta.items())
    return send_message(subject, body, html, dry_run=dry_run)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="jobspark", description="jobspark pipeline CLI")
    parser.add_argument(
        "stage",
        choices=[
            "pipeline", "extract", "normalize", "enrich", "marts", "rank",
            "dq", "publish", "notify", "query",
        ],
    )
    parser.add_argument(
        "name", nargs="?", default=None,
        help="query stage: declared query name (or unique prefix, e.g. q29)",
    )
    parser.add_argument("--sf", default="/root/testdata/sf0.01", help="query stage: table dir")
    parser.add_argument("--explain", action="store_true", help="query stage: print the physical plan")
    parser.add_argument("--max-rows", type=int, default=100, help="query stage: output row cap")
    parser.add_argument("--warehouse", default=None)
    parser.add_argument("--limit", type=int, default=None)
    parser.add_argument("--num-jobs", type=int, default=100)
    parser.add_argument("--dictionary-path", default=None)
    parser.add_argument("--config", default=None, help="ranking.yml path")
    parser.add_argument("--source", action="append", default=None)
    parser.add_argument("--all", action="store_true", help="re-rank everything")
    parser.add_argument(
        "--mor",
        action="store_true",
        help="rank/normalize/enrich/marts stage: land the write-back as a "
        "merge-on-read delta instead of a table rewrite (fact-sized tables; "
        "COVERAGE.md 'Choosing COW vs MOR')",
    )
    parser.add_argument(
        "--mor-buckets",
        type=int,
        default=None,
        help="with --mor: hash-bucket the base into N stable dirs at "
        "migration so compaction rewrites only delta-touched buckets "
        "(table-lifetime layout; pick N so a bucket is a few GB at scale)",
    )
    parser.add_argument("--include-existing", action="store_true")
    parser.add_argument("--dry-run", action="store_true")
    parser.add_argument("--verbose", action="store_true")
    parser.add_argument(
        "--min-collected-at",
        default=None,
        help="normalize watermark (ISO timestamp): only raw rows collected at/after",
    )
    parser.add_argument("--output-dir", default=None, help="publish export dir")
    parser.add_argument("--subject", default=None, help="notify subject")
    parser.add_argument("--text", default=None, help="notify text body")
    parser.add_argument("--html", default=None, help="notify html body")
    parser.add_argument("--metadata", default=None, help="notify metadata JSON")
    args = parser.parse_args(argv)

    if args.stage == "notify":
        # driver-side only — no SparkSession needed
        if not args.subject or args.text is None:
            print(json.dumps({"error": "--subject and --text required"}), file=sys.stderr)
            return 2
        try:
            stats = run_notify(
                args.subject, args.text, args.html, args.metadata,
                dry_run=True,  # no SMTP in this environment; flag-gated later
            )
        except KeyboardInterrupt:
            return 130
        except ValueError as e:
            print(json.dumps({"error": f"bad --metadata: {e}"}), file=sys.stderr)
            return 2
        print(json.dumps(stats, default=str))
        return 0

    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-cli")
    if not args.verbose:
        spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.stage == "query":
            # ad-hoc access to the declared inventory: run any query by
            # name (or unique prefix) against a table dir — the "switch
            # from the reference and run what you ran today" surface
            from job_etl_spark.queries import registry

            reg = registry()
            matches = (
                [args.name] if args.name in reg
                else [n for n in sorted(reg) if args.name and n.startswith(args.name)]
            )
            if len(matches) != 1:
                print(
                    json.dumps(
                        {
                            "error": f"{args.name!r} matches {len(matches)} queries",
                            "candidates": matches[:10],
                        }
                    ),
                    file=sys.stderr,
                )
                return 2
            df = reg[matches[0]].fn(spark, args.sf)
            if args.explain:
                print(df._jdf.queryExecution().executedPlan().toString())
            for row in df.limit(args.max_rows).collect():
                print(json.dumps(row.asDict(), default=str))
            return 0
        if args.stage == "pipeline":
            stats = run_pipeline(
                spark, args.warehouse, num_jobs=args.num_jobs,
                mor=args.mor, mor_buckets=args.mor_buckets,
            )
        else:
            if not args.warehouse:
                print(json.dumps({"error": "--warehouse required"}), file=sys.stderr)
                return 2
            store = TableStore(spark, args.warehouse)
            if args.stage == "extract":
                stats = run_extract(store, MockAdapter(num_jobs=args.num_jobs))
            elif args.stage == "marts":
                stats = run_marts(store, mor=args.mor, mor_buckets=args.mor_buckets)
            elif args.stage == "normalize":
                wm = (
                    dt.datetime.fromisoformat(args.min_collected_at)
                    if args.min_collected_at
                    else None
                )
                stats = run_normalize(
                    store, MockAdapter(), limit=args.limit, dry_run=args.dry_run,
                    min_collected_at=wm, mor=args.mor, mor_buckets=args.mor_buckets,
                )
            elif args.stage == "enrich":
                stats = run_enrich(
                    store,
                    args.dictionary_path,
                    args.source,
                    args.include_existing,
                    args.dry_run,
                    mor=args.mor,
                    mor_buckets=args.mor_buckets,
                )
            elif args.stage == "rank":
                cfg = RankingConfig.load(args.config) if args.config else RankingConfig()
                stats = run_rank(store, cfg, rank_all=args.all, limit=args.limit,
                                 dry_run=args.dry_run, mor=args.mor,
                                 mor_buckets=args.mor_buckets)
            elif args.stage == "publish":
                if not args.output_dir:
                    print(json.dumps({"error": "--output-dir required"}), file=sys.stderr)
                    return 2
                stats = run_publish(store, args.output_dir)
            else:
                results = run_dq(store)
                stats = {r.name: r.violations for r in results}
                print(json.dumps(stats, default=str))
                return 0 if all(r.passed for r in results) else 1
        print(json.dumps(stats, default=str))
        rejected = stats.get("normalize", stats).get("rejected", 0) if isinstance(stats, dict) else 0
        return 1 if rejected else 0
    except FileNotFoundError as e:
        print(json.dumps({"error": f"missing table: {e}"}), file=sys.stderr)
        return 2
    except KeyboardInterrupt:
        # SIGINT exit contract (reference: services/normalizer/main.py:289-354)
        return 130
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
