"""Marts stage (reference parity: entry point C — the two dbt models as
PySpark transforms).

``dim_companies`` (``dbt/job_dbt/models/marts/dim_companies.sql:1-45``):
SCD1 incremental on a created_at high-watermark; company = coalesce(name,
'unknown').

``fact_jobs`` (``dbt/job_dbt/models/marts/fact_jobs.sql:23-109``):
incremental on first_seen_at > MAX(ingested_at); company_id derived from
the company name (J1 company join is broadcast); J2 self-join carries
forward existing rank_score/rank_explain on rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_etl_spark.functions.identity import company_id_expr
from job_etl_spark.operators.watermark import EPOCH_FLOOR, high_watermark


def build_dim_companies(companies: DataFrame, existing: DataFrame | None = None) -> DataFrame:
    """SCD1: take rows newer than the existing watermark, union, keep the
    latest row per company_id."""
    sel = companies.select(
        "company_id",
        F.coalesce(F.col("name"), F.lit("unknown")).alias("company"),
        *[
            F.col(c) if c in companies.columns else F.lit(None).cast("string").alias(c)
            for c in ["source_first_seen"]
        ],
        F.col("created_at"),
    )
    if existing is None:
        return sel
    wm = high_watermark(existing, "created_at")
    fresh = sel.where(F.col("created_at") > F.lit(wm))
    from job_etl_spark.operators.dedup_window import distinct_on

    merged = existing.unionByName(fresh, allowMissingColumns=True)
    return distinct_on(merged, ["company_id"], [F.desc("created_at"), F.asc("company")])


#: fact_jobs column order (the dbt model's SELECT list,
#: ``fact_jobs.sql:46-95``). ``rank_score``/``rank_explain`` are the J2
#: rank-carry pair: the marts increment emits them NULL and the merge
#: keeps any previously-ranked value.
FACT_COLUMNS = [
    "hash_key",
    "job_title_std",
    "company_id",
    "location_std",
    "location_lat",
    "location_lon",
    "remote_type",
    "contract_type",
    "seniority_level",
    "salary_min_norm",
    "salary_max_norm",
    "salary_currency_norm",
    "skills",
    "posted_at",
    "source",
    "apply_url",
    "rank_score",
    "rank_explain",
    "ingested_at",
    "last_seen_at",
]

RANK_CARRY_COLS = ["rank_score", "rank_explain"]


def fact_merge_policy() -> dict:
    """The fact_jobs per-column merge classes — ONE spec consumed by both
    write paths, so the COW rebuild (``build_fact_jobs`` below) and the
    merge-on-read delta fold (``TableStore.mor_init(..., policy=...)``)
    cannot drift:

    - every data column OVERWRITES (a re-seen hash_key takes the fresh
      staging projection — the dbt incremental's unique_key merge,
      ``fact_jobs.sql:23-31``);
    - ``rank_score``/``rank_explain`` COALESCE (the J2 rank carry,
      ``fact_jobs.sql:96-108``): a marts increment emits them NULL so an
      already-ranked row keeps its score, while a rank write-back emits
      them non-NULL and wins. Under this policy the rank stage's
      full-row deltas resolve identically to latest-wins (every column
      it writes is non-NULL-preserving), so one table spec serves both
      writers.
    """
    return {
        "overwrite": [
            c
            for c in FACT_COLUMNS
            if c != "hash_key" and c not in RANK_CARRY_COLS
        ],
        "coalesce": list(RANK_CARRY_COLS),
        "keep_first": [],
    }


def fact_projection(new_rows: DataFrame, run_ts) -> DataFrame:
    """Staging → fact column projection (``fact_jobs.sql:46-95``); rank
    columns NULL (they belong to the rank stage / the carry merge)."""
    return new_rows.select(
        "hash_key",
        F.col("job_title").alias("job_title_std"),
        company_id_expr("company").alias("company_id"),
        F.col("location").alias("location_std"),
        F.lit(None).cast("double").alias("location_lat"),  # fact_jobs.sql:71-72
        F.lit(None).cast("double").alias("location_lon"),
        "remote_type",
        "contract_type",
        "seniority_level",
        F.col("salary_min").alias("salary_min_norm"),
        F.col("salary_max").alias("salary_max_norm"),
        F.col("salary_currency").alias("salary_currency_norm"),
        F.col("skills_raw").alias("skills"),
        "posted_at",
        "source",
        "apply_url",
        F.lit(None).cast("double").alias("rank_score"),
        F.lit(None).cast("map<string,double>").alias("rank_explain"),
        F.lit(run_ts).alias("ingested_at"),
        "last_seen_at",
    )


def fact_increment(staging: DataFrame, existing_fact: DataFrame | None, run_ts) -> DataFrame:
    """The marts increment: staging rows past the fact watermark
    (``first_seen_at > MAX(ingested_at)``, ``fact_jobs.sql:23-31``),
    projected with NULL rank columns. This frame is both the COW
    rebuild's fresh half and, verbatim, the merge-on-read delta — under
    ``fact_merge_policy`` the fold performs the rank carry that the COW
    path expresses as the J2 self-join. An empty or missing fact table
    admits every staging row; otherwise the watermark is MAX(ingested_at)
    with the 1900 floor, and NULL first_seen_at rows stay out. One
    aggregate gives both the emptiness and the watermark."""
    new_rows = staging
    if existing_fact is not None:
        r = existing_fact.agg(
            F.count(F.lit(1)).alias("n"), F.max("ingested_at").alias("wm")
        ).first()
        if r["n"]:
            wm = r["wm"] if r["wm"] is not None else EPOCH_FLOOR
            new_rows = staging.where(F.col("first_seen_at") > F.lit(wm))
    return fact_projection(new_rows, run_ts)


def build_fact_jobs(
    staging: DataFrame, existing_fact: DataFrame | None, run_ts
) -> DataFrame:
    """Staging → fact projection with incremental watermark + rank carry."""
    fact_new = fact_increment(staging, existing_fact, run_ts)
    if existing_fact is None:
        return fact_new
    # J2: carry forward rank columns for already-known hash_keys
    carried = fact_new.drop("rank_score", "rank_explain").join(
        existing_fact.select("hash_key", "rank_score", "rank_explain"),
        "hash_key",
        "left",
    )
    untouched = existing_fact.join(fact_new.select("hash_key"), "hash_key", "left_anti")
    return untouched.unionByName(carried.select(*existing_fact.columns))
