"""Normalization stage (reference parity: U2/U3/P6/J3,
``services/normalizer/normalize.py:35-183`` + ``main.py:112-286``).

The reference loops rows through ``map_to_common`` → ``normalize_job_posting``
→ batch upsert. Here the whole stage is one declarative plan:

  common columns → validity predicate (required fields) → reject side-output
  → enum defaults, timestamp/numeric parse, salary swap, hash identity
  → within-batch dedup (rejected rows leave after it) → COALESCE-merge
  upsert into staging

Everything is native expressions — no Python row loop, no UDF — so the
stage is a single map + one keyed shuffle at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from job_etl_spark.functions.identity import hash_key_expr, strip_ws
from job_etl_spark.functions.numeric import safe_double_expr, salary_bounds_exprs
from job_etl_spark.functions.text import validate_enum_expr
from job_etl_spark.functions.timeparse import parse_timestamp_expr
from job_etl_spark.operators.merge import merge_upsert
from job_etl_spark.schema import (
    STAGING_COALESCE_COLS,
    STAGING_KEEP_FIRST_COLS,
    STAGING_OVERWRITE_COLS,
    VALID_COMPANY_SIZES,
    VALID_CONTRACT_TYPES,
    VALID_REMOTE_TYPES,
)


@dataclass
class NormalizeResult:
    normalized: DataFrame
    rejected: DataFrame  # P6 side-output: failed rows counted, not fatal
    # ``normalized`` and ``rejected`` row counts, reported by the first
    # action that runs ``normalized``
    counts: Observation


def _required_ok(c: str):
    col = F.col(c)
    return col.isNotNull() & (F.trim(col) != "")


def normalize_common(common: DataFrame, run_ts) -> NormalizeResult:
    """Common-format rows → normalized staging rows + reject side-channel.

    ``run_ts`` replaces the reference's NOW() stamping so runs are
    reproducible (SURVEY.md §7.3 non-deterministic-timestamps note).

    Rejected rows ride the dedup shuffle under keys of their own and are
    dropped after it, where ``counts`` observes both row counts, so the
    action that writes ``normalized`` reports them. An observation below
    the shuffle would be lost for a batch with no valid row: adaptive
    execution drops an empty shuffle stage from the plan, and its
    observed metrics with it.
    """
    valid = _required_ok("job_title") & _required_ok("company") & _required_ok("location")
    rejected = common.where(~valid).withColumn(
        "reject_reason",
        F.when(~_required_ok("job_title"), "job_title is required")
        .when(~_required_ok("company"), "company is required")
        .otherwise("location is required"),
    )

    sal_min, sal_max = salary_bounds_exprs(
        safe_double_expr("salary_min"), safe_double_expr("salary_max")
    )
    ts = F.lit(run_ts)
    # deterministic ordering: the reference upserts rows in fetch order,
    # later rows winning. raw_id carries the within-batch fetch order as a
    # fixed-width prefix (land_raw/datasource); across landing batches the
    # later collected_at wins first.
    if "raw_id" in common.columns:
        order_col = (
            F.struct(F.col("collected_at"), F.col("raw_id"))
            if "collected_at" in common.columns
            else F.col("raw_id")
        )
    else:
        order_col = F.monotonically_increasing_id()
    # a valid hash_key is 32 hex chars, so no '!'-prefixed key collides
    # with one; _ord is unique per row, so no rejected row is deduped
    normalized = common.withColumns({"_ord": order_col, "_valid": valid}).select(
        F.col("_ord"),
        F.col("_valid"),
        F.when(F.col("_valid"), hash_key_expr("company", "job_title", "location"))
        .otherwise(F.concat(F.lit("!"), F.col("_ord").cast("string")))
        .alias("hash_key"),
        F.col("provider_job_id"),
        F.col("job_link"),
        strip_ws("job_title").alias("job_title"),  # python-strip semantics
        strip_ws("company").alias("company"),
        validate_enum_expr("company_size", VALID_COMPANY_SIZES, "unknown").alias("company_size"),
        strip_ws("location").alias("location"),
        validate_enum_expr("remote_type", VALID_REMOTE_TYPES, "unknown").alias("remote_type"),
        validate_enum_expr("contract_type", VALID_CONTRACT_TYPES, "unknown").alias(
            "contract_type"
        ),
        # normalizer does NOT set seniority (enricher's job); default domain values
        F.lit("unknown").alias("seniority_level"),
        F.lit("not_tried").alias("seniority_enrichment_status"),
        sal_min.alias("salary_min"),
        sal_max.alias("salary_max"),
        F.col("salary_currency"),
        F.col("description"),
        F.col("skills_raw"),
        parse_timestamp_expr("posted_at").alias("posted_at"),
        F.col("apply_url"),
        F.col("source"),
        ts.alias("first_seen_at"),
        ts.alias("last_seen_at"),
    )
    # Duplicate identities WITHIN one batch must merge before hitting
    # storage (merge_upsert expects unique update keys). Set-oriented
    # equivalent of the reference's row-at-a-time upserts: last row wins
    # for overwrite columns, last NON-NULL wins for coalesce columns.
    from pyspark.sql import Window

    w = Window.partitionBy("hash_key").orderBy(F.desc("_ord"))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    merged = (
        normalized.withColumns(
            {c: F.first(c, ignorenulls=True).over(wall) for c in STAGING_COALESCE_COLS}
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_ord")
    )
    counts = Observation()
    merged = merged.observe(
        counts,
        F.count_if(F.col("_valid")).alias("normalized"),
        F.count_if(~F.col("_valid")).alias("rejected"),
    )
    merged = merged.where(F.col("_valid")).drop("_valid")
    return NormalizeResult(normalized=merged, rejected=rejected, counts=counts)


def staging_merge_policy() -> dict:
    """The J3 per-column merge classes — ONE spec consumed by both write
    paths: the COW ``merge_into_staging`` below and the merge-on-read
    delta fold (``TableStore.mor_init(..., policy=...)``), so the two
    layouts cannot drift.

    The enricher-owned columns (seniority_level, the enrichment status)
    are KEEP-FIRST, not coalesce: normalize emits their non-null insert
    defaults ('unknown'/'not_tried'), so coalesce(update, base) would
    reset every previously-enriched row on re-normalize and re-run the
    whole enrichment state machine. The reference never clobbers them
    because its normalizer dict simply lacks the fields; keep-first is
    the set-oriented equivalent (matched rows keep the enriched value,
    inserts take the default)."""
    return {
        "overwrite": list(STAGING_OVERWRITE_COLS),
        "coalesce": [c for c in STAGING_COALESCE_COLS if c != "seniority_level"],
        "keep_first": STAGING_KEEP_FIRST_COLS
        + ["seniority_level", "seniority_enrichment_status"],
    }


def merge_into_staging(staging: DataFrame, normalized: DataFrame) -> DataFrame:
    """J3: the workhorse upsert — keep first_seen_at, bump last_seen_at,
    overwrite identity columns, COALESCE the nullable payload columns
    (``db_operations.py:427-460``)."""
    policy = staging_merge_policy()
    return merge_upsert(
        staging,
        normalized,
        keys=["hash_key"],
        overwrite_cols=policy["overwrite"],
        coalesce_cols=policy["coalesce"],
        keep_first_cols=policy["keep_first"],
    )
