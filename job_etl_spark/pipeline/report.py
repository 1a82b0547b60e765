"""Reporting stage (reference parity: A1-A3/A6/O1 + S11/S12 sinks).

Stats are distributed aggregations; only the bounded top-k digest is
collected (the reference's LIMIT 25 email digest,
``airflow/dags/jobs_etl_daily.py:1296-1382``). The Hyper export becomes a
capped parquet/CSV export (S11's 100k-row cap preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_etl_spark.operators.topk import top_k

EXPORT_ROW_CAP = 100_000  # publisher_hyper/exporter.py:43,47
DIGEST_TOP_K = 25  # jobs_etl_daily.py:1323


def job_posting_stats(fact: DataFrame) -> DataFrame:
    """A1: the marts.job_posting_stats view (bootstrap_db.sql:186-196)."""
    return fact.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_postings"),
        F.countDistinct("hash_key").alias("unique_postings"),
        F.min("posted_at").alias("earliest_posting"),
        F.max("posted_at").alias("latest_posting"),
        F.count(F.when(F.col("rank_score").isNotNull(), 1)).alias("ranked_postings"),
        F.avg("rank_score").alias("avg_rank_score"),
    )


def staging_stats(staging: DataFrame) -> dict:
    """A2: global + per-source counts (normalizer/db_operations.py:495-546)."""
    g = staging.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("source").alias("n_sources"),
        F.max("last_seen_at").alias("max_last_seen"),
        F.min("first_seen_at").alias("min_first_seen"),
    ).first()
    per_source = {
        r["source"]: r["n"]
        for r in staging.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"))
        .collect()
    }
    return {**g.asDict(), "per_source": per_source}


def ranking_aggs() -> list:
    """A3's aggregates (ranker/db_operations.py:318-369), for an ``agg``
    or an ``observe`` over fact rows."""
    return [
        F.count(F.lit(1)).alias("total_jobs"),
        F.count("rank_score").alias("ranked_jobs"),
        F.avg("rank_score").alias("avg_score"),
        F.max("rank_score").alias("max_score"),
        F.min("rank_score").alias("min_score"),
    ]


def ranking_dict(values: dict) -> dict:
    """A3's stats from the values of ``ranking_aggs``."""
    return {**values, "unranked_jobs": values["total_jobs"] - values["ranked_jobs"]}


def ranking_stats(fact: DataFrame) -> dict:
    """A3 (ranker/db_operations.py:318-369)."""
    return ranking_dict(fact.agg(*ranking_aggs()).first().asDict())


def daily_digest(
    fact: DataFrame,
    dim: DataFrame | None = None,
    k: int = DIGEST_TOP_K,
    approx: bool = False,
):
    """O1+A6: dedup count + top-k by (rank_score desc, ingested_at desc) —
    the only driver-side collect in the pipeline, bounded at k rows.
    ``approx=True`` swaps COUNT(DISTINCT) for approx_count_distinct (HLL):
    at 100 TB the exact distinct is a full shuffle on hash_key; the sketch
    is one pass, mergeable, ~2% error."""
    distinct_expr = (
        F.approx_count_distinct("hash_key") if approx else F.countDistinct("hash_key")
    )
    n_unique = fact.select(distinct_expr).first()[0]
    df = fact
    if dim is not None:
        df = df.join(F.broadcast(dim.select("company_id", "company")), "company_id", "left")
    top = top_k(
        df.where(F.col("rank_score").isNotNull()),
        [F.desc("rank_score"), F.desc("ingested_at"), F.asc("hash_key")],
        k,
    )
    return {"unique_jobs": n_unique, "top_jobs": top.collect()}


_HYPER_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)


def hyper_schema(df: DataFrame) -> dict[str, str]:
    """S11 column-type inference for the Hyper extract
    (``services/publisher_hyper/exporter.py:30-41``: int/float → double,
    everything else → text). The reference sniffs the first ROW because
    psycopg2 hands it untyped tuples; Spark's schema is static, so the
    same rule evaluates on the column TYPE — deterministic and
    NULL-first-row-proof."""
    return {
        name: "double"
        if dtype.split("(")[0] in _HYPER_NUMERIC_PREFIXES
        else "text"
        for name, dtype in df.dtypes
    }


def export_tables(fact: DataFrame, dim: DataFrame, out_dir: str) -> dict:
    """S11 re-expressed: capped export of both mart tables to parquet,
    with the inferred Hyper column types written as a sidecar (and the
    actual .hyper file when pantab is installed — it is not in this
    container; the parquet export is the portable artifact)."""
    import json as _json
    import os as _os

    fact.limit(EXPORT_ROW_CAP).write.mode("overwrite").parquet(f"{out_dir}/fact_jobs")
    dim.limit(EXPORT_ROW_CAP).write.mode("overwrite").parquet(f"{out_dir}/dim_companies")
    schema = {"fact_jobs": hyper_schema(fact), "dim_companies": hyper_schema(dim)}
    with open(_os.path.join(out_dir, "hyper_schema.json"), "w") as f:
        _json.dump(schema, f, indent=2, sort_keys=True)
    result = {
        "out_dir": out_dir,
        "cap": EXPORT_ROW_CAP,
        "hyper_file": None,
        "hyper_schema": schema,
    }
    try:  # pragma: no cover - optional dependency
        import pantab

        hyper_path = f"{out_dir}/jobs.hyper"
        pantab.frames_to_hyper(
            {
                "fact_jobs": fact.limit(EXPORT_ROW_CAP).toPandas(),
                "dim_companies": dim.limit(EXPORT_ROW_CAP).toPandas(),
            },
            hyper_path,
        )
        result["hyper_file"] = hyper_path
    except ImportError:
        pass
    except Exception as e:  # reference swallows export failures (S11)
        result["error"] = str(e)
    return result
