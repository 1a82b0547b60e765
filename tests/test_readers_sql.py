"""S10 seed loads + the spark.sql entry point over registered views."""

from __future__ import annotations

from job_etl_spark.sources.readers import load_all_seeds, register_views
from tests.conftest import SF_SMOKE


def test_seed_csvs_match_enum_domains(spark):
    from job_etl_spark.schema import (
        VALID_COMPANY_SIZES,
        VALID_CONTRACT_TYPES,
        VALID_REMOTE_TYPES,
    )

    seeds = load_all_seeds(spark)
    assert set(seeds) == {"company_size", "contract_type", "remote_type"}
    got_sizes = {r["company_size"] for r in seeds["company_size"].collect()}
    assert got_sizes == set(VALID_COMPANY_SIZES)
    assert {r["contract_type"] for r in seeds["contract_type"].collect()} == set(
        VALID_CONTRACT_TYPES
    )
    assert {r["remote_type"] for r in seeds["remote_type"].collect()} == set(
        VALID_REMOTE_TYPES
    )


def test_sql_entry_point_over_views(spark):
    register_views(spark, SF_SMOKE)
    out = spark.sql(
        """
        SELECT r_name, COUNT(DISTINCT n_nationkey) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert len(out) == 5 and sum(r["n_nations"] for r in out) == 25
    # seeds usable inside SQL joins too
    load_all_seeds(spark)
    n = spark.sql("SELECT COUNT(*) AS n FROM contract_type").first()["n"]
    assert n == 6


def test_register_views_reads_mor_tables_and_skips_swap_debris(spark, tmp_path):
    """A merge-on-read table keeps every file under the hidden ``_mor/``
    dir, so a raw parquet read of it cannot infer a schema: the view must
    be the merged view. Swap backups and staging dirs are not tables."""
    import os

    from job_etl_spark.pipeline.store import TableStore

    wh = str(tmp_path)
    store = TableStore(spark, wh)
    store.write("jobs", spark.range(10).selectExpr("cast(id as string) k", "id v"))
    store.mor_init("jobs", store.read("jobs"), ["k"])
    store.mor_upsert(
        "jobs", spark.createDataFrame([("3", 300), ("10", 1000)], "k string, v long")
    )
    os.makedirs(os.path.join(wh, "._oldjobs"))
    os.makedirs(os.path.join(wh, "__tmp_jobs"))
    register_views(spark, SF_SMOKE, warehouse=wh)
    out = spark.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM jobs").first()
    assert (out["n"], out["s"]) == (11, sum(range(10)) - 3 + 300 + 1000)
    views = {t.name for t in spark.catalog.listTables()}
    assert "._oldjobs" not in views and "__tmp_jobs" not in views
