"""Seed/reference-table readers and the SQL entry point.

S10 parity: the reference's dbt seeds (enum reference tables,
``dbt/job_dbt/seeds/*.csv``) load via ``spark.read.csv`` into catalog
tables; the same CSVs ship in ``config/seeds/``.

``register_views`` exposes the driver tables (and any warehouse tables)
as temp views so the whole engine is also usable through plain
``spark.sql`` — Catalyst treats DataFrame and SQL plans identically.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SEED_DIR = Path(__file__).resolve().parents[2] / "config" / "seeds"


def load_seed_csv(spark: SparkSession, path: str | Path) -> DataFrame:
    """One dbt-style seed: header CSV → typed (string) reference table."""
    return spark.read.csv(str(path), header=True)


def load_all_seeds(spark: SparkSession, seed_dir: str | Path | None = None) -> dict[str, DataFrame]:
    """Load every seed CSV and register each as a temp view named after the
    file (dbt seed semantics)."""
    seed_dir = Path(seed_dir) if seed_dir else SEED_DIR
    out: dict[str, DataFrame] = {}
    for f in sorted(seed_dir.glob("*.csv")):
        name = f.stem
        df = load_seed_csv(spark, f)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def register_views(spark: SparkSession, sf_dir: str, warehouse: str | None = None) -> None:
    """Register the driver tables (+ optional warehouse tables) as temp
    views for spark.sql usage. Warehouse tables are read through
    ``TableStore``, so a merge-on-read table registers its merged view;
    dot-prefixed swap backups and ``__tmp_`` staging dirs are skipped."""
    from job_etl_spark.pipeline.store import TableStore
    from job_etl_spark.tables import register_all

    register_all(spark, sf_dir)
    if warehouse:
        store = TableStore(spark, warehouse)
        for entry in sorted(os.listdir(warehouse)):
            p = os.path.join(warehouse, entry)
            if os.path.isdir(p) and not entry.startswith((".", "__tmp_")):
                store.read(entry).createOrReplaceTempView(entry)
