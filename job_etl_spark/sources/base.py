"""Source-adapter contract (reference parity: S1-S3,
``services/source_extractor/base.py``).

An adapter fetches pages of raw provider payloads and declares how its
payload maps to the 16-field common format. In this engine the *fetch* is
driver-side (bounded API paging, exactly like the reference's loop) while
the *mapping* is a set of native Spark column expressions applied to the
landed JSON — so the heavy transformation runs distributed, after landing.
"""

from __future__ import annotations

import abc
import json
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from job_etl_spark.schema import RAW_SCHEMA


@dataclass
class JobPostingRaw:
    """One raw provider record (bronze). Payload is untyped provider JSON."""

    source: str
    payload: dict[str, Any]
    provider_job_id: str | None = None
    raw_id: str = field(default_factory=lambda: str(uuid.uuid4()))


class SourceAdapter(abc.ABC):
    """Contract: paginated fetch + payload→common mapping.

    ``fetch(page_token) -> (list[JobPostingRaw], next_token)`` mirrors
    ``base.py`` exactly; ``map_to_common_exprs`` replaces the reference's
    per-row ``map_to_common`` dict mapping with column expressions over the
    parsed payload, so normalization scales with the cluster, not the
    driver.
    """

    def __init__(self, source_name: str):
        self.source_name = source_name

    @abc.abstractmethod
    def fetch(self, page_token: str | None = None) -> tuple[list[JobPostingRaw], str | None]:
        ...

    def page_token(self, idx: int) -> str | None:
        """Token addressing the 0-based page ``idx`` — lets a partitioned
        reader fetch pages independently of the sequential next_token
        chain. Default: 0-based integer tokens (mock convention);
        1-based providers override."""
        return None if idx == 0 else str(idx)

    @abc.abstractmethod
    def map_to_common_exprs(self, payload: Column) -> dict[str, Column]:
        """Given the raw JSON payload column, return the 16 common-format
        column expressions keyed by canonical field name."""
        ...

    def fetch_all(self, max_jobs: int | None = None) -> list[JobPostingRaw]:
        """Drain pages until exhausted or ``max_jobs`` collected
        (reference: extract task loop, ``jobs_etl_daily.py:559-674``)."""
        out: list[JobPostingRaw] = []
        token: str | None = None
        while True:
            jobs, token = self.fetch(token)
            out.extend(jobs)
            if max_jobs is not None and len(out) >= max_jobs:
                return out[:max_jobs]
            if token is None:
                return out


def land_raw(
    spark: SparkSession, jobs: list[JobPostingRaw], collected_at
) -> DataFrame:
    """Bronze landing (S4): raw records → typed DataFrame matching
    RAW_SCHEMA; append-ready (``df.write.mode('append')`` to the raw
    table). raw_id carries the fetch order as a fixed-width prefix —
    the within-batch last-row-wins dedup (the reference's row-at-a-time
    later-insert-wins) orders by raw_id, and a bare uuid4 would make the
    winner among duplicate hash_keys a coin flip.

    The batch goes to Spark as one typed Arrow table, which plans as a
    local relation instead of a scan over pickled rows. ``collected_at``
    becomes epoch microseconds through ``TimestampType.toInternal``, the
    conversion Spark applies to a Python datetime row (a naive value is
    the host's local time), and travels tagged UTC, so the session time
    zone cannot shift it."""
    import pyarrow as pa

    ts = TimestampType().toInternal(collected_at)
    table = pa.table(
        [
            pa.array(
                [f"{seq:014d}-{j.raw_id.replace('-', '')[:16]}" for seq, j in enumerate(jobs)],
                pa.string(),
            ),
            pa.array([j.source for j in jobs], pa.string()),
            pa.array([json.dumps(j.payload, sort_keys=True) for j in jobs], pa.string()),
            pa.array([ts] * len(jobs), pa.timestamp("us", tz="UTC")),
        ],
        names=RAW_SCHEMA.names,
    )
    return spark.createDataFrame(table, RAW_SCHEMA)


def common_from_raw(raw_df: DataFrame, adapter: SourceAdapter) -> DataFrame:
    """Apply the adapter's mapping expressions to its landed raw rows
    (U3 as native columns)."""
    df = raw_df.where(F.col("source") == adapter.source_name)
    exprs = adapter.map_to_common_exprs(F.col("payload"))
    return df.select(
        "raw_id", "collected_at", *[c.alias(name) for name, c in exprs.items()]
    )
