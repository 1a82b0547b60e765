"""Seeded inputs for the ingest workloads.

``PostingFeed`` makes every posting the ingest workloads land from
``--seed``: the same seed gives the same batches. The query workload reads
a copy of the repository's sf0.01 test tables (``perfbench/tables``)
instead, so it needs no generator.
"""

from __future__ import annotations

import os
import random


def table_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class PostingFeed:
    """Seeded posting feed for the ingest workloads.

    Batch k holds ``new`` postings never seen before, ``reseen`` postings
    drawn from earlier batches (the merge path), and ``bad`` postings with
    an empty location (normalize's reject path). Identity is
    (company, title, location): every fresh posting gets a distinct title,
    so the distinct-key count after k batches is known exactly.
    """

    def __init__(self, seed: int, new: int = 500, reseen: int = 500, bad: int = 5):
        self.rng = random.Random(seed)
        self.new, self.reseen, self.bad = new, reseen, bad
        self.landed: list[int] = []  # ids of fresh postings, in landing order

    def posting(self, pid: int, valid: bool = True):
        from job_etl_spark.sources.base import JobPostingRaw

        r = random.Random(pid)  # a posting's payload depends on its id only
        title = f"{r.choice(['Data', 'Analytics', 'ML', 'Platform'])} Engineer {pid}"
        company = f"Feed Co {pid % 211}"
        return JobPostingRaw(
            source="mock_api",
            provider_job_id=f"feed_{pid}",
            payload={
                "title": title,
                "company": company,
                "location": f"City {pid % 37}" if valid else " ",
                "remote_type": r.choice(["remote", "hybrid", "onsite"]),
                "contract_type": r.choice(["full_time", "part_time", "contract"]),
                "salary_min": 60000 + r.randrange(0, 40) * 1000,
                "salary_max": 110000 + r.randrange(0, 40) * 1000,
                "salary_currency": "CAD",
                "description": (
                    f"We are seeking a {title} at {company}. "
                    f"You will work with {r.choice(['Python', 'Scala'])}, SQL and Spark."
                ),
                "skills": r.sample(["python", "sql", "spark", "airflow", "dbt", "kafka"], 3),
                "posted_date": f"2026-01-{1 + pid % 28:02d}T10:00:00Z",
                "job_url": f"https://example.com/jobs/{pid}",
                "apply_url": f"https://example.com/apply/{pid}",
                "company_size": r.choice(["11-50", "51-200", "201-500"]),
                "provider_job_id": f"feed_{pid}",
            },
        )

    def batch(self) -> list:
        """The next batch; the fresh ids are recorded as landed."""
        seen = self.rng.sample(self.landed, min(self.reseen, len(self.landed)))
        fresh = list(range(len(self.landed), len(self.landed) + self.new))
        self.landed.extend(fresh)
        rows = [self.posting(p) for p in fresh + seen]
        rows += [self.posting(-1 - self.rng.randrange(10**9), valid=False) for _ in range(self.bad)]
        self.rng.shuffle(rows)
        return rows
