"""Enrichment stage (reference parity: U4/U5/S6-S8/J4/J6,
``services/enricher/``).

Three sub-phases like the reference (``enricher/main.py:110-404``):

1. **skills** — scan rows needing skills (S6), extract canonical skills
   from description + provider list (U5), write back keyed updates (J6).
   Scalable design (SURVEY.md §4.2 item 3): instead of the reference's
   spaCy PhraseMatcher per row, ONE precompiled alternation regex over all
   multi-word aliases (regexp_extract_all → alias→canonical map lookup)
   plus a token-split membership check against the broadcast single-word
   alias map. One map-side pass, no shuffle, no Python in the row loop.
2. **companies** — seed base records insert-if-absent (J4 + A4 dedup).
3. **seniority** — U4 cascade on rows with status 'not_tried', transition
   to upgraded/failed_to_upgrade (the reference's state machine).

Semantics parity notes (skills_extractor.py:180-284): provider skills map
via alias lookup, unknown provider skills pass through lowercased; matches
are case-insensitive; result is sorted-unique.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path

import yaml
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from job_etl_spark.functions.identity import company_id_expr
from job_etl_spark.functions.text import seniority_level_expr
from job_etl_spark.operators.merge import insert_if_absent

# ---------------------------------------------------------------------------
# skills dictionary (config/taxonomy/skills_dictionary.yml format; fallback
# defaults mirror skills_extractor.py:151-177)
# ---------------------------------------------------------------------------

DEFAULT_SKILLS: dict[str, list[str]] = {
    "python": ["python"],
    "sql": ["sql", "structured query language"],
    "airflow": ["airflow", "apache airflow"],
    "dbt": ["dbt", "data build tool"],
    "tableau": ["tableau"],
    "docker": ["docker"],
    "aws": ["aws", "amazon web services"],
    "spark": ["spark", "apache spark"],
    "pandas": ["pandas"],
    "machine learning": ["machine learning", "ml"],
}


@dataclass
class SkillsDictionary:
    alias_to_canonical: dict[str, str]  # aliases lowered; canonical included

    @classmethod
    def from_mapping(cls, skills: dict[str, list[str]]) -> "SkillsDictionary":
        amap: dict[str, str] = {}
        for canonical, aliases in skills.items():
            canon = canonical.strip().lower()
            amap[canon] = canon
            for a in aliases or []:
                if isinstance(a, str) and a.strip():
                    amap[a.strip().lower()] = canon
        return cls(amap)

    @classmethod
    def load(cls, path: str | Path | None = None) -> "SkillsDictionary":
        if path is None:
            return cls.from_mapping(DEFAULT_SKILLS)
        with Path(path).open("r", encoding="utf-8") as fh:
            loaded = yaml.safe_load(fh) or {}
        section = loaded.get("skills", loaded)
        mapping: dict[str, list[str]] = {}
        for canonical, cfg in section.items():
            if not isinstance(canonical, str):
                continue
            if isinstance(cfg, dict):
                aliases = cfg.get("aliases", []) or []
            elif isinstance(cfg, (list, tuple)):
                aliases = list(cfg)
            else:
                aliases = []
            mapping[canonical] = [a for a in aliases if isinstance(a, str)]
        return cls.from_mapping(mapping) if mapping else cls.from_mapping(DEFAULT_SKILLS)

    @property
    def multiword_aliases(self) -> list[str]:
        return [a for a in self.alias_to_canonical if " " in a]

    @property
    def singleword_aliases(self) -> list[str]:
        return [a for a in self.alias_to_canonical if " " not in a]


def skills_expr(
    description: Column | str, skills_raw: Column | str, dictionary: SkillsDictionary
) -> Column:
    """U5 as native expressions: sorted unique canonical skills.

    - provider list: alias→canonical lookup, unknown entries pass through
      lowercased (skills_extractor.py:234-241)
    - description: one alternation regex for multi-word phrase matches +
      token-membership for single words; both map through the broadcast
      alias→canonical literal map
    """
    desc = F.col(description) if isinstance(description, str) else description
    raw = F.col(skills_raw) if isinstance(skills_raw, str) else skills_raw
    amap = dictionary.alias_to_canonical
    alias_map = F.create_map(*[F.lit(x) for kv in sorted(amap.items()) for x in kv])

    lowered = F.lower(F.coalesce(desc, F.lit("")))
    # multi-word phrase pass: one combined regex, longest-first so
    # "apache spark" beats "spark" at the same position
    mw = sorted(dictionary.multiword_aliases, key=len, reverse=True)
    if mw:
        pattern = r"\b(?:" + "|".join(re.escape(a) for a in mw) + r")\b"
        phrase_hits = F.regexp_extract_all(lowered, F.lit(pattern), 0)
    else:  # pragma: no cover
        phrase_hits = F.array().cast("array<string>")
    # single-token pass: split on non-word-ish separators like a tokenizer.
    # '.' stays inside tokens (node.js), so strip TRAILING dots afterwards —
    # a sentence-final "…with dbt." must still match alias 'dbt' (the
    # reference's spaCy tokenizer separates the period)
    tokens = F.transform(
        F.split(lowered, r"[^a-z0-9+#.]+"),
        lambda t: F.regexp_replace(t, r"\.+$", ""),
    )
    sw = set(dictionary.singleword_aliases)
    sw_arr = F.array(*[F.lit(s) for s in sorted(sw)])
    token_hits = F.array_intersect(tokens, sw_arr)

    desc_canon = F.transform(
        F.concat(phrase_hits, token_hits), lambda a: F.element_at(alias_map, a)
    )
    raw_lower = F.transform(F.coalesce(raw, F.array().cast("array<string>")),
                            lambda s: F.lower(F.trim(s)))
    raw_canon = F.transform(
        raw_lower, lambda a: F.coalesce(F.element_at(alias_map, a), a)
    )
    merged = F.concat(raw_canon, desc_canon)
    cleaned = F.filter(merged, lambda s: s.isNotNull() & (s != ""))
    return F.array_sort(F.array_distinct(cleaned))


# ---------------------------------------------------------------------------
# enrichment phases
# ---------------------------------------------------------------------------


def skills_pending(sources: list[str] | None = None, include_existing: bool = False) -> Column:
    """S6 predicate: description present, skills missing/empty (unless
    ``include_existing``), optional source filter."""
    cond = F.col("description").isNotNull()
    if not include_existing:
        cond = cond & (F.col("skills_raw").isNull() | (F.size("skills_raw") == 0))
    if sources:
        cond = cond & F.col("source").isin(sources)
    return cond


def enrich_skills(
    staging: DataFrame, dictionary: SkillsDictionary, sources: list[str] | None = None,
    include_existing: bool = False,
) -> DataFrame:
    """Skills write-back (J6 collapsed into a column stage): rows selected by
    the S6 predicate get recomputed skills_raw; others pass through."""
    new_skills = skills_expr("description", "skills_raw", dictionary)
    return staging.withColumn(
        "skills_raw",
        F.when(skills_pending(sources, include_existing), new_skills).otherwise(
            F.col("skills_raw")
        ),
    )


def enrich_seniority(staging: DataFrame) -> DataFrame:
    """U4 + state machine: rows with status 'not_tried' get the cascade; a
    non-'unknown' result → 'upgraded', else 'failed_to_upgrade'
    (enricher/main.py:266-378)."""
    pending = F.col("seniority_enrichment_status") == "not_tried"
    extracted = seniority_level_expr("job_title")
    return staging.withColumns(
        {
            "seniority_level": F.when(pending, extracted).otherwise(
                F.col("seniority_level")
            ),
            "seniority_enrichment_status": F.when(
                pending & (extracted != "unknown"), F.lit("upgraded")
            )
            .when(pending, F.lit("failed_to_upgrade"))
            .otherwise(F.col("seniority_enrichment_status")),
        }
    )


def seed_company_records(companies: DataFrame, staging: DataFrame, run_ts) -> DataFrame:
    """J4+A4: one base record per distinct company in staging, earliest
    first_seen wins, insert-if-absent (db_operations.py:284-313)."""
    from job_etl_spark.operators.dedup_window import distinct_on

    base = staging.select(
        company_id_expr("company").alias("company_id"),
        F.col("company").alias("name"),
        F.col("source").alias("source_first_seen"),
        F.col("first_seen_at"),
    )
    base = distinct_on(base, ["company_id"], [F.asc("first_seen_at"), F.asc("name")])
    new_rows = base.select(
        "company_id",
        "name",
        "source_first_seen",
        F.lit(None).cast("timestamp").alias("enriched_at"),
        F.lit(run_ts).alias("created_at"),
        F.lit(run_ts).alias("updated_at"),
    )
    return insert_if_absent(companies, new_rows, keys=["company_id"])
