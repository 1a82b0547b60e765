"""Guard the guards (r6 verdict item 5).

tests/scan_budgets.json and tests/shuffle_budgets.json are ceilings
regenerated wholesale by `scripts/scan_budget.py --update`; nothing used
to fail if a regeneration silently RAISED a ceiling alongside a plan
regression — the "review the diff" step was conventional, not enforced.

This test diffs both budget files against git HEAD: any per-query
increase must carry a justification entry in _BUDGET_RAISE_OK below
(same pattern as test_plans._MANY_SHUFFLE_OK / _MULTI_SCAN_OK). The
tripwire fires exactly at the enforcement point — the pytest run between
regeneration and commit. Once a justified raise is committed, HEAD
catches up and its entry becomes inert documentation (prune freely).
Brand-new queries (absent from HEAD) are exempt — their initial budgets
are reviewed by the >5-shuffle documentation gate in test_plans.
"""

from __future__ import annotations

import json
import subprocess
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

# query -> {"shuffles": new_ceiling} and/or {"scans": {table: new_ceiling}},
# plus a "why". An entry authorizes raises UP TO the stated value only —
# a further raise needs a fresh entry (and therefore a fresh review).
_BUDGET_RAISE_OK: dict[str, dict] = {
    # r11 single-split fan-out class: the sf bench files are ONE parquet
    # row group, so these queries' per-row-heavy first stage (wide-decimal
    # aggregate buffers, md5-per-row, rollup/cube row expansion) ran in a
    # single scan task; parallel_table adds one round-robin exchange that
    # is a NO-OP at scale (real tables have >= cores splits) — guide §2.5
    # "input skew: one huge unsplittable file".
    "q01_pricing_summary": {"shuffles": 2, "why": "r11 single-split fan-out (see class note above)"},
    "q02_regional_revenue": {"shuffles": 4, "why": "r11 single-split fan-out"},
    "q41_rollup_hierarchy": {"shuffles": 2, "why": "r11 single-split fan-out"},
    "q45_cube_matrix": {"shuffles": 2, "why": "r11 single-split fan-out"},
    "q85_repetition_metrics": {"shuffles": 3, "why": "r11 single-split fan-out"},
    "q134_table_checksum": {"shuffles": 2, "why": "r11 single-split fan-out"},
    "q15_seniority_cascade": {
        "shuffles": 1,
        "why": "r12 single-split fan-out (the ~14-regex cascade ran in one "
        "task on the one-split part file; guarded no-op at scale)",
    },
    "q148_pagerank": {
        "shuffles": 6,
        "scans": {"documents": 4},
        "why": "r12: dropped the per-iteration lazy rank checkpoints "
        "(K fixed at 3 — bounded lineage, one action instead of a "
        "serialized job cascade, and no 3x full-node-set materialization "
        "at scale); the unrolled plan now SHOWS the 2 shuffles/iteration "
        "and the per-iteration documents re-join the checkpoints used to "
        "hide — visibility change, not new work (the documents scan is "
        "one pruned id column)",
    },
    "q104_topk_bounds": {
        "shuffles": 5,
        "why": "dropped both lazy localCheckpoints, the cross join and the "
        "two self-joins: one lazy plan whose per-shard counts feed the "
        "exact per-user window and the per-shard top-m window, then a "
        "single-partition reconciliation of <= S*m kept rows. The "
        "checkpoints used to hide their subtrees' shuffles, so the plan "
        "now SHOWS them; the query runs 6 jobs instead of 13 and scans "
        "events once",
    },
    "q27_embedding_neardup": {
        "shuffles": 6,
        "why": "r11: explicit hash-repartition of the deduped id-pair "
        "stream before the vector fetch-back (the q122 fix) — the "
        "exact-cosine verify otherwise ran as one AQE-coalesced task; "
        "the added exchange is ids-only and scales with "
        "defaultParallelism",
    },
    "q122_semantic_dedup": {
        "shuffles": 6,
        "why": "r11: explicit hash-repartition of the deduped id-pair "
        "stream before the vector fetch-back — AQE's bytes-based "
        "coalescing collapsed the CPU-dense cosine verification (~110k "
        "interpreted dot folds at sf0.1) into one task; the added "
        "exchange moves ids only and its count scales with "
        "defaultParallelism",
    },
    "q132_profile_table": {
        "scans": {"orders": 2},
        "shuffles": 3,
        "why": "r11 split: exact-NDV arms and min/max(string) arms in one "
        "aggregate forced SortAggregate over the 6xN multi-distinct Expand "
        "(full sort both phases); two column-pruned scans — hash-agg NDV "
        "pass + sortless min/max/null pass — are strictly cheaper than "
        "sorting a 6x row expansion at any scale",
    },
    "q140_attribution": {
        "shuffles": 5,
        "scans": {"events": 3},
        "why": "r7 rewrite: the touch-join-conv pair form was the "
        "registry's only super-linear plan (64x probe: exponent 1.31, "
        "0.9 s -> 212 s); the window/prefix-count form adds 3 small-row "
        "shuffles and an enum-sized type-dim scan but is linear in rows "
        "(64x: back to seconds) — SCALING.md r7",
    },
}


def _head_json(rel: str) -> dict | None:
    try:
        out = subprocess.run(
            ["git", "show", f"HEAD:{rel}"],
            capture_output=True,
            text=True,
            cwd=ROOT,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None  # file not in HEAD (fresh checkout states) — skip
    try:
        return json.loads(out.stdout)
    except ValueError:
        return None


def test_shuffle_budget_raises_are_justified():
    head = _head_json("tests/shuffle_budgets.json")
    if head is None:
        pytest.skip("git HEAD copy unavailable")
    new = json.loads((ROOT / "tests" / "shuffle_budgets.json").read_text())
    bad = []
    for name, ceiling in new.items():
        if name not in head:
            continue  # new query: reviewed by the >5-shuffle doc gate
        if ceiling <= head[name]:
            continue
        ok = _BUDGET_RAISE_OK.get(name, {})
        if ceiling > ok.get("shuffles", head[name]):
            bad.append(f"{name}: shuffles {head[name]} -> {ceiling}")
    assert not bad, (
        "shuffle-budget ceilings raised without a _BUDGET_RAISE_OK "
        f"justification: {bad} — every extra shuffle is a full-data "
        "network pass at 100 TB; justify the trade or fix the plan"
    )


def test_scan_budget_raises_are_justified():
    head = _head_json("tests/scan_budgets.json")
    if head is None:
        pytest.skip("git HEAD copy unavailable")
    new = json.loads((ROOT / "tests" / "scan_budgets.json").read_text())
    bad = []
    for name, counts in new.items():
        if name not in head:
            continue
        ok = _BUDGET_RAISE_OK.get(name, {}).get("scans", {})
        for t, n in counts.items():
            old = head[name].get(t, 0)
            if n > old and n > ok.get(t, old):
                bad.append(f"{name}: {t} scans {old} -> {n}")
    assert not bad, (
        "scan-budget ceilings raised without a _BUDGET_RAISE_OK "
        f"justification: {bad} — a re-inflated plan re-reads a big table; "
        "justify the trade or checkpoint the derived frame"
    )


def test_budget_raise_entries_reference_live_queries():
    """An entry for a deleted/renamed query is stale documentation that
    could silently authorize a future raise on a revived name."""
    from job_etl_spark.queries import registry

    live = set(registry())
    stale = sorted(set(_BUDGET_RAISE_OK) - live)
    assert not stale, f"_BUDGET_RAISE_OK entries for unknown queries: {stale}"
    for name, spec in _BUDGET_RAISE_OK.items():
        assert spec.get("why"), f"{name}: raise entry lacks a 'why'"


def test_plan_allowlists_reference_live_queries():
    """Same hygiene for the plan-guard allowlists in test_plans: a stale
    name (deleted/renamed query) would silently pre-authorize a future
    cartesian/multi-scan/many-shuffle plan under a revived name."""
    from job_etl_spark.queries import registry

    from tests import test_plans as tp

    live = set(registry())
    for label in ("_BNLJ_OK", "_MULTI_SCAN_OK", "_MANY_SHUFFLE_OK"):
        entries = set(getattr(tp, label))
        stale = sorted(entries - live)
        assert not stale, f"{label} entries for unknown queries: {stale}"
