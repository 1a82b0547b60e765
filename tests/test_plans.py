"""Plan-quality guards: every declared query must keep the physical plan
shapes that survive a 100 TB scale-up. A regression that introduces a
cartesian product or an unbounded nested-loop join fails here even though
results stay correct at test scale."""

from __future__ import annotations

import pytest

from job_etl_spark.queries import registry
from tests.conftest import SF_SMOKE

_REG = registry()

# BroadcastNestedLoopJoin is acceptable ONLY where one side is a bounded
# literal-sized frame by construction (ANN query sets × small codebooks,
# 1-row global-max scalars)
_BNLJ_OK = {
    "q17_fuzzy_match",  # 5-row broadcast candidate dim (J7 demo; the
    # pipeline's production path equi-joins on the normalized name key)
    "q26_ann_cosine_topk",  # 10-row query set broadcast against the corpus
    "q48_ann_ivf",  # 10-row query set × 16-row codebook probe
    "q51_top_supplier",  # 1-row global-max cross join
    "q57_inactive_rich_customers",  # 1-row global-avg cross join
    "q117_bigram_perplexity",  # 1-row vocab-size scalar cross join
    "q144_bm25",  # 1-row (N, avgdl) corpus-stats cross join
    "q142_rrf_fusion",  # composes q26's 10-row broadcast query set
    "q153_hard_negatives",  # q26's shape: 10-row broadcast query set
    "q147_triangle_census",  # 1-row × 1-row scalar-aggregate combine
    "q140_attribution",  # conv endpoints × touch-type dim (distinct
    # event_type values — enum-sized broadcast, not a data-sized side)
    "q130_skew_report",  # 1-row totals × 1-row top-10-mass combine
    "q132_profile_table",  # 1-row NDV agg × 1-row min/max/null agg combine
    # (the r11 split that keeps string buffers off the multi-distinct Expand)
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# two full-registry guards (join strategies + scan budgets) read each
# query's plan — build it once per session, not once per test
_PLAN_CACHE: dict[str, str] = {}


def _plan_cached(spark, name: str) -> str:
    p = _PLAN_CACHE.get(name)
    if p is None:
        p = _plan(_REG[name].fn(spark, SF_SMOKE))
        _PLAN_CACHE[name] = p
    return p


@pytest.mark.parametrize("name", sorted(_REG))
def test_no_unbounded_join_strategies(spark, name):
    plan = _plan_cached(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans an unbounded nested-loop join"
        )


def test_neardup_blocks_are_bounded(spark):
    """Near-dup candidate joins must be keyed on a bounded block — a
    length band (q25) or an LSH band bucket (q27) — not only on
    unbounded categorical keys like (lang, source) or (label)."""
    # at test scale AQE may pick a broadcast build; what matters is that the
    # band is part of the hash-join EQUI key (bounded blocks), not a filter
    # a query may plan several joins (candidate join + vector re-attach);
    # the invariant is that the CANDIDATE join's equi-key carries the band
    p25 = _plan(_REG["q25_ngram_jaccard"].fn(spark, SF_SMOKE))
    join_keys_25 = [ln for ln in p25.splitlines() if "HashJoin" in ln or "SortMergeJoin" in ln]
    assert join_keys_25 and any("band" in ln for ln in join_keys_25), p25[:2000]

    # q27: candidates come from the grouped in-bucket expansion — the
    # bounded block is the aggregate key (label, band_id, bucket)
    p27 = _plan(_REG["q27_embedding_neardup"].fn(spark, SF_SMOKE))
    agg_keys_27 = [
        ln
        for ln in p27.splitlines()
        if ("HashAggregate" in ln or "ObjectHashAggregate" in ln or "SortAggregate" in ln)
        and "keys=" in ln
    ]
    assert any(
        "bucket" in ln and "band_id" in ln and "label" in ln for ln in agg_keys_27
    ), p27[:2000]

    # q122 semantic dedup: candidates must come from bounded (centroid,
    # band, bucket) blocks — a bare centroid key is an unbounded block.
    # The grouped in-bucket expansion shows up as an aggregate KEYED on
    # (cid, band_id, bucket) (collect_list per block); there is no
    # candidate self-join left to inspect.
    p122 = _plan(_REG["q122_semantic_dedup"].fn(spark, SF_SMOKE))
    agg_keys_122 = [
        ln
        for ln in p122.splitlines()
        if ("HashAggregate" in ln or "ObjectHashAggregate" in ln or "SortAggregate" in ln)
        and "keys=" in ln
    ]
    assert any(
        "bucket" in ln and "band_id" in ln and "cid" in ln for ln in agg_keys_122
    ), p122[:2000]

    # q31 simhash: candidates must come from pigeonhole bit-band buckets —
    # the grouped expansion's aggregate key is (lang, source, _band, _bval),
    # never the bare categorical (lang, source) block (one collect_list row
    # per block = one O(n²) task on a hot block at corpus scale)
    p31 = _plan(_REG["q31_simhash_neardup"].fn(spark, SF_SMOKE))
    agg_keys_31 = [
        ln
        for ln in p31.splitlines()
        if ("HashAggregate" in ln or "ObjectHashAggregate" in ln or "SortAggregate" in ln)
        and "keys=" in ln
        and "collect_list" in ln
    ]
    assert agg_keys_31 and all(
        "_band" in ln and "_bval" in ln for ln in agg_keys_31
    ), p31[:2000]

    # q161 wide (120-bit) simhash: same banded-key invariant
    p161 = _plan(_REG["q161_wide_simhash_neardup"].fn(spark, SF_SMOKE))
    agg_keys_161 = [
        ln
        for ln in p161.splitlines()
        if ("HashAggregate" in ln or "ObjectHashAggregate" in ln or "SortAggregate" in ln)
        and "keys=" in ln
        and "collect_list" in ln
    ]
    assert agg_keys_161 and all(
        "_band" in ln and "_bval" in ln for ln in agg_keys_161
    ), p161[:2000]


def test_q162_single_bounded_corpus_scan(spark):
    """q162's only corpus pass must be a bounded top-POOL TakeOrdered —
    the greedy loop afterwards runs over the collected local relation, so
    this plan is the query's entire at-scale cost."""
    from job_etl_spark.queries.evaluation import _Q162_K, _Q162_POOL, _q162_pool

    assert _Q162_POOL >= 32 * _Q162_K  # pool must dwarf k for MMR semantics
    plan = _plan(_q162_pool(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_watermark_scan_pushes_filters(spark):
    """The incremental-scan shape must push its predicate into the
    parquet scan (PushedFilters on the raw ns column)."""
    plan = _plan(_REG["q09_watermark_incremental"].fn(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThan" in plan or "ts" in plan.split(
        "PushedFilters"
    )[1][:200]


# scan pruning: each entry pins the EXACT column set a query's scan of a
# table may read — a regression that drags extra columns through a 100 TB
# scan fails here even though results stay correct
_PRUNED_SCANS = {
    "q99_zorder_cells": ("orders.parquet", {"o_custkey", "o_totalprice"}),
    "q80_forecast_revenue": (
        "lineitem.parquet",
        {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
    ),
    "q95_heavy_hitters_cms": ("events.parquet", {"user_id"}),
    "q96_kmv_distinct": ("events.parquet", {"event_type", "user_id"}),
    "q100_group_sample": ("documents.parquet", {"doc_id", "lang", "source"}),
    "q59_train_test_split": ("documents.parquet", {"doc_id", "lang"}),
    "q117_bigram_perplexity": ("documents.parquet", {"doc_id", "lang", "text"}),
    "q119_cdc_chunks": ("documents.parquet", {"doc_id", "lang", "text"}),
    "q121_join_size_estimate": ("part.parquet", {"p_partkey"}),
    "q128_training_order": ("documents.parquet", {"doc_id", "n_chars"}),
    "q130_skew_report": ("events.parquet", {"user_id"}),
    "q133_cohort_matrix": ("events.parquet", {"user_id", "ts"}),
    # (q134's 6-column lineitem pin is unverifiable — Spark truncates the
    # ReadSchema string in plan output beyond ~5 columns)
    "q137_sessions_segmented": ("events.parquet", {"user_id", "ts"}),
    "q140_attribution": ("events.parquet", {"user_id", "event_id", "event_type", "ts"}),
    "q157_dedup_method_agreement": (
        "documents.parquet",
        {"doc_id", "lang", "source", "text"},
    ),
    "q102_curation_pipeline": (
        "documents.parquet",
        {"doc_id", "lang", "source", "text", "n_chars"},
    ),
    "q158_kmeans_train": ("embeddings.parquet", {"vec_id", "embedding"}),
    "q25_ngram_jaccard": (
        "documents.parquet",
        {"doc_id", "lang", "source", "n_chars", "text"},
    ),
}


# queries whose scan is hidden by a lazy localCheckpoint: assert pruning on
# the module-level PRE-checkpoint frame instead (the _q117_toks pattern;
# generalized r12 per ADVICE r11 — q102/q158 budgets had collapsed to {}
# and asserted nothing)
def _precheckpoint_frames():
    from job_etl_spark.queries.evaluation import _q157_tok
    from job_etl_spark.queries.lifedata import _q25_grams
    from job_etl_spark.queries.modelprep import _q117_toks
    from job_etl_spark.queries.sketches import _q95_counts, _q96_pairs, _q102_scored, _q158_emb

    return {
        "q117_bigram_perplexity": _q117_toks,
        "q96_kmv_distinct": _q96_pairs,
        "q95_heavy_hitters_cms": _q95_counts,
        "q157_dedup_method_agreement": _q157_tok,
        "q102_curation_pipeline": _q102_scored,
        "q158_kmeans_train": _q158_emb,
        "q25_ngram_jaccard": _q25_grams,
    }


# queries whose input goes through operators/ranks.py materialize the
# range-partitioned frame (localCheckpoint — partition boundaries must be
# identical for the counts job and the window job), so the parquet scan
# lives in the checkpoint's own job, not the final plan. Pruning is
# verified on the materialized RDD's schema instead: if projection hadn't
# been pushed below the checkpoint, the RDD would carry every column.
_PRUNED_CHECKPOINTS = {
    "q127_curriculum_phases": {"doc_id", "n_chars", "_gr_pid"},
    "q146_calibration": {"doc_id", "pred", "gold", "_gr_pid"},
}


@pytest.mark.parametrize("name", sorted(_PRUNED_CHECKPOINTS))
def test_checkpointed_rank_input_is_pruned(spark, name):
    expected = _PRUNED_CHECKPOINTS[name]
    df = _REG[name].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "LogicalRDD" in ln]
    assert scans, f"{name}: no checkpointed RDD scan in plan:\n{plan[:2000]}"
    import re

    for ln in scans:
        cols = set(re.findall(r"(\w+)#\d+", ln))
        assert cols <= expected, (
            f"{name} checkpointed {cols - expected} beyond the needed {expected}"
        )


@pytest.mark.parametrize("name", sorted(_PRUNED_SCANS))
def test_scan_reads_only_needed_columns(spark, name):
    import re

    table_file, expected = _PRUNED_SCANS[name]
    pre = _precheckpoint_frames().get(name)
    if pre is not None:
        plan = _plan(pre(spark, SF_SMOKE))
    else:
        plan = _plan(_REG[name].fn(spark, SF_SMOKE))
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and f"/{table_file}" in ln and "ReadSchema" in ln
    ]
    assert scans, f"{name}: no FileScan of {table_file} in plan"
    for ln in scans:
        m = re.search(r"ReadSchema: struct<([^>]*)>", ln)
        assert m, ln
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= expected, (
            f"{name} reads {cols - expected} beyond the needed {expected}"
        )


# round-4 multi-scan audit regression guard: these queries checkpoint a
# twice-plus-consumed derived frame; losing the checkpoint re-inflates the
# plan to 3-7 FileScans of the heavy table (SCALING.md "Multi-scan audit").
# Bounds count VISIBLE scans (checkpoints hide their subtree's scan).
_MAX_SCANS = {
    "q104_topk_bounds": ("events", 1),  # no checkpoint: one lazy plan
    "q138_cooccurrence": ("events", 1),
    "q154_centroid_separation": ("embeddings", 2),
    "q143_neardup_degree": ("documents", 2),
    "q111_span_dedup": ("documents", 2),
    "q117_bigram_perplexity": ("documents", 1),
    "q144_bm25": ("documents", 1),
    "q86_distinctive_terms": ("documents", 2),
    "q118_temperature_resample": ("documents", 2),
    "q97_vocab_oov": ("documents", 2),
}


@pytest.mark.parametrize("name", sorted(_MAX_SCANS))
def test_checkpointed_queries_stay_scan_bounded(spark, name):
    table_file, bound = _MAX_SCANS[name]
    plan = _plan_cached(spark, name)
    n = sum(
        1
        for ln in plan.splitlines()
        if "FileScan" in ln and f"/{table_file}.parquet" in ln
    )
    assert n <= bound, (
        f"{name}: {n} visible FileScans of {table_file} (bound {bound}) — "
        "was a shared-frame checkpoint removed?"
    )


# ---------------------------------------------------------------------------
# Registry-WIDE scan-budget guard (round 5). The round-4 multi-scan audit
# was done by hand and bounded only the 10 checkpointed queries above —
# the one class of perf win a refactor could silently undo elsewhere.
# tests/scan_budgets.json snapshots the CURRENT visible-FileScan count per
# (query, SF-scaling table) for all 162 queries as a CEILING; regenerate
# with `python scripts/scan_budget.py --update` only after reviewing that
# any new >1 count belongs to a legitimate class below.
# ---------------------------------------------------------------------------
import json as _json
import os as _os

with open(_os.path.join(_os.path.dirname(__file__), "scan_budgets.json")) as _f:
    _SCAN_BUDGETS = _json.load(_f)

# Every query budgeted >1 visible scan of an SF-scaling table must carry a
# one-line justification from SCALING.md's legitimate multi-scan classes:
#   roles    — self-join over different roles of the same table (as-of /
#              interval / except / retention / diff); Spark never shares
#              subplans across branches, and both roles genuinely differ
#              (filters/keys), so a checkpoint would materialize the fact
#   sketch   — mergeable-sketch HALF-builds whose merge IS the operator
#   ann      — bounded query-set scan + corpus scan of the same table
#   fetch    — ids-only candidate pass + id→vector fetch-back (cheaper
#              than materializing vectors through the candidate shuffle)
_MULTI_SCAN_OK = {
    "q08_merge_upsert": "roles: target vs incoming-batch halves",
    "q10_union_sources": "roles: two source slices unioned by name",
    "q26_ann_cosine_topk": "ann: query set + corpus",
    "q27_embedding_neardup": "fetch: banded candidates + id→vector fetch-back",
    "q32_ann_lsh_bucketed": "ann: query set + corpus",
    "q36_hourly_rollup": "roles: hour spine + per-hour aggregate",
    "q37_asof_join": "roles: left events vs right quotes slice",
    "q44_interval_join": "roles: intervals + points + overlap check",
    "q48_ann_ivf": "ann: query set + corpus",
    "q51_top_supplier": "roles: per-supplier revenue vs global max",
    "q52_except_customers": "roles: EXCEPT left/right order slices",
    "q57_inactive_rich_customers": "roles: active vs all-customer halves",
    "q64_asof_forward": "roles: left vs right as-of slices",
    "q65_retained_customers": "roles: period-A vs period-B orders",
    "q75_quantile_sketch": "sketch: two half-builds merged",
    "q78_contamination": "roles: train corpus vs eval corpus slices",
    "q82_gap_filled_hours": "roles: hour spine + observed hours",
    "q83_trimmed_stats": "roles: quantile bounds + trimmed aggregate",
    "q90_source_mixture": "roles: per-source counts + global total",
    "q94_snapshot_diff": "roles: old vs new snapshot slices",
    "q96_kmv_distinct": "sketch: two KMV half-builds merged",
    "q98_inverted_index": "roles: postings + df-count halves",
    "q105_windowed_distinct": "sketch: per-window half-sketches merged",
    "q106_equidepth_bins": "roles: bin bounds + assignment pass",
    "q109_zscore_outliers": "roles: per-user stats + event re-join",
    "q111_span_dedup": "roles: span pairs vs doc re-join (checkpointed)",
    "q113_split_drift": "roles: train vs test split slices",
    "q116_split_leakage": "roles: train/test slices + leak pair join",
    "q118_temperature_resample": "roles: per-source stats + doc re-join",
    "q130_skew_report": "roles: totals vs top-10-mass halves",
    "q131_ivm_agg": "roles: base aggregate + delta batch",
    "q132_profile_table": "roles: exact-NDV pass + min/max/null pass — "
    "split (r11) so the string-buffer aggs never ride the multi-distinct "
    "Expand (which forced SortAggregate: a full sort of the 6×N expanded "
    "rows); two column-pruned scans beat that sort at any scale",
    "q140_attribution": "roles: touch stream + conv endpoints + "
    "enum-sized touch-type dim (column-pruned)",
    "q133_cohort_matrix": "roles: cohort assignment + activity join",
    "q139_ab_test": "roles: arm A vs arm B slices",
    "q140_attribution": "roles: conversions vs touch events",
    "q141_interpolated_hours": "roles: hour spine + neighbor lookup",
    "q142_rrf_fusion": "ann: two retrieval arms × (query set + corpus)",
    "q143_neardup_degree": "roles: pair list vs doc re-join (checkpointed)",
    "q145_snippets": "roles: match spans + doc text re-join",
    "q153_hard_negatives": "ann: query set + corpus",
    "q154_centroid_separation": "roles: centroid table + re-join (checkpointed)",
    "q148_pagerank": "pregel unrolled: K=3 iterations each re-join the "
    "pruned documents id column (r12 — the per-iteration checkpoints "
    "that hid these scans serialized a tiny-job cascade)",
    "q86_distinctive_terms": "roles: per-doc tf + corpus df (checkpointed)",
    "q97_vocab_oov": "roles: vocab build + OOV probe (global counts only)",
}


def test_multi_scan_budgets_are_documented():
    """Every >1 scan budget must be consciously classified — a new one
    appearing in the snapshot without a justification is exactly the
    silent regression this guard exists to catch."""
    undocumented = sorted(
        name
        for name, budget in _SCAN_BUDGETS.items()
        if any(n > 1 for n in budget.values()) and name not in _MULTI_SCAN_OK
    )
    assert not undocumented, (
        f"multi-scan budgets without a documented class: {undocumented}"
    )


# ---------------------------------------------------------------------------
# Expression-duplication guard (round 6). The scan-budget guard counts
# FileScans and is BLIND to Catalyst substituting an expensive expression
# tree into a pushed-down predicate: q159/q160 regressed ~3× in round 5
# (isNotNull on the computed simhash column → the whole md5-fold pipeline
# evaluated twice, sunk below the parallelizing exchange) with scan counts
# unchanged — the second occurrence of this class after q31 in round 2
# (ml/dedup.py "NO isNotNull pre-filter" rule). `md5(`-occurrences in the
# OPTIMIZED plan are the tripwire: every signature pipeline (simhash,
# minhash, bucket hash) funnels through md5, so a substitution that
# duplicates a fold tree raises the count. Ceilings are the audited
# call-site counts; >1 entries are distinct legitimate sites, noted inline.
# ---------------------------------------------------------------------------
_MD5_BUDGETS = {
    "q29_minhash_lsh": 2,  # shingle hash + LSH band-slice bucket hash
    "q30_simhash": 1,
    "q31_simhash_neardup": 1,
    "q102_curation_pipeline": 2,  # md5-bucket split on scalar doc_id, 2 uses
    "q103_incremental_neardup": 3,  # is_new tag across new/old role branches
    "q152_minhash_error": 1,
    "q157_dedup_method_agreement": 3,  # two dedup methods + bucket hash
    "q159_image_neardup": 1,  # was 2 pre-fix: the r5 regression this pins
    "q160_audio_neardup": 1,  # was 2 pre-fix
    "q161_wide_simhash_neardup": 2,  # two independent 60-bit halves per token
}


@pytest.mark.parametrize("name", sorted(_MD5_BUDGETS))
def test_signature_pipeline_evaluates_once(spark, name):
    bound = _MD5_BUDGETS[name]
    plan = (
        _REG[name]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    n = plan.count("md5(")
    assert n <= bound, (
        f"{name}: {n} md5( sites in the optimized plan (audited ceiling "
        f"{bound}) — Catalyst is substituting a signature pipeline into a "
        "predicate or a second branch; filter on the cheap equivalent "
        "token-count predicate BEFORE the signature (ml/dedup.py rule)"
    )


# Same trap class, JSON/variant-parse family: a filter on the derived
# extracted column substitutes the whole parse chain into the pushed-down
# scan predicate (q49 regressed this way, caught in the r6 sweep — parse
# cost doubled per surviving row). Each marker is the family's per-row
# parse entry point in the optimized plan text.
_PARSE_BUDGETS = {
    "q13_json_extract": ("get_json_object", 1),
    "q49_variant_extract": ("parseJson", 1),
}


@pytest.mark.parametrize("name", sorted(_PARSE_BUDGETS))
def test_json_parse_evaluates_once(spark, name):
    marker, bound = _PARSE_BUDGETS[name]
    plan = (
        _REG[name]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    n = plan.count(marker)
    assert 1 <= n <= bound, (
        f"{name}: {n} {marker} sites in the optimized plan (ceiling {bound})"
        " — fold NULL handling into the aggregates instead of filtering on"
        " the derived column (count/sum skip NULLs; HAVING drops groups)"
    )


@pytest.mark.parametrize("name", sorted(_REG))
def test_registry_scan_budget(spark, name):
    """No query may scan an SF-scaling table more often than its
    snapshotted ceiling (visible scans; checkpoints hide their subtree —
    that hiding IS the round-4 fix being protected)."""
    from scripts.scan_budget import scan_counts

    budget = _SCAN_BUDGETS.get(name)
    assert budget is not None, (
        f"{name}: not in tests/scan_budgets.json — run "
        "`python scripts/scan_budget.py --update` and review the diff"
    )
    got = scan_counts(_plan_cached(spark, name))
    over = {
        t: (n, budget.get(t, 0)) for t, n in got.items() if n > budget.get(t, 0)
    }
    assert not over, (
        f"{name}: visible FileScans over budget {over} — a derived frame "
        "is being consumed twice without its checkpoint (SCALING.md "
        "'Multi-scan audit')"
    )


# ---------------------------------------------------------------------------
# Registry-WIDE shuffle-count budget (round 6). Every shuffle Exchange is
# the dominant at-scale cost a refactor can silently add (a lost broadcast,
# a new repartition, an aggregation split into two stages) — and until now
# nothing tripped on it: scan budgets count FileScans, the broadcast
# allowlist only constrains HINTS. tests/shuffle_budgets.json snapshots
# the visible non-broadcast Exchange count per query (pre-AQE executed
# plan, checkpoint subtrees hidden — same semantics as scan budgets) as a
# CEILING. Regenerate with `python scripts/scan_budget.py --update` only
# after confirming a raised count is a deliberate trade.
# ---------------------------------------------------------------------------
with open(_os.path.join(_os.path.dirname(__file__), "shuffle_budgets.json")) as _f:
    _SHUFFLE_BUDGETS = _json.load(_f)

# Every query budgeted >5 shuffles carries a one-line justification (the
# _MULTI_SCAN_OK pattern): these are multi-arm demonstrations whose arms
# are each individually shuffle-lean; the exchanges move SKETCH/ID-sized
# intermediates, not the corpus. A new entry appearing here without a
# classification is the silent-regression signal this guard watches for.
_MANY_SHUFFLE_OK = {
    "q96_kmv_distinct": "sketch demo: per-type + __all__ KMV half-builds "
    "AND their exact countDistinct twins (the oracle-checked accuracy "
    "claim needs both), 4 arms × (distinct+agg) + merge + join",
    "q105_windowed_distinct": "per-window half-sketches + merge + exact twin",
    "q98_inverted_index": "postings + df-count + tf-idf join (ids-only rows)",
    "q148_pagerank": "pregel unrolled: 2 shuffles/iteration x K=3 "
    "(contribution join + per-node sum), visible since the r12 "
    "checkpoint removal",
    "q117_bigram_perplexity": "vocab + bigram + unigram aggs over the "
    "checkpointed token frame (token-id rows, one corpus scan)",
    "q116_split_leakage": "train/test slices × (shingle agg) + leak pair join",
    "q103_incremental_neardup": "new×old band join + is_new stamp + pair agg",
    "q27_embedding_neardup": "banding agg + pair dedup + r11 id-pair "
    "repartition (parallelizes the CPU-dense cosine verify AQE collapsed "
    "to one task) + fetch-back joins — ids-only exchanges",
    "q122_semantic_dedup": "banding agg + pair dedup + r11 id-pair "
    "repartition (parallelizes the CPU-dense cosine verify AQE collapsed "
    "to one task) + distinct + member/drop aggs — ids-only exchanges",
}


def test_many_shuffle_budgets_are_documented():
    undocumented = sorted(
        name
        for name, n in _SHUFFLE_BUDGETS.items()
        if n > 5 and name not in _MANY_SHUFFLE_OK
    )
    assert not undocumented, (
        f"shuffle budgets >5 without a documented class: {undocumented}"
    )


@pytest.mark.parametrize("name", sorted(_REG))
def test_registry_shuffle_budget(spark, name):
    from scripts.scan_budget import shuffle_count

    budget = _SHUFFLE_BUDGETS.get(name)
    assert budget is not None, (
        f"{name}: not in tests/shuffle_budgets.json — run "
        "`python scripts/scan_budget.py --update` and review the diff"
    )
    got = shuffle_count(_plan_cached(spark, name))
    assert got <= budget, (
        f"{name}: {got} shuffle Exchanges (budget {budget}) — a broadcast "
        "was lost or a new repartition/aggregation stage was added; every "
        "extra shuffle is a full-data network pass at 100 TB"
    )


# ---------------------------------------------------------------------------
# Driver fixed cost of the latency-bound queries. Jobs are counted with the
# status tracker under a job group of their own, after the listener bus
# drains; py4j commands with scripts/profile_query.py's timed_build.
# ---------------------------------------------------------------------------
def _jobs_launched(spark, fn):
    """(fn(), ids of the Spark jobs started while fn ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_q104_builds_without_a_job(spark):
    """q104 is one lazy plan: building it runs nothing (the checkpointed
    form ran 7 jobs before the caller's action)."""
    fn = _REG["q104_topk_bounds"].fn
    fn(spark, SF_SMOKE)  # first build of the session may read footers
    _, jobs = _jobs_launched(spark, lambda: fn(spark, SF_SMOKE))
    assert jobs == [], f"building q104 launched {len(jobs)} Spark jobs"


def test_small_graph_cc_is_one_collect(spark, monkeypatch):
    """Below collect_max_edges, connected components sizes the graph by
    the bounded collect itself: no separate count action, and only the
    edge list's distinct stage plus the collect run as jobs."""
    from job_etl_spark.ml.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (7, None)], "doc_a bigint, doc_b bigint"
    )

    def no_count(self):
        raise AssertionError("small-graph connected_components ran count()")

    monkeypatch.setattr(type(edges), "count", no_count)  # the classic DataFrame
    cc, jobs = _jobs_launched(spark, lambda: connected_components(edges))
    monkeypatch.undo()
    assert len(jobs) <= 2, f"small-graph CC launched {len(jobs)} jobs"
    got = {r["node"]: r["cluster_id"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def _warm_build_py4j(spark, name):
    """py4j commands of three warm builds of query ``name``."""
    from scripts.profile_query import timed_build

    fn = _REG[name].fn
    fn(spark, SF_SMOKE)  # warm the parsed-expression memo
    return [timed_build(fn, spark, SF_SMOKE)[2] for _ in range(3)]


def test_q31_build_py4j_budget(spark):
    """The simhash fold and the in-bucket pair expansion are rendered SQL
    parsed once per session, not trees of Python lambdas: building q31
    costs a few hundred py4j commands (~900 when built from lambdas)."""
    counts = _warm_build_py4j(spark, "q31_simhash_neardup")
    assert min(counts) <= 300, f"building q31 took {counts} py4j commands"


def test_q29_build_py4j_budget(spark):
    """The minhash candidates' in-bucket pair expansion is one rendered SQL
    string (``ml/dedup.bucket_pairs``), not nested Python lambdas: building
    q29 costs ~430 py4j commands (~520 with the lambda expansion)."""
    counts = _warm_build_py4j(spark, "q29_minhash_lsh")
    assert min(counts) <= 475, f"building q29 took {counts} py4j commands"


def test_q58_rerun_compiles_nothing(spark):
    """Whole-stage classes stay compiled across the query rotation: after
    warm runs of q58 and q104, running q58 again compiles no class (a
    generated-class cache smaller than the session's working set evicts
    and recompiles them on every run)."""
    from job_etl_spark.session import codegen_compiles

    def run(name):
        _REG[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    run("q58_dedup_clusters")
    run("q104_topk_bounds")
    before, _ = codegen_compiles(spark)
    run("q58_dedup_clusters")
    compiled = codegen_compiles(spark)[0] - before
    assert compiled == 0, f"re-running q58 compiled {compiled} classes"
