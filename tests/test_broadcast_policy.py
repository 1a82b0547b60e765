"""Broadcast-hint policy guard (SCALING.md "Broadcast-hint policy").

An explicit ``F.broadcast`` hint forces the frame through the driver; at
100 TB a hint on a fact-derived frame is a driver-OOM hazard even when
AQE would have picked a broadcast safely at runtime (it sizes the ACTUAL
frame). Policy: hints are reserved for frames bounded by CONSTRUCTION —
fixed dims, bounded query sets and codebooks, 1-row scalar aggregates,
LIMIT-capped frames, and dim-bounded key sets.

This guard walks every ``.broadcast(`` call site in the package (AST, so
strings/comments don't count) and requires the enclosing function to be
in the allowlist below, each entry carrying a one-line justification of
WHY its broadcast targets are construction-bounded. A new hint anywhere
fails until it is consciously classified — the q39/q47/q78/q97 hazard
class (fixed-fraction-of-fact frames) can't silently return.
"""

from __future__ import annotations

import ast
import os

import pytest

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "job_etl_spark")

# (file::function) -> why every F.broadcast target in it is bounded by
# construction. Classes: dim = fixed/dim table or a filtered slice of one;
# keyset = DISTINCT key set capped by a dim's cardinality; 1-row = scalar
# aggregate; cap = LIMIT/top-k capped; codebook = fixed-size model state;
# queryset = bounded ANN/probe query set; literal = driver-literal frame.
_ALLOWED = {
    "ml/ann.py::brute_force_topk": "queryset: the bounded ANN query set",
    "ml/ann.py::ivf_topk": "codebook: <=C-row centroids + queryset probes",
    "ml/ann.py::lsh_bucketed_topk": "queryset: bucketed query set",
    "operators/bloom.py::bloom_prefilter": "literal: caller-supplied word set",
    "operators/merge.py::merge_statements": "keyset: folded delta statements and their tombstoned keys — deltas ≪ base is the merge-on-read invariant (every hint targets a delta-derived frame / its key projection)",
    "operators/cms.py::probe_cms": "codebook: depth*width CMS cells (fixed)",
    "pipeline/company_match.py::apply_company_matches": "dim: company update set",
    "pipeline/company_match.py::match_companies": "dim: company candidate set",
    "pipeline/rank.py::rank_jobs": "dim: company dimension",
    "pipeline/report.py::daily_digest": "dim: company dimension",
    "pipeline/store.py::_mor_apply_deltas": "keyset: latest-wins delta-batch keys (delta-sized; factored out of mor_read for bucket-scoped compaction)",
    "queries/curation.py::q113_split_drift": "1-row: per-split stats by lang domain",
    "queries/domain.py::q14_hash_identity": "dim: nation",
    "queries/domain.py::q17_fuzzy_match": "dim: 5-row candidate company dim",
    "queries/domain.py::q19_rank_top25": "dim: customer-as-company dim slice",
    "queries/evaluation.py::q153_hard_negatives": "queryset: 10-row query set",
    "queries/graphs.py::q147_triangle_census": "1-row: scalar-aggregate combine",
    "queries/lifedata.py::q26_ann_cosine_topk": "queryset: 10-row query set",
    "queries/modelprep.py::q117_bigram_perplexity": "1-row: vocab-size scalar",
    "queries/modelprep.py::q118_temperature_resample": "1-row-per-source: rates over the source domain",
    "queries/observability.py::q138_cooccurrence": "keyset: distinct event types (type domain)",
    "queries/observability.py::attribution_core": "keyset: distinct touch types (type domain); q140's plan, factored for fuzz_parity",
    "queries/observability.py::q144_bm25": "1-row: (N, avgdl) + fixed literal term list",
    "queries/observability.py::q145_snippets": "cap: top-k doc ids",
    "queries/relational.py::q02_regional_revenue": "dim: nation/region geo chain",
    "queries/relational.py::q03_topk_orders": "dim: BUILDING customer slice",
    "queries/relational.py::q38_small_qty_revenue": "dim: part slice",
    "queries/relational.py::q39_large_volume_orders": "dim: customer (fact-side hint removed r4)",
    "queries/relational.py::q40_red_part_suppliers": "dim + keyset: red parts; distinct supplier keys",
    "queries/relational.py::q47_lone_return_supplier": "dim: supplier+nation (fact-side hint removed r4)",
    "queries/relational.py::q50_bilateral_trade": "dim: nation-filtered customer/supplier chains",
    "queries/relational.py::q51_top_supplier": "1-row: global max + supplier dim",
    "queries/relational.py::q52_except_customers": "dim: customer",
    "queries/relational.py::q55_market_share": "dim: nation/region + part slice chains",
    "queries/relational.py::q57_inactive_rich_customers": "1-row: global avg balance",
    "queries/relational.py::q65_retained_customers": "dim: customer",
    "queries/relational.py::q66_important_parts": "dim: part slice + supplier",
    "queries/relational.py::q67_disjunctive_revenue": "dim: part (disjunctive join dim side)",
    "queries/relational.py::q68_cheapest_supplier": "dim: part slice + supplier",
    "queries/relational.py::q69_supplier_diversity": "dim: supplier+nation",
    "queries/relational.py::q71_nation_profit": "dim: part slice + supplier + nation",
    "queries/relational.py::q72_returned_revenue": "dim: customer + nation",
    "queries/relational.py::q74_promo_share": "dim: part (partkey, p_type)",
    "queries/relational.py::q79_local_supplier_volume": "dim: nation-joined customer/supplier",
    "queries/relational.py::q83_trimmed_stats": "1-row-per-type: quantile bounds over the type domain",
    "queries/scaleops.py::q90_source_mixture": "1-row-per-source: stats over the source domain",
    "queries/sketches.py::q106_equidepth_bins": "cap: B-row bin bounds",
    "queries/sketches.py::q109_zscore_outliers": "1-row-per-type: stats over the type domain",
    "queries/sketches.py::q97_vocab_oov": "cap: LIMIT-V vocab (counts hint removed r5)",
}


def _broadcast_sites() -> set[str]:
    sites: set[str] = set()
    for dirpath, _dirs, files in os.walk(_PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read())

            def walk(node, stack):
                for child in ast.iter_child_nodes(node):
                    s = stack
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        s = stack + [child.name]
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "broadcast"
                    ):
                        sites.add(f"{rel}::{'.'.join(stack) or '<module>'}")
                    walk(child, s)

            walk(tree, [])
    return sites


def test_every_broadcast_hint_is_allowlisted():
    sites = _broadcast_sites()
    assert sites, "walker found no broadcast sites — did the AST walk break?"
    new = sorted(sites - set(_ALLOWED))
    assert not new, (
        "F.broadcast hints outside the construction-bounded allowlist "
        f"(SCALING.md broadcast-hint policy): {new} — classify the target "
        "(dim / keyset / 1-row / cap / codebook / queryset / literal) or "
        "drop the hint and let AQE size it"
    )


def test_allowlist_has_no_dead_entries():
    """A removed hint must also leave the allowlist — dead entries would
    let a DIFFERENT (possibly unbounded) hint reappear in that function
    without review."""
    sites = _broadcast_sites()
    dead = sorted(set(_ALLOWED) - sites)
    assert not dead, f"allowlisted functions with no broadcast site left: {dead}"
