"""End-to-end pipeline slice (SURVEY.md §7.1): mock source → normalize →
merge → enrich → marts → rank → DQ → digest, over a temp parquet warehouse.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from job_etl_spark.pipeline.runner import TableStore, run_dq, run_pipeline


def test_full_pipeline(spark):
    stats = run_pipeline(spark, tempfile.mkdtemp(prefix="jobspark_e2e_"), num_jobs=100)

    assert stats["extract"]["extracted_count"] == 100
    assert stats["normalize"]["rejected"] == 0
    # mock cycles 6 titles × 5 companies × 5 locations by index → lcm(6,5)=30
    # distinct (title, company, location) identities after within-batch merge
    assert stats["normalize"]["normalized"] == 30
    assert stats["marts"]["fact_rows"] == 30
    assert stats["rank"]["ranked_jobs"] == 30
    # every DQ check green
    assert all(v == 0 for v in stats["dq"].values()), stats["dq"]
    # the mock's templated descriptions are near-copies across distinct
    # hash-key identities — the dedupe stage must surface them as clusters
    assert stats["dedupe"]["near_dup_pairs"] > 0
    assert stats["dedupe"]["docs_in_clusters"] > stats["dedupe"]["near_dup_clusters"]
    assert stats["digest_unique_jobs"] == 30
    assert len(stats["digest_top"]) == 5

    store = TableStore(spark, stats["warehouse"])
    staging = store.read("staging_job_postings")
    assert staging.count() == 30
    # merge kept one row per identity; skills enriched from description
    row = staging.where(F.size("skills_raw") > 0).first()
    assert row is not None and "python" in row["skills_raw"]
    # seniority state machine ran
    assert staging.where(F.col("seniority_enrichment_status") == "not_tried").count() == 0
    fact = store.read("fact_jobs")
    assert fact.where(F.col("rank_score").isNull()).count() == 0
    scores = [r["rank_score"] for r in fact.select("rank_score").collect()]
    assert all(0.0 <= s <= 100.0 for s in scores)


def test_pipeline_with_company_candidates(spark):
    """When a cached candidates table exists, the enrich stage runs the
    fuzzy company matcher and stamps enriched_at on every pending row."""
    import datetime as dt

    wh = tempfile.mkdtemp(prefix="jobspark_cand_")
    store = TableStore(spark, wh)
    candidates = spark.createDataFrame(
        [
            ("Acme Corp", "Acme Corporation", 4.4),
            ("Acme Corp", "Acme Corp", 4.1),
            ("Globex Inc", "Globex", 3.8),
        ],
        "search_name string, candidate_name string, candidate_rating double",
    )
    store.write("company_candidates", candidates)
    stats = run_pipeline(spark, wh, num_jobs=60)
    assert stats["enrich"]["companies_matched"] == 2  # Acme + Globex
    comp = store.read("staging_companies")
    assert comp.where(F.col("enriched_at").isNull()).count() == 0  # skip markers
    matched = {r["name"]: r["matched_name"] for r in comp.collect()}
    assert matched["Acme Corp"] == "Acme Corp"
    assert matched["Globex Inc"] == "Globex"
    assert matched["Initech LLC"] is None  # no candidates → skipped


def test_pipeline_idempotent_rerun(spark):
    wh = tempfile.mkdtemp(prefix="jobspark_rerun_")
    first = run_pipeline(spark, wh, num_jobs=60)
    second = run_pipeline(spark, wh, num_jobs=60)
    # re-ingesting the same jobs must not duplicate identities (J3 semantics)
    assert second["marts"]["fact_rows"] == first["marts"]["fact_rows"] == 30
    store = TableStore(spark, wh)
    assert store.read("staging_job_postings").count() == 30
    assert all(r.passed for r in run_dq(store))


def test_rank_writeback_via_mor(spark):
    """COW/MOR decision rule (COVERAGE.md "Choosing COW vs MOR", r7
    verdict #3): at fact scale the rank write-back lands as a merge-on-
    read delta — O(ranked batch) per run — instead of the COW path's
    O(table) rewrite. The merged view must equal the COW result, the MOR
    base files must stay byte-untouched across write-backs, and
    compaction must preserve the view."""
    import glob
    import os

    from job_etl_spark.pipeline.runner import run_rank

    wh = tempfile.mkdtemp(prefix="jobspark_mor_rank_")
    run_pipeline(spark, wh, num_jobs=60)
    store = TableStore(spark, wh)

    def scores(df):
        return {r["hash_key"]: r["rank_score"] for r in df.select("hash_key", "rank_score").collect()}

    cow = scores(store.read("fact_jobs"))
    assert len(cow) == 30 and None not in cow.values()

    # first mor=True call migrates COW files into the MOR layout, then
    # lands the full re-rank as delta 1
    stats = run_rank(store, rank_all=True, mor=True)
    assert stats["ranked_jobs"] == 30
    assert store.mor_exists("fact_jobs") and store.mor_deltas("fact_jobs") == [1]
    assert scores(store.mor_read("fact_jobs")) == cow  # deterministic re-rank

    base_glob = os.path.join(wh, "fact_jobs", "_mor", "base", "*.parquet")
    base_before = {f: os.path.getmtime(f) for f in glob.glob(base_glob)}

    # incremental cycle: a delta nulls 10 scores. fact_jobs is a POLICY
    # table since r11 (rank pair = coalesce, the marts rank-carry), so a
    # plain full-row statement can no longer null a score — the
    # legitimate path is a partial statement with an explicit OVERWRITE
    # class (the enricher-style keyed UPDATE). run_rank(mor=True) must
    # then rank exactly those 10 via a new delta, never touching the base
    damaged = (
        store.mor_read("fact_jobs")
        .orderBy("hash_key")
        .limit(10)
        .select("hash_key", F.lit(None).cast("double").alias("rank_score"))
    )
    store.mor_upsert("fact_jobs", damaged, classes={"overwrite": ["rank_score"]})
    assert sum(v is None for v in scores(store.mor_read("fact_jobs")).values()) == 10

    stats2 = run_rank(store, mor=True)  # default target: rank_score IS NULL
    assert stats2["ranked_now"] == 10
    assert scores(store.mor_read("fact_jobs")) == cow
    assert {f: os.path.getmtime(f) for f in glob.glob(base_glob)} == base_before

    # compaction folds the deltas into a new base; view unchanged, keys
    # still unique (the J8 contract the COW path guarantees by rewrite)
    folded = store.mor_compact("fact_jobs")
    assert folded == 3 and store.mor_deltas("fact_jobs") == []
    view = store.mor_read("fact_jobs")
    assert scores(view) == cow
    assert view.count() == view.select("hash_key").distinct().count() == 30


def test_normalize_writeback_via_mor(spark):
    """J3 via merge-on-read (r8 verdict #1): the staging upsert lands each
    normalized batch as ONE delta — O(batch) per run instead of the COW
    path's full-outer join + O(table) rewrite — and the read-time fold
    applies the SAME per-column COALESCE-merge policy, so the two layouts
    are bit-identical over a multi-batch corpus including enrichment
    interplay (keep-first of enricher-owned columns) and replay
    idempotence."""
    import datetime as dt
    import glob
    import os

    from job_etl_spark.pipeline.runner import run_enrich, run_extract, run_normalize
    from job_etl_spark.sources.mock_adapter import MockAdapter

    ts1 = dt.datetime(2026, 1, 1, 7, 0, 0)
    ts2 = dt.datetime(2026, 1, 2, 7, 0, 0)
    ts3 = dt.datetime(2026, 1, 3, 7, 0, 0)

    def canon(store):
        df = store.read("staging_job_postings")
        rows = [
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        ]
        return sorted(rows, key=repr)

    def drive(wh, mor):
        store = TableStore(spark, wh)
        # batch 1: 60 jobs → 30 identities, then enrich (seniority+skills)
        run_extract(store, MockAdapter(num_jobs=60), run_ts=ts1)
        run_normalize(store, MockAdapter(), run_ts=ts1, mor=mor)
        run_enrich(store, run_ts=ts1)
        # batch 2: overlapping + new identities — keep-first must preserve
        # the enriched seniority, first_seen_at; overwrite bumps last_seen
        run_extract(store, MockAdapter(num_jobs=100), run_ts=ts2)
        run_normalize(store, MockAdapter(), min_collected_at=ts2, run_ts=ts2, mor=mor)
        # replay batch 2 (idempotent rerun)
        run_normalize(store, MockAdapter(), min_collected_at=ts2, run_ts=ts3, mor=mor)
        return store

    cow = drive(tempfile.mkdtemp(prefix="jobspark_j3cow_"), mor=False)
    mor = drive(tempfile.mkdtemp(prefix="jobspark_j3mor_"), mor=True)

    assert canon(cow) == canon(mor)  # bit-identical across layouts
    # last_seen_at replayed forward, first_seen_at kept, enrichment kept
    st = mor.read("staging_job_postings")
    assert st.where(F.col("last_seen_at") == F.lit(ts3)).count() == 30
    assert st.where(F.col("first_seen_at") == F.lit(ts1)).count() == 30
    assert st.where(F.col("seniority_enrichment_status") == "not_tried").count() == 0

    # layout invariants: enrich's rewrite replaced the base and cleared
    # deltas; the two post-enrich batches are deltas 2-3 (numbering runs
    # past delta 1, which the rewritten base holds); the base files were
    # never touched by a delta write; the stale COW files are gone
    assert mor.mor_deltas("staging_job_postings") == [2, 3]
    assert not glob.glob(os.path.join(mor.path("staging_job_postings"), "*.parquet"))
    base_glob = os.path.join(
        mor.path("staging_job_postings"), "_mor", "base", "*.parquet"
    )
    base_before = {f: os.path.getmtime(f) for f in glob.glob(base_glob)}

    # an empty batch (future watermark) must not grow the delta chain
    run_normalize(
        mor, MockAdapter(), min_collected_at=dt.datetime(2030, 1, 1), run_ts=ts3, mor=True
    )
    assert mor.mor_deltas("staging_job_postings") == [2, 3]

    # compaction folds the policy deltas; the merged view is unchanged
    before = canon(mor)
    assert mor.mor_compact("staging_job_postings") == 2
    assert mor.mor_deltas("staging_job_postings") == []
    assert canon(mor) == before
    assert {f: os.path.getmtime(f) for f in glob.glob(base_glob)} != base_before

    # compact_every bounds the chain in-line: a replay run at threshold 1
    # lands its delta and immediately folds it; view unchanged (idempotent)
    run_normalize(
        mor, MockAdapter(), min_collected_at=ts2, run_ts=ts3, mor=True, compact_every=1
    )
    assert mor.mor_deltas("staging_job_postings") == []
    assert canon(mor) == before


def test_mor_table_visible_to_downstream_stages(spark):
    """A --mor write-back must never be invisible downstream (r8 ADVICE):
    store.read redirects MOR tables to the merged view, so marts/dq/
    report see scores written as deltas, and a marts rewrite folds INTO
    the MOR layout instead of forking back to COW."""
    from job_etl_spark.pipeline import report as report_mod
    from job_etl_spark.pipeline.runner import run_marts, run_rank

    wh = tempfile.mkdtemp(prefix="jobspark_morvis_")
    run_pipeline(spark, wh, num_jobs=60)
    store = TableStore(spark, wh)
    run_rank(store, rank_all=True, mor=True)
    assert store.mor_exists("fact_jobs") and store.mor_deltas("fact_jobs") == [1]

    # plain read sees the delta scores; dq + digest run over the merged view
    assert store.read("fact_jobs").where(F.col("rank_score").isNull()).count() == 0
    assert all(r.passed for r in run_dq(store))
    digest = report_mod.daily_digest(
        store.read("fact_jobs"), store.read("dim_companies")
    )
    assert digest["unique_jobs"] == 30 and len(digest["top_jobs"]) > 0

    # a marts rewrite lands in the MOR base (deltas folded + cleared),
    # not a parallel COW copy — and the carried rank scores survive
    stats = run_marts(store)
    assert stats["fact_rows"] == 30
    assert store.mor_exists("fact_jobs")
    assert store.mor_deltas("fact_jobs") == []
    import glob as _glob
    import os as _os

    assert not _glob.glob(_os.path.join(store.path("fact_jobs"), "*.parquet"))
    assert store.read("fact_jobs").where(F.col("rank_score").isNull()).count() == 0

    # a no-op rank (nothing unranked) must not append an empty delta
    stats2 = run_rank(store, mor=True)
    assert stats2["ranked_now"] == 0
    assert store.mor_deltas("fact_jobs") == []


def test_marts_writeback_via_mor(spark):
    """MOR marts (r10 verdict #1 — the LAST O(table) write in the DAG):
    ``run_marts(mor=True)`` lands the increment past each watermark as
    ONE delta — fact_jobs under ``fact_merge_policy`` (the fold's
    COALESCE on the rank pair IS the J2 rank carry), dim_companies
    latest-wins — and a zero-new rerun touches NO base file. Dual-mode:
    a COW twin driven identically must match bit-for-bit at every step."""
    import datetime as dt
    import glob
    import os

    from job_etl_spark.pipeline.runner import (
        run_enrich,
        run_extract,
        run_marts,
        run_normalize,
        run_rank,
    )
    from job_etl_spark.sources.mock_adapter import MockAdapter

    ts1 = dt.datetime(2026, 1, 1, 7, 0, 0)
    ts2 = dt.datetime(2026, 1, 2, 7, 0, 0)
    ts3 = dt.datetime(2026, 1, 3, 7, 0, 0)

    def canon(store, table):
        df = store.read(table)
        rows = [
            tuple(
                tuple(sorted(v.items())) if isinstance(v, dict)
                else tuple(v) if isinstance(v, list) else v
                for v in r
            )
            for r in df.select(*sorted(df.columns)).collect()
        ]
        return sorted(rows, key=repr)

    def snap(store):
        return (canon(store, "fact_jobs"), canon(store, "dim_companies"))

    def drive(wh, mor):
        store = TableStore(spark, wh)
        snaps = []
        # run 1: 60 jobs → 30 identities; marts, then rank
        run_extract(store, MockAdapter(num_jobs=60), run_ts=ts1)
        run_normalize(store, MockAdapter(), run_ts=ts1, mor=mor)
        run_enrich(store, run_ts=ts1, mor=mor)
        run_marts(store, run_ts=ts1, mor=mor)
        snaps.append(snap(store))
        run_rank(store, mor=mor)
        snaps.append(snap(store))
        # run 2: 30 genuinely NEW identities (the mock's pools cycle with
        # period 30, so a bigger num_jobs adds no new keys — land novel
        # raw rows through the S4 landing path); marts must carry run-1
        # ranks forward while inserting these
        from job_etl_spark.sources.base import JobPostingRaw, land_raw

        template = MockAdapter(num_jobs=1).fetch_all()[0]
        novel = []
        for j in range(30):
            payload = dict(template.payload)
            payload["title"] = f"Staff Quantum Engineer {j}"
            payload["company"] = f"Nimbus Labs {j}"
            payload["description"] = (
                f"We are seeking a Staff Quantum Engineer {j} to join "
                f"Nimbus Labs {j}. Skills: Python, SQL."
            )
            novel.append(JobPostingRaw(source=template.source, payload=payload))
        store.write("raw_job_postings", land_raw(spark, novel, ts2), mode="append")
        run_normalize(store, MockAdapter(), min_collected_at=ts2, run_ts=ts2, mor=mor)
        run_enrich(store, run_ts=ts2, mor=mor)
        run_marts(store, run_ts=ts2, mor=mor)
        snaps.append(snap(store))
        run_rank(store, mor=mor)
        snaps.append(snap(store))
        return store, snaps

    cow, cow_snaps = drive(tempfile.mkdtemp(prefix="jobspark_martscow_"), mor=False)
    mor, mor_snaps = drive(tempfile.mkdtemp(prefix="jobspark_martsmor_"), mor=True)
    assert cow_snaps == mor_snaps  # bit-identical across layouts, per step

    # run-1 ranks survived run-2's marts increment (the carry), and the
    # 30 new rows got ranked in run 2
    scores = {
        r["hash_key"]: r["rank_score"]
        for r in mor.read("fact_jobs").select("hash_key", "rank_score").collect()
    }
    assert len(scores) == 60 and None not in scores.values()

    # MOR layout exists for both marts and the increments landed as deltas
    assert mor.mor_exists("fact_jobs") and mor.mor_exists("dim_companies")
    # fact deltas: marts#2 increment + rank#1 + rank#2 batches (run-1's
    # projection IS the base); dim delta: run-2's 30 new companies
    assert len(mor.mor_deltas("fact_jobs")) == 3
    assert len(mor.mor_deltas("dim_companies")) == 1

    # zero-new rerun: no delta growth, base files byte-untouched
    def mtimes(store, table):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(
                os.path.join(store.path(table), "_mor", "base", "**", "*"),
                recursive=True,
            )
        }
    fact_before = mtimes(mor, "fact_jobs")
    dim_before = mtimes(mor, "dim_companies")
    deltas_before = (mor.mor_deltas("fact_jobs"), mor.mor_deltas("dim_companies"))
    stats = run_marts(mor, run_ts=ts3, mor=True)
    assert stats["fact_new"] == 0 and stats["dim_new"] == 0
    assert (mor.mor_deltas("fact_jobs"), mor.mor_deltas("dim_companies")) == deltas_before
    assert mtimes(mor, "fact_jobs") == fact_before
    assert mtimes(mor, "dim_companies") == dim_before

    # compaction preserves the view and the COW twin equality
    mor.mor_compact("fact_jobs")
    mor.mor_compact("dim_companies")
    assert snap(mor) == cow_snaps[-1]
    assert all(r.passed for r in run_dq(mor))


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions replaces only the partitions present in the
    incoming frame — the 100 TB incremental-write path."""
    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("c", 100)], "src string, v int"
    )
    store.write("t", base, partition_by=["src"])
    patch = spark.createDataFrame([("b", 99)], "src string, v int")
    store.overwrite_partitions("t", patch, partition_by=["src"])
    out = {(r["src"], r["v"]) for r in store.read("t").collect()}
    # a and c untouched; b fully replaced
    assert out == {("a", 1), ("a", 2), ("c", 100), ("b", 99)}
    # conf restored to the safe session default
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"
    )


def test_cli_stage_sequence_and_exit_codes():
    """The stage CLIs compose against a shared warehouse (SURVEY §3.2
    contract): pipeline → dq exits 0; a stage without --warehouse exits 2.
    Runs in a subprocess because main() owns (and stops) its session."""
    import json
    import subprocess
    import sys
    import tempfile

    wh = tempfile.mkdtemp(prefix="jobspark_cli_wh_")
    code = f"""
import sys
from job_etl_spark.pipeline.runner import main
rc1 = main(["pipeline", "--warehouse", {wh!r}, "--num-jobs", "40"])
rc2 = main(["dq", "--warehouse", {wh!r}])
rc3 = main(["rank", "--warehouse", {wh!r}, "--all", "--dry-run"])
rc4 = main(["normalize"])  # missing --warehouse
rc5 = main(["extract", "--warehouse", {wh!r}, "--num-jobs", "10"])
rc6 = main(["normalize", "--warehouse", {wh!r}])
rc7 = main(["marts", "--warehouse", {wh!r}])
rc8 = main(["normalize", "--warehouse", {wh!r}, "--mor"])
print("RCS", rc1, rc2, rc3, rc4, rc5, rc6, rc7, rc8)
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=500,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rcs = [ln for ln in out.stdout.splitlines() if ln.startswith("RCS")][0].split()[1:]
    assert rcs == ["0", "0", "0", "2", "0", "0", "0", "0"], (rcs, out.stderr[-500:])
    import os as _os

    # the --mor run migrated staging into the merge-on-read layout
    assert _os.path.exists(f"{wh}/staging_job_postings/_mor/_META")

    # publish + notify stages against the same warehouse (S11/S12 CLI
    # surface: publisher_hyper/main.py, notifier/main.py)
    exp = tempfile.mkdtemp(prefix="jobspark_cli_exp_")
    code2 = f"""
import json, sys
from job_etl_spark.pipeline.runner import main
rc5 = main(["publish", "--warehouse", {wh!r}, "--output-dir", {exp!r}])
rc6 = main(["publish", "--warehouse", {wh!r}])  # missing --output-dir
rc7 = main(["notify", "--subject", "digest", "--text", "body",
            "--metadata", json.dumps({{"runs": 3}})])
rc8 = main(["notify"])  # missing --subject/--text
print("RCS2", rc5, rc6, rc7, rc8)
"""
    out2 = subprocess.run(
        [sys.executable, "-c", code2],
        capture_output=True, text=True, cwd="/root/repo", timeout=500,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    rcs2 = [ln for ln in out2.stdout.splitlines() if ln.startswith("RCS2")][0].split()[1:]
    assert rcs2 == ["0", "2", "0", "2"], (rcs2, out2.stderr[-500:])
    import glob as _glob

    assert _glob.glob(f"{exp}/fact_jobs/*.parquet")
    assert _glob.glob(f"{exp}/dim_companies/*.parquet")
    notify_line = [ln for ln in out2.stdout.splitlines() if "rendered_text" in ln][0]
    payload = json.loads(notify_line)
    assert "runs: 3" in payload["rendered_text"]


def test_cli_sigint_exits_130():
    """KeyboardInterrupt → exit 130 (reference exit contract,
    services/normalizer/main.py:289-354)."""
    import subprocess
    import sys

    code = """
import builtins, sys
import job_etl_spark.pipeline.runner as runner

def boom(*a, **k):
    raise KeyboardInterrupt()

runner.run_pipeline = boom
sys.exit(runner.main(["pipeline", "--num-jobs", "5"]))
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd="/root/repo", timeout=500,
    )
    assert out.returncode == 130, (out.returncode, out.stderr[-1000:])


def test_cli_query_stage():
    """`jobspark query <name>` runs a declared query ad hoc; ambiguous
    prefixes fail with candidates and exit 2. Subprocess because main()
    owns (and stops) its session."""
    import json as _json
    import subprocess
    import sys

    code = """
from job_etl_spark.pipeline.runner import main
rc1 = main(["query", "q135", "--sf", "/root/testdata/sf0.001", "--max-rows", "3"])
rc2 = main(["query", "q1", "--sf", "/root/testdata/sf0.001"])
print("RCS", rc1, rc2)
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=500,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    rcs = [ln for ln in lines if ln.startswith("RCS")][0].split()[1:]
    assert rcs == ["0", "2"], (rcs, out.stderr[-500:])
    rows = [ln for ln in lines if ln.startswith("{")]
    assert 1 <= len(rows) <= 3 and "event_type" in _json.loads(rows[0])
    assert "candidates" in out.stderr


def test_enrich_writeback_via_mor(spark):
    """J6 enrich via merge-on-read (r9 verdict #2): run_enrich(mor=True)
    computes skills/seniority for the PENDING subset only and lands it as
    ONE delta carrying just (hash_key + the three enricher-owned columns)
    with per-statement OVERWRITE classes — the staging policy keeps those
    columns keep-first for normalize statements, so the read folds mixed
    normalize/enrich statements through merge_statements. Write cost
    O(pending): the base is NEVER rewritten by an enrich run."""
    import datetime as dt
    import glob
    import json
    import os

    from job_etl_spark.pipeline.runner import run_enrich, run_extract, run_normalize
    from job_etl_spark.sources.mock_adapter import MockAdapter

    ts1 = dt.datetime(2026, 2, 1, 7, 0, 0)
    ts2 = dt.datetime(2026, 2, 2, 7, 0, 0)

    def canon(store, table="staging_job_postings"):
        df = store.read(table)
        rows = [
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        ]
        return sorted(rows, key=repr)

    def drive(wh, mor, buckets=None):
        store = TableStore(spark, wh)
        run_extract(store, MockAdapter(num_jobs=60), run_ts=ts1)
        run_normalize(store, MockAdapter(), run_ts=ts1, mor=mor, mor_buckets=buckets)
        run_enrich(store, run_ts=ts1, mor=mor)
        # batch 2 re-normalizes overlapping identities (keep-first must NOT
        # reset the enriched columns) and adds new pending rows
        run_extract(store, MockAdapter(num_jobs=100), run_ts=ts2)
        run_normalize(store, MockAdapter(), min_collected_at=ts2, run_ts=ts2, mor=mor)
        run_enrich(store, run_ts=ts2, mor=mor)
        # batch 2 fully overlaps batch 1's identities, so that enrich is a
        # no-op (0 pending) — a forced full recompute exercises a SECOND
        # enrich statement on top of the mixed stack in both layouts
        run_enrich(store, run_ts=ts2, include_existing=True, mor=mor)
        return store

    cow = drive(tempfile.mkdtemp(prefix="jobspark_j6cow_"), mor=False)
    mor = drive(tempfile.mkdtemp(prefix="jobspark_j6mor_"), mor=True)
    # third arm: the 100 TB layout — bucketed base, same bit-identical view
    bkt = drive(tempfile.mkdtemp(prefix="jobspark_j6bkt_"), mor=True, buckets=8)

    # bit-identical across layouts, for BOTH tables the stage writes
    assert canon(cow) == canon(mor)
    assert canon(cow) == canon(bkt)
    assert canon(cow, "staging_companies") == canon(mor, "staging_companies")
    # bucketed compaction folds the same mixed stack partition-scoped
    assert bkt.mor_compact("staging_job_postings") == 4
    assert canon(cow) == canon(bkt)
    st = mor.read("staging_job_postings")
    assert st.where(F.col("seniority_enrichment_status") == "not_tried").count() == 0

    # layout invariants: normalize batch 1 → delta 1, enrich 1 → delta 2,
    # normalize batch 2 → delta 3, the no-op enrich lands NOTHING (an empty
    # pending set must not grow the chain), the forced recompute → delta 4;
    # base files written once at migration and NEVER rewritten by any run
    assert mor.mor_deltas("staging_job_postings") == [1, 2, 3, 4]
    base_glob = os.path.join(
        mor.path("staging_job_postings"), "_mor", "base", "*.parquet"
    )
    base_mtimes = {f: os.path.getmtime(f) for f in glob.glob(base_glob)}

    # the enrich deltas are O(pending) and carry ONLY the enricher columns
    d2 = spark.read.parquet(
        os.path.join(mor.path("staging_job_postings"), "_mor", "delta", "2")
    )
    assert set(d2.columns) == {
        "hash_key", "skills_raw", "seniority_level", "seniority_enrichment_status",
    }
    # the statement's classes ride its schema sidecar
    with open(
        os.path.join(mor.path("staging_job_postings"), "_mor", "delta", "2", "_SCHEMA.json")
    ) as f:
        assert json.load(f)["classes"]["overwrite"] == [
            "seniority_enrichment_status", "seniority_level", "skills_raw",
        ]

    # plain re-run: nothing pending → no new delta, view unchanged, and
    # the base is still byte-untouched
    before = canon(mor)
    run_enrich(mor, run_ts=ts2, mor=True)
    assert mor.mor_deltas("staging_job_postings") == [1, 2, 3, 4]
    assert canon(mor) == before
    assert {f: os.path.getmtime(f) for f in glob.glob(base_glob)} == base_mtimes

    # compaction folds the mixed-statement stack; view unchanged
    assert mor.mor_compact("staging_job_postings") >= 4
    assert mor.mor_deltas("staging_job_postings") == []
    assert canon(mor) == before


def test_full_pipeline_mor_mode(spark):
    """run_pipeline(mor=True, mor_buckets=N) — every mutable write-back
    (normalize/enrich/rank) through the bucketed merge-on-read layout —
    produces bit-identical tables to the COW pipeline, and the mutable
    tables really are in the MOR layout afterwards."""
    def canon(wh, table):
        store = TableStore(spark, wh)
        df = store.read(table)
        rows = [
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*sorted(df.columns)).collect()
        ]
        return sorted(rows, key=repr)

    wh_cow = tempfile.mkdtemp(prefix="jobspark_pipecow_")
    wh_mor = tempfile.mkdtemp(prefix="jobspark_pipemor_")
    s_cow = run_pipeline(spark, wh_cow, num_jobs=80)
    s_mor = run_pipeline(spark, wh_mor, num_jobs=80, mor=True, mor_buckets=8)
    assert s_cow["rank"]["ranked_now"] == s_mor["rank"]["ranked_now"]
    for table in ("staging_job_postings", "fact_jobs", "dim_companies"):
        assert canon(wh_cow, table) == canon(wh_mor, table), table
    store = TableStore(spark, wh_mor)
    assert store.mor_exists("staging_job_postings")
    assert store.mor_exists("fact_jobs")
    assert store._mor_meta("staging_job_postings").get("buckets") == 8
