"""Merge-on-read delta resolution parity (J3 at 100 TB scale).

Pins the two claims the MOR read path rests on:

1. ``merge_statements`` (broadcast-shaped decomposition: left join +
   key-semi + anti) is result-identical to ``merge_upsert`` (full-outer
   join) for every per-column class, nulls and null base keys included.
2. The COALESCE-merge is associative: folding a stack of delta
   statements and merging ONCE equals applying ``merge_upsert``
   statement-by-statement — so the MOR read (one window pass over delta
   rows + one base merge) is bit-identical to the COW write chain, for a
   uniform table policy and for per-statement classes alike.

Reference semantics: services/normalizer/db_operations.py:427-460
(INSERT … ON CONFLICT DO UPDATE with keep-first/overwrite/COALESCE
column classes).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from job_etl_spark.operators.merge import merge_statements, merge_upsert

SCHEMA = "k string, ow string, co string, kf string, other string"
CLASSES = dict(
    keys=["k"], overwrite_cols=["ow"], coalesce_cols=["co"], keep_first_cols=["kf"]
)
# the same table policy as per-statement classes (``other`` is unclassified:
# keep-first)
POLICY = {"ow": "overwrite", "co": "coalesce", "kf": "keep_first", "other": "keep_first"}


def _policy_merge(base, stack, seqs):
    """The MOR kernel with every statement of ``stack`` under POLICY."""
    return merge_statements(base, stack, ["k"], {s: POLICY for s in seqs})


def _rows(rng, keys, tag):
    """One batch: a random subset of keys, random nulls in every class."""
    out = []
    for k in keys:
        if rng.random() < 0.45:
            continue
        out.append(
            (
                k,
                None if rng.random() < 0.3 else f"ow-{tag}-{k}",
                None if rng.random() < 0.5 else f"co-{tag}-{k}",
                None if rng.random() < 0.5 else f"kf-{tag}-{k}",
                None if rng.random() < 0.5 else f"ot-{tag}-{k}",
            )
        )
    return out


def _collect(df):
    rows = [tuple(r) for r in df.select("k", "ow", "co", "kf", "other").collect()]
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def test_statement_merge_matches_full_outer(spark):
    rng = random.Random(90)
    keys = [f"k{i}" for i in range(40)]
    base = spark.createDataFrame(_rows(rng, keys, "b") + [(None, "ow-null", None, None, None)], SCHEMA)
    # no null-keyed update row: mor_upsert refuses those
    ups = spark.createDataFrame(_rows(rng, keys, "u"), SCHEMA)
    ref = merge_upsert(base, ups, **CLASSES)
    onto = _policy_merge(base, ups.withColumn("_seq", F.lit(1)), [1])
    assert _collect(ref) == _collect(onto)


def test_fold_equals_sequential_cow_merges(spark):
    """fold(u1..u4) then one merge == merge(merge(merge(merge(base,u1),u2),u3),u4)."""
    rng = random.Random(91)
    keys = [f"k{i}" for i in range(30)]
    base = spark.createDataFrame(_rows(rng, keys, "b"), SCHEMA)
    batches = [spark.createDataFrame(_rows(rng, keys, f"u{s}"), SCHEMA) for s in range(1, 5)]

    cow = base
    for b in batches:
        cow = merge_upsert(cow, b, **CLASSES)

    stack = None
    for s, b in enumerate(batches, start=1):
        d = b.withColumn("_seq", F.lit(s))
        stack = d if stack is None else stack.unionByName(d)
    mor = _policy_merge(base, stack, range(1, 5))
    # no tombstone in the stack: every base key survives
    assert {r["k"] for r in base.collect()} <= {r["k"] for r in mor.collect()}
    assert _collect(cow) == _collect(mor)


def test_fold_tombstones(spark):
    """A key whose latest delta is a tombstone dies; a later upsert
    revives it with history BEFORE the tombstone discarded (fresh
    keep-first, fresh coalesce chain)."""
    base = spark.createDataFrame(
        [("a", "ow-b", "co-b", "kf-b", None), ("z", "ow-b", None, None, None)], SCHEMA
    )
    d1 = spark.createDataFrame(
        [("a", "ow-1", None, "kf-1", None, False), ("b", "ow-1", "co-1", "kf-1", None, False)],
        SCHEMA + ", _deleted boolean",
    ).withColumn("_seq", F.lit(1))
    d2 = spark.createDataFrame(
        [("a", None, None, None, None, True), ("b", None, None, None, None, True)],
        SCHEMA + ", _deleted boolean",
    ).withColumn("_seq", F.lit(2))
    d3 = spark.createDataFrame(
        [("b", "ow-3", None, None, "ot-3", False)], SCHEMA + ", _deleted boolean"
    ).withColumn("_seq", F.lit(3))
    stack = d1.unionByName(d2).unionByName(d3)
    # EVERY tombstoned key resets (a dead, b revived later): the base is
    # anti-joined on the full set so revives insert fresh
    out = {r["k"]: r for r in _policy_merge(base, stack, [1, 2, 3]).collect()}
    assert set(out) == {"b", "z"}  # a deleted, z untouched, b revived
    # b's pre-tombstone history (d1) must NOT leak into the revived row
    assert out["b"]["ow"] == "ow-3" and out["b"]["co"] is None
    assert out["b"]["kf"] is None and out["b"]["other"] == "ot-3"
    assert out["z"]["ow"] == "ow-b"


def test_fold_tombstone_revive_of_base_key(spark):
    """A key PRESENT IN THE BASE that is tombstoned then re-upserted must
    insert fresh: no keep-first/coalesce leakage of pre-delete base values
    into the revived row (sequential COW deletes the base row before the
    revive batch arrives). Regression test for the r9 advisory: anti-join
    on latest-tombstone keys alone kept the base row alive here."""
    base = spark.createDataFrame(
        [("a", "ow-b", "co-b", "kf-b", "ot-b"), ("z", "ow-b", "co-b", "kf-b", "ot-b")],
        SCHEMA,
    )
    d1 = spark.createDataFrame(
        [("a", None, None, None, None, True)], SCHEMA + ", _deleted boolean"
    ).withColumn("_seq", F.lit(1))
    d2 = spark.createDataFrame(
        [("a", "ow-2", None, None, None, False)], SCHEMA + ", _deleted boolean"
    ).withColumn("_seq", F.lit(2))
    stack = d1.unionByName(d2)
    out = {r["k"]: r for r in _policy_merge(base, stack, [1, 2]).collect()}

    # ground truth: sequential COW — delete a, then merge d2
    cow = base.join(
        d1.where(F.col("_deleted")).select("k"), ["k"], "left_anti"
    )
    cow = merge_upsert(cow, d2.drop("_deleted", "_seq"), **CLASSES)
    ref = {r["k"]: r for r in cow.collect()}
    assert set(out) == set(ref) == {"a", "z"}
    for k in ref:
        assert tuple(out[k]) == tuple(ref[k]), k
    # the revived row must NOT carry any pre-delete base value
    assert out["a"]["ow"] == "ow-2"
    assert out["a"]["co"] is None and out["a"]["kf"] is None and out["a"]["other"] is None


def test_policy_mor_read_never_shuffles_base(spark, tmp_path):
    """The physical plan of a policy-table mor_read must keep the base out
    of every exchange: the delta fold windows over delta rows only, and
    the base merge is broadcast-shaped (merge_statements) — BroadcastHash
    joins, no SortMergeJoin. This IS the 100 TB read-path claim: read cost
    is base-scan + delta-sized work, never an O(table) shuffle.

    The r12 per-run read memo wraps mor_read in a lazy localCheckpoint
    whose post-materialization plan is a block scan — build the fold
    directly here so the assertion still sees the FOLD plan (the memo
    adds a node above it, it does not change the fold;
    test_mor_read_memo covers the memo)."""
    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    base = spark.range(0, 1000).selectExpr(
        "cast(id as string) k", "'ow-b' ow", "'co-b' co", "'kf-b' kf", "cast(null as string) other"
    )
    store.write("t", base)
    store.mor_init(
        "t", store.read("t"), ["k"],
        policy={"overwrite": ["ow"], "coalesce": ["co"], "keep_first": ["kf"]},
    )
    upd = spark.range(0, 20).selectExpr(
        "cast(id as string) k", "'ow-1' ow", "cast(null as string) co", "'kf-1' kf", "'ot-1' other"
    )
    store.mor_upsert("t", upd)
    store.mor_upsert("t", upd.withColumn("ow", F.lit("ow-2")))
    meta = store._mor_meta("t")
    merged = store._mor_apply_deltas(
        "t", meta, store._mor_read_base("t", meta), store.mor_deltas("t")
    )
    assert merged.count() == 1000
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_fold_window_count_is_width_independent(spark, tmp_path):
    """The statement fold builds its windows in flat projections, so the
    merged plan's Window operator count does not grow with the table's
    width: a policy table at 4 and at 24 data columns, each with two full
    statements and one enricher-style partial override, plans the same
    number of Window operators, and never a SortMergeJoin (Catalyst plans
    on the driver, so every extra operator is driver time per read)."""
    import re

    from job_etl_spark.pipeline.runner import TableStore

    def window_ops(width):
        cols = [f"c{i}" for i in range(width)]
        store = TableStore(spark, str(tmp_path / f"w{width}"))

        def stmt(tag, n):
            return spark.range(0, n).selectExpr(
                "cast(id as string) k", *[f"'{tag}-{c}' {c}" for c in cols]
            )

        store.write("t", stmt("b", 200))
        store.mor_init(
            "t", store.read("t"), ["k"],
            policy={"overwrite": cols[0::3], "coalesce": cols[1::3], "keep_first": cols[2::3]},
        )
        store.mor_upsert("t", stmt("d1", 40))
        store.mor_upsert("t", stmt("d2", 60))
        store.mor_upsert(
            "t", stmt("enr", 20).select("k", *cols[1:3]), classes={"overwrite": cols[1:3]}
        )
        meta = store._mor_meta("t")
        merged = store._mor_apply_deltas(
            "t", meta, store._mor_read_base("t", meta), store.mor_deltas("t")
        )
        assert merged.count() == 200
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        return len(re.findall(r"(?m)^[\s:+-]*Window \[", plan))

    narrow, wide = window_ops(4), window_ops(24)
    assert narrow > 0 and narrow == wide, (narrow, wide)


def test_mor_table_refuses_forking_writes(spark, tmp_path):
    """A direct parquet write beside a MOR layout would be invisible to
    readers (read() prefers the merged view): plain overwrite must route
    through the MOR base replacement, and append / partition-overwrite
    must refuse loudly instead of silently forking."""
    import pytest

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(5).selectExpr("cast(id as string) k", "'v' v")
    store.write("t", df)
    store.mor_init("t", store.read("t"), ["k"])
    store.mor_upsert("t", spark.range(5, 8).selectExpr("cast(id as string) k", "'d' v"))

    # overwrite routes through the MOR layout: deltas folded away, view = df2
    df2 = spark.range(100, 103).selectExpr("cast(id as string) k", "'w' v")
    store.write("t", df2)
    assert store.mor_exists("t") and store.mor_deltas("t") == []
    assert {r["k"] for r in store.read("t").collect()} == {"100", "101", "102"}

    with pytest.raises(ValueError, match="merge-on-read"):
        store.write("t", df2, mode="append")
    with pytest.raises(ValueError, match="merge-on-read"):
        store.write("t", df2, partition_by=["v"])
    with pytest.raises(ValueError, match="merge-on-read"):
        store.overwrite_partitions("t", df2, partition_by=["v"])


def test_fold_overwrite_null_wins(spark):
    """overwrite class: the latest batch's value lands outright — an
    explicit null in a newer batch beats an older non-null (last-writer
    semantics, same as the COW chain)."""
    base = spark.createDataFrame([("a", "ow-b", "co-b", "kf-b", None)], SCHEMA)
    d1 = spark.createDataFrame([("a", "ow-1", "co-1", None, None)], SCHEMA).withColumn(
        "_seq", F.lit(1)
    )
    d2 = spark.createDataFrame([("a", None, None, "kf-2", None)], SCHEMA).withColumn(
        "_seq", F.lit(2)
    )
    cow = merge_upsert(merge_upsert(base, d1.drop("_seq"), **CLASSES), d2.drop("_seq"), **CLASSES)
    mor = _policy_merge(base, d1.unionByName(d2), [1, 2])
    assert _collect(cow) == _collect(mor)
    row = mor.first()
    assert row["ow"] is None  # d2's null overwrote
    assert row["co"] == "co-1" and row["kf"] == "kf-b"


def test_mor_init_removes_partitioned_cow_files(spark, tmp_path):
    """Migrating a COW table written with partition_by must delete the
    partition SUBDIRECTORIES too, not just top-level part files — a direct
    parquet read of the table path after migration must see only the MOR
    view, never pre-migration data (r9 advisory)."""
    import os

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(6).selectExpr("cast(id as string) k", "cast(id % 2 as string) p")
    store.write("t", df, partition_by=["p"])
    assert any(e.startswith("p=") for e in os.listdir(store.path("t")))
    store.mor_init("t", store.read("t"), ["k"])
    left = set(os.listdir(store.path("t")))
    assert left <= {"_mor", "_v", "_LATEST"}, left
    assert {r["k"] for r in store.read("t").collect()} == {str(i) for i in range(6)}


def test_mor_upsert_rejects_duplicate_key_batch(spark, tmp_path):
    """A delta is a statement: duplicate keys in one batch would tie on
    _seq inside the fold windows and silently break COW parity — mor_upsert
    must fail loudly and leave the delta chain unchanged (r9 advisory)."""
    import pytest

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(5).selectExpr("cast(id as string) k", "'v' v")
    store.write("t", df)
    store.mor_init("t", store.read("t"), ["k"])
    dup = spark.createDataFrame([("7", "a"), ("7", "b"), ("8", "c")], "k string, v string")
    with pytest.raises(ValueError, match="duplicate key"):
        store.mor_upsert("t", dup)
    assert store.mor_deltas("t") == []
    # a clean batch still lands
    ok = spark.createDataFrame([("7", "a"), ("8", "c")], "k string, v string")
    assert store.mor_upsert("t", ok) == 1


# ---------------------------------------------------------------------------
# Per-statement classes: what the incremental enricher needs — one table
# accumulating deltas with DIFFERENT per-column classes and partial column
# sets.
# ---------------------------------------------------------------------------

_ST_SCHEMA = "k string, a string, b string, c string"
_ST_COLS = ["a", "b", "c"]
_ST_CLASSES = ["overwrite", "coalesce", "keep_first"]


def _stmt_batch(rng, keys, tag):
    """One statement: a random carried-column subset, a random class per
    carried column, random nulls, occasional tombstones."""
    carried = sorted(rng.sample(_ST_COLS, rng.randint(1, 3)))
    classes = {c: rng.choice(_ST_CLASSES) for c in carried}
    rows = []
    for k in keys:
        if rng.random() < 0.5:
            continue
        if rng.random() < 0.15:
            rows.append((k, None, None, None, True))
        else:
            vals = {c: (None if rng.random() < 0.4 else f"{c}-{tag}-{k}") for c in carried}
            rows.append((k, vals.get("a"), vals.get("b"), vals.get("c"), False))
    return rows, carried, classes


def _stmt_ground_truth(spark, acc, rows, carried, classes):
    """Sequential COW: tombstones delete, then a merge_upsert carrying ONLY
    the statement's columns with the statement's classes."""
    df = spark.createDataFrame(rows, _ST_SCHEMA + ", _deleted boolean")
    alive = acc.join(df.where(F.col("_deleted")).select("k"), ["k"], "left_anti")
    ups = df.where(~F.col("_deleted")).select("k", *carried)
    return merge_upsert(
        alive,
        ups,
        ["k"],
        overwrite_cols=[c for c in carried if classes[c] == "overwrite"],
        coalesce_cols=[c for c in carried if classes[c] == "coalesce"],
        keep_first_cols=[c for c in carried if classes[c] == "keep_first"],
    )


def test_statement_fold_equals_sequential_mixed_cow(spark):
    """Randomized: a stack of statements with heterogeneous per-column
    classes, partial column sets, nulls, and tombstones folds (ONE window
    pass + ONE broadcast-shaped base merge) bit-identically to applying
    each statement as its own COW merge in sequence."""

    def collect(df):
        rows = [tuple(r) for r in df.select("k", *_ST_COLS).collect()]
        return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t))

    for trial in range(4):
        rng = random.Random(7000 + trial)
        keys = [f"k{i}" for i in range(12)]
        base_rows = [
            (
                k,
                f"a-b-{k}" if rng.random() < 0.7 else None,
                f"b-b-{k}" if rng.random() < 0.7 else None,
                f"c-b-{k}" if rng.random() < 0.7 else None,
            )
            for k in keys
            if rng.random() < 0.7
        ]
        base = spark.createDataFrame(base_rows, _ST_SCHEMA)
        cow = base
        stack, stmt_classes = None, {}
        for s in range(1, rng.randint(2, 6)):
            rows, carried, classes = _stmt_batch(rng, keys, f"t{s}")
            cow = _stmt_ground_truth(spark, cow, rows, carried, classes)
            d = spark.createDataFrame(rows, _ST_SCHEMA + ", _deleted boolean")
            for c in _ST_COLS:
                if c not in carried:
                    d = d.withColumn(c, F.lit(None).cast("string"))
            d = d.withColumn("_seq", F.lit(s)).select("k", *_ST_COLS, "_deleted", "_seq")
            stack = d if stack is None else stack.unionByName(d)
            stmt_classes[s] = {c: classes[c] for c in carried}
        mor = merge_statements(base, stack, ["k"], stmt_classes)
        assert collect(cow) == collect(mor), f"trial {trial}"


def test_store_mixed_statement_round_trip(spark, tmp_path):
    """TableStore end-to-end: normalize-style full statements interleaved
    with an enricher-style partial OVERWRITE statement; the mixed read is
    bit-identical to the sequential COW chain, never shuffles the base,
    and compaction preserves the view."""
    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    pol = {"overwrite": ["ow"], "coalesce": ["co"], "keep_first": ["kf"]}
    base = spark.createDataFrame(
        [("a", "ow-b", "co-b", "kf-b"), ("z", "ow-b", None, None)],
        "k string, ow string, co string, kf string",
    )
    store.write("t", base)
    store.mor_init("t", store.read("t"), ["k"], policy=pol)
    d1 = spark.createDataFrame(
        [("a", "ow-1", None, "kf-1"), ("b", "ow-1", "co-1", None)],
        "k string, ow string, co string, kf string",
    )
    store.mor_upsert("t", d1)
    # enricher-style statement: carries ONLY kf, and OVERWRITES it
    d2 = spark.createDataFrame([("a", "kf-ENR"), ("b", "kf-ENR")], "k string, kf string")
    store.mor_upsert("t", d2, classes={"overwrite": ["kf"]})
    d3 = spark.createDataFrame(
        [("a", "ow-3", "co-3", "kf-3")], "k string, ow string, co string, kf string"
    )
    store.mor_upsert("t", d3)

    cow = merge_upsert(base, d1, ["k"], overwrite_cols=["ow"], coalesce_cols=["co"], keep_first_cols=["kf"])
    cow = merge_upsert(cow, d2, ["k"], overwrite_cols=["kf"], coalesce_cols=[], keep_first_cols=[])
    cow = merge_upsert(cow, d3, ["k"], overwrite_cols=["ow"], coalesce_cols=["co"], keep_first_cols=["kf"])
    ref = {r["k"]: tuple(r) for r in cow.collect()}
    view = store.read("t")
    got = {r["k"]: tuple(r) for r in view.select(*cow.columns).collect()}
    assert got == ref
    # the enricher's overwrite beats both the policy keep-first AND a later
    # normalize statement's keep-first
    assert got["a"][3] == "kf-ENR" and got["b"][3] == "kf-ENR"
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert store.mor_compact("t") == 3
    got2 = {r["k"]: tuple(r) for r in store.read("t").select(*cow.columns).collect()}
    assert got2 == ref


def test_mor_upsert_classes_validation(spark, tmp_path):
    """Per-statement classes are rejected on latest-wins tables, for
    unknown class names, for key columns, and for columns the batch does
    not carry; a table policy with an unknown class or a column under two
    classes is rejected too."""
    import pytest

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(3).selectExpr("cast(id as string) k", "'v' v")
    store.write("lw", df)
    store.mor_init("lw", store.read("lw"), ["k"])
    with pytest.raises(ValueError, match="latest-wins"):
        store.mor_upsert("lw", df, classes={"overwrite": ["v"]})

    store.write("pt", df)
    store.mor_init("pt", store.read("pt"), ["k"], policy={"overwrite": ["v"]})
    with pytest.raises(ValueError, match="unknown class"):
        store.mor_upsert("pt", df, classes={"replace": ["v"]})
    with pytest.raises(ValueError, match="absent from the batch"):
        store.mor_upsert("pt", df, classes={"overwrite": ["nope"]})
    with pytest.raises(ValueError, match="key columns"):
        store.mor_upsert("pt", df, classes={"overwrite": ["k"]})
    with pytest.raises(ValueError, match="only one class"):
        store.mor_upsert("pt", df, classes={"overwrite": ["v"], "coalesce": ["v"]})
    # the table policy is held to the same vocabulary
    with pytest.raises(ValueError, match="only one class"):
        store.mor_init("pt2", df, ["k"], policy={"overwrite": ["v"], "keep_first": ["v"]})
    with pytest.raises(ValueError, match="unknown class"):
        store.mor_init("pt2", df, ["k"], policy={"replace": ["v"]})
    assert store.mor_deltas("pt") == []
    assert store.mor_upsert("pt", df, classes={"coalesce": ["v"]}) == 1


def test_bucketed_mor_partition_scoped_compaction(spark, tmp_path):
    """mor_init(buckets=N) hash-partitions the base by key; mor_compact
    then rewrites ONLY the buckets the delta keys touch (r9 verdict #3 —
    at 100 TB an amortized full-base rewrite is the dominant write cost;
    touched buckets track the delta key set, not the table). File-level
    assert: untouched bucket files keep their mtimes through compaction;
    the merged view is bit-identical before and after, and the next delta
    is numbered past the folded ones."""
    import glob
    import json
    import os

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    pol = {"overwrite": ["ow"], "coalesce": ["co"], "keep_first": ["kf"]}
    base = spark.range(0, 400).selectExpr(
        "cast(id as string) k", "'ow-b' ow", "cast(null as string) co", "'kf-b' kf"
    )
    store.write("t", base)
    store.mor_init("t", store.read("t"), ["k"], policy=pol, buckets=8)

    basedir = os.path.join(str(tmp_path), "t", "_mor", "base")
    bucket_dirs = sorted(
        d for d in os.listdir(basedir) if d.startswith("_bucket=")
    )
    assert len(bucket_dirs) == 8, bucket_dirs
    # the merged view never exposes the layout column
    assert "_bucket" not in store.read("t").columns

    # deltas touching a FEW keys (few buckets): an upsert, a partial
    # enricher-style statement, and a tombstone
    store.mor_upsert(
        "t",
        spark.createDataFrame(
            [("1", "ow-1", "co-1", None), ("999", "ow-new", None, "kf-new")],
            "k string, ow string, co string, kf string",
        ),
    )
    store.mor_upsert(
        "t",
        spark.createDataFrame([("2", "kf-ENR")], "k string, kf string"),
        classes={"overwrite": ["kf"]},
    )
    store.mor_upsert(
        "t",
        spark.createDataFrame([("3", True)], "k string, _deleted boolean"),
    )
    before = {
        r["k"]: tuple(r) for r in store.read("t").collect()
    }
    assert "999" in before and "3" not in before
    assert before["2"][3] == "kf-ENR"

    mtimes_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(basedir, "_bucket=*", "*.parquet"))
    }
    folded = store.mor_compact("t")
    assert folded == 3 and store.mor_deltas("t") == []
    mtimes_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(basedir, "_bucket=*", "*.parquet"))
    }
    # the 4 touched keys hash into at most 4 buckets — at least 4 of the 8
    # bucket dirs must be byte-untouched (same files, same mtimes)
    untouched = {
        f for f in mtimes_before if f in mtimes_after and mtimes_before[f] == mtimes_after[f]
    }
    touched_dirs = {
        os.path.basename(os.path.dirname(f))
        for f in set(mtimes_before) - untouched
    } | {
        os.path.basename(os.path.dirname(f))
        for f in set(mtimes_after) - set(mtimes_before)
    }
    assert len(touched_dirs) <= 4, touched_dirs
    untouched_dirs = {os.path.basename(os.path.dirname(f)) for f in untouched}
    assert len(untouched_dirs) >= 4, untouched_dirs

    after = {r["k"]: tuple(r) for r in store.read("t").collect()}
    assert after == before
    # the base records its fold point, so delta numbering never restarts
    with open(os.path.join(basedir, "_SCHEMA.json")) as f:
        assert json.load(f)["folded"] == 3

    # a later delta + compact keeps working on the compacted layout
    assert store.mor_upsert(
        "t", spark.createDataFrame([("5", None, "co-5", None)],
                                   "k string, ow string, co string, kf string")
    ) == 4
    v1 = {r["k"]: tuple(r) for r in store.read("t").collect()}
    assert store.mor_compact("t") == 1
    assert {r["k"]: tuple(r) for r in store.read("t").collect()} == v1


def test_bucketed_mor_rewrite_and_repair(spark, tmp_path):
    """A stage-level rewrite of a bucketed table keeps the bucketed layout
    (compaction stays partition-scoped afterwards), and an interrupted
    bucket swap (simulated ._old_bucket leftovers) is repaired on the next
    read — both crash states: renamed-away-only and fully-swapped."""
    import os
    import shutil

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    base = spark.range(0, 100).selectExpr("cast(id as string) k", "'v0' v")
    store.write("t", base)
    store.mor_init("t", store.read("t"), ["k"], buckets=4)
    basedir = os.path.join(str(tmp_path), "t", "_mor", "base")

    # rewrite must re-bucket
    store.rewrite("t", store.read("t").withColumn("v", F.lit("v1")))
    dirs = sorted(d for d in os.listdir(basedir) if d.startswith("_bucket="))
    assert len(dirs) == 4, dirs
    assert {r["v"] for r in store.read("t").collect()} == {"v1"}

    # crash state A: bucket renamed away, replacement never arrived
    victim = os.path.join(basedir, dirs[0])
    os.rename(victim, os.path.join(basedir, "._old" + dirs[0]))
    assert store.read("t").count() == 100  # repaired: restored
    assert os.path.exists(victim)

    # crash state B: swap finished but the backup was never cleaned
    shutil.copytree(victim, os.path.join(basedir, "._old" + dirs[0]))
    assert store.read("t").count() == 100  # repaired: debris dropped
    assert not os.path.exists(os.path.join(basedir, "._old" + dirs[0]))


def test_mor_upsert_rejects_null_keys(spark, tmp_path):
    """Null-keyed delta rows are refused: the reference's conflict target
    is a PRIMARY KEY, and the fold would group null keys while sequential
    COW inserts one per batch — fail loudly instead of diverging."""
    import pytest

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(3).selectExpr("cast(id as string) k", "'v' v")
    store.write("t", df)
    store.mor_init("t", store.read("t"), ["k"])
    bad = spark.createDataFrame([(None, "x"), ("9", "y")], "k string, v string")
    with pytest.raises(ValueError, match="null-keyed"):
        store.mor_upsert("t", bad)
    assert store.mor_deltas("t") == []


def test_mor_upsert_rejects_unknown_columns(spark, tmp_path):
    """A batch column the base schema lacks (other than the _deleted
    tombstone) would land and then be dropped at read without a word —
    mor_upsert refuses it before writing, for policy and latest-wins
    tables alike."""
    import pytest

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame([("a", "x")], "k string, v string")
    extra = spark.createDataFrame([("a", "y", "e")], "k string, v string, extra string")
    for name, policy in (("pol", {"coalesce": ["v"]}), ("lw", None)):
        store.write(name, base)
        store.mor_init(name, store.read(name), ["k"], policy=policy)
        with pytest.raises(ValueError, match="extra"):
            store.mor_upsert(name, extra)
        assert store.mor_deltas(name) == []
        # the tombstone column is not an unknown column
        tomb = spark.createDataFrame([("a", "y", False)], "k string, v string, _deleted boolean")
        assert store.mor_upsert(name, tomb) == 1
        assert [tuple(r) for r in store.read(name).collect()] == [("a", "y")]


def test_mor_stages_dry_run_is_pure(spark, tmp_path):
    """run_enrich/run_rank with mor=True + dry_run=True must not migrate
    the table layout (a dry run mutates nothing)."""
    import datetime as dt

    from job_etl_spark.pipeline.runner import (
        TableStore,
        run_enrich,
        run_extract,
        run_marts,
        run_normalize,
        run_rank,
    )
    from job_etl_spark.sources.mock_adapter import MockAdapter

    store = TableStore(spark, str(tmp_path))
    ts = dt.datetime(2026, 3, 1, 7, 0, 0)
    run_extract(store, MockAdapter(num_jobs=20), run_ts=ts)
    run_normalize(store, MockAdapter(), run_ts=ts)
    stats = run_enrich(store, run_ts=ts, mor=True, dry_run=True)
    assert stats["dry_run"] and not store.mor_exists("staging_job_postings")
    run_enrich(store, run_ts=ts)
    run_marts(store, run_ts=ts)
    stats = run_rank(store, rank_all=True, mor=True, dry_run=True)
    assert stats["dry_run"] and not store.mor_exists("fact_jobs")


def test_mor_read_memo(spark, tmp_path):
    """r12 per-run merged-view memo: two mor_reads of the same (deltas,
    base) state return the SAME frame (one fold feeds every consumer of a
    composed DAG run), an upsert or compaction invalidates the memo, and
    the memoized view stays row-identical to a fresh fold."""
    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, str(tmp_path))
    base = spark.range(0, 100).selectExpr("cast(id as string) k", "id v")
    store.write("t", base)
    store.mor_init("t", store.read("t"), ["k"])
    upd = spark.range(0, 10).selectExpr("cast(id as string) k", "id + 1000 v")
    store.mor_upsert("t", upd)

    m1 = store.mor_read("t")
    m2 = store.mor_read("t")
    assert m1 is m2, "same delta-stack state must hit the memo"
    rows = {(r["k"], r["v"]) for r in m1.collect()}
    assert ("5", 1005) in rows and ("50", 50) in rows and len(rows) == 100

    # a new delta invalidates the memo and the fresh fold sees it
    store.mor_upsert("t", spark.createDataFrame([("5", 2000)], "k string, v long"))
    m3 = store.mor_read("t")
    assert m3 is not m1
    rows3 = {(r["k"], r["v"]) for r in m3.collect()}
    assert ("5", 2000) in rows3 and len(rows3) == 100

    # memoized view == fresh (memo cleared) fold, bit-for-bit
    store._merged_memo.clear()
    fresh = {(r["k"], r["v"]) for r in store.mor_read("t").collect()}
    assert fresh == rows3
