"""Scale-path operators: bucketed zero-shuffle joins, salted skew
mitigation — plan-level and correctness assertions."""

from __future__ import annotations

from pyspark.sql import functions as F

from job_etl_spark.operators.bucketing import bucketed_join, write_bucketed
from job_etl_spark.operators.skew import salted_agg_count, salted_join
from job_etl_spark.tables import table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    orders = table(spark, SF_SMOKE, "orders")
    cust = table(spark, SF_SMOKE, "customer").withColumnRenamed("c_custkey", "o_custkey")
    write_bucketed(orders, "b_orders", ["o_custkey"], num_buckets=8)
    write_bucketed(cust, "b_customer", ["o_custkey"], num_buckets=8)
    # disable auto-broadcast so the join must pick sort-merge; bucketed
    # inputs then need no shuffle at all
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", ["o_custkey"])
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        # same result as the plain join
        plain = orders.join(cust, "o_custkey").count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_agg_count_matches_plain(spark):
    ev = table(spark, SF_SMOKE, "events")
    plain = {r["event_type"]: r["count"] for r in
             ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("count")).collect()}
    salted = {r["event_type"]: r["count"] for r in
              salted_agg_count(ev, ["event_type"]).collect()}
    assert salted == plain


def test_salted_join_matches_plain(spark):
    orders = table(spark, SF_SMOKE, "orders")
    cust = table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, "o_custkey").count()
    salted = salted_join(orders, cust, ["o_custkey"]).count()
    assert salted == plain


def test_banded_range_join_matches_naive(spark):
    """Bucketed plan == naive equi-join + range filter, including with a
    band narrower than the span (>2 covering buckets) — no duplicate or
    missing pairs, bounds inclusive."""
    from job_etl_spark.operators.range_join import banded_range_join

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 250), (3, "b", 100), (4, "c", 0)],
        "lid int, k string, lv long",
    )
    right = spark.createDataFrame(
        [(10, "a", 100), (11, "a", 150), (12, "a", 201), (13, "b", 99),
         (14, "b", 200), (15, "x", 100)],
        "rid int, k string, rv long",
    )
    naive = left.join(right.withColumnRenamed("k", "k2"),
                      (F.col("k") == F.col("k2"))
                      & (F.col("rv") >= F.col("lv"))
                      & (F.col("rv") <= F.col("lv") + 100))
    expect = sorted((r["lid"], r["rid"]) for r in naive.collect())
    for band in (100, 37, 250):
        got = banded_range_join(left, right, ["k"], "lv", "rv", 0, 100, band=band)
        assert sorted((r["lid"], r["rid"]) for r in got.collect()) == expect, band


def test_ivf_degenerates_to_brute_force(spark):
    """nprobe == n_centroids searches every inverted list → exactly the
    brute-force result; and with nprobe=2 every neighbor comes from a
    probed list (the approximation is structural, not a bug)."""
    from job_etl_spark.ml.ann import brute_force_topk, ivf_topk

    emb = table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    pred = F.col("vec_id") < 5
    exact = {(r["q_id"], r["rn"]): r["neighbor_id"]
             for r in brute_force_topk(emb, emb.where(pred), k=3).collect()}
    full_probe = {(r["q_id"], r["rn"]): r["neighbor_id"]
                  for r in ivf_topk(emb, pred, k=3, n_centroids=8, nprobe=8).collect()}
    assert full_probe == exact and len(exact) == 15
    approx = ivf_topk(emb, pred, k=3, n_centroids=8, nprobe=2)
    assert approx.count() == 15  # full k returned for every query


def test_clustered_write_enables_file_skipping(spark):
    """Range-clustered layout: a month-wide shipdate predicate must open
    ~1-2 of 8 files; the same data written unclustered leaves every file
    overlapping the predicate (no pruning possible)."""
    import tempfile

    from job_etl_spark.operators.layout import (
        files_matching_predicate,
        write_clustered,
    )

    li = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_shipdate")
    base = tempfile.mkdtemp(prefix="jobspark_layout_")
    clustered, scattered = f"{base}/clustered", f"{base}/scattered"
    write_clustered(li, clustered, ["l_shipdate"], num_files=8)
    li.repartition(8).write.mode("overwrite").parquet(scattered)

    import datetime as dt

    lo, hi = dt.datetime(1996, 3, 1), dt.datetime(1996, 3, 31)
    c_hits, c_total = files_matching_predicate(clustered, "l_shipdate", lo, hi)
    s_hits, s_total = files_matching_predicate(scattered, "l_shipdate", lo, hi)
    assert c_total == 8 and s_total == 8
    assert c_hits <= 2, f"clustered layout should skip most files, hit {c_hits}"
    assert s_hits == 8, "random layout cannot skip"
    # layout changes bytes, never rows
    assert spark.read.parquet(clustered).count() == li.count()


def test_compact_small_files(spark):
    """64 accreted small files → a handful after compaction; same rows;
    optional re-clustering keeps the footer-stat index tight."""
    import glob
    import tempfile

    from job_etl_spark.operators.layout import compact

    li = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_shipdate")
    path = tempfile.mkdtemp(prefix="jobspark_compact_") + "/t"
    li.repartition(64).write.parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 64
    before = spark.read.parquet(path).count()
    n = compact(spark, path, target_bytes=1 << 30, cluster_cols=["l_shipdate"])
    assert n <= 4
    assert spark.read.parquet(path).count() == before


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 5-node chain (diameter > 1 iteration),
    a separate 2-node component, and an edge-less node never appears."""
    from job_etl_spark.ml.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_tablestore_snapshot_versioning(spark):
    """Snapshot writes are immutable, the pointer flips atomically,
    time-travel reads any retained version, rollback is a pointer flip,
    and vacuum never removes the pointer target."""
    import tempfile

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, tempfile.mkdtemp(prefix="jobspark_snap_"))
    for i in (1, 2, 3):
        v = store.write_snapshot("t", spark.range(i * 10).withColumnRenamed("id", "x"))
        assert v == i
    assert store.snapshots("t") == [1, 2, 3]
    assert store.read_snapshot("t").count() == 30          # latest
    assert store.read_snapshot("t", version=1).count() == 10  # time travel
    store.rollback("t", 1)
    assert store.read_snapshot("t").count() == 10
    removed = store.vacuum_snapshots("t", keep=1)
    assert 1 not in removed  # pointer target survives vacuum
    assert store.read_snapshot("t").count() == 10
    assert store.read_snapshot("t", version=3).count() == 30  # kept by keep=1


def test_tablestore_schema_evolution(spark):
    """Appending files with a new column: merge_schema=True reads the
    union schema with NULLs for pre-evolution rows."""
    import tempfile

    from job_etl_spark.pipeline.runner import TableStore

    store = TableStore(spark, tempfile.mkdtemp(prefix="jobspark_evo_"))
    store.write("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    store.write(
        "t",
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
        mode="append",
    )
    merged = store.read("t", merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_compact_refuses_partitioned_table(spark, tmp_path):
    """compact() must not silently flatten a hive-partitioned layout."""
    import pytest as _pytest

    from job_etl_spark.operators.layout import compact

    path = str(tmp_path / "pt")
    spark.createDataFrame([("a", 1), ("b", 2)], "src string, v int").write.partitionBy(
        "src"
    ).parquet(path)
    with _pytest.raises(ValueError, match="partition dirs"):
        compact(spark, path)


class TestMergeOnRead:
    KEYS = ["k"]

    def _store(self, spark, tmp_path):
        from job_etl_spark.pipeline.runner import TableStore

        return TableStore(spark, str(tmp_path))

    def _rows(self, df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    def test_upsert_insert_update_delete(self, spark, tmp_path):
        st = self._store(spark, tmp_path)
        base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
        st.mor_init("t", base, self.KEYS)
        assert self._rows(st.mor_read("t")) == [(1, "a"), (2, "b"), (3, "c")]
        # batch 1: update k=2, insert k=4
        st.mor_upsert("t", spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"))
        assert self._rows(st.mor_read("t")) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
        # batch 2: tombstone k=1, re-update k=2 (newer delta wins)
        from pyspark.sql import functions as F
        b2 = spark.createDataFrame(
            [(1, None, True), (2, "BB", False)], "k int, v string, _deleted boolean"
        )
        st.mor_upsert("t", b2)
        assert self._rows(st.mor_read("t")) == [(2, "BB"), (3, "c"), (4, "d")]

    def test_compact_preserves_view_and_clears_deltas(self, spark, tmp_path):
        st = self._store(spark, tmp_path)
        st.mor_init("t", spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), self.KEYS)
        st.mor_upsert("t", spark.createDataFrame([(2, "B"), (5, "e")], "k int, v string"))
        before = self._rows(st.mor_read("t"))
        folded = st.mor_compact("t")
        assert folded == 1 and st.mor_deltas("t") == []
        assert self._rows(st.mor_read("t")) == before
        # post-compaction upserts keep working against the new base
        st.mor_upsert("t", spark.createDataFrame([(1, "A")], "k int, v string"))
        assert self._rows(st.mor_read("t")) == [(1, "A"), (2, "B"), (5, "e")]

    def test_read_avoids_base_rewrite(self, spark, tmp_path):
        # the write path must not touch base files — that IS the feature
        import glob, os
        st = self._store(spark, tmp_path)
        st.mor_init("t", spark.createDataFrame([(1, "a")], "k int, v string"), self.KEYS)
        base_files = {
            f: os.path.getmtime(f)
            for f in glob.glob(str(tmp_path / "t" / "_mor" / "base" / "*.parquet"))
        }
        st.mor_upsert("t", spark.createDataFrame([(9, "z")], "k int, v string"))
        after = {
            f: os.path.getmtime(f)
            for f in glob.glob(str(tmp_path / "t" / "_mor" / "base" / "*.parquet"))
        }
        assert base_files == after


def test_scan_pruned_equals_full_filter(spark, tmp_path):
    from pyspark.sql import functions as F

    from job_etl_spark.operators.layout import scan_pruned, write_clustered

    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 500).cast("int").alias("bucket")
    )
    path = str(tmp_path / "clustered")
    write_clustered(df, path, ["bucket"], num_files=10)
    got = sorted(r["id"] for r in scan_pruned(spark, path, "bucket", 10, 30).collect())
    want = sorted(
        r["id"] for r in spark.read.parquet(path)
        .where(F.col("bucket").between(10, 30)).collect()
    )
    assert got == want and got
    # and it genuinely opens fewer files than exist
    pruned_files = scan_pruned(spark, path, "bucket", 10, 30).inputFiles()
    assert len(pruned_files) < len(spark.read.parquet(path).inputFiles())
    # empty range on a valid column degrades to an empty result, not an error
    assert scan_pruned(spark, path, "bucket", 9000, 9001).count() == 0


def test_segmented_ewma_equals_plain_fold(spark):
    """q136's chunk-merge algebra must reproduce the plain zero-init
    EWMA fold over each user's full ordered timeline (up to the final
    round): s' = αx + (1−α)s is affine, so segment summaries
    (s_c, (1−α)^len) composed in order are EXACTLY the full fold."""
    from job_etl_spark.queries.observability import (
        _Q136_ALPHA,
        q136_ewma_segmented,
    )
    from job_etl_spark.tables import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: r["ewma"] for r in q136_ewma_segmented(spark, sf).collect()
    }
    rows = (
        table(spark, sf, "events")
        .select("user_id", F.unix_micros("ts").alias("t"), "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["t"], r["event_id"], r["value"]))
    for uid, seq in by_user.items():
        s = 0.0
        for _, _, x in sorted(seq):
            s = _Q136_ALPHA * x + (1 - _Q136_ALPHA) * s
        assert abs(got[uid] - s) < 5e-7, (uid, got[uid], s)


def test_global_row_number_matches_window(spark):
    from pyspark.sql import Window

    from job_etl_spark.operators.ranks import global_row_number

    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    got = global_row_number(docs, ["n_chars", "doc_id"], "rank")
    w = Window.orderBy("n_chars", "doc_id")
    want = docs.withColumn("rank", F.row_number().over(w).cast("bigint"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_global_ntile_matches_window(spark):
    from pyspark.sql import Window

    from job_etl_spark.operators.ranks import global_ntile

    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    for n in (3, 7, 10):
        got = global_ntile(docs, ["n_chars", "doc_id"], n, "tile")
        w = Window.orderBy("n_chars", "doc_id")
        want = docs.withColumn("tile", F.ntile(n).over(w))
        assert got.exceptAll(want).count() == 0, n
        assert want.exceptAll(got).count() == 0, n


def test_global_ntile_more_tiles_than_rows(spark):
    from job_etl_spark.operators.ranks import global_ntile

    five = table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars").limit(5)
    got = global_ntile(five, ["n_chars", "doc_id"], 100, "tile")
    tiles = sorted(r["tile"] for r in got.collect())
    assert tiles == [1, 2, 3, 4, 5]


def test_lsh_density_retune_is_sound(spark):
    """The q27/q122 (bands, planes_per_band, threshold) kwargs are the
    density re-tune for dup-dense corpora (SCALING.md 64x probe). Any
    setting must stay SOUND: every emitted pair really has cosine >=
    threshold (banding only generates candidates; the exact filter
    decides), i.e. the re-tuned output is a subset of the brute-force
    threshold pairs. Recall may drop (LSH S-curve) - soundness may not."""
    import itertools

    from job_etl_spark.ml.ann import py_cosine
    from job_etl_spark.queries.lifedata import q27_embedding_neardup
    from tests.conftest import SF_SMOKE

    theta = 0.3
    got = {
        (r["vec_a"], r["vec_b"])
        for r in q27_embedding_neardup(
            spark, SF_SMOKE, bands=16, planes_per_band=6, threshold=theta
        ).collect()
    }
    emb = {
        r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"])
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(emb), 2)
        if emb[a][1] == emb[b][1]
        and (py_cosine(emb[a][0], emb[b][0]) or -1.0) >= theta
    }
    assert got, "re-tuned setting found no pairs at theta=0.3 (fixture drift?)"
    assert got <= brute, got - brute


def test_lsh_max_bucket_guard_drops_only_capped_buckets(spark):
    """max_bucket on q27/q122 and the minhash/simhash candidate generators
    must (a) leave the default None path byte-identical, (b) with a cap,
    emit a subset of the uncapped pairs (dropping a bucket can only remove
    candidates) and (c) with a cap at or above the largest bucket, emit
    exactly the uncapped pairs."""
    from job_etl_spark.ml.dedup import (
        minhash_bands,
        minhash_lsh_candidates,
        simhash_block_pairs,
    )
    from job_etl_spark.queries.lifedata import q27_embedding_neardup
    from job_etl_spark.queries.modelprep import q122_semantic_dedup
    from tests.conftest import SF_SMOKE

    base27 = {
        (r["vec_a"], r["vec_b"]) for r in q27_embedding_neardup(spark, SF_SMOKE).collect()
    }
    capped27 = {
        (r["vec_a"], r["vec_b"])
        for r in q27_embedding_neardup(spark, SF_SMOKE, max_bucket=3).collect()
    }
    assert capped27 <= base27
    # q122 output is per-cluster stats; with a cap the dropped count per
    # cluster can only stay equal or shrink
    base122 = {r["cid"]: r["n_dropped"] for r in q122_semantic_dedup(spark, SF_SMOKE).collect()}
    capped122 = {
        r["cid"]: r["n_dropped"]
        for r in q122_semantic_dedup(spark, SF_SMOKE, max_bucket=3).collect()
    }
    assert set(capped122) <= set(base122)
    assert all(capped122[c] <= base122[c] for c in capped122)

    # minhash: four identical docs share every band bucket (B = 4)
    fox = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [(i, fox) for i in range(1, 5)]
        + [(5, "a b c d e f g h i j"), (6, "a b c d e f g h i k"),
           (7, "completely different words go right here now")],
        "doc_id long, text string",
    )
    largest = (
        minhash_bands(docs).groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert largest >= 4

    def lsh(cap):
        return {tuple(r) for r in minhash_lsh_candidates(docs, max_bucket=cap).collect()}

    base = lsh(None)
    below = lsh(largest - 1)
    assert {r[:2] for r in below} < {r[:2] for r in base}
    assert lsh(largest) == base
    assert lsh(largest + 1) == base

    # simhash: four equal signatures fill one bucket per band (B = 4); the
    # complementary pair (hamming 1) shares no band with them
    top = (1 << 60) - 1
    sigs = spark.createDataFrame(
        [(i, "b", 0) for i in range(1, 5)] + [(5, "b", top), (6, "b", top ^ 1)],
        "doc_id long, blk string, simhash long",
    )

    def sim(cap):
        return {
            tuple(r)
            for r in simhash_block_pairs(sigs, ("blk",), max_hamming=8, max_bucket=cap).collect()
        }

    base = sim(None)
    assert base == {(a, b, 0) for a in range(1, 5) for b in range(a + 1, 5)} | {(5, 6, 1)}
    assert sim(3) == {(5, 6, 1)}
    assert sim(4) == base
    assert sim(10) == base


def test_connected_components_hybrid_paths_agree(spark):
    """The small-graph driver union-find and the distributed label
    propagation reach the same fixpoint (component minimum) — the
    ``collect_max_edges`` switch must be invisible to results."""
    import random

    from job_etl_spark.ml.cluster import connected_components

    rng = random.Random(4242)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(80)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        small = {
            (r["node"], r["cluster_id"])
            for r in connected_components(df).collect()
        }
        dist = {
            (r["node"], r["cluster_id"])
            for r in connected_components(df, collect_max_edges=0).collect()
        }
        assert small == dist and small


def test_connected_components_null_edges_and_wide_ids(spark):
    """ADVICE r4: a NULL edge endpoint in toPandas() downgrades bigint id
    columns to float64, corrupting ids >= 2^53 and injecting NaN keys into
    the driver union-find. NULL-endpoint edges must be dropped on both
    paths, and wide (>2^53) ids must survive bit-exact."""
    from job_etl_spark.ml.cluster import connected_components

    wide_a = 576460752303423499  # 2^59 + 11 — float64 rounds the low bits
    wide_b = 576460752303423497
    assert int(float(wide_a)) != wide_a
    rows = [
        (wide_a, wide_b),
        (1, 2),
        (None, 7),  # no connectivity — must vanish, not poison the batch
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_a long, doc_b long")
    for kw in ({}, {"collect_max_edges": 0}):
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(df, **kw).collect()
        }
        assert got == {
            wide_a: wide_b,
            wide_b: wide_b,
            1: 1,
            2: 1,
        }


def test_connected_components_string_node_ids(spark):
    """Node ids need only be orderable — the pipeline's near-dup CC keys
    on a string hash_key."""
    from job_etl_spark.ml.cluster import connected_components

    df = spark.createDataFrame(
        [("kb", "ka"), ("kb", "kc"), ("kx", "ky")], "doc_a string, doc_b string"
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == {"ka": "ka", "kb": "ka", "kc": "ka", "kx": "kx", "ky": "kx"}


def test_connected_components_nonconvergence_raises(spark):
    """An exhausted iteration budget must raise, not return the
    intermediate (under-merged) labels as if they were the fixpoint: a
    silently-wrong dedup clustering poisons everything downstream of it.
    A 64-node chain cannot converge in one round, but does converge —
    exactly, to the chain minimum — within the default budget thanks to
    pointer jumping (O(log diameter) rounds)."""
    import pytest

    from job_etl_spark.ml.cluster import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(chain, max_iter=1, collect_max_edges=0).collect()
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(chain, collect_max_edges=0).collect()
    }
    assert got == {(i, 0) for i in range(64)}
