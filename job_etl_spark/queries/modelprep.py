"""Model-prep tranche 5: the statistical curation operators that sit
between raw-corpus cleaning (lifedata/curation) and the training run —
LM-based quality scoring, mixture re-weighting, content-defined chunking,
storage compaction planning, optimizer-style cardinality estimation, and
SemDeDup-style semantic deduplication.

Reference parity: the reference engine has no LLM-data surface (its scope
is the job-ETL domain, SURVEY §2); these operators extend the engine the
way the build brief mandates — each one is still a Query with a DuckDB
oracle twin and follows the parity rules in ``queries._util`` (exact
DECIMAL aggregation, md5-only hashing, per-row IEEE double arithmetic,
transcendentals only on integer or pre-rounded inputs with a post-round).

Scale stance (100 TB): every operator here is shuffle-minimal by
construction — token/bigram aggregations are partial-agg'd before their
single shuffle, joins back to docs are keyed equi-joins, the semantic
dedup candidate join is banded (centroid, band, bucket) so no block is
unbounded, and global scalars are either window totals over already-tiny
aggregates or bounded collects (8 centroids, one vocab count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_etl_spark.functions.chunking import tokens_expr
from job_etl_spark.ml.dedup import hexint
from job_etl_spark.queries._util import Query, dround, sql_dround
from job_etl_spark.tables import parallel_table, table

_SQL_HEXINT = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"

_SQL_TOKS = """
  SELECT doc_id, lang,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
"""


# ---------------------------------------------------------------------------
# q117 — bigram-LM perplexity scoring (CCNet-style quality filter: score
# every document by bits-per-bigram under an add-one bigram model trained
# on the corpus itself; high bits ⇒ atypical text ⇒ filter candidate).
#
# Scale shape: two token-keyed aggregations (unigram + bigram counts),
# both with map-side partial aggregation so a viral token collapses
# before its shuffle; per-occurrence scoring is a keyed equi-join of the
# exploded bigram stream against the two count tables (AQE handles hot
# keys); per-doc and per-lang rollups are ordinary hash aggs. The vocab
# size V rides the plan as a broadcast 1-row aggregate (no driver
# collect), and the token frame is checkpointed so its three consumers
# share ONE corpus scan.
#
# Parity: P(w2|w1) = (C(bigram)+1) / (C(w1)+V) — all integers, identical
# in both engines; bits = log2(C1+V) − log2(C2+1) applies log2 to exact
# integer-valued doubles and rounds the per-occurrence result to 8
# decimals before any aggregation, so engine libm disagreement (≤1 ulp)
# is absorbed by the round.
# ---------------------------------------------------------------------------
_Q117_FLAG_BITS = 12.0


def _bigrams(toks) -> "F.Column":
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.concat_ws(" ", F.slice(toks, i, 2)).alias("bg"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))


def _q117_toks(spark: SparkSession, sf: str) -> DataFrame:
    # pre-checkpoint token frame, module-level so the column-pruning plan
    # guard can assert the scan shape that the checkpoint then hides
    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    return docs.select("doc_id", "lang", tokens_expr("text").alias("toks"))


def q117_bigram_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    # three consumers (vocab, unigrams, bigram occurrences) — checkpoint so
    # the corpus is scanned+tokenized ONCE, not once per branch
    toks = _q117_toks(spark, sf).localCheckpoint(eager=False)
    occ = toks.select(
        "doc_id", "lang", F.explode(_bigrams(F.col("toks"))).alias("o")
    ).select("doc_id", "lang", F.col("o.w1").alias("w1"), F.col("o.bg").alias("bg"))
    uni = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # vocab size rides the plan as a broadcast 1-row frame instead of a
    # driver-collected literal — and it is COUNT(*) over the unigram
    # count table (|distinct tokens| == |uni groups|, the same integer
    # the oracle's COUNT(DISTINCT w) computes), so the third full
    # explode+distinct pass over the token frame is gone (guide §2.3:
    # one corpus-width pass fewer; r11)
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    big = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    bits = dround(
        F.log2((F.col("c1") + F.col("v")).cast("double"))
        - F.log2((F.col("c2") + 1).cast("double")),
        8,
    )
    per_doc = (
        occ.join(big, "bg")
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("bits", bits)
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                (
                    F.sum(F.col("bits").cast("decimal(30,8)")).cast("double")
                    / F.count(F.lit(1))
                ).cast("decimal(24,10)"),
                6,
            )
            .cast("double")
            .alias("doc_bits"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            (
                F.sum(F.col("doc_bits").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(24,10)"),
            6,
        )
        .cast("double")
        .alias("avg_bits"),
        F.count(F.when(F.col("doc_bits") > _Q117_FLAG_BITS, 1)).alias("n_flagged"),
    )


_Q117_SQL = f"""
WITH t AS ({_SQL_TOKS}),
occ AS (
  SELECT doc_id, lang, toks[i] AS w1,
         toks[i] || ' ' || toks[i + 1] AS bg
  FROM t, LATERAL (
    SELECT unnest(range(1, greatest(len(toks), 1))) AS i
  ) u
  WHERE len(toks) >= 2
), v AS (
  SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t)
), uni AS (
  SELECT w AS w1, COUNT(*) AS c1 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
), big AS (
  SELECT bg, COUNT(*) AS c2 FROM occ GROUP BY bg
), per_doc AS (
  SELECT occ.doc_id, occ.lang,
    CAST(ROUND(CAST(CAST(SUM(CAST(
      {sql_dround("log2((c1 + v.v)::DOUBLE) - log2((c2 + 1)::DOUBLE)", 8)}
      AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS DECIMAL(24,10)), 6) AS DOUBLE) AS doc_bits
  FROM occ JOIN big USING (bg) JOIN uni USING (w1) CROSS JOIN v
  GROUP BY occ.doc_id, occ.lang
)
SELECT lang, COUNT(*) AS n_docs,
  CAST(ROUND(CAST(CAST(SUM(CAST(doc_bits AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS avg_bits,
  COUNT(CASE WHEN doc_bits > {_Q117_FLAG_BITS} THEN 1 END) AS n_flagged
FROM per_doc GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q118 — temperature-based mixture resampling (multilingual-pretraining
# style: sample source i with probability ∝ p_i^α, α<1 upweights rare
# sources), then a DETERMINISTIC md5-threshold acceptance pass that
# realizes the plan — no RNG, so reruns and the oracle agree exactly.
#
# Scale shape: per-source stats are one partial-agg'd shuffle; the
# normalizing totals are window sums over the ALREADY-AGGREGATED frame
# (a handful of rows — no second pass over the data, no 1-row NLJ
# scalar); the acceptance pass re-joins the per-source rate as a
# broadcast-sized dim and filters map-only.
#
# Parity: p_i rounded at 8 via exact decimal division; pow applies to
# pre-rounded doubles and its result is rounded at 8 before the exact
# decimal normalization — libm variance absorbed by the rounds.
# ---------------------------------------------------------------------------
_Q118_ALPHA = 0.7


def q118_temperature_resample(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    p = F.round(
        F.col("n_docs").cast("decimal(30,8)") / F.sum("n_docs").over(w_all), 8
    ).cast("double")
    per_src = per_src.withColumn("p", p)
    w_raw = dround(F.pow(F.col("p"), F.lit(_Q118_ALPHA)), 8)
    per_src = per_src.withColumn("w_raw", w_raw)
    weight = F.round(
        F.col("w_raw").cast("decimal(30,8)")
        / F.sum(F.col("w_raw").cast("decimal(30,8)")).over(w_all),
        8,
    ).cast("double")
    per_src = per_src.withColumn("weight", weight).withColumn(
        "n_total", F.sum("n_docs").over(w_all)
    )
    # acceptance rate: expected docs / available docs, clamped at 1 (α<1
    # upweights rare sources past their own size)
    rate = F.least(
        F.lit(1.0),
        F.round(
            F.col("weight").cast("decimal(30,8)") * F.col("n_total") / F.col("n_docs"),
            8,
        ).cast("double"),
    )
    # per_src (one row per source) feeds the broadcast rate dim and the
    # final report join — checkpoint so the stats scan runs once
    per_src = per_src.withColumn("rate", rate).localCheckpoint(eager=False)
    accepted = (
        docs.select("doc_id", "source")
        .join(F.broadcast(per_src.select("source", "rate")), "source")
        .where(
            hexint(F.col("doc_id").cast("string")) % 1000000
            < F.floor(F.col("rate") * 1000000)
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        per_src.join(accepted, "source", "left")
        .select(
            "source",
            "n_docs",
            "p",
            "weight",
            "rate",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


_Q118_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), stats AS (
  SELECT source, n_docs,
    CAST(ROUND(CAST(n_docs AS DECIMAL(30,8)) / SUM(n_docs) OVER (), 8) AS DOUBLE) AS p,
    SUM(n_docs) OVER () AS n_total
  FROM per_src
), weighted AS (
  SELECT source, n_docs, p, n_total,
    {sql_dround(f"pow(p, {_Q118_ALPHA})", 8)} AS w_raw
  FROM stats
), normed AS (
  SELECT source, n_docs, p, n_total,
    CAST(ROUND(CAST(w_raw AS DECIMAL(30,8))
      / SUM(CAST(w_raw AS DECIMAL(30,8))) OVER (), 8) AS DOUBLE) AS weight
  FROM weighted
), rated AS (
  SELECT source, n_docs, p, weight,
    least(1.0, CAST(ROUND(CAST(weight AS DECIMAL(30,8)) * n_total / n_docs, 8) AS DOUBLE))
      AS rate
  FROM normed
), accepted AS (
  SELECT d.source, COUNT(*) AS n_sampled
  FROM documents d JOIN rated r ON d.source = r.source
  WHERE {_SQL_HEXINT.format(expr="CAST(d.doc_id AS VARCHAR)")} % 1000000
        < floor(r.rate * 1000000)
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.p, r.weight, r.rate,
  COALESCE(a.n_sampled, 0) AS n_sampled
FROM rated r LEFT JOIN accepted a ON r.source = a.source
"""


# ---------------------------------------------------------------------------
# q119 — content-defined chunking (rolling-hash breakpoints, the dedup-
# friendly alternative to fixed windows: a cut lands wherever the hash of
# the trailing 4-token window ≡ 0 mod 64, so an insertion early in a doc
# shifts ONE chunk boundary instead of every downstream window).
#
# Scale shape: entirely map-side — cut positions, chunk lengths, and
# per-doc stats are array expressions inside one codegen'd stage; the
# only shuffle is the final per-lang rollup. No Python, no explode of
# per-token rows (the token stream never leaves its array).
#
# Parity: cuts and lengths are pure integer/md5 arithmetic; the oracle
# reproduces the identical cut set from the same md5 window hashes.
# ---------------------------------------------------------------------------
_CDC_W = 4  # rolling window width (tokens)
_CDC_MASK = 64  # expected chunk length (tokens)


def _cdc_cuts(toks) -> "F.Column":
    """Positions i (1-based, _CDC_W ≤ i ≤ n) where the window
    toks[i-3..i] hashes to 0 mod _CDC_MASK — each is a chunk end."""
    n = F.size(toks)
    return F.when(
        n >= _CDC_W,
        F.filter(
            F.sequence(F.lit(_CDC_W), F.greatest(n, F.lit(_CDC_W))),
            lambda i: hexint(F.concat_ws(" ", F.slice(toks, i - _CDC_W + 1, _CDC_W)))
            % _CDC_MASK
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))


def q119_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", "lang", tokens_expr("text").alias("toks"))
    n = F.size("toks")
    cuts = _cdc_cuts(F.col("toks"))
    d = toks.where(n > 0).select(
        "doc_id",
        "lang",
        n.alias("n_toks"),
        cuts.alias("cuts"),
    )
    # chunk lengths: diffs of consecutive cut positions, plus the tail
    # segment (dropped when a cut lands exactly on the last token)
    bounds = F.when(
        (F.size("cuts") == 0) | (F.element_at("cuts", -1) != F.col("n_toks")),
        F.concat("cuts", F.array(F.col("n_toks"))),
    ).otherwise(F.col("cuts"))
    d = d.withColumn("bounds", bounds)
    lens = F.zip_with(
        F.col("bounds"),
        F.concat(F.array(F.lit(0)), F.slice("bounds", 1, F.size("bounds") - 1)),
        lambda b, a: b - a,
    )
    per_doc = d.select("doc_id", "lang", F.explode(lens).alias("chunk_len"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.round(
            (
                F.sum(F.col("chunk_len").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(24,10)"),
            6,
        )
        .cast("double")
        .alias("avg_len"),
        F.max("chunk_len").alias("max_len"),
    )


_Q119_SQL = f"""
WITH t AS ({_SQL_TOKS}),
d AS (
  SELECT doc_id, lang, len(toks) AS n_toks,
    list_filter(range(1, len(toks) + 1), i -> i >= {_CDC_W} AND
      {_SQL_HEXINT.format(expr=f"array_to_string(toks[i - {_CDC_W - 1}:i], ' ')")}
        % {_CDC_MASK} = 0) AS cuts
  FROM t WHERE len(toks) > 0
), b AS (
  SELECT doc_id, lang, n_toks,
    CASE WHEN len(cuts) = 0 OR cuts[-1] <> n_toks
         THEN list_append(cuts, n_toks) ELSE cuts END AS bounds
  FROM d
), lens AS (
  SELECT doc_id, lang,
    bounds[i] - (CASE WHEN i = 1 THEN 0 ELSE bounds[i - 1] END) AS chunk_len
  FROM b, LATERAL (SELECT unnest(range(1, len(bounds) + 1)) AS i) u
)
SELECT lang, COUNT(*) AS n_chunks,
  CAST(ROUND(CAST(CAST(SUM(CAST(chunk_len AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS avg_len,
  MAX(chunk_len) AS max_len
FROM lens GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q120 — compaction planning (the table-maintenance half of a lakehouse
# engine: given a small-file inventory, assign files to target-size
# compaction groups so each rewrite task gets ~TARGET bytes — the
# planning step of Delta OPTIMIZE / Iceberg rewriteDataFiles).
#
# The inventory is simulated from events as one "file" per (event_type,
# hour); the greedy assignment is bin = start-offset DIV target over a
# per-type running sum — pure windows, zero extra passes. Each output
# row is one rewrite task with its file count, byte total, and the hour
# range it covers (the scan predicate of the rewrite job).
# ---------------------------------------------------------------------------
_Q120_TARGET = 64_000  # bytes per compaction group


def q120_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    files = (
        ev.withColumn("hour", F.floor(F.unix_micros("ts") / 3_600_000_000))
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.octet_length("props")) + 24 * F.count(F.lit(1))).alias(
                "size_bytes"
            ),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    files = files.withColumn(
        "bin",
        F.floor(
            (F.sum("size_bytes").over(w) - F.col("size_bytes")) / _Q120_TARGET
        ),
    )
    return files.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("total_bytes"),
        F.min("hour").alias("hour_from"),
        F.max("hour").alias("hour_to"),
    )


_Q120_SQL = f"""
WITH files AS (
  SELECT event_type,
    CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hour,
    COUNT(*) AS n_rows,
    SUM(strlen(props)) + 24 * COUNT(*) AS size_bytes
  FROM events GROUP BY 1, 2
), binned AS (
  SELECT event_type, hour, n_rows, size_bytes,
    CAST(floor((SUM(size_bytes) OVER (PARTITION BY event_type ORDER BY hour)
      - size_bytes) / {_Q120_TARGET}) AS BIGINT) AS bin
  FROM files
)
SELECT event_type, bin, COUNT(*) AS n_files, CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
  MIN(hour) AS hour_from, MAX(hour) AS hour_to
FROM binned GROUP BY event_type, bin
"""


# ---------------------------------------------------------------------------
# q121 — optimizer-style join cardinality estimation: predict
# |lineitem ⋈ part| from per-side statistics WITHOUT executing the join,
# next to the exact size computed from per-key count products (itself a
# statistics-only computation — the wide join never runs). The System-R
# estimate |L|·|P| / max(ndv_L, ndv_P) is what a cost-based planner uses
# to pick join order/strategy; surfacing estimate vs truth is the
# engine-observability operator that tells you when to ANALYZE.
#
# Scale shape: two per-key count aggregations (partial-agg'd), one keyed
# FULL OUTER join between the two count tables (each ≤ ndv rows — tiny
# next to the fact tables), then a single global aggregate computes the
# exact join size, both sides' totals/NDVs, and the estimate in one
# pass — no scalar cross joins. The full join's row count is obtained
# for the cost of two GROUP BYs.
# ---------------------------------------------------------------------------
def q121_join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(F.col("l_partkey").alias("k"))
    pt = table(spark, sf, "part").select(F.col("p_partkey").alias("k"))
    lc = li.groupBy("k").agg(F.count(F.lit(1)).alias("nl"))
    pc = pt.groupBy("k").agg(F.count(F.lit(1)).alias("np"))
    merged = lc.join(pc, "k", "full_outer")
    out = merged.agg(
        F.coalesce(F.sum(F.col("nl") * F.col("np")), F.lit(0)).alias("actual_pairs"),
        F.sum("nl").alias("n_l"),
        F.sum("np").alias("n_p"),
        F.count("nl").alias("ndv_l"),
        F.count("np").alias("ndv_p"),
        F.max("nl").alias("max_l_freq"),
        F.max("np").alias("max_p_freq"),
    )
    est = F.round(
        F.col("n_l").cast("decimal(30,6)")
        * F.col("n_p")
        / F.greatest("ndv_l", "ndv_p"),
        2,
    ).cast("double")
    return out.select(
        "actual_pairs",
        est.alias("sr_estimate"),
        "n_l",
        "n_p",
        "ndv_l",
        "ndv_p",
        "max_l_freq",
        "max_p_freq",
    )


_Q121_SQL = """
WITH lc AS (
  SELECT l_partkey AS k, COUNT(*) AS nl FROM lineitem GROUP BY 1
), pc AS (
  SELECT p_partkey AS k, COUNT(*) AS np FROM part GROUP BY 1
), merged AS (
  SELECT nl, np FROM lc FULL OUTER JOIN pc USING (k)
), agg AS (
  SELECT CAST(COALESCE(SUM(nl * np), 0) AS BIGINT) AS actual_pairs,
    CAST(SUM(nl) AS BIGINT) AS n_l, CAST(SUM(np) AS BIGINT) AS n_p,
    COUNT(nl) AS ndv_l, COUNT(np) AS ndv_p,
    MAX(nl) AS max_l_freq, MAX(np) AS max_p_freq
  FROM merged
)
SELECT actual_pairs,
  CAST(ROUND(CAST(n_l AS DECIMAL(30,6)) * n_p / greatest(ndv_l, ndv_p), 2) AS DOUBLE)
    AS sr_estimate,
  n_l, n_p, ndv_l, ndv_p, max_l_freq, max_p_freq
FROM agg
"""


# ---------------------------------------------------------------------------
# q122 — SemDeDup-style semantic deduplication (Abbas et al. 2023):
# coarse k-means clustering bounds the pair space, then near-identical
# embeddings WITHIN a cluster (cosine ≥ θ) are collapsed to the
# smallest-id representative. Output: per-cluster retention stats — the
# dedup policy report a curation run ships.
#
# Scale shape: centroid assignment is the q110 map-only literal fold (8
# collected centroids); the within-cluster pair join is BANDED exactly
# like q27 — candidates must share (centroid, band, bucket), so no
# cluster-sized quadratic block exists; ids-only travel through the
# banded shuffle, vectors re-attach after pair-dedup.
# ---------------------------------------------------------------------------
_Q122_C = 8
_Q122_BANDS = 8
_Q122_PLANES = 4
_Q122_THRESHOLD = 0.40


def _q122_band_planes(bands: int = _Q122_BANDS, planes_per_band: int = _Q122_PLANES):
    from job_etl_spark.ml.ann import plane_matrix

    planes = plane_matrix(bands * planes_per_band, 64)
    return [
        planes[i * planes_per_band : (i + 1) * planes_per_band]
        for i in range(bands)
    ]


def q122_semantic_dedup(
    spark: SparkSession,
    sf: str,
    bands: int = _Q122_BANDS,
    planes_per_band: int = _Q122_PLANES,
    threshold: float = _Q122_THRESHOLD,
    max_bucket: int | None = None,
) -> DataFrame:
    # (bands, planes_per_band, threshold) are the q27 density re-tune —
    # 2^planes must track in-cluster density or the in-bucket B² expansion
    # saturates (measured on the 64× dup-dense corpus; SCALING.md). The
    # defaults are the declared oracle-paired setting.
    from job_etl_spark.ml.ann import assign_centroid, banded_bucket_expr
    from job_etl_spark.ml.dedup import bucket_pairs

    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    cents = [
        (r["_cid"], r["_cvec"])
        for r in emb.select(F.col("vec_id").alias("_cid"), F.col("vec").alias("_cvec"))
        .orderBy("_cid")
        .limit(_Q122_C)
        .collect()
    ]
    # The assignment table feeds four branches (banding, both vector
    # fetch-backs, member counts); lazily checkpoint it so the per-vector
    # centroid argmax runs once — at cluster scale this is the persisted
    # IVF assignment table, not a bench trick. The row norm is
    # materialized alongside (same fold as cosine_expr's norm, so the
    # downstream quotient is bit-identical): the pair filter then pays
    # ONE interpreted dot fold per candidate instead of three (guide
    # §1.2 "per-task work" — measured ~1.9 s of single-task norm
    # recomputation over the 110k sf0.1 candidates).
    assigned = emb.withColumn(
        "cid", assign_centroid(F.col("vec"), cents)
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("vec", lambda x: x * x), F.lit(0.0), lambda s, x: s + x
            )
        ),
    ).localCheckpoint(eager=False)
    banded = assigned.select(
        "vec_id", "cid", F.explode(banded_bucket_expr(F.col("vec"), _q122_band_planes(bands, planes_per_band))).alias("bk")
    ).select("vec_id", "cid", F.col("bk.band_id").alias("band_id"), F.col("bk.bucket").alias("bucket"))
    # cid is in the block key: duplicates are dropped per cluster, so a
    # bucket holds one cluster's rows of one band's 2^planes cell
    cand = (
        bucket_pairs(banded, ("cid", "band_id", "bucket"), "vec_id", max_bucket, keep=("cid",))
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"), "cid")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    vb = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    # Explicit hash-repartition of the deduped id-pairs before the vector
    # fetch-back: the pair stream is a few hundred KB here, so AQE
    # coalesces the dedup output to ONE partition — and the per-pair dot
    # fold is CPU-dense per byte, serializing ~2 s of verification into a
    # single task (guide §2.5: bytes-based coalescing misjudges
    # compute-heavy rows). Deterministic key hash, count scales with the
    # cluster (defaultParallelism); at scale this exchange is ids-only.
    dropped = (
        cand.repartition(spark.sparkContext.defaultParallelism, "vec_a")
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .where(dot / (F.col("na") * F.col("nb")) >= threshold)
        .select("cid", F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    drops = dropped.groupBy("cid").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        members.join(drops, "cid", "left")
        .select(
            "cid",
            "n_members",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            F.round(
                (F.col("n_members") - F.coalesce("n_dropped", F.lit(0))).cast(
                    "decimal(30,6)"
                )
                / F.col("n_members"),
                6,
            )
            .cast("double")
            .alias("keep_ratio"),
        )
    )


def _q122_sql() -> str:
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    band_selects = []
    for i, band in enumerate(_q122_band_planes()):
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(vec, [{', '.join(repr(x) for x in p)}]) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(band)
        )
        band_selects.append(
            f"SELECT vec_id, cid, vec, {i} AS band_id, {bucket} AS bucket FROM asg"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), c AS (
  SELECT vec_id AS c_id, vec AS c_vec FROM e ORDER BY vec_id LIMIT {_Q122_C}
), asg AS (
  SELECT vec_id, vec, c_id AS cid FROM (
    SELECT e.vec_id, e.vec, c.c_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {cos.format(a="e.vec", b="c.c_vec")} DESC, c.c_id ASC) AS arn
    FROM e CROSS JOIN c) t
  WHERE arn = 1
), banded AS (
{banded}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cid
  FROM banded a JOIN banded b
    ON a.cid = b.cid AND a.band_id = b.band_id AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
), dropped AS (
  SELECT DISTINCT c.cid, c.vec_b AS vec_id
  FROM cand c
  JOIN asg ea ON ea.vec_id = c.vec_a
  JOIN asg eb ON eb.vec_id = c.vec_b
  WHERE {cos.format(a="ea.vec", b="eb.vec")} >= {_Q122_THRESHOLD}
), members AS (
  SELECT cid, COUNT(*) AS n_members FROM asg GROUP BY cid
), drops AS (
  SELECT cid, COUNT(*) AS n_dropped FROM dropped GROUP BY cid
)
SELECT m.cid, m.n_members, COALESCE(d.n_dropped, 0) AS n_dropped,
  CAST(ROUND(CAST(m.n_members - COALESCE(d.n_dropped, 0) AS DECIMAL(30,6))
    / m.n_members, 6) AS DOUBLE) AS keep_ratio
FROM members m LEFT JOIN drops d ON m.cid = d.cid
"""


QUERIES: dict[str, Query] = {
    "q117_bigram_perplexity": Query(q117_bigram_perplexity, _Q117_SQL),
    "q118_temperature_resample": Query(q118_temperature_resample, _Q118_SQL),
    "q119_cdc_chunks": Query(q119_cdc_chunks, _Q119_SQL),
    "q120_compaction_plan": Query(q120_compaction_plan, _Q120_SQL),
    "q121_join_size_estimate": Query(q121_join_size_estimate, _Q121_SQL),
    "q122_semantic_dedup": Query(q122_semantic_dedup, _q122_sql()),
}


# ---------------------------------------------------------------------------
# q126 — BPE tokenizer APPLY (the deploy side of q101's merge training):
# learn R merges on the corpus (ml/bpe.learn_merges — bounded collect,
# one pair-count pass per round), then encode every document by replaying
# the merge table in rank order and report per-lang compression. The
# rewrite chain is R map-only string replaces — at 100 TB the corpus is
# touched R+R times total (R training passes, R fused apply steps),
# never joined.
#
# Parity: merges are embedded as plan literals; the oracle re-derives the
# IDENTICAL merge table in unrolled CTE rounds (q101's proof) and applies
# the same double-space replace semantics.
# ---------------------------------------------------------------------------
_Q126_ROUNDS = 4


def q126_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.bpe import learn_merges, serialize_corpus

    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    merges = learn_merges(serialize_corpus(docs), _Q126_ROUNDS)
    s = F.concat(
        F.lit("  "), F.array_join(tokens_expr("text"), "  "), F.lit("  ")
    )
    # nb rides the rewrite chain so the before/after comparison needs NO
    # self-join back to docs — the whole apply stays one map stage
    enc = docs.select(
        "doc_id", "lang", s.alias("s"), F.size(tokens_expr("text")).alias("nb")
    )
    for _step, merged_token, _n in merges:
        pair_sp = " " + merged_token.replace("+", "  ") + " "
        repl = " " + merged_token + " "
        # literal replace, not regexp_replace-on-escaped-literal (r12):
        # same greedy left-to-right non-overlapping semantics (and the
        # semantics the DuckDB twin's replace() already pins), without a
        # regex engine scanning the corpus-sized string once per merge
        enc = enc.withColumn("s", F.replace(F.col("s"), F.lit(pair_sp), F.lit(repl)))
    n_after = F.size(F.filter(F.split(F.col("s"), " "), lambda x: x != ""))
    joined = enc.select("doc_id", "lang", "nb", n_after.alias("na"))
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nb").alias("tokens_before"),
        F.sum("na").alias("tokens_after"),
        F.round(
            F.sum("na").cast("decimal(30,8)") / F.sum("nb"), 6
        ).cast("double").alias("compression"),
    )


def _q126_sql() -> str:
    parts = [
        r"""
WITH d0 AS (
  SELECT doc_id, lang,
    '  ' || array_to_string(
      list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''),
      '  ') || '  ' AS s,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
      AS nb
  FROM documents WHERE text IS NOT NULL
)"""
    ]
    for i in range(_Q126_ROUNDS):
        parts.append(
            f""", p{i} AS (
  SELECT a || ' ' || b AS pair, COUNT(*) AS n FROM (
    SELECT unnest(toks[1:len(toks)-1]) AS a, unnest(toks[2:len(toks)]) AS b
    FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS toks FROM d{i})
  ) GROUP BY 1
), m{i} AS (
  SELECT pair, n FROM p{i} ORDER BY n DESC, pair ASC LIMIT 1
), d{i + 1} AS (
  SELECT doc_id, lang, replace(s,
    ' ' || replace((SELECT pair FROM m{i}), ' ', '  ') || ' ',
    ' ' || replace((SELECT pair FROM m{i}), ' ', '+') || ' ') AS s,
    nb
  FROM d{i}
)"""
        )
    last = f"d{_Q126_ROUNDS}"
    parts.append(
        f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(nb) AS BIGINT) AS tokens_before,
  CAST(SUM(len(list_filter(string_split(s, ' '), x -> x <> ''))) AS BIGINT) AS tokens_after,
  CAST(ROUND(CAST(SUM(len(list_filter(string_split(s, ' '), x -> x <> '')))
    AS DECIMAL(30,8)) / SUM(nb), 6) AS DOUBLE) AS compression
FROM {last} GROUP BY lang"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# q127 — curriculum phases (short→long length curriculum): ntile(4) over
# the corpus's total length order assigns each doc a training phase;
# per-phase boundaries + token mass are the curriculum manifest. ntile's
# definition (equal-count tiles, remainder to the leading tiles) is
# identical in Spark and DuckDB. One window sort — the same cost as any
# global ordering — then one hash agg.
# ---------------------------------------------------------------------------
_Q127_PHASES = 4


def q127_curriculum_phases(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.ranks import global_ntile

    docs = parallel_table(spark, sf, "documents").select("doc_id", "n_chars")
    # exact ntile via range-partitioned ranks (operators/ranks.py) — the
    # plain unpartitioned ntile window serializes the corpus in one task
    phased = global_ntile(docs, ["n_chars", "doc_id"], _Q127_PHASES, "phase")
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


_Q127_SQL = f"""
WITH phased AS (
  SELECT doc_id, n_chars,
    ntile({_Q127_PHASES}) OVER (ORDER BY n_chars, doc_id) AS phase
  FROM documents
)
SELECT phase, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
  MAX(n_chars) AS max_chars, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM phased GROUP BY phase
"""


# ---------------------------------------------------------------------------
# q128 — deterministic training-order shards (the "global shuffle"
# before an epoch, without RNG): shuffle key = md5(epoch|doc_id) gives a
# reproducible corpus-wide permutation; shard = key mod S co-partitions
# the epoch for S loader workers. Map-only + one agg; re-running with
# another epoch literal re-permutes with zero state.
# ---------------------------------------------------------------------------
_Q128_SHARDS = 8
_Q128_EPOCH = 1


def q128_training_order(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents").select("doc_id", "n_chars")
    key = hexint(F.concat(F.lit(f"ep{_Q128_EPOCH}|"), F.col("doc_id").cast("string")))
    sharded = docs.select(
        "doc_id", "n_chars", key.alias("k"), (key % _Q128_SHARDS).alias("shard")
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("k").alias("first_key"),
        F.max("k").alias("last_key"),
    )


_Q128_SQL = f"""
WITH sharded AS (
  SELECT doc_id, n_chars,
    {_SQL_HEXINT.format(expr=f"'ep{_Q128_EPOCH}|' || CAST(doc_id AS VARCHAR)")} AS k
  FROM documents
)
SELECT k % {_Q128_SHARDS} AS shard, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(k) AS first_key, MAX(k) AS last_key
FROM sharded GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q129 — quality-threshold operating curve (pipeline tuning): for each
# candidate cutoff, the docs/tokens that survive — the curve a curator
# reads before committing a filter. ONE scan: each row's score lands in
# every threshold bucket it clears via a literal-array explode (×T where
# T = 3), then one agg. The score is a cheap type-token-ratio × length
# heuristic, decimal-rounded so both engines bucket identically.
# ---------------------------------------------------------------------------
_Q129_THRESHOLDS = [0.3, 0.5, 0.7]


def q129_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = tokens_expr("text")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("decimal(30,8)") / n_tok
    len_score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0)).cast(
        "decimal(30,8)"
    )
    score = F.round(ttr * len_score, 6).cast("double")
    scored = docs.select(n_tok.alias("n_tok"), score.alias("score"))
    thr = F.explode(
        F.filter(
            F.array(*[F.lit(t) for t in _Q129_THRESHOLDS]),
            lambda t: F.col("score") >= t,
        )
    ).alias("threshold")
    kept = scored.select("n_tok", "score", thr)
    return kept.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tok").alias("tokens_kept"),
    )


_Q129_SQL = f"""
WITH scored AS (
  SELECT len(toks) AS n_tok,
    CAST(ROUND(
      CAST(len(list_distinct(toks)) AS DECIMAL(30,8)) / len(toks)
      * CAST(least(1.0, n_chars / 500.0) AS DECIMAL(30,8)), 6) AS DOUBLE) AS score
  FROM (
    SELECT n_chars,
      list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
    FROM documents WHERE text IS NOT NULL
  )
), kept AS (
  SELECT n_tok, t.threshold
  FROM scored, LATERAL (
    SELECT unnest([{", ".join(f"{t}::DOUBLE" for t in _Q129_THRESHOLDS)}]) AS threshold
  ) t
  WHERE score >= t.threshold
)
SELECT threshold, COUNT(*) AS n_docs_kept, CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
FROM kept GROUP BY threshold
"""


QUERIES.update(
    {
        "q126_bpe_apply": Query(q126_bpe_apply, _q126_sql()),
        "q127_curriculum_phases": Query(q127_curriculum_phases, _Q127_SQL),
        "q128_training_order": Query(q128_training_order, _Q128_SQL),
        "q129_threshold_sweep": Query(q129_threshold_sweep, _Q129_SQL),
    }
)
