"""Pipeline-evaluation tranche: the "measure, don't guess" operators
that audit the engine's own approximate components against exact ground
truth — MinHash's Jaccard estimate vs the true shingle Jaccard (is the
sketch calibrated?), hard-negative mining for contrastive training-data
prep, and embedding-space centroid separation (are the labels even
separable before we train on them?).

Scale shapes: q152 evaluates only the LSH CANDIDATE pairs (the active
set — never all-pairs); q153 is the q26 bounded-broadcast pattern (a
literal-sized query set against the corpus); q154 reduces the corpus to
per-(label, dim) centroids (labels × dims rows) and every join after the
first aggregation is on that reduced frame, keyed on equi columns (dim),
so nothing is quadratic in corpus size.

Parity: per-row double arithmetic (incl. IEEE-correctly-rounded sqrt)
is deterministic; all sums go through exact DECIMAL; ratios are rounded
as decimals before averaging (queries._util discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_etl_spark.functions.sqllit import lit_double_array
from job_etl_spark.queries._util import Query, dround
from job_etl_spark.tables import parallel_table, table

QUERIES: dict[str, Query] = {}


# ---------------------------------------------------------------------------
# q152 — MinHash calibration audit: for every LSH candidate pair, the
# signature-agreement estimate (matching components / k) against the
# exact Jaccard of the shingle-hash sets, grouped by agreement level.
# A calibrated sketch shows avg_exact ≈ avg_est per level; drift means
# the permutation family or band layout needs retuning. This is the
# evaluation loop that justifies every threshold the dedup pipeline
# (q29/q58) runs with.
#
# Exact Jaccard is computed ONLY on candidate pairs (LSH's active set),
# with the doc → (sig, shingle-set) frame built once and equi-joined to
# both pair ends — never an all-pairs scan.
# ---------------------------------------------------------------------------
def q152_minhash_error(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import (
        MINHASH_K,
        bucket_pairs,
        lsh_bands,
        minhash_signature_expr,
        shingle_hashes_expr,
        shingles_expr,
        tokens_expr,
    )

    docs = parallel_table(spark, sf, "documents")
    # Build the (sig, shingle-set) frame ONCE and lazily checkpoint it:
    # the candidate generation below and BOTH pair-end joins read it, and
    # without materialization each branch re-runs the shingle→minhash
    # pipeline (3 full passes instead of 1).
    # cheap equivalent of `sig.isNotNull()` (see ml/dedup.minhash_bands):
    # a filter on the sig column would sink the whole minhash pipeline
    # below the parallelizing exchange into the single-task scan stage
    sigs = (
        docs.where(F.size(tokens_expr("text")) >= 3)
        .select(
            "doc_id",
            shingle_hashes_expr(shingles_expr(tokens_expr("text"))).alias("_hs"),
        )
        .select(
            "doc_id",
            F.array_distinct("_hs").alias("hs"),
            minhash_signature_expr(F.col("_hs"), MINHASH_K).alias("sig"),
        )
        .localCheckpoint(eager=False)
    )
    banded = lsh_bands(sigs.select("doc_id", "sig"), "doc_id", "sig")
    cand = (
        bucket_pairs(banded, ("band", "bucket"), "doc_id")
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("sig").alias("sig_b"),
    )
    pairs = cand.join(a, "doc_a").join(b, "doc_b")
    m = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    # divisions run in IEEE double (identical in both engines), then are
    # decimal-rounded — a decimal-by-integer division rounds the exact
    # rational in Spark but falls to DOUBLE in DuckDB, and an exact .5 at
    # the round digit flips between the two (hit in the wild by q154)
    est = dround(m / F.lit(float(MINHASH_K)), 6)
    exact = dround(inter / union.cast("double"), 6)
    scored = pairs.select(
        m.alias("n_matching"),
        est.alias("est"),
        exact.alias("exact"),
        dround(F.abs(est - exact), 6).alias("abs_err"),
    )
    def _avg(c: str) -> F.Column:
        return dround(
            F.sum(F.col(c).cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(f"avg_{c}")

    return scored.groupBy("n_matching").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _avg("est"),
        _avg("exact"),
        _avg("abs_err"),
    )


def _q152_sql() -> str:
    from job_etl_spark.ml.dedup import MINHASH_K, MINHASH_PRIME, minhash_coefficients

    a, b = minhash_coefficients(MINHASH_K)
    a_sql = "[" + ", ".join(str(x) for x in a) + "]"
    b_sql = "[" + ", ".join(str(x) for x in b) + "]"
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
    list_transform(
      list_distinct(list_transform(range(1, len(toks) - 1),
        i -> array_to_string(toks[i:i+2], ' '))),
      g -> (('0x' || substr(md5(g), 1, 15))::BIGINT) % {MINHASH_PRIME}) AS hs
  FROM tok WHERE len(toks) >= 3
), sig AS (
  SELECT doc_id, list_distinct(hs) AS hsd,
    list_transform(range(0, {MINHASH_K}), s ->
      list_min(list_transform(hs,
        h -> (({a_sql})[s+1] * h + ({b_sql})[s+1]) % {MINHASH_PRIME}))) AS sig
  FROM sh WHERE len(hs) > 0
), banded AS (
  SELECT doc_id, band,
    md5(array_to_string(sig[band*4+1 : band*4+4], ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), scored AS (
  SELECT
    len(list_filter(range(0, {MINHASH_K}),
      s -> sa.sig[s+1] = sb.sig[s+1])) AS n_matching,
    CAST(ROUND(CAST(len(list_filter(range(0, {MINHASH_K}),
      s -> sa.sig[s+1] = sb.sig[s+1])) / CAST({MINHASH_K} AS DOUBLE)
      AS DECIMAL(24,10)), 6) AS DOUBLE) AS est,
    CAST(ROUND(CAST(CAST(len(list_intersect(sa.hsd, sb.hsd)) AS DOUBLE)
      / len(list_distinct(sa.hsd || sb.hsd)) AS DECIMAL(24,10)), 6)
      AS DOUBLE) AS exact
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
)
SELECT n_matching, COUNT(*) AS n_pairs,
  CAST(ROUND(CAST(CAST(SUM(CAST(est AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS avg_est,
  CAST(ROUND(CAST(CAST(SUM(CAST(exact AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS avg_exact,
  CAST(ROUND(CAST(CAST(SUM(CAST(
    CAST(ROUND(CAST(abs(est - exact) AS DECIMAL(24,10)), 6) AS DOUBLE)
  AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS DECIMAL(24,10)), 6)
    AS DOUBLE) AS avg_abs_err
FROM scored GROUP BY n_matching
"""


# ---------------------------------------------------------------------------
# q153 — hard-negative mining: for each query vector, the top-5 most
# similar vectors with a DIFFERENT label — the contrastive-learning prep
# step (hard negatives are what make embedding training data useful).
# Same bounded-broadcast shape as q26: a literal-sized query set against
# the corpus, never corpus × corpus.
# ---------------------------------------------------------------------------
def q153_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.ann import cosine_expr

    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("vec").alias("q_vec"),
    )
    pairs = emb.crossJoin(F.broadcast(queries)).where(
        F.col("label") != F.col("q_label")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("sim", cosine_expr(F.col("q_vec"), F.col("vec")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "q_id",
            "q_label",
            "rn",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            dround(F.col("sim"), 6).alias("cosine"),
        )
    )


_Q153_SQL = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings
), q AS (
  SELECT vec_id AS q_id, label AS q_label, vec AS q_vec FROM e WHERE vec_id < 10
), scored AS (
  SELECT q.q_id, q.q_label, e.vec_id, e.label,
    list_dot_product(q.q_vec, e.vec)
      / (sqrt(list_dot_product(q.q_vec, q.q_vec))
         * sqrt(list_dot_product(e.vec, e.vec))) AS sim
  FROM e CROSS JOIN q WHERE e.label <> q.q_label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT q_id, q_label, rn, vec_id AS negative_id, label AS negative_label,
  CAST(ROUND(CAST(sim AS DECIMAL(24,10)), 6) AS DOUBLE) AS cosine
FROM ranked WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# q154 — centroid separation: per label, the average cosine of members
# to their own centroid vs the nearest OTHER centroid — the
# dataset-quality gate before training a classifier on the labels
# (margin ≤ 0 means the label geometry is not separable).
#
# The corpus collapses to per-(label, dim) centroids in one aggregation;
# the member→centroid cosine re-joins on (label, dim) — a map-side-
# prunable equi-join — and the centroid×centroid stage runs on the
# labels × dims frame only, equi-keyed on dim (bounded: labels², never
# corpus²).
# ---------------------------------------------------------------------------
def q154_centroid_separation(spark: SparkSession, sf: str) -> DataFrame:
    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("dim", "val"),
    )
    # the mean is divided in IEEE double (exact-decimal sum / count), then
    # decimal-rounded at 10: a decimal÷bigint here overflows Spark's 38-digit
    # cap and silently demotes the result scale below the round target
    cent = emb.groupBy("label", "dim").agg(
        F.round(
            (
                F.sum(F.col("val").cast("decimal(30,12)")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(26,14)"),
            10,
        )
        .cast("double")
        .alias("c")
    )
    # cent (labels × dims rows — tiny) feeds three consumers (the member
    # join and both sides of the centroid×centroid comparison); checkpoint
    # so the full scan+explode+mean pass runs once, not three times
    cent = cent.localCheckpoint(eager=False)
    # member → own-centroid cosine
    joined = emb.join(cent, ["label", "dim"])
    per_vec = joined.groupBy("vec_id", "label").agg(
        F.sum((F.col("val") * F.col("c")).cast("decimal(30,12)")).alias("dot"),
        F.sum((F.col("val") * F.col("val")).cast("decimal(30,12)")).alias("v2"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(30,12)")).alias("c2"),
    )
    cos_own = F.col("dot").cast("double") / (
        F.sqrt(F.col("v2").cast("double")) * F.sqrt(F.col("c2").cast("double"))
    )
    intra = per_vec.select(
        "vec_id", "label", dround(cos_own, 6).alias("cos_own")
    ).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        dround(
            F.sum(F.col("cos_own").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_intra_cos"),
    )
    # centroid × centroid (equi-join on dim; labels² pairs)
    ca = cent.select(
        F.col("label").alias("la"), "dim", F.col("c").alias("va")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "dim", F.col("c").alias("vb")
    )
    cpairs = ca.join(cb, "dim").where(F.col("la") != F.col("lb"))
    cc = cpairs.groupBy("la", "lb").agg(
        F.sum((F.col("va") * F.col("vb")).cast("decimal(30,12)")).alias("dot"),
        F.sum((F.col("va") * F.col("va")).cast("decimal(30,12)")).alias("a2"),
        F.sum((F.col("vb") * F.col("vb")).cast("decimal(30,12)")).alias("b2"),
    )
    cos_cc = F.col("dot").cast("double") / (
        F.sqrt(F.col("a2").cast("double")) * F.sqrt(F.col("b2").cast("double"))
    )
    inter = (
        cc.select(F.col("la").alias("label"), dround(cos_cc, 6).alias("cos_cc"))
        .groupBy("label")
        .agg(F.max("cos_cc").alias("max_inter_cos"))
    )
    return intra.join(inter, "label").select(
        "label",
        "n_vecs",
        "avg_intra_cos",
        "max_inter_cos",
        dround(F.col("avg_intra_cos") - F.col("max_inter_cos"), 6).alias(
            "margin"
        ),
    )


_Q154_SQL = """
WITH dims AS (
  SELECT vec_id, label, CAST(u.d AS INT) AS dim, vec[u.d + 1] AS val
  FROM (
    SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec
    FROM embeddings
  ) e,
  LATERAL (SELECT unnest(range(0, len(e.vec))) AS d) u
), cent AS (
  SELECT label, dim,
    CAST(ROUND(CAST(
      CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
    AS DECIMAL(26,14)), 10) AS DOUBLE) AS c
  FROM dims GROUP BY 1, 2
), per_vec AS (
  SELECT d.vec_id, d.label,
    SUM(CAST(d.val * c.c AS DECIMAL(30,12))) AS dot,
    SUM(CAST(d.val * d.val AS DECIMAL(30,12))) AS v2,
    SUM(CAST(c.c * c.c AS DECIMAL(30,12))) AS c2
  FROM dims d JOIN cent c ON d.label = c.label AND d.dim = c.dim
  GROUP BY 1, 2
), intra AS (
  SELECT label, COUNT(*) AS n_vecs,
    CAST(ROUND(CAST(CAST(SUM(CAST(
      CAST(ROUND(CAST(CAST(dot AS DOUBLE)
        / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE)))
      AS DECIMAL(24,10)), 6) AS DOUBLE)
    AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS DECIMAL(24,10)), 6)
      AS DOUBLE) AS avg_intra_cos
  FROM per_vec GROUP BY label
), cc AS (
  SELECT a.label AS la, b.label AS lb,
    SUM(CAST(a.c * b.c AS DECIMAL(30,12))) AS dot,
    SUM(CAST(a.c * a.c AS DECIMAL(30,12))) AS a2,
    SUM(CAST(b.c * b.c AS DECIMAL(30,12))) AS b2
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
  GROUP BY 1, 2
), inter AS (
  SELECT la AS label,
    MAX(CAST(ROUND(CAST(CAST(dot AS DOUBLE)
      / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE)))
    AS DECIMAL(24,10)), 6) AS DOUBLE)) AS max_inter_cos
  FROM cc GROUP BY la
)
SELECT i.label, i.n_vecs, i.avg_intra_cos, x.max_inter_cos,
  CAST(ROUND(CAST(i.avg_intra_cos - x.max_inter_cos AS DECIMAL(24,10)), 6)
    AS DOUBLE) AS margin
FROM intra i JOIN inter x ON i.label = x.label
"""


QUERIES.update(
    {
        "q152_minhash_error": Query(q152_minhash_error, _q152_sql()),
        "q153_hard_negatives": Query(q153_hard_negatives, _Q153_SQL),
        "q154_centroid_separation": Query(q154_centroid_separation, _Q154_SQL),
    }
)


# ---------------------------------------------------------------------------
# q155 — per-source quantile normalization of quality scores: a raw
# global threshold inherits every source's score-scale bias (one crawl's
# "0.3" is another's top decile); mapping each doc to its within-source
# percent_rank makes one selection rate comparable across sources — the
# standard debiasing step before a global quality cut. Output contrasts
# the two policies' per-source selection counts.
#
# percent_rank is (rank−1)/(n−1) in IEEE double over a TOTAL order
# (score, doc_id) — identical in both engines. One shuffle to the
# per-source windows, then one aggregation.
# ---------------------------------------------------------------------------
_Q155_TAU_RAW = 0.28  # ≈ corpus median of the raw score


def q155_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit("")
    )
    d = d.select("doc_id", "source", "n_chars", toks.alias("toks"))
    ttr = F.size(F.array_distinct("toks")) / F.size("toks").cast("double")
    len_score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    scored = d.select(
        "doc_id", "source", dround(ttr * len_score, 6).alias("score")
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = scored.withColumn("pct", F.percent_rank().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("score") >= _Q155_TAU_RAW, 1)).alias(
            "n_raw_selected"
        ),
        F.count(F.when(F.col("pct") >= 0.5, 1)).alias("n_norm_selected"),
        dround(
            F.sum(F.col("score").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_score"),
    )


_Q155_SQL = f"""
WITH d AS (
  SELECT doc_id, source, n_chars,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), scored AS (
  SELECT doc_id, source,
    CAST(ROUND(CAST(
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      * least(1.0, n_chars / 500.0)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS score
  FROM d
), ranked AS (
  SELECT *, percent_rank() OVER (
    PARTITION BY source ORDER BY score, doc_id) AS pct
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
  COUNT(CASE WHEN score >= {_Q155_TAU_RAW} THEN 1 END) AS n_raw_selected,
  COUNT(CASE WHEN pct >= 0.5 THEN 1 END) AS n_norm_selected,
  CAST(ROUND(CAST(CAST(SUM(CAST(score AS DECIMAL(30,6))) AS DOUBLE)
    / COUNT(*) AS DECIMAL(24,10)), 6) AS DOUBLE) AS avg_score
FROM ranked GROUP BY source
"""


# ---------------------------------------------------------------------------
# q156 — classifier agreement (Cohen's kappa): the cheap quality score
# (q146's pred) vs the expensive proxy (its gold), both binarized at
# their corpus medians. Kappa is the go/no-go for replacing the
# expensive scorer with the cheap one at corpus scale — raw percent
# agreement flatters any skewed label distribution; kappa subtracts the
# chance floor.
#
# One map pass computes both scores; ONE aggregation yields the full
# confusion matrix (count-FILTER), so kappa needs no join at all.
# ---------------------------------------------------------------------------
_Q156_TAU_A = 0.28
_Q156_TAU_B = 0.90


def q156_classifier_agreement(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit("")
    )
    d = d.select("doc_id", "n_chars", toks.alias("toks"))
    n_tok = F.size("toks")
    ttr = F.size(F.array_distinct("toks")) / n_tok.cast("double")
    len_score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    top_share = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda t: F.size(F.filter("toks", lambda x: x == t)),
        )
    ) / n_tok.cast("double")
    flags = d.select(
        (dround(ttr * len_score, 6) >= _Q156_TAU_A).alias("a"),
        (dround(F.lit(1.0) - top_share, 6) >= _Q156_TAU_B).alias("b"),
    )
    cm = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("a") & F.col("b"), 1)).alias("n11"),
        F.count(F.when(F.col("a") & ~F.col("b"), 1)).alias("n10"),
        F.count(F.when(~F.col("a") & F.col("b"), 1)).alias("n01"),
        F.count(F.when(~F.col("a") & ~F.col("b"), 1)).alias("n00"),
    )
    n = F.col("n_docs").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (n * n)
    return cm.select(
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        dround(po, 6).alias("po"),
        dround(pe, 6).alias("pe"),
        dround((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


_Q156_SQL = f"""
WITH d AS (
  SELECT doc_id, n_chars,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), flags AS (
  SELECT
    CAST(ROUND(CAST(
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      * least(1.0, n_chars / 500.0)
    AS DECIMAL(24,10)), 6) AS DOUBLE) >= {_Q156_TAU_A} AS a,
    CAST(ROUND(CAST(
      1.0 - CAST(list_max(list_transform(list_distinct(toks),
        t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks)
    AS DECIMAL(24,10)), 6) AS DOUBLE) >= {_Q156_TAU_B} AS b
  FROM d
), cm AS (
  SELECT COUNT(*) AS n_docs,
    COUNT(CASE WHEN a AND b THEN 1 END) AS n11,
    COUNT(CASE WHEN a AND NOT b THEN 1 END) AS n10,
    COUNT(CASE WHEN NOT a AND b THEN 1 END) AS n01,
    COUNT(CASE WHEN NOT a AND NOT b THEN 1 END) AS n00
  FROM flags
)
SELECT n_docs, n11, n10, n01, n00,
  CAST(ROUND(CAST((n11 + n00) / CAST(n_docs AS DOUBLE)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS po,
  CAST(ROUND(CAST(
    ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
  AS DECIMAL(24,10)), 6) AS DOUBLE) AS pe,
  CAST(ROUND(CAST(
    ((n11 + n00) / CAST(n_docs AS DOUBLE)
     - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
       / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
    / (1.0 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
       / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
  AS DECIMAL(24,10)), 6) AS DOUBLE) AS kappa
FROM cm
"""


# ---------------------------------------------------------------------------
# q157 — dedup-method agreement: the MinHash-LSH candidate pairs (q29)
# against the SimHash pairs (q31) as a full-outer set comparison. The
# two detectors have different failure modes (shingle-set vs weighted-
# token-bit similarity); their pair-set Jaccard is the cross-check that
# catches a silently broken band layout or threshold — if agreement
# collapses between runs, one of the detectors regressed.
#
# Both pair generators are band-bounded; the comparison itself is one
# equi full-outer join on the pair key and one aggregation.
#
# Scale (SCALING.md r8 probe): cost is INHERITED from the generators —
# linear in their pair OUTPUT (exponent 1.04 in rows at 64×, where the
# engineered replica corpus inflates pair volume ×12k–17k; q31 alone
# emits ~14M pairs there). The join adds one shuffle over 2-int pair
# rows. At 100 TB, run it over MATERIALIZED pair tables (both q29/q31
# outputs are persisted by any real dedup run) rather than regenerating
# candidates — the comparison itself is then trivially cheap.
# ---------------------------------------------------------------------------
def q157_dedup_method_agreement(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.queries.lifedata import (
        q29_minhash_lsh,
        q31_simhash_neardup,
    )

    # Both detectors tokenize the SAME corpus the same way before their
    # (different) signature schemes — so tokenize ONCE and hand the
    # materialized token frame to both generators (guide §2.3/§2.4, the
    # q142 shared-scan pattern): one documents scan + one split+lower
    # pass instead of two of each. The checkpoint is lazy and
    # intra-invocation; signature work itself is untouched (it runs above
    # the checkpoint, once per arm, at full fan-out parallelism).
    tok = _q157_tok(spark, sf).localCheckpoint(eager=False)
    mh = q29_minhash_lsh(spark, sf, tok=tok).select("doc_a", "doc_b").withColumn(
        "m", F.lit(1)
    )
    sh = q31_simhash_neardup(spark, sf, tok=tok).select("doc_a", "doc_b").withColumn(
        "s", F.lit(1)
    )
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.count(F.when(F.col("m").isNotNull() & F.col("s").isNotNull(), 1)).alias(
            "n_both"
        ),
        F.count(F.when(F.col("m").isNotNull() & F.col("s").isNull(), 1)).alias(
            "n_minhash_only"
        ),
        F.count(F.when(F.col("m").isNull() & F.col("s").isNotNull(), 1)).alias(
            "n_simhash_only"
        ),
    )
    total = F.col("n_both") + F.col("n_minhash_only") + F.col("n_simhash_only")
    return agg.select(
        "n_both",
        "n_minhash_only",
        "n_simhash_only",
        dround(F.col("n_both") / total.cast("double"), 6).alias("pair_jaccard"),
    )


def _q157_tok(spark: SparkSession, sf: str) -> DataFrame:
    """The shared pre-tokenized frame BOTH q157 arms consume — module-level
    (not inline) so tests/test_plans.py can assert the documents scan shape
    the lazy checkpoint hides (the _q117_toks pattern, ADVICE r11)."""
    from job_etl_spark.ml.dedup import tokens_expr
    from job_etl_spark.tables import parallel_table

    docs = parallel_table(spark, sf, "documents")
    return docs.select(
        "doc_id", "lang", "source", tokens_expr("text").alias("_tok")
    )


def _q157_sql() -> str:
    from job_etl_spark.queries.lifedata import _Q29_SQL, _Q31_SQL

    return f"""
WITH mh AS (SELECT doc_a, doc_b, 1 AS m FROM ({_Q29_SQL})),
sh AS (SELECT doc_a, doc_b, 1 AS s FROM ({_Q31_SQL})),
j AS (
  SELECT COALESCE(mh.m, NULL) AS m, COALESCE(sh.s, NULL) AS s
  FROM mh FULL OUTER JOIN sh
    ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
), agg AS (
  SELECT
    COUNT(CASE WHEN m IS NOT NULL AND s IS NOT NULL THEN 1 END) AS n_both,
    COUNT(CASE WHEN m IS NOT NULL AND s IS NULL THEN 1 END) AS n_minhash_only,
    COUNT(CASE WHEN m IS NULL AND s IS NOT NULL THEN 1 END) AS n_simhash_only
  FROM j
)
SELECT n_both, n_minhash_only, n_simhash_only,
  CAST(ROUND(CAST(
    n_both / CAST(n_both + n_minhash_only + n_simhash_only AS DOUBLE)
  AS DECIMAL(24,10)), 6) AS DOUBLE) AS pair_jaccard
FROM agg
"""


QUERIES.update(
    {
        "q155_quantile_normalize": Query(
            q155_quantile_normalize, _Q155_SQL
        ),
        "q156_classifier_agreement": Query(
            q156_classifier_agreement, _Q156_SQL
        ),
        "q157_dedup_method_agreement": Query(
            q157_dedup_method_agreement, _q157_sql()
        ),
    }
)


# ---------------------------------------------------------------------------
# q162 — MMR diverse top-k selection (maximal marginal relevance): the
# standard eval-set / demo-set curation operator — greedily pick the item
# maximizing  rel(v) − λ·max_{s∈S} sim(v, s), so the selected set is
# relevant to the query but not redundant. Query vector = vec_id 0;
# λ = 0.5; k = 8.
#
# CONTRACT (not an equivalence claim): this operator is MMR over the
# top-POOL retrieval pool — "retrieve top-256 by relevance, then
# MMR-re-rank to k=8" — which is how MMR is deployed in practice
# (Carbonell & Goldstein define it over a retrieved document set R, not
# the corpus). A candidate below the pool boundary COULD in principle
# outscore a pooled one (its score can reach rel + λ·1 when it is
# anti-similar to everything selected, i.e. up to rel + 0.5 here), so
# corpus-global MMR and pool-restricted MMR are different operators
# unless rel₁ − rel_POOL > 2λ holds; we declare the pool-restricted one
# and the SQL twin applies the identical pool definition (same
# ORDER BY rel DESC, vec_id LIMIT) — both engines compute the same
# declared semantics, not a heuristic approximation of a wider one.
#
# Scale shape: ONE corpus pass — a TakeOrderedAndProject top-POOL
# relevance prefilter (POOL = 256 ≫ k = 8). The greedy loop then runs
# entirely driver-side over the collected pool: per step, one 64-dim
# cosine per remaining candidate against the newly selected vector
# (≤ POOL·k ≈ 2k cosines total, microseconds each) with a running
# max-sim — zero further corpus scans, zero per-step Catalyst planning,
# nothing quadratic in the corpus.
#
# Parity: the SQL twin applies the identical pool prefilter (same
# ORDER BY rel DESC, vec_id LIMIT). rel comes from the dround'ed
# Catalyst cosine in the corpus pass; the in-pool sims use the
# bit-exact driver replicas ``py_cosine`` (same left-to-right IEEE fold
# as ``cosine_expr`` — the `_py_norm` precedent) + ``py_dround``
# (property-tested against the Spark expression). score =
# rel − 0.5·max(sims) on those rounded doubles (0.5· is exact binary
# scaling, one multiply + one subtract = deterministic IEEE ops on
# identical operands) — engine-identical, so the greedy trajectory and
# the emitted scores match the unrolled SQL twin bit-for-bit. Ties
# break on vec_id.
# ---------------------------------------------------------------------------
_Q162_K = 8
_Q162_LAMBDA = 0.5
_Q162_POOL = 256


def _q162_pool(spark: SparkSession, sf: str) -> DataFrame:
    """The single corpus pass: top-POOL candidates by dround'ed cosine
    relevance (plan-guarded as TakeOrderedAndProject in test_plans)."""
    from job_etl_spark.queries.lifedata import _cosine

    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    qrow = emb.where(F.col("vec_id") == 0).select("vec").first()
    assert qrow is not None, "q162: query vector vec_id=0 missing from embeddings"
    qlit = lit_double_array(float(x) for x in qrow["vec"])
    return (
        emb.where(F.col("vec_id") > 0)
        .withColumn("rel", dround(_cosine(qlit, F.col("vec")), 6))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_Q162_POOL)
    )


def q162_mmr_diverse_topk(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.ann import py_cosine
    from job_etl_spark.queries._util import py_dround

    pool = _q162_pool(spark, sf).collect()
    # driver-side greedy with a running max-sim per candidate; items with
    # NULL rel/sim (zero vectors — outside the data domain) are skipped
    # rather than crashing
    items = [
        (r["vec_id"], r["rel"], [float(x) for x in r["vec"]])
        for r in pool
        if r["rel"] is not None
    ]
    maxsim: dict[int, float | None] = {vid: None for vid, _, _ in items}
    selected: list[tuple[int, float, float]] = []  # (vec_id, rel, score)
    taken: set[int] = set()
    for _rank in range(1, _Q162_K + 1):
        best = None
        best_vec = None
        for vid, rel, vec in items:
            if vid in taken:
                continue
            ms = maxsim[vid]
            if not selected:
                score = rel
            elif ms is None:  # all sims to selected were NULL: skip
                continue
            else:
                score = rel - _Q162_LAMBDA * ms
            if best is None or score > best[2] or (score == best[2] and vid < best[0]):
                best = (vid, rel, score)
                best_vec = vec
        if best is None:  # corpus shorter than k: return what exists
            break
        selected.append(best)
        taken.add(best[0])
        for vid, _rel, vec in items:
            if vid in taken:
                continue
            s = py_dround(py_cosine(vec, best_vec), 6)
            if s is not None and (maxsim[vid] is None or s > maxsim[vid]):
                maxsim[vid] = s
    return spark.createDataFrame(
        [(i + 1, s[0], s[1], s[2]) for i, s in enumerate(selected)],
        "rank int, vec_id bigint, rel double, score double",
    )


def _q162_sql() -> str:
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )

    def dr(expr: str) -> str:
        return f"CAST(ROUND(CAST({expr} AS DECIMAL(24,10)), 6) AS DOUBLE)"

    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), qv AS (
  SELECT vec FROM e WHERE vec_id = 0
), cand AS MATERIALIZED (
  SELECT vec_id, vec, rel FROM (
    SELECT e.vec_id, e.vec, {dr(cos.format(a='q.vec', b='e.vec'))} AS rel
    FROM e CROSS JOIN qv q WHERE e.vec_id > 0
  ) ORDER BY rel DESC, vec_id LIMIT {_Q162_POOL}
), sel1 AS MATERIALIZED (
  SELECT 1 AS rank, vec_id, rel, rel AS score, vec
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
)"""
    ]
    for t in range(2, _Q162_K + 1):
        prev = f"sel{t - 1}"
        parts.append(
            f""", pick{t} AS MATERIALIZED (
  SELECT c.vec_id, c.rel,
    c.rel - {_Q162_LAMBDA} * MAX({dr(cos.format(a='c.vec', b='s.vec'))}) AS score,
    c.vec
  FROM cand c JOIN {prev} s ON c.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY c.vec_id, c.rel, c.vec
  ORDER BY score DESC, c.vec_id LIMIT 1
), sel{t} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT {t} AS rank, vec_id, rel, score, vec FROM pick{t}
)"""
        )
    parts.append(
        f"""
SELECT rank, vec_id, rel, score FROM sel{_Q162_K} ORDER BY rank
"""
    )
    return "".join(parts)


QUERIES.update(
    {
        "q162_mmr_diverse_topk": Query(q162_mmr_diverse_topk, _q162_sql()),
    }
)
