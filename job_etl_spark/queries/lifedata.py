"""LLM-training-data pipeline operators (BASELINE.json north star) over the
``documents`` and ``embeddings`` tables: deduplication, text analysis,
fingerprinting, similarity search, and multimodal binary plumbing.

Scale stance: every pairwise operator is *blocked* (lang/source/length or
label buckets) so candidate generation is an equi-join, never a cartesian
product; hashes are md5-derived (engine-portable, seed-stable); nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from job_etl_spark.queries._util import Query, dround, sql_dround
from job_etl_spark.tables import parallel_scan, parallel_table, table


from job_etl_spark.ml.dedup import hexint as _hexint  # single 60-bit md5→bigint impl


_SQL_HEXINT = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# ---------------------------------------------------------------------------
# q20 — exact dedup (hash-groupBy; scalable shape of U1-keyed dedup)
# ---------------------------------------------------------------------------
def q20_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_Q20_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# q21 — token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------
_BPE_RE = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def q21_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tokens = F.split(F.col("text"), r"\s+")
    # group index 0 = whole match (Spark defaults to group 1, which errors
    # on a pattern with no capture groups)
    bpe = F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)".replace("\\", "\\\\"))
    n_tok = F.size(tokens).cast("bigint")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        dround(F.col("n_chars") / n_tok, 6).alias("avg_token_len"),
    )


_AVG_TOK = sql_dround("n_chars / len(regexp_split_to_array(text, '\\s+'))::DOUBLE", 6)
_Q21_SQL = f"""
SELECT doc_id,
  len(regexp_split_to_array(text, '{chr(92)}s+')) AS n_tokens,
  len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
  {_AVG_TOK} AS avg_token_len
FROM documents
"""


# ---------------------------------------------------------------------------
# q22 — quality scoring (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------
_STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def q22_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tokens = F.split(F.lower("text"), " ")
    n_tok = F.size(tokens)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda x: F.array_contains(stop_arr, x)))
    n_punct = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    len_score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    stop_ratio = n_stop / n_tok.cast("double")
    punct_ratio = n_punct / F.col("n_chars").cast("double")
    quality = 0.5 * len_score + 0.3 * (1 - punct_ratio) + 0.2 * stop_ratio
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        F.col("n_chars").alias("n_chars"),
        dround(stop_ratio, 6).alias("stop_ratio"),
        dround(punct_ratio, 6).alias("punct_ratio"),
        dround(quality, 6).alias("quality"),
    )


_SW_SQL = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
_Q22_SQL = f"""
WITH t AS (
  SELECT doc_id, n_chars,
    string_split(lower(text), ' ') AS toks,
    length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, n_chars,
    len(toks) AS n_tokens,
    len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
      / (len(toks)::DOUBLE) AS stop_ratio,
    n_punct / (n_chars::DOUBLE) AS punct_ratio,
    least(1.0::DOUBLE, n_chars / 500.0::DOUBLE) AS len_score
  FROM t
)
SELECT doc_id, n_tokens, n_chars,
  {sql_dround('stop_ratio', 6)} AS stop_ratio,
  {sql_dround('punct_ratio', 6)} AS punct_ratio,
  {sql_dround(
      '0.5::DOUBLE*len_score + 0.3::DOUBLE*(1.0::DOUBLE - punct_ratio)'
      ' + 0.2::DOUBLE*stop_ratio', 6)} AS quality
FROM m
"""


# ---------------------------------------------------------------------------
# q23 — language ID (dictionary-overlap heuristic; integer argmax)
# ---------------------------------------------------------------------------
_LANG_DICTS = {
    "en": ["the", "a", "fast", "slow", "big", "small"],
    "de": ["table", "join", "merge", "batch", "hash"],
    "fr": ["vector", "window", "stream", "query", "group"],
}


def q23_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    tokens = F.split(F.lower("text"), " ")
    def _overlap(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(tokens, lambda x: F.array_contains(arr, x)))

    scores = {lang: _overlap(words) for lang, words in _LANG_DICTS.items()}
    pred = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["fr"].alias("score_fr"),
        pred.alias("predicted_lang"),
        "lang",
    )


def _lang_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in _LANG_DICTS[lang]) + "]"
    return f"len(list_filter(string_split(lower(text), ' '), x -> list_contains({arr}, x)))"


_Q23_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
    CAST({_lang_sql('en')} AS INT) AS score_en,
    CAST({_lang_sql('de')} AS INT) AS score_de,
    CAST({_lang_sql('fr')} AS INT) AS score_fr
  FROM documents
)
SELECT doc_id, score_en, score_de, score_fr,
  CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
       WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS predicted_lang,
  lang
FROM s
"""


# ---------------------------------------------------------------------------
# q24 — document fingerprinting (content hash + min-shingle winnow hash)
# ---------------------------------------------------------------------------
def q24_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents")
    norm = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    tokens = F.split(norm, " ")
    n = F.size(tokens)
    shingles = F.transform(
        F.sequence(F.lit(1), n - 4),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, 5)),
    )
    winnow = F.array_min(F.transform(shingles, _hexint))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.when(n >= 5, winnow).alias("winnow_fp"),
    )


_Q24_SQL = f"""
WITH t AS (
  SELECT doc_id,
    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM t
)
SELECT doc_id,
  md5(norm) AS content_fp,
  CASE WHEN len(toks) >= 5 THEN
    list_min(list_transform(range(1, len(toks) - 3),
      i -> {_SQL_HEXINT.format(expr="array_to_string(toks[i:i+4], ' ')")}))
  END AS winnow_fp
FROM tok
"""


# ---------------------------------------------------------------------------
# q25 — n-gram Jaccard near-dup (blocked candidate join, no cartesian)
# ---------------------------------------------------------------------------
def _q25_grams(spark: SparkSession, sf: str) -> DataFrame:
    """q25's pre-checkpoint gram pass — module-level so tests/test_plans.py
    can assert the documents scan shape the lazy checkpoint hides."""
    docs = parallel_table(spark, sf, "documents")
    tokens = F.split(F.lower("text"), " ")
    n = F.size(tokens)
    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n - 2), lambda i: F.concat_ws(" ", F.slice(tokens, i, 3)))
    )
    # intersect on 60-bit md5 gram hashes, not strings: ~25% faster and a
    # far narrower shuffle at corpus scale; both engines hash identically
    # so counts are bit-equal (collisions would be symmetric anyway)
    from job_etl_spark.ml.dedup import hexint

    gram_hashes = F.array_distinct(F.transform(grams, hexint))
    return docs.where(n >= 3).select(
        "doc_id", "lang", "source", "n_chars", gram_hashes.alias("grams")
    )


def q25_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # BOTH self-join sides consume the gram frame; lazily checkpoint so
    # the tokenize + per-trigram md5 pass (the query's dominant compute)
    # runs once, not once per side (guide §2.3 — the q157 shared-pass
    # pattern; same frame, deterministic, result-identical)
    d = _q25_grams(spark, sf).localCheckpoint(eager=False)
    # Blocking: same (lang, source), |Δchars| ≤ 5. A bare (lang, source)
    # equi-key is unbounded — one hot (en, web) block goes quadratic at
    # corpus scale — so a 16-char length band joins as part of the EQUI key
    # and bounds every block. Band width 16 > 5 ⇒ a qualifying pair spans
    # at most adjacent bands; side b emits {band-1, band, band+1} (distinct
    # keys, so each pair matches exactly once) and the exact |Δ| ≤ 5 filter
    # keeps the result set identical to the unbanded query.
    band = (F.col("n_chars") / 16).cast("bigint")
    a = d.withColumn("band", band).alias("a")
    b = (
        d.withColumn("band", F.explode(F.array(band - 1, band, band + 1)))
        .alias("b")
    )
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 5),
    )
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    jac = inter / union.cast("double")
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        inter.cast("bigint").alias("n_shared"),
        dround(jac, 6).alias("jaccard"),
    ).where(F.col("n_shared") > 0)


_Q25_SQL = """
WITH g AS (
  SELECT doc_id, lang, source, n_chars,
    list_distinct(list_transform(
      list_distinct(list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
        i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' '))),
      gr -> ('0x' || substr(md5(gr), 1, 15))::BIGINT)) AS grams
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  len(list_intersect(a.grams, b.grams)) AS n_shared,
  CAST(ROUND(CAST(len(list_intersect(a.grams, b.grams))
    / ((len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE)
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS jaccard
FROM g a JOIN g b
  ON a.lang = b.lang AND a.source = b.source
  AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 5
WHERE len(list_intersect(a.grams, b.grams)) > 0
"""


# ---------------------------------------------------------------------------
# q26 — brute-force cosine top-k similarity search (ANN baseline)
# ---------------------------------------------------------------------------
def _cosine(a, b):
    from job_etl_spark.ml.ann import cosine_expr

    return cosine_expr(a, b)


def q26_ann_cosine_topk(
    spark: SparkSession, sf: str, emb: DataFrame | None = None
) -> DataFrame:
    # ``emb``: optional pre-built (vec_id, vec) frame so a composing query
    # (q142) can share ONE embeddings scan across retrieval arms (r11,
    # guide §2.4); standalone calls build it from the table as before.
    from pyspark.sql import Window

    if emb is None:
        emb = parallel_table(spark, sf, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
        )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    pairs = emb.crossJoin(F.broadcast(queries)).where(F.col("vec_id") != F.col("q_id"))
    sim = _cosine(F.col("q_vec"), F.col("vec"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "rn", F.col("vec_id").alias("neighbor_id"), dround(F.col("sim"), 6).alias("cosine"))
    )


_Q26_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), q AS (
  SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 10
), scored AS (
  SELECT q.q_id, e.vec_id,
    list_dot_product(q.q_vec, e.vec)
      / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(e.vec, e.vec))) AS sim
  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT q_id, rn, vec_id AS neighbor_id,
  CAST(ROUND(CAST(sim AS DECIMAL(24,10)), 6) AS DOUBLE) AS cosine
FROM ranked WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# q27 — embedding-cosine near-dup via banded hyperplane LSH.
#
# A bare (label) block is unbounded — one hot label goes quadratic at
# corpus scale — so candidates come from 8 bands of 4 hyperplane sign-bits
# (ml/ann.py plane_matrix: md5-seeded, engine-reproducible): a pair is a
# candidate iff it shares (label, band_id, band_bucket) for ANY band, then
# exact cosine ≥ θ filters inside the 16-way buckets. Deterministic, so
# the DuckDB oracle computes the identical candidate set; band/plane
# counts tune recall vs bucket size exactly like MinHash-LSH (q29).
# θ = 0.40 is set at the synthetic corpus's similarity scale (its max
# in-label cosine is 0.475) so the correctness gate exercises real pairs
# end-to-end; production near-dup would run θ ≈ 0.9, where any-of-8
# recall is ≈ 1 − (1 − 0.856⁴)⁸ ≈ 99.3%.
# ---------------------------------------------------------------------------
_Q27_BANDS = 8
_Q27_PLANES_PER_BAND = 4
_Q27_THRESHOLD = 0.40


def _q27_band_planes(bands: int = _Q27_BANDS, planes_per_band: int = _Q27_PLANES_PER_BAND):
    from job_etl_spark.ml.ann import plane_matrix

    planes = plane_matrix(bands * planes_per_band, 64)
    return [
        planes[i * planes_per_band : (i + 1) * planes_per_band]
        for i in range(bands)
    ]


def q27_embedding_neardup(
    spark: SparkSession,
    sf: str,
    bands: int = _Q27_BANDS,
    planes_per_band: int = _Q27_PLANES_PER_BAND,
    threshold: float = _Q27_THRESHOLD,
    max_bucket: int | None = None,
) -> DataFrame:
    # The (bands, planes_per_band, threshold) kwargs are the standard LSH
    # density re-tune — defaults are the declared oracle-paired setting.
    # At higher corpus density the 2^planes bucket space must grow to keep
    # per-bucket B (and the B² candidate expansion) bounded: the 64× probe
    # showed the default 4-bit bands saturating on a 65×-dup-dense corpus
    # (~10⁸ candidates at ~1% precision spilled past local disk), while
    # bands=16/planes=8/θ=0.9 — the production near-dup operating point,
    # re-tuned for that density — completes it comfortably (SCALING.md).
    # ``max_bucket`` is for collision-driven skew, not dup-dense data.
    from job_etl_spark.ml.ann import banded_bucket_expr
    from job_etl_spark.ml.dedup import bucket_pairs

    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    bands_expr = banded_bucket_expr(F.col("vec"), _q27_band_planes(bands, planes_per_band))
    # The banded grouping shuffles each row once per band (8×). Carry only
    # (vec_id, label) through it — shipping the 64-dim vector would multiply
    # shuffle bytes ~20×; the vectors are re-attached AFTER pair-dedup, when
    # each survives exactly once. At 100 TB this is the difference between
    # shuffling ids and shuffling the embedding corpus eight times over.
    banded = emb.select(
        "vec_id", "label", F.explode(bands_expr).alias("bk")
    ).select("vec_id", "label", "bk.band_id", "bk.bucket")
    # label is in the block key: near-dup pairs never cross labels, so a
    # bucket holds one label's rows of one band's 2^planes cell
    cand = (
        bucket_pairs(banded, ("label", "band_id", "bucket"), "vec_id", max_bucket, keep=("label",))
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"), "label")
        # a pair sharing several bands appears once per band — dedup on the
        # pair key before fetching vectors / the (expensive) exact cosine
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # Per-vector norms are computed ONCE in the fetch-back projections
    # (same fold as _cosine's norm → the quotient below is bit-identical):
    # a vector in k candidate pairs used to pay k interpreted norm folds.
    nrm = F.sqrt(
        F.aggregate(
            F.transform("vec", lambda x: x * x), F.lit(0.0), lambda s, x: s + x
        )
    )
    va = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), nrm.alias("na")
    )
    vb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), nrm.alias("nb")
    )
    # Explicit hash-repartition of the deduped id-pairs: AQE's bytes-based
    # coalescing collapses the sub-MB pair stream to ONE partition, which
    # serializes the CPU-dense exact-cosine verification into a single
    # task (guide §2.5). Deterministic key hash; scales with the cluster.
    cand = (
        cand.repartition(spark.sparkContext.defaultParallelism, "vec_a")
        .join(va, "vec_a")
        .join(vb, "vec_b")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    sim = dot / (F.col("na") * F.col("nb"))
    return (
        cand.withColumn("sim", sim)
        .where(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "label", dround(F.col("sim"), 6).alias("cosine"))
    )


def _q27_sql() -> str:
    band_selects = []
    for i, band in enumerate(_q27_band_planes()):
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(vec, [{', '.join(repr(x) for x in p)}]) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(band)
        )
        band_selects.append(
            f"SELECT vec_id, label, vec, {i} AS band_id, {bucket} AS bucket FROM e"
        )
    banded = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), banded AS (
{banded}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label
  FROM banded a JOIN banded b
    ON a.label = b.label AND a.band_id = b.band_id AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, c.label,
  CAST(ROUND(CAST(
    list_dot_product(ea.vec, eb.vec)
      / (sqrt(list_dot_product(ea.vec, ea.vec)) * sqrt(list_dot_product(eb.vec, eb.vec)))
    AS DECIMAL(24,10)), 6) AS DOUBLE) AS cosine
FROM cand c
JOIN e ea ON ea.vec_id = c.vec_a
JOIN e eb ON eb.vec_id = c.vec_b
WHERE list_dot_product(ea.vec, eb.vec)
      / (sqrt(list_dot_product(ea.vec, ea.vec)) * sqrt(list_dot_product(eb.vec, eb.vec))) >= {_Q27_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# q28 — multimodal binary plumbing (Arrow-batched mapInPandas; decode stubbed)
# ---------------------------------------------------------------------------
_MM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", IntegerType()),
    ]
)


def q28_multimodal_bytes(spark: SparkSession, sf: str) -> DataFrame:
    """Treat text as an opaque binary payload (stand-in for image/audio bytes)
    and run the decode/feature step as an Arrow-batched mapInPandas — the
    real 100 TB shape for multimodal columns. The decode itself is a
    deterministic fake (no image libs in this container); the Spark-side
    plumbing (binary column, batch iteration, typed output schema) is real.
    """
    docs = table(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def decode_batch(batches):
        import pandas as pd

        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            # NULL payloads yield NULL decode columns (oracle parity), and
            # first_byte is the first UTF-8 BYTE — byte-level semantics,
            # matching the hex-substring oracle (DuckDB ascii() would be
            # the code POINT and diverge on non-ASCII text)
            out["n_bytes"] = pd.array(
                [len(b) if b is not None else None for b in pdf["payload"]],
                dtype="Int64",
            )
            out["first_byte"] = pd.array(
                [
                    (b[0] if len(b) else -1) if b is not None else None
                    for b in pdf["payload"]
                ],
                dtype="Int32",
            )
            yield out

    return docs.mapInPandas(decode_batch, schema=_MM_SCHEMA)


_Q28_SQL = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(CASE WHEN length(text) > 0
            THEN ('0x' || substr(hex(encode(text)), 1, 2))::INT
            WHEN text IS NULL THEN NULL
            ELSE -1 END AS INT) AS first_byte
FROM documents
"""


# ---------------------------------------------------------------------------
# q32 — LSH-bucketed ANN (random-hyperplane buckets → in-bucket exact rank)
# ---------------------------------------------------------------------------
def q32_ann_lsh_bucketed(
    spark: SparkSession, sf: str, emb: DataFrame | None = None
) -> DataFrame:
    # ``emb``: optional shared (vec_id, vec) frame — see q26's note.
    from job_etl_spark.ml.ann import lsh_bucketed_topk

    if emb is None:
        emb = parallel_table(spark, sf, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
        )
    out = lsh_bucketed_topk(emb, F.col("vec_id") < 10, k=3)
    return out.select(
        "q_id", "rn", "neighbor_id", dround(F.col("sim"), 6).alias("cosine")
    )


def _q32_sql() -> str:
    from job_etl_spark.ml.ann import plane_matrix

    planes = plane_matrix(8, 64)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(vec, [{', '.join(repr(x) for x in p)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), b AS (
  SELECT vec_id, vec, {bucket_terms} AS bucket FROM e
), q AS (
  SELECT vec_id AS q_id, vec AS q_vec, bucket FROM b WHERE vec_id < 10
), scored AS (
  SELECT q.q_id, b.vec_id,
    list_dot_product(q.q_vec, b.vec)
      / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(b.vec, b.vec))) AS sim
  FROM b JOIN q ON b.bucket = q.bucket WHERE b.vec_id <> q.q_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT q_id, rn, vec_id AS neighbor_id,
  CAST(ROUND(CAST(sim AS DECIMAL(24,10)), 6) AS DOUBLE) AS cosine
FROM ranked WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# q48 — IVF (inverted-file) ANN: the second scale path next to LSH (q32).
# Deterministic coarse codebook (smallest-id vectors stand in for k-means
# centroids), shuffle-free nearest-centroid assignment (a greatest() fold
# over (sim, -id) structs — a pure projection), nprobe-limited candidate
# join keyed on centroid_id, exact cosine re-rank inside the probed
# lists. Per-query work: O(N·nprobe/C) instead of O(N).
# ---------------------------------------------------------------------------
def q48_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.ann import ivf_topk

    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    out = ivf_topk(
        emb, F.col("vec_id") < 10, k=5, n_centroids=16, nprobe=2
    )
    return out.select(
        "q_id", "rn", "neighbor_id", dround(F.col("sim"), 6).alias("cosine")
    )


_Q48_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

_Q48_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), c AS (
  SELECT vec_id AS c_id, vec AS c_vec FROM e ORDER BY vec_id LIMIT 16
), asg AS (
  SELECT vec_id, vec, c_id AS centroid_id FROM (
    SELECT e.vec_id, e.vec, c.c_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_Q48_COS.format(a='e.vec', b='c.c_vec')} DESC, c.c_id ASC) AS arn
    FROM e CROSS JOIN c) t
  WHERE arn = 1
), q AS (
  SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id < 10
), probe AS (
  SELECT q_id, q_vec, c_id AS centroid_id FROM (
    SELECT q.q_id, q.q_vec, c.c_id,
      row_number() OVER (PARTITION BY q.q_id ORDER BY
        {_Q48_COS.format(a='q.q_vec', b='c.c_vec')} DESC, c.c_id ASC) AS prn
    FROM q CROSS JOIN c) t
  WHERE prn <= 2
), scored AS (
  SELECT p.q_id, a.vec_id,
    {_Q48_COS.format(a='p.q_vec', b='a.vec')} AS sim
  FROM probe p JOIN asg a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.q_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT q_id, rn, vec_id AS neighbor_id,
  CAST(ROUND(CAST(sim AS DECIMAL(24,10)), 6) AS DOUBLE) AS cosine
FROM ranked WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# q54 — fixed-window document chunking (the training-data windowing op):
# native array expression (transform + slice over the token array), one
# map stage, rows expand via explode — no Python, no shuffle. The UDTF
# twin (functions/chunking.py::ChunkDocuments) is the extension point
# for real tokenizers; tests prove it row-identical to this plan.
# ---------------------------------------------------------------------------
def q54_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.functions.chunking import chunks_expr, tokens_expr

    docs = parallel_table(spark, sf, "documents")
    ch = docs.select(
        "doc_id", F.explode(chunks_expr(tokens_expr("text"))).alias("c")
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.md5(F.col("c.chunk_text")).alias("chunk_md5"),
    )


_Q54_SQL = """
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  CAST(w AS INT) AS chunk_idx,
  CAST(least(len(toks) - w * 32, 32) AS INT) AS n_tokens,
  md5(array_to_string(toks[w * 32 + 1 : w * 32 + 32], ' ')) AS chunk_md5
FROM t, LATERAL (
  SELECT unnest(range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS w
) u
WHERE len(toks) > 0
"""


# ---------------------------------------------------------------------------
# q29 — MinHash-LSH near-dup candidates (shingle→minhash→band→bucket-join)
# ---------------------------------------------------------------------------
def q29_minhash_lsh(spark: SparkSession, sf: str, tok: DataFrame | None = None) -> DataFrame:
    from job_etl_spark.ml.dedup import minhash_lsh_candidates

    # `tok` is an optional pre-tokenized (doc_id, …, _tok) frame — the
    # q26/q32 `emb=` shared-scan pattern: a composer running several
    # signature schemes over one corpus (q157: minhash AND simhash)
    # tokenizes once and hands both generators the same materialized
    # frame. Standalone plan unchanged when absent.
    if tok is not None:
        return minhash_lsh_candidates(tok, "doc_id", toks_col="_tok").orderBy(
            "doc_a", "doc_b"
        )
    docs = parallel_table(spark, sf, "documents")
    return minhash_lsh_candidates(docs, "doc_id", "text").orderBy("doc_a", "doc_b")


def _q29_sql() -> str:
    from job_etl_spark.ml.dedup import MINHASH_PRIME, minhash_coefficients

    a, b = minhash_coefficients(16)
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
  SELECT doc_id,
    list_transform(range(0, 16), s ->
      list_min(list_transform(hs,
        h -> (({a_sql})[s+1] * h + ({b_sql})[s+1]) % {MINHASH_PRIME}))) AS sig
  FROM sh WHERE len(hs) > 0
), banded AS (
  SELECT doc_id, band,
    md5(array_to_string(sig[band*4+1 : band*4+4], ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM banded a
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


_Q29_SQL = _q29_sql()


# ---------------------------------------------------------------------------
# q30 — SimHash signatures (64-bit-family content hash, 60 bits here)
# ---------------------------------------------------------------------------
def q30_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import with_simhash

    docs = parallel_table(spark, sf, "documents")
    return with_simhash(docs, "text", "simhash").select("doc_id", "simhash")


_Q30_SQL = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), hh AS (
  SELECT doc_id, len(toks) AS n,
    list_transform(toks, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT)) AS hs
  FROM tok
)
SELECT doc_id,
  CASE WHEN n > 0 THEN
    CAST(list_sum(list_transform(range(0, 60), j ->
      CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
           THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)
  END AS simhash
FROM hh
"""


# ---------------------------------------------------------------------------
# q31 — SimHash near-dup pairs (blocked + pigeonhole-banded, hamming ≤ 8).
# Threshold 8 is the corpus's true near-dup boundary: the pair-hamming
# histogram at sf0.01 is a tiny tail at ≤8 (actual near-dups) against a
# random background hump peaking at ~19, so ≤16 was mostly admitting
# coincidence. 8 also makes pigeonhole banding selective: 9 bands of 6-7
# bits key candidates on (lang, source, band, band_bits) — a hot
# (en, web) block fans out over ~9·2^7 buckets instead of ONE
# collect_list task — while the pair set stays EXACTLY
# {pairs: hamming ≤ 8} (any such pair agrees on ≥1 of 9 bands).
# ---------------------------------------------------------------------------
def q31_simhash_neardup(spark: SparkSession, sf: str, tok: DataFrame | None = None) -> DataFrame:
    from job_etl_spark.ml.dedup import simhash_block_pairs, with_simhash

    # `tok`: optional pre-tokenized (doc_id, lang, source, _tok) frame —
    # see q29's parameter of the same name (one tokenize feeding both
    # signature schemes in q157). Standalone plan unchanged when absent.
    if tok is not None:
        sigs = with_simhash(tok, "text", "simhash", toks_col="_tok").select(
            "doc_id", "lang", "source", "simhash"
        )
    else:
        docs = parallel_table(spark, sf, "documents")
        sigs = with_simhash(docs, "text", "simhash").select(
            "doc_id", "lang", "source", "simhash"
        )
    return simhash_block_pairs(sigs, ("lang", "source"), max_hamming=8)


_Q31_SQL = """
WITH tok AS (
  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS toks FROM documents
), hh AS (
  SELECT doc_id, lang, source, len(toks) AS n,
    list_transform(toks, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT)) AS hs
  FROM tok
), sig AS (
  SELECT doc_id, lang, source,
    CASE WHEN n > 0 THEN
      CAST(list_sum(list_transform(range(0, 60), j ->
        CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)
    END AS simhash
  FROM hh
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a
JOIN sig b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


# ---------------------------------------------------------------------------
# q60 — vocabulary building: corpus token frequencies, top-k. The
# explode-then-count shape: map-side partial aggregation absorbs the
# token explosion before the shuffle (each task emits one partial count
# per distinct token, not one row per token occurrence), and the top-k
# is TakeOrderedAndProject — the vocabulary never materializes sorted.
# ---------------------------------------------------------------------------
def q60_vocabulary(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators import top_k

    docs = table(spark, sf, "documents")
    tokens = F.explode(F.split(F.lower("text"), " ")).alias("token")
    counts = (
        docs.select(tokens)
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return top_k(counts, [F.desc("n_occurrences"), F.asc("token")], 50)


_Q60_SQL = """
SELECT token, COUNT(*) AS n_occurrences
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# q59 — deterministic train/val/test split: hash-bucket assignment
# (md5(doc_id) mod 100 → 80/10/10). The production-correct alternative
# to random sampling: stable across runs/engines/partitionings, docs don't
# reshuffle old assignments, and the split is reproducible from the key
# alone. Pure projection + grouped count — no shuffle beyond the final
# small agg.
# ---------------------------------------------------------------------------
def q59_train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    bucket = _hexint(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_Q59_SQL = f"""
WITH b AS (
  SELECT lang,
    {_SQL_HEXINT.format(expr="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
  lang, COUNT(*) AS n_docs
FROM b GROUP BY split, lang
"""


# ---------------------------------------------------------------------------
# q58 — dedup clusters: the union-find step that turns near-dup PAIRS
# (q31's blocked simhash output) into CLUSTERS via iterative min-label
# propagation (ml/cluster.py). Deterministic fixpoint (component min), so
# it oracle-checks against a DuckDB recursive-CTE transitive closure over
# the identical pair set.
# ---------------------------------------------------------------------------
def q58_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.cluster import connected_components

    pairs = q31_simhash_neardup(spark, sf).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc_id"),
    )


_Q58_SQL = (
    _Q31_SQL.replace("WITH tok AS (", "WITH RECURSIVE tok AS (", 1)
    .replace(
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,",
        ", pairs AS (\nSELECT a.doc_id AS doc_a, b.doc_id AS doc_b,",
    )
    + """
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), labeled AS (
  SELECT a AS node, MIN(b) AS cluster_id FROM reach GROUP BY a
)
SELECT cluster_id, COUNT(*) AS n_docs, MAX(node) AS max_doc_id
FROM labeled GROUP BY cluster_id
"""
)


# ---------------------------------------------------------------------------
# q76 — PII scrub (training-data compliance pass): detect + redact emails /
# SSNs / phones / IPs with native regexp chains — map-only, codegen'd, no
# shuffle, scales linearly with executors. The synthetic corpus has no PII,
# so deterministic PII is injected per doc_id (different types appear on
# different residues to exercise zero counts), then counted on the raw text
# and redacted; the redacted text is emitted as a portable 60-bit md5 hash
# so the oracle compares content, not just counts. Patterns live in
# functions/pii.py (Java∩RE2 dialect — the same spec renders to both engines).
# ---------------------------------------------------------------------------
def q76_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.functions.pii import pii_counts, redact_pii

    docs = parallel_table(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" call 555-010-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    staged = docs.select("doc_id", injected.alias("t"))
    counts = pii_counts(F.col("t"))
    return staged.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        _hexint(redact_pii(F.col("t"))).alias("redacted_hash"),
    )


def _q76_sql() -> str:
    from job_etl_spark.functions.pii import sql_pii_counts, sql_redact_pii

    injected = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || CASE WHEN doc_id % 2 = 0 THEN ' call 555-010-' ||"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' ||"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )
    count_cols = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in sql_pii_counts("t").items()
    )
    redacted = sql_redact_pii("t")
    hexint = _SQL_HEXINT.format(expr=redacted)
    return f"""
WITH staged AS (SELECT doc_id, {injected} AS t FROM documents)
SELECT doc_id,
       {count_cols},
       {hexint} AS redacted_hash
FROM staged
"""


# ---------------------------------------------------------------------------
# q77 — greedy sequence packing (ml/packing.py): documents hash-sharded,
# ordered by doc_id, greedily packed into 2000-char training windows. The
# fold is ONE interpreted-HOF pass per shard (array accumulator); shards
# pack independently across executors, so the only shuffle is groupBy(shard).
# Oracle = per-shard recursive CTE carrying (packno, running fill) — the
# same sequential recurrence, expressed relationally.
# ---------------------------------------------------------------------------
_Q77_CAPACITY = 2000
_Q77_SHARDS = 8


def q77_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.packing import pack_greedy

    docs = parallel_table(spark, sf, "documents")
    packed = pack_greedy(
        docs,
        key_col="doc_id",
        weight_col="n_chars",
        shard_col=(F.col("doc_id") % _Q77_SHARDS).cast("bigint"),
        order_col="doc_id",
        capacity=_Q77_CAPACITY,
    )
    return packed.select("shard", "doc_id", "n_chars", "packno")


_Q77_SQL = f"""
WITH RECURSIVE ordered AS (
  SELECT doc_id % {_Q77_SHARDS} AS shard, doc_id, n_chars,
         row_number() OVER (PARTITION BY doc_id % {_Q77_SHARDS} ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT shard, rn, doc_id, n_chars,
         0::BIGINT AS packno, n_chars AS cur
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_chars,
         CASE WHEN p.cur + o.n_chars <= {_Q77_CAPACITY} THEN p.packno ELSE p.packno + 1 END,
         CASE WHEN p.cur + o.n_chars <= {_Q77_CAPACITY} THEN p.cur + o.n_chars ELSE o.n_chars END
  FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT shard, doc_id, n_chars, packno FROM packed
"""


# ---------------------------------------------------------------------------
# q78 — benchmark contamination check: flag training docs sharing 3-token
# grams with a held-out benchmark set (doc_id % 97 == 0 stands in for the
# eval set). Benchmark grams explode → distinct → BROADCAST (eval sets are
# tiny next to a 100 TB corpus); doc grams explode and hash-join against
# them — no pairwise doc×doc work, cost is |corpus grams| + |bench grams|.
# Grams are 60-bit md5 ints (narrow shuffle, engine-portable).
# ---------------------------------------------------------------------------
def q78_contamination(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents")
    tokens = F.split(F.lower("text"), " ")
    n = F.size(tokens)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: _hexint(F.concat_ws(" ", F.slice(tokens, i, 3))),
        )
    )
    # explode_OUTER on purpose: plain explode lets Catalyst infer a
    # size(grams)>0 pre-filter that evaluates the whole md5-gram transform
    # BEFORE the parallelizing Exchange (single-threaded, and a second
    # evaluation on top of the Project's). outer blocks that inference;
    # the null gram rows it admits never match the inner join on gram.
    g = docs.where(n >= 3).select("doc_id", grams.alias("grams"))
    # the benchmark gram set is a fixed FRACTION of the corpus (1/97), not
    # a construction-bounded frame — no broadcast hint (policy, SCALING.md
    # "Broadcast-hint policy"): a real eval suite is small and AQE will
    # broadcast it at runtime; a forced hint here is the q39/q47
    # driver-OOM hazard class at 100 TB.
    bench = (
        g.where(F.col("doc_id") % 97 == 0)
        .select(F.explode_outer("grams").alias("gram"))
        .distinct()
    )
    hits = (
        g.where(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id", F.size("grams").alias("n_grams"), F.explode_outer("grams").alias("gram")
        )
        .join(bench, "gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.select(
        "doc_id",
        "n_hits",
        dround(F.col("n_hits") / F.col("n_grams").cast("double"), 6).alias("contam_frac"),
    )


_Q78_SQL = f"""
WITH g AS (
  SELECT doc_id,
    list_distinct(list_transform(
      list_distinct(list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
        i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' '))),
      gr -> {_SQL_HEXINT.format(expr='gr')})) AS grams
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
), bench AS (
  SELECT DISTINCT gram
  FROM g, UNNEST(g.grams) AS t(gram)
  WHERE doc_id % 97 = 0
), exploded AS (
  SELECT doc_id, len(grams) AS n_grams, gram
  FROM g, UNNEST(g.grams) AS t(gram)
  WHERE doc_id % 97 <> 0
)
SELECT e.doc_id, COUNT(*) AS n_hits,
       {sql_dround('COUNT(*) / any_value(e.n_grams)::DOUBLE', 6)} AS contam_frac
FROM exploded e JOIN bench b ON e.gram = b.gram
GROUP BY e.doc_id
"""


# ---------------------------------------------------------------------------
# q84 — deterministic stratified sampling: a fixed-rate (10%) sample drawn
# independently inside every (lang, source) stratum via a salted md5 bucket
# of the stable doc_id — run-, engine-, and partition-stable (no RNG), the
# per-stratum guarantee q59's global split doesn't give. Map-only until the
# tiny per-stratum count agg; at 100 TB the sample predicate pushes into
# the scan's row-group filter when doc_id is clustered.
# ---------------------------------------------------------------------------
def q84_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    bucket = _hexint(F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))) % 10
    return (
        docs.select("lang", "source", (bucket == 0).alias("sampled"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        )
        .withColumn(
            "sample_frac", dround(F.col("n_sampled") / F.col("n_total").cast("double"), 6)
        )
    )


_Q84_BUCKET = _SQL_HEXINT.format(expr="'strat|' || CAST(doc_id AS VARCHAR)")
_Q84_SQL = f"""
SELECT lang, source,
  COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN {_Q84_BUCKET} % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
  {sql_dround('CAST(SUM(CASE WHEN ' + _Q84_BUCKET + ' % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*)::DOUBLE', 6)} AS sample_frac
FROM documents
GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# q85 — repetition quality metrics (Gopher-style filters): per document,
# the share of word 2-grams claimed by the single most frequent 2-gram and
# the share of word 3-grams that are duplicated occurrences — the two
# standard signals for boilerplate/looped text in pre-training corpora.
# Both gram sizes are generated in ONE explode (tagged structs), counted in
# one hash agg keyed by (doc_id, n, gram), and folded to per-doc shares in
# a second — two shuffles total, both keyed by doc_id prefixes, no
# cross-document traffic at any point.
# ---------------------------------------------------------------------------
_WS = r"\s+"


def q85_repetition_metrics(spark: SparkSession, sf: str) -> DataFrame:
    # parallel_table: the 2/3-gram explosion concatenates ~1M strings per
    # corpus pass — single-task on the one-split sf0.1 file otherwise
    # (q01's note; no-op at scale)
    docs = parallel_table(spark, sf, "documents")
    t = F.split(F.lower(F.col("text")), _WS)
    tagged = F.concat(
        F.expr(
            "transform(sequence(1, size(t)-1), i -> "
            "struct(CAST(2 AS INT) AS n, concat(element_at(t,i), ' ', element_at(t,i+1)) AS g))"
        ),
        F.expr(
            "transform(sequence(1, size(t)-2), i -> "
            "struct(CAST(3 AS INT) AS n, concat(element_at(t,i), ' ', element_at(t,i+1), "
            "' ', element_at(t,i+2)) AS g))"
        ),
    )
    grams = (
        docs.select("doc_id", t.alias("t"))
        .where(F.size("t") >= 3)
        .select("doc_id", F.explode(tagged).alias("x"))
        .select("doc_id", "x.n", "x.g")
    )
    cnt = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    two, three = F.col("n") == 2, F.col("n") == 3
    return cnt.groupBy("doc_id").agg(
        dround(
            F.max(F.when(two, F.col("c"))) / F.sum(F.when(two, F.col("c"))), 6
        ).alias("top_bigram_share"),
        dround(
            F.coalesce(F.sum(F.when(three & (F.col("c") > 1), F.col("c"))), F.lit(0))
            / F.sum(F.when(three, F.col("c"))),
            6,
        ).alias("dup_trigram_share"),
    )


_Q85_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '{_WS}') AS t
  FROM documents
  WHERE len(regexp_split_to_array(lower(text), '{_WS}')) >= 3
), b AS (
  SELECT doc_id, 2 AS n, t[i] || ' ' || t[i+1] AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i FROM t)
  UNION ALL
  SELECT doc_id, 3 AS n, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM t)
), c AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM b GROUP BY doc_id, n, g
)
SELECT doc_id,
  {sql_dround('MAX(CASE WHEN n=2 THEN c END) / SUM(CASE WHEN n=2 THEN c END)', 6)} AS top_bigram_share,
  {sql_dround('COALESCE(SUM(CASE WHEN n=3 AND c>1 THEN c END), 0) / SUM(CASE WHEN n=3 THEN c END)', 6)} AS dup_trigram_share
FROM c GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q86 — distinctive terms per document (TF-IDF-shaped, rational weights):
# score(term, doc) = tf · N / df — the IDF kept as an exact integer ratio
# instead of a log so the score is engine-exact (ln(double) is not
# bit-specified across engines; the RANKING it induces is identical because
# x ↦ ln(x) is monotone). Term frequencies and document frequencies come
# from two stacked hash aggs; N is a bounded one-row scalar aggregate
# (the A5 high-watermark pattern — same as q09) folded in as a literal,
# so no nested-loop join appears in the plan; top-3 per doc via
# row_number with a total order (score DESC, term ASC). The df join is
# keyed on term — at 100 TB that's a real vocab-sized shuffle, mitigated by
# the same hash-partitioning the tf agg already imposed.
# ---------------------------------------------------------------------------
def q86_distinctive_terms(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    # parallel_table: the tokenize+explode of the whole corpus otherwise
    # runs inside the single-split scan task (q01's note; no-op at scale)
    docs = parallel_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), _WS)).alias("term")
    )
    # tf feeds both the score join and the document-frequency rollup —
    # checkpoint so the tokenize+count pass runs once, not per consumer
    # (at 100 TB that pass IS the query's cost)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # count-star scalar: a parquet-footer read, not a corpus pass — on the
    # RAW table, not the parallel frame (a repartition above the scan
    # would defeat the metadata-only count)
    n_docs = int(table(spark, sf, "documents").agg(F.count(F.lit(1))).first()[0])
    scored = (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            "tf",
            dround(F.col("tf") * F.lit(n_docs) / F.col("df"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
    )


_Q86_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{_WS}')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    {sql_dround('tf.tf * (SELECT COUNT(*) FROM documents) / df.df', 6)} AS score
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, score,
       CAST(rk AS INT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s)
WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# q159 — image near-dup end-to-end THROUGH THE REAL CODEC: each doc's
# 60-bit simhash is rendered as an 8×8 grayscale PNG on the executors
# (Arrow-batched mapInPandas, ml/codecs.png_encode), perceptual-hashed
# through the real PNG decoder (ml/codecs.perceptual_hash — 9×8 dHash),
# and paired with the pigeonhole-banded hamming generator keyed on
# (top-byte block, band, band_bits). Near-dup texts have hamming-close
# signatures, hence near-identical images, hence dHash-close pairs.
#
# The ORACLE never touches a PNG: encode→decode round-trips losslessly,
# so the dHash is an exact algebraic function of the signature bits —
# dhash bit (8·gy+gx) = b(idx) AND NOT b(idx−1) under the decoder's 9→8
# nearest-pixel resample — which DuckDB computes directly. This makes the
# whole multimodal path (binary column, executor-side codec, banded
# near-dup) driver hash-checkable, not rows-only.
# ---------------------------------------------------------------------------
# dHash over binary 8×8 images is coarse (P(bit)=¼): the pair-distance
# histogram at sf0.01 is a background hump peaking at ~12 with the
# near-identical-image tail at ≤2 — so 2 is the declared threshold
# (3 pigeonhole bands, strong bucket selectivity)
_Q159_MAX_HAMMING = 2
_Q159_PAD = [0, 1, 0, 1]  # pixels 60..63 (constant for every doc)


def _q159_render(batches):
    # Callers MUST pre-filter NULL simhashes: a single NULL in an Arrow
    # batch makes pandas deliver the whole bigint column as float64, and
    # 60-bit signatures exceed float64's 53-bit mantissa — int(sig) would
    # silently corrupt the low bits of every signature in the batch.
    # Filtering upstream keeps the column int64 end-to-end.
    from job_etl_spark.ml.codecs import png_encode

    pad = _Q159_PAD

    def img(sig):
        bits = [(int(sig) >> k) & 1 for k in range(60)] + pad
        return png_encode(8, 8, 1, bytes(255 * b for b in bits))

    for pdf in batches:
        # Precondition check (fail loudly, never corrupt): a NULL batchmate
        # downgrades the column to float64 and int(sig) would silently
        # truncate >2^53 signatures. Callers pre-filter upstream.
        if str(pdf["simhash"].dtype) != "int64":
            raise TypeError(
                f"simhash batch dtype {pdf['simhash'].dtype}; caller must "
                "pre-filter NULL signatures (int64 end-to-end required)"
            )
        out = pdf[["media_id"]].copy()
        out["payload"] = pdf["simhash"].map(img).astype("object")
        yield out


def _q159_hash(batches):
    # Fused render→decode→dHash: the PNG bytes are encoded AND decoded
    # inside ONE Arrow stage (ml/codecs.png_encode → perceptual_hash), so
    # the payload never crosses the Python↔JVM boundary at all and each
    # task needs one Python worker, not two concurrently (the chained
    # render/hash mapInPandas pair cost 64 workers per run — measured
    # 11.7 s cold / 2.4 s warm vs 1.7 s fused at sf0.1). Same int64
    # precondition as _q159_render (kept for tests/probes).
    from job_etl_spark.ml.codecs import perceptual_hash, png_encode

    pad = _Q159_PAD

    def ph(sig):
        bits = [(int(sig) >> k) & 1 for k in range(60)] + pad
        h = perceptual_hash(png_encode(8, 8, 1, bytes(255 * b for b in bits)))
        return h - (1 << 64) if h >= (1 << 63) else h

    for pdf in batches:
        if str(pdf["simhash"].dtype) != "int64":
            raise TypeError(
                f"simhash batch dtype {pdf['simhash'].dtype}; caller must "
                "pre-filter NULL signatures (int64 end-to-end required)"
            )
        out = pdf[["media_id"]].copy()
        out["phash"] = pdf["simhash"].map(ph)
        yield out


def q159_image_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import simhash_block_pairs, tokens_expr, with_simhash
    from job_etl_spark.shipping import ensure_worker_package

    # _q159_hash is pickled by reference — workers must import the package
    ensure_worker_package(spark)
    docs = parallel_table(spark, sf, "documents")
    # NULL sigs (empty token lists) can never form a near-dup pair, and
    # they must not reach the Arrow boundary (see _q159_render). Filter on
    # the CHEAP equivalent predicate BEFORE with_simhash — simhash IS NULL
    # ⟺ token list empty (simhash_from_hashes_expr) — because a filter on
    # the computed column lets Catalyst substitute the whole md5-fold
    # pipeline into the pushed-down predicate and run it twice inside the
    # single-split scan task (the minhash_bands trap, ml/dedup.py rule).
    docs = docs.where(F.size(tokens_expr("text")) > 0)
    sigs = with_simhash(docs, "text", "simhash").select(
        F.col("doc_id").alias("media_id"), "simhash"
    )
    hashed = (
        sigs.mapInPandas(_q159_hash, "media_id bigint, phash bigint")
        .where(F.col("phash").isNotNull())
        .select(
            F.col("media_id").alias("doc_id"),
            F.shiftrightunsigned("phash", 56).alias("block"),
            F.col("phash").alias("simhash"),
        )
    )
    return simhash_block_pairs(hashed, ("block",), max_hamming=_Q159_MAX_HAMMING, bits=64)


def _q159_sql() -> str:
    # b(k): pixel k of the rendered image as a function of the signature
    def b(k: int) -> str:
        if k >= 60:
            return str(_Q159_PAD[k - 60])
        return f"((simhash >> {k}) & 1)"

    # the decoder resamples the 8-wide row to 9 columns via nearest pixel
    # (x = gx*8//9), so dHash column pairs are (0,0),(0,1),(1,2)…(6,7):
    # bit (8·gy+gx) for gx≥1 compares adjacent pixels; gx=0 is always 0.
    terms = []
    for gy in range(8):
        for gx in range(1, 8):
            idx = gy * 8 + gx
            cond = f"{b(idx)} = 1 AND {b(idx - 1)} = 0"
            if idx == 63:
                # sign bit of the signed 64-bit hash
                terms.append(f"CASE WHEN {cond} THEN -9223372036854775808 ELSE 0 END")
            else:
                terms.append(f"CASE WHEN {cond} THEN {1 << idx}::BIGINT ELSE 0 END")
    dhash = " + ".join(terms)
    sig_cte = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), hh AS (
  SELECT doc_id, len(toks) AS n,
    list_transform(toks, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT)) AS hs
  FROM tok
), sig AS (
  SELECT doc_id,
    CASE WHEN n > 0 THEN
      CAST(list_sum(list_transform(range(0, 60), j ->
        CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)
    END AS simhash
  FROM hh
)"""
    return f"""{sig_cte}, ph AS (
  SELECT doc_id, CAST({dhash} AS BIGINT) AS phash
  FROM sig WHERE simhash IS NOT NULL
), blocked AS (
  SELECT doc_id, (phash >> 56) & 255 AS block, phash FROM ph
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM blocked a
JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_Q159_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# q160 — audio near-dup through the REAL codec (the WAV twin of q159):
# each doc's signature is rendered as a PCM16 waveform on the executors
# (ml/codecs.wav_encode — 65 two-sample windows, window w at amplitude
# 1000·bit_w), fingerprinted through the real WAV decoder
# (ml/codecs.audio_fingerprint — 65-window energy-gradient hash), and
# paired with the banded hamming generator. Window w's mean |amplitude|
# is exactly 1000·bit_w, so the fingerprint is an exact algebraic
# function of the signature bits — fingerprint bit i = b(i+1) AND NOT
# b(i) — which the oracle computes directly. Pad [0,1,0,1,0] keeps the
# sign bit clear (fingerprint always non-negative).
# ---------------------------------------------------------------------------
_Q160_MAX_HAMMING = 2  # same background-vs-tail reasoning as q159
_Q160_PAD = [0, 1, 0, 1, 0]  # windows 60..64 (constant for every doc)
_Q160_RATE = 8000


def _q160_render(batches):
    # Callers MUST pre-filter NULL simhashes — same float64-mantissa
    # corruption hazard as _q159_render (one NULL in a batch downgrades
    # the whole bigint column to float64, truncating >2^53 signatures).
    from job_etl_spark.ml.codecs import wav_encode

    pad = _Q160_PAD

    def wav(sig):
        bits = [(int(sig) >> k) & 1 for k in range(60)] + pad
        samples = []
        for b in bits:
            samples += [1000 * b, 1000 * b]
        return wav_encode(_Q160_RATE, samples)

    for pdf in batches:
        # Same loud precondition check as _q159_render: int64 or raise.
        if str(pdf["simhash"].dtype) != "int64":
            raise TypeError(
                f"simhash batch dtype {pdf['simhash'].dtype}; caller must "
                "pre-filter NULL signatures (int64 end-to-end required)"
            )
        out = pdf[["media_id"]].copy()
        out["payload"] = pdf["simhash"].map(wav).astype("object")
        yield out


def _q160_hash(batches):
    # Fused render→decode→fingerprint, the WAV twin of _q159_hash: encode
    # and decode in one Arrow stage so the PCM payload never reaches the
    # JVM and the chained-two-Python-stages worker demand is halved.
    from job_etl_spark.ml.codecs import audio_fingerprint, wav_encode

    pad = _Q160_PAD

    def fp(sig):
        bits = [(int(sig) >> k) & 1 for k in range(60)] + pad
        samples = []
        for b in bits:
            samples += [1000 * b, 1000 * b]
        h = audio_fingerprint(wav_encode(_Q160_RATE, samples))
        return h - (1 << 64) if h >= (1 << 63) else h

    for pdf in batches:
        if str(pdf["simhash"].dtype) != "int64":
            raise TypeError(
                f"simhash batch dtype {pdf['simhash'].dtype}; caller must "
                "pre-filter NULL signatures (int64 end-to-end required)"
            )
        out = pdf[["media_id"]].copy()
        out["afp"] = pdf["simhash"].map(fp)
        yield out


def q160_audio_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import simhash_block_pairs, tokens_expr, with_simhash
    from job_etl_spark.shipping import ensure_worker_package

    # _q160_hash is pickled by reference — workers must import the package
    ensure_worker_package(spark)
    docs = parallel_table(spark, sf, "documents")
    # Cheap-equivalent NULL-sig pre-filter BEFORE with_simhash — same
    # predicate-substitution trap and same rationale as q159 above.
    docs = docs.where(F.size(tokens_expr("text")) > 0)
    sigs = with_simhash(docs, "text", "simhash").select(
        F.col("doc_id").alias("media_id"), "simhash"
    )
    hashed = (
        sigs.mapInPandas(_q160_hash, "media_id bigint, afp bigint")
        .where(F.col("afp").isNotNull())
        .select(
            F.col("media_id").alias("doc_id"),
            F.shiftrightunsigned("afp", 56).alias("block"),
            F.col("afp").alias("simhash"),
        )
    )
    return simhash_block_pairs(hashed, ("block",), max_hamming=_Q160_MAX_HAMMING, bits=64)


def _q160_sql() -> str:
    def b(k: int) -> str:
        if k >= 60:
            return str(_Q160_PAD[k - 60])
        return f"((simhash >> {k}) & 1)"

    # fingerprint bit i ⇔ energy[i+1] > energy[i] ⇔ b(i+1)=1 AND b(i)=0
    terms = []
    for i in range(64):
        cond = f"{b(i + 1)} = 1 AND {b(i)} = 0"
        terms.append(f"CASE WHEN {cond} THEN {1 << i}::BIGINT ELSE 0 END")
    afp = " + ".join(terms)
    sig_cte = """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), hh AS (
  SELECT doc_id, len(toks) AS n,
    list_transform(toks, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT)) AS hs
  FROM tok
), sig AS (
  SELECT doc_id,
    CASE WHEN n > 0 THEN
      CAST(list_sum(list_transform(range(0, 60), j ->
        CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) & 1) * 2 - 1)) > 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)
    END AS simhash
  FROM hh
)"""
    return f"""{sig_cte}, fp AS (
  SELECT doc_id, CAST({afp} AS BIGINT) AS afp
  FROM sig WHERE simhash IS NOT NULL
), blocked AS (
  SELECT doc_id, (afp >> 56) & 255 AS block, afp FROM fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
FROM blocked a
JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= {_Q160_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# q161 — WIDE-signature near-dup (120-bit simhash, hamming ≤ 16): the
# scale path for larger thresholds. 60 bits at h=16 pigeonholes into 17
# bands of ~3.5 bits (a hot block divides by only ~11); two independent
# 60-bit halves (md5 hex chars 1-15 / 16-30 per token) give 17 bands of
# ~7 bits (÷~128) at the same exact recall. Random-pair background over
# 120 bits has mean hamming 60 (σ≈5.5), so ≤16 admits essentially no
# coincidental pairs — the wide threshold is SEMANTICALLY the permissive
# one (catches more distant true near-dups than q31's 8-of-60) while
# staying selective.
# ---------------------------------------------------------------------------
_Q161_MAX_HAMMING = 16


def q161_wide_simhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import simhash_wide_block_pairs, with_simhash_wide

    docs = parallel_table(spark, sf, "documents")
    sigs = with_simhash_wide(docs, "text").select(
        "doc_id", "lang", "source", "sim_hi", "sim_lo"
    )
    return simhash_wide_block_pairs(
        sigs, ("lang", "source"), max_hamming=_Q161_MAX_HAMMING
    )


_Q161_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS toks FROM documents
), hh AS (
  SELECT doc_id, lang, source, len(toks) AS n,
    list_transform(toks, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT)) AS hs1,
    list_transform(toks, t -> (('0x' || substr(md5(t), 16, 15))::BIGINT)) AS hs2
  FROM tok
), sig AS (
  SELECT doc_id, lang, source,
    CASE WHEN n > 0 THEN
      CAST(list_sum(list_transform(range(0, 60), j ->
        CASE WHEN list_sum(list_transform(hs1, x -> ((x >> j) & 1) * 2 - 1)) > 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)
    END AS sim_hi,
    CASE WHEN n > 0 THEN
      CAST(list_sum(list_transform(range(0, 60), j ->
        CASE WHEN list_sum(list_transform(hs2, x -> ((x >> j) & 1) * 2 - 1)) > 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT)
    END AS sim_lo
  FROM hh
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.sim_hi, b.sim_hi))
     + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
FROM sig a
JOIN sig b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_hi, b.sim_hi))
    + bit_count(xor(a.sim_lo, b.sim_lo)) <= {_Q161_MAX_HAMMING}
"""


QUERIES: dict[str, Query] = {
    "q20_dedup_exact": Query(q20_dedup_exact, _Q20_SQL),
    "q21_token_stats": Query(q21_token_stats, _Q21_SQL),
    "q22_quality_score": Query(q22_quality_score, _Q22_SQL),
    "q23_lang_id": Query(q23_lang_id, _Q23_SQL),
    "q24_fingerprint": Query(q24_fingerprint, _Q24_SQL),
    "q25_ngram_jaccard": Query(q25_ngram_jaccard, _Q25_SQL),
    "q26_ann_cosine_topk": Query(q26_ann_cosine_topk, _Q26_SQL),
    "q27_embedding_neardup": Query(q27_embedding_neardup, _q27_sql()),
    "q28_multimodal_bytes": Query(q28_multimodal_bytes, _Q28_SQL),
    "q29_minhash_lsh": Query(q29_minhash_lsh, _Q29_SQL),
    "q30_simhash": Query(q30_simhash, _Q30_SQL),
    "q31_simhash_neardup": Query(q31_simhash_neardup, _Q31_SQL),
    "q32_ann_lsh_bucketed": Query(q32_ann_lsh_bucketed, _q32_sql()),
    "q48_ann_ivf": Query(q48_ann_ivf, _Q48_SQL),
    "q54_chunk_documents": Query(q54_chunk_documents, _Q54_SQL),
    "q58_dedup_clusters": Query(q58_dedup_clusters, _Q58_SQL),
    "q59_train_test_split": Query(q59_train_test_split, _Q59_SQL),
    "q60_vocabulary": Query(q60_vocabulary, _Q60_SQL),
    "q76_pii_scrub": Query(q76_pii_scrub, _q76_sql()),
    "q77_pack_sequences": Query(q77_pack_sequences, _Q77_SQL),
    "q78_contamination": Query(q78_contamination, _Q78_SQL),
    "q84_stratified_sample": Query(q84_stratified_sample, _Q84_SQL),
    "q85_repetition_metrics": Query(q85_repetition_metrics, _Q85_SQL),
    "q86_distinctive_terms": Query(q86_distinctive_terms, _Q86_SQL),
    "q159_image_neardup": Query(q159_image_neardup, _q159_sql()),
    "q160_audio_neardup": Query(q160_audio_neardup, _q160_sql()),
    "q161_wide_simhash_neardup": Query(q161_wide_simhash_neardup, _Q161_SQL),
}
