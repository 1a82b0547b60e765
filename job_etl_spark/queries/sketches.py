"""Scale-path operators, tranche 3: mergeable sketches, deterministic
sampling, tokenizer induction, layout keys, and end-to-end pipelines.

- q95: count-min sketch heavy hitters — bounded-memory frequency counts,
  built per shard and MERGED (the property exact GROUP BY lacks);
- q96: K-minimum-values distinct sketch — the deterministic, cross-engine-
  reproducible alternative to HyperLogLog, with the same union-merge
  algebra; the global row IS the merge of the per-group sketches;
- q97: vocabulary-coverage quality scoring (OOV share + mean token
  frequency) — exact integer arithmetic end-to-end;
- q98: inverted-index build (term → capped posting list) — postings
  bounded BEFORE the collect so no list is unbounded;
- q99: Z-order (Morton) layout cells (operators/layout.zorder_key);
- q100: deterministic per-group sampling (operators/sampling.py);
- q101: BPE merge induction — tokenizer training rounds (ml/bpe.py);
- q102: end-to-end corpus curation (quality → dedup → split ledger);
- q103: incremental near-dup ingestion against stored LSH band state;
- q104: distributed top-k with deterministic error bounds (TPUT shape);
- q105: windowed COUNT DISTINCT as a continuous aggregate (KMV merge).

Same parity rules as the rest of the inventory (queries._util).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_etl_spark.queries._util import Query, dround, dsum, sql_dround, sql_dsum
from job_etl_spark.tables import parallel_table, table

_SQL_HEXINT = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"

_SQL_TOKENS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
)


# ---------------------------------------------------------------------------
# q95 — count-min-sketch heavy hitters: per-user event counts estimated
# from a 4×256 counter matrix, then the top-20 exact heavy hitters probed
# against it. est ≥ exact always (the one-sided CMS guarantee); the md5
# hash rows make the whole matrix — collisions included — engine-
# reproducible, so the oracle matches the estimates bit-for-bit, not just
# the exact counts. The matrix is built from the per-uid count table (one
# corpus pass; see q95's in-function equivalence note) — the mergeable
# half-build algebra itself lives in operators/cms.py with its own tests.
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 256


def _q95_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-checkpoint per-uid count pass — factored so tests/test_plans.py
    can assert column pruning on the frame whose FileScan the checkpoint
    hides (the q96/q117 pattern)."""
    ev = parallel_table(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    return ev.groupBy("uid").agg(F.count(F.lit(1)).alias("exact_n"))


def q95_heavy_hitters_cms(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.cms import cms_cells, probe_cms

    # ONE aggregating pass over the fact table feeds sketch AND exact sides
    # (r11, guide §2.3 "aggregate before you shuffle"): the prior form
    # scanned events 4× (two half-builds, exact counts, and their merge).
    # Equivalence is two associativity identities: (a) the two-half merge is
    # union+re-sum, so it EQUALS the single full-corpus build (the identity
    # the oracle already relies on — its SQL is single-pass); (b) each CMS
    # cell's count is the sum over keys hashing there of that key's event
    # count, so building from per-uid counts (explode D cells per KEY,
    # sum counts) equals building from raw events (explode D cells per
    # EVENT, count rows). NULL uids contribute NULL cells identically on
    # both forms. The per-uid count table is also exactly what the top-20
    # probe side needs, so it is checkpointed and read twice.
    counts = _q95_counts(spark, sf).localCheckpoint(eager=False)
    sk = (
        counts.select(
            F.explode(cms_cells(F.col("uid"), _CMS_D, _CMS_W)).alias("h"), "exact_n"
        )
        .groupBy(F.col("h.depth").alias("depth"), F.col("h.cell").alias("cell"))
        .agg(F.sum("exact_n").alias("n"))
    )
    top = counts.orderBy(F.desc("exact_n"), F.asc("uid")).limit(20)
    out = probe_cms(sk, top, "uid", _CMS_D, _CMS_W)
    return out.select(
        F.col("uid").cast("bigint").alias("user_id"), "exact_n", F.col("est").alias("cms_est")
    )


def _q95_sql() -> str:
    h_half = _SQL_HEXINT.format(expr="CAST(event_id AS VARCHAR)")
    h_cell = _SQL_HEXINT.format(expr="CAST(d.depth AS VARCHAR) || '|' || e.uid")
    h_probe = _SQL_HEXINT.format(expr="CAST(d.depth AS VARCHAR) || '|' || t.uid")
    return f"""
WITH e AS (
  SELECT event_id, CAST(user_id AS VARCHAR) AS uid FROM events
), d AS (
  SELECT unnest(range(0, {_CMS_D})) AS depth
), cms AS (
  -- single-pass build ≡ the merged half-sketches (merge is union+re-sum,
  -- associative over the {h_half} % 2 split)
  SELECT d.depth, {h_cell} % {_CMS_W} AS cell, COUNT(*) AS n
  FROM e CROSS JOIN d GROUP BY 1, 2
), exact AS (
  SELECT uid, COUNT(*) AS exact_n FROM e GROUP BY uid
), top AS (
  SELECT uid, exact_n FROM exact ORDER BY exact_n DESC, uid ASC LIMIT 20
)
SELECT CAST(t.uid AS BIGINT) AS user_id, t.exact_n,
  MIN(COALESCE(c.n, 0)) AS cms_est
FROM top t CROSS JOIN d
LEFT JOIN cms c ON c.depth = d.depth
  AND c.cell = {h_probe} % {_CMS_W}
GROUP BY t.uid, t.exact_n
"""


# ---------------------------------------------------------------------------
# q96 — KMV distinct sketch: distinct users per event type from the k=64
# smallest md5 hashes; the '__all__' row is NOT recomputed from the corpus
# — it is the MERGE of the five per-type sketches (union, re-take k
# smallest), the exact algebra a 1000-shard cluster would run. Estimate
# (k−1)·2^60/kth_min is deterministic, so unlike approx_count_distinct it
# hash-matches across engines; groups holding < k hashes are exact.
# ---------------------------------------------------------------------------
_KMV_K = 64


def _q96_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-checkpoint distinct (event_type, uid) pass — factored so
    tests/test_plans.py can assert column pruning on the frame whose
    FileScan the checkpoint hides (the q117 pattern)."""
    ev = parallel_table(spark, sf, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    return ev.where(F.col("uid").isNotNull()).distinct()


def q96_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.sketch import kmv_estimate, kmv_sketch, merge_kmv

    # ONE deduplicating pass over the fact table feeds sketch AND exact
    # sides (r11, guide §2.2): the naive form scanned events 4× (sketch,
    # merge, per-type exact, global exact — 18 Exchanges, zero reuse).
    # countDistinct(uid) per type ≡ COUNT(*) over the distinct non-NULL
    # pairs (countDistinct ignores NULLs; kmv drops NULL hashes; a type
    # with only NULL uids sketches empty and is inner-join-dropped either
    # way), and kmv_sketch re-dedups on (group, hash) so feeding pairs is
    # identical.
    pairs = _q96_pairs(spark, sf).localCheckpoint(eager=False)
    # the sketch is ≤ n_types·k rows — checkpoint it so the '__all__'
    # merge and the estimate read it instead of re-running the salted
    # two-phase top-k twice more
    sk = kmv_sketch(pairs, "uid", ["event_type"], k=_KMV_K).localCheckpoint(
        eager=False
    )
    sk_all = merge_kmv(
        ["event_type"], _KMV_K, sk.withColumn("event_type", F.lit("__all__"))
    )
    est = kmv_estimate(sk.unionByName(sk_all), ["event_type"], _KMV_K)
    exact = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    exact_all = (
        pairs.select("uid")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .select(F.lit("__all__").alias("event_type"), "n_exact")
    )
    return (
        exact.unionByName(exact_all)
        .join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_kept",
            "kth_min",
            dround(F.col("est_distinct"), 2).alias("est_distinct"),
        )
    )


def _q96_sql() -> str:
    h = _SQL_HEXINT.format(expr="uid")
    space = float(1 << 60)
    return f"""
WITH e AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events
), hashed AS (
  SELECT DISTINCT event_type, {h} AS h FROM e
  UNION
  SELECT DISTINCT '__all__' AS event_type, {h} AS h FROM e
), topk AS (
  -- the '__all__' k-min set equals the merge of the per-type k-min sets:
  -- any hash in the global k smallest is within the k smallest of its type
  SELECT event_type, h FROM (
    SELECT event_type, h,
      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashed) t
  WHERE rn <= {_KMV_K}
), est AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth_min FROM topk
  GROUP BY event_type
), exact AS (
  SELECT event_type, COUNT(DISTINCT uid) AS n_exact FROM e GROUP BY event_type
  UNION ALL
  SELECT '__all__', COUNT(DISTINCT uid) FROM e
)
SELECT x.event_type, x.n_exact, s.n_kept, s.kth_min,
  {sql_dround(
      f"CASE WHEN s.n_kept < {_KMV_K} THEN CAST(s.n_kept AS DOUBLE) "
      f"ELSE {float(_KMV_K - 1)!r} * {space!r} / CAST(s.kth_min AS DOUBLE) END", 2)}
  AS est_distinct
FROM exact x JOIN est s USING (event_type)
"""


# ---------------------------------------------------------------------------
# q97 — vocabulary-coverage quality scoring: per-document OOV share vs the
# top-V corpus vocabulary and mean token corpus-frequency — the
# corpus-statistics quality filter (rare-token / junk detection) of a
# training pipeline. Two passes over the exploded tokens: one tiny count
# agg (the vocabulary, broadcast back), one per-doc agg. All integer
# arithmetic until the final ratios, so parity is exact.
# ---------------------------------------------------------------------------
_VOCAB_V = 16


def q97_vocab_oov(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.functions.chunking import tokens_expr

    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens_expr("text")).alias("tok")
    )
    # counts feeds both the broadcast frequency join and the vocab top-V —
    # checkpoint the (vocab-sized) aggregate so its tokenize+count pass
    # runs once; toks itself stays unmaterialized (an exploded token-level
    # checkpoint would be LARGER than the raw text it derives from)
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_global")
    ).localCheckpoint(eager=False)
    vocab = (
        counts.orderBy(F.desc("n_global"), F.asc("tok"))
        .limit(_VOCAB_V)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    # counts = the full distinct-token table: grows with the corpus
    # (Heaps' law), so it carries NO broadcast hint (policy: hints only on
    # construction-bounded frames; AQE still broadcasts when actually
    # small). vocab is LIMIT-bounded — hint is safe.
    j = toks.join(counts, "tok").join(F.broadcast(vocab), "tok", "left")
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return j.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        dround(oov / F.count(F.lit(1)), 6).alias("oov_share"),
        dround(F.sum("n_global") / F.count(F.lit(1)), 2).alias("mean_tok_freq"),
    )


_Q97_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS tok
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT tok, COUNT(*) AS n_global FROM t GROUP BY tok
), v AS (
  SELECT tok, TRUE AS in_vocab FROM c ORDER BY n_global DESC, tok ASC LIMIT {_VOCAB_V}
), j AS (
  SELECT t.doc_id, t.lang, c.n_global, v.in_vocab
  FROM t JOIN c USING (tok) LEFT JOIN v ON t.tok = v.tok
)
SELECT doc_id, lang, COUNT(*) AS n_tokens,
  COUNT(CASE WHEN in_vocab IS NULL THEN 1 END) AS n_oov,
  {sql_dround("COUNT(CASE WHEN in_vocab IS NULL THEN 1 END) / COUNT(*)", 6)} AS oov_share,
  {sql_dround("SUM(n_global) / COUNT(*)", 2)} AS mean_tok_freq
FROM j GROUP BY doc_id, lang
"""


# ---------------------------------------------------------------------------
# q98 — inverted-index build: term → (df, total tf, capped posting list).
# tf per (term, doc) in one hash agg; df/tf_total come from a plain
# re-agg of that (partial-combined, skew-immune). Postings are capped at
# 20 BEFORE any collect via two-phase top-k (per-(term, doc_id-salt)
# candidates, then the final 20 over ≤ 64·20 rows per term) — a single
# per-term window would sort a stopword's billion-doc posting in one
# partition. Arrays are sorted (parity rule); every shuffle is keyed on
# the term.
# ---------------------------------------------------------------------------
_POSTINGS_CAP = 20


def q98_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.functions.chunking import tokens_expr

    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    tf = (
        docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total")
    )
    w1 = Window.partitionBy("term", F.col("doc_id") % 64).orderBy("doc_id")
    w2 = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        tf.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= _POSTINGS_CAP)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _POSTINGS_CAP)
        .groupBy("term")
        # driver contract: no array outputs — '|'-joined sorted posting list
        .agg(F.concat_ws("|", F.sort_array(F.collect_list("doc_id"))).alias("postings"))
    )
    return stats.join(postings, "term")


_Q98_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY term, doc_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM tf
)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
  array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= {_POSTINGS_CAP})), '|') AS postings
FROM r GROUP BY term
"""


# ---------------------------------------------------------------------------
# q99 — Z-order (Morton) curve cells: bucket (o_custkey, o_totalprice)
# into 256 levels each from a bounded 1-row min/max agg (literals — the
# q94/q48 pattern), interleave the bits (operators/layout.zorder_key),
# and aggregate orders per coarse curve cell. Sorting by this key gives
# BOTH dimensions file-level locality — the layout behind 2-D scan
# pruning, where a plain sort only prunes its leading axis. Pure integer
# bit arithmetic after the bucketing division → engine-exact.
# ---------------------------------------------------------------------------
def q99_zorder_cells(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.layout import zorder_key

    o = parallel_table(spark, sf, "orders")
    b = o.agg(
        F.min("o_custkey").alias("xlo"),
        F.max("o_custkey").alias("xhi"),
        F.min("o_totalprice").alias("ylo"),
        F.max("o_totalprice").alias("yhi"),
    ).first()
    xlo, xhi = int(b["xlo"]), int(b["xhi"])
    ylo, yhi = float(b["ylo"]), float(b["yhi"])
    xb = F.floor((F.col("o_custkey") - xlo) * 256.0 / (xhi - xlo + 1)).cast("int")
    yb = F.least(
        F.lit(255),
        F.floor((F.col("o_totalprice") - ylo) * 256.0 / (yhi - ylo + 1.0)).cast("int"),
    )
    keyed = o.select(
        "o_totalprice", xb.alias("xb"), yb.alias("yb")
    ).withColumn("zkey", zorder_key(["xb", "yb"], bits=8))
    return (
        keyed.groupBy(F.shiftright("zkey", 8).alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


def _q99_sql() -> str:
    from job_etl_spark.operators.layout import sql_zorder_key

    zkey = sql_zorder_key(["xb", "yb"], bits=8)
    return f"""
WITH b AS (
  SELECT MIN(o_custkey) AS xlo, MAX(o_custkey) AS xhi,
         MIN(o_totalprice) AS ylo, MAX(o_totalprice) AS yhi
  FROM orders
), keyed AS (
  SELECT o_totalprice,
    CAST(FLOOR((o_custkey - b.xlo) * 256.0 / (b.xhi - b.xlo + 1)) AS INT) AS xb,
    LEAST(255, CAST(FLOOR((o_totalprice - b.ylo) * 256.0 / (b.yhi - b.ylo + 1.0)) AS INT)) AS yb
  FROM orders CROSS JOIN b
), z AS (
  SELECT o_totalprice, {zkey} AS zkey FROM keyed
)
SELECT zkey >> 8 AS z_cell, COUNT(*) AS n_orders,
  {sql_dsum("o_totalprice")} AS sum_price
FROM z GROUP BY 1
"""


QUERIES: dict[str, Query] = {
    "q95_heavy_hitters_cms": Query(q95_heavy_hitters_cms, _q95_sql()),
    "q96_kmv_distinct": Query(q96_kmv_distinct, _q96_sql()),
    "q97_vocab_oov": Query(q97_vocab_oov, _Q97_SQL),
    "q98_inverted_index": Query(q98_inverted_index, _Q98_SQL),
    "q99_zorder_cells": Query(q99_zorder_cells, _q99_sql()),
}


# ---------------------------------------------------------------------------
# q100 — deterministic per-group sampling (operators/sampling.py): 5 docs
# per (lang, source), chosen as the smallest md5 hashes of the doc id —
# uniform order statistics, zero RNG, so the sample survives task retry,
# AQE re-planning and an engine swap bit-for-bit. Salted two-phase top-k:
# the hottest group never sorts in one partition.
# ---------------------------------------------------------------------------
_SAMPLE_K = 5


def q100_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.sampling import deterministic_group_sample

    docs = parallel_table(spark, sf, "documents").select("doc_id", "lang", "source")
    s = deterministic_group_sample(
        docs, ["lang", "source"], "doc_id", k=_SAMPLE_K, seed="samp"
    )
    return s.groupBy("lang", "source").agg(
        # driver contract: no array outputs — '|'-joined sorted id list
        F.concat_ws("|", F.sort_array(F.collect_list("doc_id"))).alias("sampled_ids"),
        F.count(F.lit(1)).alias("n_sampled"),
    )


_Q100_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, source,
    {_SQL_HEXINT.format(expr="'samp|' || CAST(doc_id AS VARCHAR)")} AS hh
  FROM documents
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY lang, source ORDER BY hh, doc_id) AS rn
  FROM h
)
SELECT lang, source, array_to_string(list_sort(list(doc_id)), '|') AS sampled_ids,
  COUNT(*) AS n_sampled
FROM r WHERE rn <= {_SAMPLE_K} GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# q101 — BPE merge induction (tokenizer training on the cluster): 5 rounds
# of count-adjacent-pairs → pick the most frequent → apply the merge
# corpus-wide. Each round is ONE explode + hash agg + 1-row TakeOrdered
# (the winning pair lands in the plan as a literal — the q48 codebook
# pattern) and a map-only string rewrite. The corpus is serialized with
# DOUBLE spaces so the single-space-bounded pattern ' a  b ' gives exact
# greedy left-to-right non-overlapping replacement — identical semantics
# in Java and DuckDB replace(), hence exact parity ('a a a' merges once,
# 'a b a b' merges twice). Ties break on pair text. At corpus scale each
# round is a full pass — real tokenizer training subsamples first
# (q100); the algebra here is the same.
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 5


def q101_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.bpe import learn_merges, serialize_corpus

    docs = parallel_table(spark, sf, "documents")
    steps = learn_merges(serialize_corpus(docs), _BPE_ROUNDS)
    return spark.createDataFrame(
        steps, "step int, merged_token string, pair_n bigint"
    )


def _q101_sql() -> str:
    parts = [
        r"""
WITH d0 AS (
  SELECT '  ' || array_to_string(
    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''),
    '  ') || '  ' AS s
  FROM documents WHERE text IS NOT NULL
)"""
    ]
    for i in range(_BPE_ROUNDS):
        parts.append(
            f""", p{i} AS (
  SELECT a || ' ' || b AS pair, COUNT(*) AS n FROM (
    SELECT unnest(toks[1:len(toks)-1]) AS a, unnest(toks[2:len(toks)]) AS b
    FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS toks FROM d{i})
  ) GROUP BY 1
), m{i} AS (
  SELECT pair, n FROM p{i} ORDER BY n DESC, pair ASC LIMIT 1
), d{i + 1} AS (
  SELECT replace(s,
    ' ' || replace((SELECT pair FROM m{i}), ' ', '  ') || ' ',
    ' ' || replace((SELECT pair FROM m{i}), ' ', '+') || ' ') AS s
  FROM d{i}
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, replace(pair, ' ', '+') AS merged_token, "
        f"n AS pair_n FROM m{i}"
        for i in range(_BPE_ROUNDS)
    )
    return "".join(parts) + "\n" + selects


QUERIES.update(
    {
        "q100_group_sample": Query(q100_group_sample, _Q100_SQL),
        "q101_bpe_merges": Query(q101_bpe_merges, _q101_sql()),
    }
)


# ---------------------------------------------------------------------------
# q102 — corpus-curation pipeline (the FineWeb/C4-shaped end-to-end): one
# query composing the training-data stages the inventory provides as
# parts — (1) heuristic quality filter (q22's exact score), (2) simhash
# near-dup keep-canonical over the survivors (q31 pairs → ml/cluster CC →
# keep the component minimum, q88's rule), (3) deterministic md5-bucket
# train/val/test split (q59's exact rule) — accounting for EVERY document
# in one ledger: split ∈ {train, val, test, dropped_quality, dropped_dup}
# with doc and token totals per (lang, split). Shuffle inventory: one
# block agg (pairs), the CC iterations on the pair graph only, one final
# small agg — the corpus itself is never self-joined.
# ---------------------------------------------------------------------------
_CURATION_QUALITY_THR = 0.5


def _q102_scored(spark: SparkSession, sf: str) -> DataFrame:
    """q102's pre-checkpoint quality-scoring pass — module-level so
    tests/test_plans.py can assert the documents scan shape the lazy
    checkpoint hides (the _q117_toks pattern, ADVICE r11). Carries the
    token ARRAY (not the text) through the checkpoint: the survivor
    simhash consumes the same ``split(lower(text), ' ')`` tokens the
    quality score already computed, so signing survivors re-tokenizes
    nothing (guide §2.3) — equivalent by construction, same expression."""
    from job_etl_spark.queries.lifedata import _STOPWORDS

    docs = parallel_table(spark, sf, "documents")
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
        "doc_id", "lang", "source", tokens.alias("_tok"),
        n_tok.cast("bigint").alias("n_tokens"),
        quality.alias("q"),
    )


def q102_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.cluster import connected_components
    from job_etl_spark.ml.dedup import hexint, simhash_block_pairs, with_simhash

    # TWO consumers (the survivor→signature pipeline and the final split
    # ledger) read the scored frame; lazily checkpoint it so the quality
    # pass — tokenize + stopword filter + punctuation regex over every
    # document — runs once, not once per branch (guide §2.3; the q117
    # token-frame pattern)
    scored = _q102_scored(spark, sf).localCheckpoint(eager=False)
    surv = scored.where(F.col("q") >= _CURATION_QUALITY_THR)
    sigs = with_simhash(surv, "text", "simhash", toks_col="_tok").select(
        "doc_id", "lang", "source", "simhash"
    )
    # hamming ≤ 8 = the true near-dup boundary (see q31); banding is
    # pigeonhole-exact for the declared threshold
    pairs = simhash_block_pairs(sigs, ("lang", "source"), max_hamming=8)
    cc = connected_components(pairs.select("doc_a", "doc_b"))
    lab = scored.join(cc, scored.doc_id == cc.node, "left")
    bucket = hexint(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(F.col("q").isNull() | (F.col("q") < _CURATION_QUALITY_THR), "dropped_quality")
        .when(
            F.col("cluster_id").isNotNull() & (F.col("cluster_id") != F.col("doc_id")),
            "dropped_dup",
        )
        .when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    return lab.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def _q102_sql() -> str:
    from job_etl_spark.queries.lifedata import _STOPWORDS

    sw = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
    thr = _CURATION_QUALITY_THR
    h_doc = _SQL_HEXINT.format(expr="CAST(d.doc_id AS VARCHAR)")
    return f"""
WITH RECURSIVE scored AS (
  SELECT doc_id, lang, source, text,
    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
    0.5 * least(1.0::DOUBLE, n_chars / 500.0::DOUBLE)
      + 0.3 * (1.0::DOUBLE - length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               / (n_chars::DOUBLE))
      + 0.2 * (len(list_filter(string_split(lower(text), ' '),
                 x -> list_contains({sw}, x)))
               / (len(string_split(lower(text), ' '))::DOUBLE)) AS q
  FROM documents
), surv AS (
  SELECT doc_id, lang, source, text FROM scored WHERE q >= {thr}
), tok AS (
  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS toks FROM surv
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
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a
  JOIN sig b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
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
SELECT d.lang,
  CASE WHEN d.q IS NULL OR d.q < {thr} THEN 'dropped_quality'
       WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id THEN 'dropped_dup'
       WHEN {h_doc} % 100 < 80 THEN 'train'
       WHEN {h_doc} % 100 < 90 THEN 'val'
       ELSE 'test' END AS split,
  COUNT(*) AS n_docs, CAST(SUM(d.n_tokens) AS BIGINT) AS sum_tokens
FROM scored d LEFT JOIN labeled l ON d.doc_id = l.node
GROUP BY 1, 2
"""


QUERIES["q102_curation_pipeline"] = Query(q102_curation_pipeline, _q102_sql())


# ---------------------------------------------------------------------------
# q103 — incremental near-dup ingestion: dedup a NEW batch (deterministic
# 20% of docs) against the EXISTING corpus without ever re-pairing the
# corpus with itself — the algebra that makes LSH dedup incremental. The
# persisted state is the (doc, band, bucket) table (ml/dedup.minhash_bands);
# new docs join their bands against the old bands (new×old only), and
# within-batch dups are "matched a smaller-id new doc in my bucket" via a
# window MIN — no new×new pair expansion either. Ledger per source:
# dup-vs-corpus, dup-within-batch, accepted.
# ---------------------------------------------------------------------------
def q103_incremental_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import hexint, minhash_bands

    docs = parallel_table(spark, sf, "documents")
    is_new = (
        hexint(F.concat(F.lit("inc|"), F.col("doc_id").cast("string"))) % 10 >= 8
    )
    meta = docs.select("doc_id", "source", is_new.alias("is_new"))
    # is_new is a pure function of doc_id, so stamp it on the band rows
    # directly (no join back to meta), and lazily checkpoint the band
    # table: three branches (old side, new side, within-batch window) read
    # it, and without materialization each branch re-runs the whole
    # shingle→minhash→band pipeline. This IS the query's own state story —
    # incremental dedup persists exactly this (doc, band, bucket) table.
    bands = minhash_bands(docs).withColumn("is_new", is_new)
    bands = bands.localCheckpoint(eager=False)
    old_b = bands.where(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), "band", "bucket"
    )
    new_b = bands.where(F.col("is_new")).select("doc_id", "band", "bucket")
    vs_old = (
        new_b.join(old_b, ["band", "bucket"]).select("doc_id").distinct()
        .withColumn("dup_old", F.lit(True))
    )
    wmin = Window.partitionBy("band", "bucket")
    within = (
        new_b.withColumn("_mn", F.min("doc_id").over(wmin))
        .where(F.col("doc_id") > F.col("_mn"))
        .select("doc_id").distinct()
        .withColumn("dup_new", F.lit(True))
    )
    lab = (
        meta.where("is_new")
        .join(vs_old, "doc_id", "left")
        .join(within, "doc_id", "left")
    )
    status = (
        F.when(F.col("dup_old"), "dup_vs_corpus")
        .when(F.col("dup_new"), "dup_within_batch")
        .otherwise("accepted")
    )
    return lab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count(F.when(status == "dup_vs_corpus", 1)).alias("n_dup_corpus"),
        F.count(F.when(status == "dup_within_batch", 1)).alias("n_dup_batch"),
        F.count(F.when(status == "accepted", 1)).alias("n_accepted"),
    )


def _q103_sql() -> str:
    from job_etl_spark.ml.dedup import MINHASH_PRIME, minhash_coefficients

    a, b = minhash_coefficients(16)
    a_sql = "[" + ", ".join(str(x) for x in a) + "]"
    b_sql = "[" + ", ".join(str(x) for x in b) + "]"
    def new_pred(col: str = "doc_id") -> str:
        return (
            _SQL_HEXINT.format(expr=f"'inc|' || CAST({col} AS VARCHAR)") + " % 10 >= 8"
        )
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
), nb AS (
  SELECT * FROM banded WHERE {new_pred()}
), ob AS (
  SELECT doc_id AS old_id, band, bucket FROM banded WHERE NOT ({new_pred()})
), vs_old AS (
  SELECT DISTINCT nb.doc_id FROM nb JOIN ob USING (band, bucket)
), within AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, bucket) AS mn FROM nb
  ) WHERE doc_id > mn
)
SELECT d.source,
  COUNT(*) AS n_new,
  COUNT(CASE WHEN v.doc_id IS NOT NULL THEN 1 END) AS n_dup_corpus,
  COUNT(CASE WHEN v.doc_id IS NULL AND w.doc_id IS NOT NULL THEN 1 END) AS n_dup_batch,
  COUNT(CASE WHEN v.doc_id IS NULL AND w.doc_id IS NULL THEN 1 END) AS n_accepted
FROM documents d
LEFT JOIN vs_old v ON d.doc_id = v.doc_id
LEFT JOIN within w ON d.doc_id = w.doc_id
WHERE {new_pred("d.doc_id")}
GROUP BY d.source
"""


QUERIES["q103_incremental_neardup"] = Query(q103_incremental_neardup, _q103_sql())


# ---------------------------------------------------------------------------
# q104 — distributed top-k with deterministic error bounds (the TPUT /
# three-phase-uniform-threshold shape): events are sharded ARBITRARILY
# (md5(event_id) % 4 — a key's count spreads across shards, the hard
# case), each shard reports its local top-m counts plus its threshold
# τ_s = m-th local count. For any key missing from shard s's report its
# count there is ≤ τ_s, so every candidate gets [lb = Σ reported,
# ub = Σ reported-or-τ_s = Σ_s τ_s + Σ_kept (n − τ_s)]; a candidate is
# GUARANTEED top-k when fewer than k rivals have an ub above its lb
# (comparing lb against the k-th largest lb does NOT guarantee membership
# — a low-lb/high-ub rival may overtake). One pass per shard + a bounded
# (≤ S·m rows) reconciliation — the comm-efficient federated top-k, vs
# shipping every per-shard count. Exact counts ride along to witness the
# bounds.
#
# One lazy plan over one scan of events. The per-shard counts (a hash
# aggregate) feed a per-user window for the exact totals (a hash
# exchange of counts, never of raw events) and the per-shard top-m
# window, whose partial group limit runs before its exchange. From the
# top-m filter on, at most S·m rows remain and one global window puts
# them in a single partition, so the per-user bounds window and the
# rivals' collect_list need no further exchange. No cross join,
# self-join or checkpoint: 6 jobs in one SQL execution.
# ---------------------------------------------------------------------------
_TPUT_SHARDS = 4
_TPUT_M = 10
_TPUT_K = 5


def q104_topk_bounds(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.dedup import hexint

    ev = parallel_table(spark, sf, "events").select(
        F.col("user_id"),
        (hexint(F.concat(F.lit("shard|"), F.col("event_id").cast("string")))
         % _TPUT_SHARDS).alias("shard"),
    )
    per_shard = ev.groupBy("shard", "user_id").agg(F.count(F.lit(1)).alias("n"))
    by_shard = Window.partitionBy("shard")
    by_user = Window.partitionBy("user_id")
    kept = (  # every kept row carries its user's exact total
        per_shard.withColumn("exact_n", F.sum("n").over(by_user))
        .withColumn(
            "_rn", F.row_number().over(by_shard.orderBy(F.desc("n"), F.asc("user_id")))
        )
        .where(F.col("_rn") <= _TPUT_M)
        .withColumn("tau", F.min("n").over(by_shard))
    )
    every = Window.partitionBy()  # ≤ S·m rows: one partition by construction
    tau_sum = kept.withColumn(  # Σ_s τ_s, each shard counted at its rank-1 row
        "_tau_sum", F.sum(F.when(F.col("_rn") == 1, F.col("tau"))).over(every)
    )
    cand = tau_sum.select(
        "user_id", "exact_n",
        F.sum("n").over(by_user).alias("lb"),
        (F.col("_tau_sum") + F.sum(F.col("n") - F.col("tau")).over(by_user)).alias("ub"),
        (F.col("shard") == F.min("shard").over(by_user)).alias("_first"),
    ).where(F.col("_first") & F.col("user_id").isNotNull())
    # TPUT guarantee: x is certainly in the true top-k iff fewer than k
    # OTHER candidates could still beat it — #{y≠x : ub_y > lb_x} < k.
    # NULL user_id rows leave before the rivals list: their != is NULL,
    # so they never counted as rivals, and the result drops them.
    return cand.withColumn(
        "_rivals", F.collect_list(F.struct("user_id", "ub")).over(every)
    ).select(
        "user_id", "lb", "ub", "exact_n",
        F.expr(
            f"size(filter(_rivals, r -> r.ub > lb AND r.user_id != user_id)) < {_TPUT_K}"
        ).alias("guaranteed"),
    )


def _q104_sql() -> str:
    h = _SQL_HEXINT.format(expr="'shard|' || CAST(event_id AS VARCHAR)")
    return f"""
WITH ev AS (
  SELECT user_id, {h} % {_TPUT_SHARDS} AS shard FROM events
), per_shard AS (
  SELECT shard, user_id, COUNT(*) AS n FROM ev GROUP BY shard, user_id
), kept AS (
  SELECT shard, user_id, n FROM (
    SELECT *, row_number() OVER (
      PARTITION BY shard ORDER BY n DESC, user_id ASC) AS rn
    FROM per_shard) t
  WHERE rn <= {_TPUT_M}
), tau AS (
  SELECT shard, MIN(n) AS tau FROM kept GROUP BY shard
), cand AS (
  SELECT DISTINCT user_id FROM kept
), bounds AS (
  SELECT c.user_id,
    CAST(SUM(COALESCE(k.n, 0)) AS BIGINT) AS lb,
    CAST(SUM(COALESCE(k.n, t.tau)) AS BIGINT) AS ub
  FROM cand c CROSS JOIN tau t
  LEFT JOIN kept k ON k.shard = t.shard AND k.user_id = c.user_id
  GROUP BY c.user_id
), flagged AS (
  SELECT b.user_id, b.lb, b.ub,
    COUNT(CASE WHEN o.user_id <> b.user_id THEN 1 END) AS n_above
  FROM bounds b LEFT JOIN bounds o ON o.ub > b.lb
  GROUP BY b.user_id, b.lb, b.ub
), exact AS (
  SELECT user_id, COUNT(*) AS exact_n FROM ev GROUP BY user_id
)
SELECT f.user_id, f.lb, f.ub, e.exact_n, (f.n_above < {_TPUT_K}) AS guaranteed
FROM flagged f JOIN exact e USING (user_id)
"""


QUERIES["q104_topk_bounds"] = Query(q104_topk_bounds, _q104_sql())


# ---------------------------------------------------------------------------
# q105 — windowed distinct rollup via KMV merge (the continuous-aggregate
# property for COUNT DISTINCT): per-hour KMV sketches of active users are
# MERGED into 6-hour estimates — distinct counts don't sum across windows,
# but their sketches union — so a stored per-hour sketch table answers any
# coarser window without rescanning events (operators/rollup.py's algebra
# extended to the one aggregate it cannot handle). Exact per-window
# distincts are joined in to witness the estimates; hours holding < k
# users are exact by construction.
# ---------------------------------------------------------------------------
_Q105_K = 48


def q105_windowed_distinct(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.sketch import kmv_estimate, kmv_sketch, merge_kmv

    ev = table(spark, sf, "events").select(
        (F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).cast("bigint")).alias(
            "hour_id"
        ),
        F.col("user_id").cast("string").alias("uid"),
    )
    # one deduplicating pass feeds sketch AND exact (r11, guide §2.2 —
    # same restructure as q96): countDistinct at window grain ≡ distinct
    # (window, uid) count over the distinct non-NULL hour-grain pairs,
    # and kmv_sketch re-dedups on (hour, hash) so feeding pairs is
    # identical. A window whose only uids are NULL sketches empty and is
    # inner-join-dropped on both forms.
    pairs = ev.where(F.col("uid").isNotNull()).distinct().localCheckpoint(eager=False)
    hourly = kmv_sketch(pairs, "uid", ["hour_id"], k=_Q105_K)
    coarse = merge_kmv(
        ["window_id"],
        _Q105_K,
        hourly.select(F.floor(F.col("hour_id") / 6).alias("window_id"), "h"),
    )
    est = kmv_estimate(coarse, ["window_id"], _Q105_K)
    exact = (
        pairs.select(F.floor(F.col("hour_id") / 6).alias("window_id"), "uid")
        .distinct()
        .groupBy("window_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return exact.join(est, "window_id").select(
        "window_id", "n_exact", "n_kept", "kth_min",
        dround(F.col("est_distinct"), 2).alias("est_distinct"),
    )


def _q105_sql() -> str:
    h = _SQL_HEXINT.format(expr="uid")
    space = float(1 << 60)
    return f"""
WITH e AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_id,
         CAST(user_id AS VARCHAR) AS uid
  FROM events
), hourly AS (
  SELECT hour_id, h FROM (
    SELECT hour_id, h, row_number() OVER (PARTITION BY hour_id ORDER BY h) AS rn
    FROM (SELECT DISTINCT hour_id, {h} AS h FROM e)) t
  WHERE rn <= {_Q105_K}
), merged AS (
  -- union of per-hour k-min sets: dedup the HASH within the window (the
  -- same user hash may appear in several hours), then re-take the k
  -- smallest — identical to sketching the window directly (merge algebra)
  SELECT window_id, h FROM (
    SELECT window_id, h,
      row_number() OVER (PARTITION BY window_id ORDER BY h) AS rn
    FROM (SELECT DISTINCT CAST(FLOOR(hour_id / 6) AS BIGINT) AS window_id, h
          FROM hourly)) t
  WHERE rn <= {_Q105_K}
), est AS (
  SELECT window_id, COUNT(*) AS n_kept, MAX(h) AS kth_min FROM merged
  GROUP BY window_id
), exact AS (
  SELECT CAST(FLOOR(hour_id / 6) AS BIGINT) AS window_id,
         COUNT(DISTINCT uid) AS n_exact
  FROM e GROUP BY 1
)
SELECT x.window_id, x.n_exact, s.n_kept, s.kth_min,
  {sql_dround(
      f"CASE WHEN s.n_kept < {_Q105_K} THEN CAST(s.n_kept AS DOUBLE) "
      f"ELSE {float(_Q105_K - 1)!r} * {space!r} / CAST(s.kth_min AS DOUBLE) END", 2)}
  AS est_distinct
FROM exact x JOIN est s USING (window_id)
"""


QUERIES["q105_windowed_distinct"] = Query(q105_windowed_distinct, _q105_sql())


# ---------------------------------------------------------------------------
# q106 — equi-depth binning from sketch boundaries (feature binning at
# scale): per-priority price quartile edges come from the mergeable
# histogram sketch (operators/sketch.py — deterministic read-off, unlike
# approx_percentile), broadcast back, and every order lands in its
# quartile bucket — two passes total, the second map-only. The exact
# version (q43's percentile_disc) needs a full sort per group; this is
# what replaces it at 100 TB, and the sketch is the same artifact an
# incremental pipeline would maintain by merge.
# ---------------------------------------------------------------------------
_Q106_LO, _Q106_HI, _Q106_BINS = 0.0, 1_000_000.0, 200


def q106_equidepth_bins(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.operators.sketch import histogram_sketch, sketch_quantiles

    o = parallel_table(spark, sf, "orders").select("o_orderpriority", "o_totalprice")
    sk = histogram_sketch(
        o, "o_totalprice", ["o_orderpriority"], _Q106_LO, _Q106_HI, _Q106_BINS
    )
    qs = sketch_quantiles(
        sk,
        ["o_orderpriority"],
        {"p25": 0.25, "p50": 0.5, "p75": 0.75},
        _Q106_LO,
        _Q106_HI,
        _Q106_BINS,
    )
    j = o.join(F.broadcast(qs), "o_orderpriority")
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("p25"), 1)
        .when(F.col("o_totalprice") <= F.col("p50"), 2)
        .when(F.col("o_totalprice") <= F.col("p75"), 3)
        .otherwise(4)
    )
    return j.groupBy("o_orderpriority", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


def _q106_sql() -> str:
    from job_etl_spark.operators.sketch import sql_sketch_quantiles

    inner = sql_sketch_quantiles(
        "orders",
        "o_totalprice",
        ["o_orderpriority"],
        {"p25": 0.25, "p50": 0.5, "p75": 0.75},
        _Q106_LO,
        _Q106_HI,
        _Q106_BINS,
    )
    return f"""
WITH qs AS ({inner})
SELECT o.o_orderpriority,
  CASE WHEN o.o_totalprice <= q.p25 THEN 1
       WHEN o.o_totalprice <= q.p50 THEN 2
       WHEN o.o_totalprice <= q.p75 THEN 3
       ELSE 4 END AS bucket,
  COUNT(*) AS n_orders,
  {sql_dsum("o.o_totalprice")} AS sum_price
FROM orders o JOIN qs q USING (o_orderpriority)
GROUP BY 1, 2
"""


QUERIES["q106_equidepth_bins"] = Query(q106_equidepth_bins, _q106_sql())


# ---------------------------------------------------------------------------
# q107 — deterministic weighted sampling (ordered / sequential-Poisson,
# Ohlsson): priority = hash/weight, take the k smallest per group —
# inclusion probability ∝ weight (here: token count, so long documents
# are proportionally favored — the corpus-subsampling step before
# expensive stages like BPE training). Same RNG-free guarantees as q100;
# per-row double division is IEEE-deterministic so the oracle matches
# exactly. Salted two-phase top-k as everywhere.
# ---------------------------------------------------------------------------
_Q107_K = 8


def q107_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.functions.chunking import tokens_expr
    from job_etl_spark.ml.dedup import hexint

    docs = (
        parallel_table(spark, sf, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id", "lang",
            F.size(tokens_expr("text")).cast("bigint").alias("w"),
        )
        .where(F.col("w") > 0)
    )
    pri = (
        hexint(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string"))).cast("double")
        / F.col("w").cast("double")
    )
    keyed = docs.withColumn("_pri", pri)
    w1 = Window.partitionBy("lang", F.col("doc_id") % 64).orderBy("_pri", "doc_id")
    cand = (
        keyed.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= _Q107_K)
        .drop("_rn")
    )
    w2 = Window.partitionBy("lang").orderBy("_pri", "doc_id")
    picked = (
        cand.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= _Q107_K)
    )
    return picked.groupBy("lang").agg(
        # driver contract: no array outputs — '|'-joined sorted id list
        F.concat_ws("|", F.sort_array(F.collect_list("doc_id"))).alias("sampled_ids"),
        F.sum("w").alias("sampled_tokens"),
    )


def _q107_sql() -> str:
    h = _SQL_HEXINT.format(expr="'wsamp|' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH d AS (
  SELECT doc_id, lang,
    CAST(len({_SQL_TOKENS}) AS BIGINT) AS w
  FROM documents WHERE text IS NOT NULL
), p AS (
  SELECT doc_id, lang, w,
    CAST({h} AS DOUBLE) / CAST(w AS DOUBLE) AS pri
  FROM d WHERE w > 0
), r AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rn FROM p
)
SELECT lang, array_to_string(list_sort(list(doc_id)), '|') AS sampled_ids,
  CAST(SUM(w) AS BIGINT) AS sampled_tokens
FROM r WHERE rn <= {_Q107_K} GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q108 — grouped closed-form OLS (regression as an aggregate): per
# language, regress quality-relevant y = punctuation count on x = doc
# length from the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) — ONE
# partial+final hash agg; a 100 TB corpus reduces to 5 numbers per group
# and the slope/intercept/R² fall out in a post-agg projection. The
# aggregate-as-ML shape (same family as q87's moment matrix). Integer
# sums ⇒ exact parity; final ratios dround'ed.
# ---------------------------------------------------------------------------
def q108_group_ols(spark: SparkSession, sf: str) -> DataFrame:
    docs = parallel_table(spark, sf, "documents").where(F.col("text").isNotNull())
    x = F.col("n_chars").cast("bigint")
    y = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", "")).cast("bigint")
    proj = docs.select("lang", x.alias("x"), y.alias("y"))
    s = proj.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    # degenerate groups (zero variance) → NULL, identically in both
    # engines (ANSI Spark would throw, DuckDB would return inf)
    slope = cov / F.nullif(varx, F.lit(0))
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (cov * cov) / F.nullif(varx * vary, F.lit(0))
    return s.select(
        "lang", "n",
        dround(slope, 6).alias("slope"),
        dround(intercept, 6).alias("intercept"),
        dround(r2, 6).alias("r2"),
    )


_Q108_SQL = f"""
WITH p AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS x,
    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS BIGINT) AS y
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM p GROUP BY lang
)
SELECT lang, n,
  {sql_dround("(sxy - sx * sy / CAST(n AS DOUBLE)) / NULLIF(sxx - sx * sx / CAST(n AS DOUBLE), 0)", 6)} AS slope,
  {sql_dround("(sy - ((sxy - sx * sy / CAST(n AS DOUBLE)) / NULLIF(sxx - sx * sx / CAST(n AS DOUBLE), 0)) * sx) / CAST(n AS DOUBLE)", 6)} AS intercept,
  {sql_dround(
      "((sxy - sx * sy / CAST(n AS DOUBLE)) * (sxy - sx * sy / CAST(n AS DOUBLE)))"
      " / NULLIF((sxx - sx * sx / CAST(n AS DOUBLE)) * (syy - sy * sy / CAST(n AS DOUBLE)), 0)", 6)} AS r2
FROM s
"""


QUERIES["q107_weighted_sample"] = Query(q107_weighted_sample, _q107_sql())
QUERIES["q108_group_ols"] = Query(q108_group_ols, _Q108_SQL)


# ---------------------------------------------------------------------------
# q109 — grouped z-score outlier detection (the DQ anomaly gate): per
# event type, mean/σ of the value column from one decimal-exact agg
# broadcast back; events with |z| > 3 are flagged and summarized. Same
# two-pass broadcast-stats shape as q83/q106 — a 100 TB fact table
# reduces to G stat rows, the second pass is map-only. Per-row z is IEEE
# double (sqrt included), so the oracle matches bit-for-bit.
# ---------------------------------------------------------------------------
def q109_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    ev = parallel_table(spark, sf, "events").select("event_type", "value")
    s = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("_s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(30,6)")).alias("_ss"),
    )
    n = F.col("n").cast("double")
    mean = (F.col("_s").cast("double")) / n
    # clamp at 0: svv/n − mean² can round to −ε for near-constant groups,
    # where Spark's sqrt would yield NaN (and NaN>3 is TRUE) while SQL
    # engines abort on sqrt(negative) — clamping keeps both at σ=0 → NULL z
    var = F.greatest(
        F.lit(0.0), (F.col("_ss").cast("double")) / n - mean * mean
    )
    stats = s.select(
        "event_type", "n", mean.alias("_mean"), F.sqrt(var).alias("_sd")
    )
    j = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("_mean")) / F.nullif(F.col("_sd"), F.lit(0))
    flagged = j.select("event_type", "value", z.alias("z")).where(
        F.abs(F.col("z")) > 3
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_outliers"),
        dround(F.min("z"), 6).alias("min_z"),
        dround(F.max("z"), 6).alias("max_z"),
        dround(F.max(F.abs(F.col("value"))), 2).alias("max_abs_value"),
    )


_Q109_SQL = f"""
WITH s AS (
  SELECT event_type, COUNT(value) AS n,
    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sv,
    CAST(SUM(CAST(value * value AS DECIMAL(30,6))) AS DOUBLE) AS svv
  FROM events GROUP BY event_type
), st AS (
  SELECT event_type, n,
    sv / CAST(n AS DOUBLE) AS mean,
    sqrt(GREATEST(0.0, svv / CAST(n AS DOUBLE)
      - (sv / CAST(n AS DOUBLE)) * (sv / CAST(n AS DOUBLE)))) AS sd
  FROM s
), z AS (
  SELECT e.event_type, e.value,
    (e.value - st.mean) / NULLIF(st.sd, 0) AS z
  FROM events e JOIN st USING (event_type)
)
SELECT event_type, COUNT(*) AS n_outliers,
  {sql_dround("MIN(z)", 6)} AS min_z,
  {sql_dround("MAX(z)", 6)} AS max_z,
  {sql_dround("MAX(abs(value))", 2)} AS max_abs_value
FROM z WHERE abs(z) > 3 GROUP BY event_type
"""


QUERIES["q109_zscore_outliers"] = Query(q109_zscore_outliers, _Q109_SQL)


# ---------------------------------------------------------------------------
# q110 — k-means refinement step (Lloyd iteration) over embeddings: the
# training loop behind q48's IVF codebook. Deterministic init (the 8
# smallest-id vectors, q48's rule), shuffle-free nearest-centroid
# assignment (ml/ann.assign_centroid — one looped transform), then ONE
# hash agg recomputes every centroid as decimal-exact per-dimension
# means. Each Lloyd step is exactly one shuffle; iterate by re-running —
# at corpus scale that's the whole cost model of k-means. Output: per
# centroid, member count + refined first-4-dim means.
# ---------------------------------------------------------------------------
_Q110_C = 8
_Q110_OUT_DIMS = 4


def q110_kmeans_step(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.ann import assign_centroid

    emb = parallel_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    cents = [
        (r["_cid"], r["_cvec"])
        for r in emb.select(F.col("vec_id").alias("_cid"), F.col("vec").alias("_cvec"))
        .orderBy("_cid")
        .limit(_Q110_C)
        .collect()
    ]
    assigned = emb.withColumn("centroid_id", assign_centroid(F.col("vec"), cents))
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for d in range(_Q110_OUT_DIMS):
        # decimal-exact sum → IEEE-double divide → decimal-round: a
        # decimal÷bigint division rounds the exact rational in Spark but
        # falls to DOUBLE in DuckDB — a .5 at the round digit would flip
        aggs.append(
            F.round(
                (
                    F.sum(F.element_at("vec", d + 1).cast("decimal(30,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                ).cast("decimal(24,10)"),
                6,
            )
            .cast("double")
            .alias(f"mean_{d}")
        )
    return assigned.groupBy("centroid_id").agg(*aggs)


def _q110_sql() -> str:
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    means = ",\n  ".join(
        f"CAST(ROUND(CAST(CAST(SUM(CAST(vec[{d + 1}] AS DECIMAL(30,12))) AS DOUBLE)"
        f" / COUNT(*) AS DECIMAL(24,10)), 6) AS DOUBLE)"
        f" AS mean_{d}"
        for d in range(_Q110_OUT_DIMS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), c AS (
  SELECT vec_id AS c_id, vec AS c_vec FROM e ORDER BY vec_id LIMIT {_Q110_C}
), asg AS (
  SELECT vec_id, vec, c_id AS centroid_id FROM (
    SELECT e.vec_id, e.vec, c.c_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {cos.format(a='e.vec', b='c.c_vec')} DESC, c.c_id ASC) AS arn
    FROM e CROSS JOIN c) t
  WHERE arn = 1
)
SELECT centroid_id, COUNT(*) AS n_members,
  {means}
FROM asg GROUP BY centroid_id
"""


QUERIES["q110_kmeans_step"] = Query(q110_kmeans_step, _q110_sql())


# ---------------------------------------------------------------------------
# q158 — k-means codebook TRAINING (multi-round Lloyd, the loop q110 is
# one step of): deterministic init (the C smallest-id vectors), then R
# rounds of { shuffle-free cosine assignment (ml/ann.assign_centroid) →
# one hash agg recomputing every centroid as decimal-exact per-dim means
# → bounded driver collect (C rows) re-broadcast as next round's literal
# codebook }. Clusters that lose every member keep their previous vector
# (no NaN centroids, engine-identical rule). Output: per final centroid,
# member count + cosine inertia (Σ(1−cos), decimal-summed) + mean
# assignment similarity — the convergence ledger a codebook trainer
# actually monitors. Cost model at corpus scale: R × (one projection +
# one partial-agg'd shuffle of C×dim cells); nothing is quadratic and
# the only collects are C-row codebooks. Reference: the trained-IVF
# deployment note in ml/ann.ivf_topk (q48 runs a fixed codebook; this
# trains one).
# ---------------------------------------------------------------------------
_Q158_C = 8
_Q158_ROUNDS = 3
_Q158_DIM = 64  # embeddings fixture dimension; asserted at run time


def _q158_emb(spark: SparkSession, sf: str) -> DataFrame:
    """q158's pre-checkpoint feature projection — module-level so
    tests/test_plans.py can assert the embeddings scan shape the lazy
    checkpoint hides (the _q117_toks pattern, ADVICE r11)."""
    return parallel_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )


def q158_kmeans_train(spark: SparkSession, sf: str) -> DataFrame:
    from job_etl_spark.ml.ann import assign_centroid, assign_centroid_sim

    # lazily checkpoint the (vec_id, vec) projection: every round (plus the
    # init collect and the final inertia pass) re-reads the materialized
    # blocks instead of replaying scan → repartition → cast-transform —
    # at cluster scale this is the persisted feature table a trainer
    # iterates over, not a bench trick (guide §5 "cut lineage")
    emb = _q158_emb(spark, sf).localCheckpoint(eager=False)
    cents = {
        r["_cid"]: list(r["_cvec"])
        for r in emb.select(F.col("vec_id").alias("_cid"), F.col("vec").alias("_cvec"))
        .orderBy("_cid")
        .limit(_Q158_C)
        .collect()
    }
    dim = len(next(iter(cents.values())))
    # the SQL twin is rendered at import time and cannot probe the data —
    # fail loudly if the fixture dimension ever drifts from the shared
    # constant instead of silently training on a truncated unnest range
    assert dim == _Q158_DIM, f"embeddings dim {dim} != declared {_Q158_DIM}"
    for _ in range(_Q158_ROUNDS):
        assigned = emb.withColumn(
            "cid", assign_centroid(F.col("vec"), sorted(cents.items()))
        )
        # decimal-exact sum → IEEE-double divide → decimal-round (the q154
        # decimal÷bigint parity trap: each round's means become the next
        # round's codebook LITERALS, so one flipped digit cascades through
        # every later assignment). Grouped by (cid, pos) via posexplode —
        # the oracle's own GROUP BY (c_id, ord) shape — so the aggregate
        # is ONE fixed-size expression instead of 64 unrolled decimal
        # buffers whose generated code dominated the round stage (guide
        # §2.3; measured ~4× on the round jobs). COUNT(1) per (cid, pos)
        # equals the per-cid member count on the fixed-dim fixture, which
        # the dim assert above pins.
        rows = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.expr(
                    "CAST(ROUND(CAST(CAST(SUM(CAST(val AS DECIMAL(30,12))) "
                    "AS DOUBLE) / COUNT(1) AS DECIMAL(24,10)), 6) AS DOUBLE)"
                ).alias("m")
            )
            .collect()
        )
        # empty clusters keep their previous centroid
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        cents = {
            **cents,
            **{cid: [d[p] for p in range(dim)] for cid, d in means.items()},
        }
    final = emb.withColumn(
        "a", assign_centroid_sim(F.col("vec"), sorted(cents.items()))
    ).select("vec_id", F.col("a.cid").alias("centroid_id"), F.col("a.sim").alias("sim"))
    return final.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(dround(1 - F.col("sim"), 6).cast("decimal(30,6)")), 6
        )
        .cast("double")
        .alias("inertia"),
        F.round(
            (
                F.sum(dround(F.col("sim"), 6).cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(24,10)"),
            6,
        )
        .cast("double")
        .alias("avg_sim"),
    )


def _q158_sql() -> str:
    dim = _Q158_DIM
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings
), c0 AS (
  SELECT vec_id AS c_id, vec AS c_vec FROM e ORDER BY vec_id LIMIT {_Q158_C}
)"""
    ]
    for r in range(_Q158_ROUNDS):
        parts.append(
            f""", a{r} AS (
  SELECT vec_id, vec, c_id FROM (
    SELECT e.vec_id, e.vec, c.c_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {cos.format(a='e.vec', b='c.c_vec')} DESC, c.c_id ASC) AS arn
    FROM e CROSS JOIN c{r} c) t
  WHERE arn = 1
), m{r} AS (
  SELECT c_id, ord,
    CAST(ROUND(CAST(CAST(SUM(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
      AS DECIMAL(24,10)), 6) AS DOUBLE) AS m
  FROM (
    SELECT c_id, unnest(vec) AS val, unnest(range(1, {dim + 1})) AS ord FROM a{r}
  ) GROUP BY c_id, ord
), c{r + 1} AS (
  SELECT c_id, list(m ORDER BY ord) AS c_vec FROM m{r} GROUP BY c_id
  UNION ALL
  SELECT c_id, c_vec FROM c{r} WHERE c_id NOT IN (SELECT c_id FROM m{r})
)"""
        )
    last = f"c{_Q158_ROUNDS}"
    parts.append(
        f"""
SELECT c_id AS centroid_id, COUNT(*) AS n_members,
  CAST(ROUND(SUM(CAST(
    CAST(ROUND(CAST(1 - sim AS DECIMAL(24,10)), 6) AS DOUBLE)
  AS DECIMAL(30,6))), 6) AS DOUBLE) AS inertia,
  CAST(ROUND(CAST(CAST(SUM(CAST(
    CAST(ROUND(CAST(sim AS DECIMAL(24,10)), 6) AS DOUBLE)
  AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS DECIMAL(24,10)), 6) AS DOUBLE) AS avg_sim
FROM (
  SELECT vec_id, c_id, sim FROM (
    SELECT e.vec_id, c.c_id,
      {cos.format(a='e.vec', b='c.c_vec')} AS sim,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {cos.format(a='e.vec', b='c.c_vec')} DESC, c.c_id ASC) AS arn
    FROM e CROSS JOIN {last} c) t
  WHERE arn = 1
)
GROUP BY c_id
"""
    )
    return "".join(parts)


QUERIES["q158_kmeans_train"] = Query(q158_kmeans_train, _q158_sql())
