"""Near-duplicate detection operators: MinHash-LSH and SimHash.

Scale design:
- Signatures are computed entirely inside per-row array expressions
  (``transform``/``aggregate`` over token arrays) — whole-stage codegen,
  zero shuffle, zero Python. A 100 TB corpus signs in one map stage.
- Candidate generation is the ONLY shuffle: explode b band ids per doc,
  group on (band, bucket), expand each bucket's pairs (``bucket_pairs``).
  This is the standard shingle→minhash→band→bucket LSH pipeline; no
  all-pairs comparison ever happens.
- All hashing is md5-derived (first 15 hex chars → 60-bit int): stable
  across engines (DuckDB oracle twin), runs, and partitionings — unlike
  ``xxhash64``/``hash`` whose implementations differ per engine.

MinHash params: K=16 permutations, b=4 bands × r=4 rows. Collision
probability ≈ 1-(1-s^4)^4 — steep around Jaccard s≈0.7.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from job_etl_spark.functions.sqllit import cached_expr, lit_bigint_array

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
SIMHASH_BITS = 60


def hexint(c: Column) -> Column:
    """First 15 hex chars of md5 → non-negative 60-bit bigint."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def tokens_expr(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(t), " ")


def shingles_expr(tokens: Column, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles; empty for docs shorter than n."""
    size = F.size(tokens)
    # floor the sequence end at 1: when() discards the short-doc branch but
    # still evaluates it, and slice() errors on a start of 0
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(size - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


MINHASH_PRIME = 2147483647  # 2^31 − 1: a·h < 2^62 stays inside BIGINT in
# both Spark and DuckDB (no HUGEINT promotion → identical arithmetic)


def minhash_coefficients(k: int = MINHASH_K) -> tuple[list[int], list[int]]:
    """Deterministic md5-seeded universal-hash coefficients (a_s, b_s)."""
    import hashlib

    def h(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    a = [h(f"a{s}") % (MINHASH_PRIME - 1) + 1 for s in range(k)]
    b = [h(f"b{s}") % MINHASH_PRIME for s in range(k)]
    return a, b


def shingle_hashes_expr(shingles: Column) -> Column:
    """Base hash per shingle (md5 once), reduced mod p for the permutations."""
    return F.transform(shingles, lambda g: hexint(g) % MINHASH_PRIME)


def minhash_signature_expr(hashes: Column, k: int = MINHASH_K) -> Column:
    """K min-hashes via universal-hash permutations of the base hashes:
    sig_s = min over shingles of (a_s·h + b_s) mod p. One md5 per shingle
    total (vs k per shingle hashing each seed separately) — the md5 is the
    cost center; the permutations are integer multiply-adds inside codegen.
    NULL-safe: empty shingle set → NULL signature."""
    a, b = minhash_coefficients(k)
    a_arr = lit_bigint_array(a)
    b_arr = lit_bigint_array(b)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda s: F.array_min(
            F.transform(
                hashes,
                lambda h: (
                    F.element_at(a_arr, (s + 1).cast("int")) * h
                    + F.element_at(b_arr, (s + 1).cast("int"))
                )
                % MINHASH_PRIME,
            )
        ),
    )
    return F.when(F.size(hashes) > 0, sig)


def lsh_bands(
    df: DataFrame, doc_col: str, sig_col: str, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Signature → (doc, band, bucket) rows; bucket = md5 of the band's
    signature slice. One row per band per doc.

    All band buckets are computed in ONE projection and the resulting
    small array is exploded — exploding a band INDEX and bucketing per
    exploded row reads nicer but lets projection collapse inline the
    entire signature expression into every band row (the signature was
    being re-evaluated bands× per doc: measured 6× on the bands stage)."""
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col(sig_col), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bucket"),
        ),
    )
    out = df.select(F.col(doc_col), F.explode(arr).alias("_bb"))
    return out.select(doc_col, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    toks_col: str | None = None,
) -> DataFrame:
    """shingle → minhash → (id, band, bucket) rows — the STORABLE state of
    the LSH pipeline. Persisting this table is what makes dedup
    incremental: a new batch joins its bands against the stored corpus
    bands (new×old, no old×old re-pairing) and then appends its own.

    ``toks_col`` names a pre-tokenized array column to sign instead of
    tokenizing ``text_col`` — the shared-pass hook for consumers that run
    several signature schemes over one corpus (q157 composes minhash AND
    simhash: tokenize once, sign twice). Equivalent by construction when
    the column holds ``tokens_expr(text_col)``."""
    # materialize base hashes as a column so the k permutations reuse them.
    # The degenerate-doc filter is the CHEAP equivalent predicate
    # (sig IS NULL ⟺ shingle set empty ⟺ fewer than 3 tokens): filtering on
    # `sig.isNotNull()` lets Catalyst substitute the whole minhash pipeline
    # into the predicate and sink it below the parallelizing exchange —
    # the entire signature computation then runs (twice) inside the
    # single-task scan stage on single-split inputs. The token-count form
    # sinks harmlessly (one split per row) and prunes early at scale.
    toks = F.col(toks_col) if toks_col else tokens_expr(text_col)
    sig = (
        docs.where(F.size(toks) >= 3)
        .select(
            F.col(id_col),
            shingle_hashes_expr(shingles_expr(toks)).alias("_hs"),
        )
        .select(F.col(id_col), minhash_signature_expr(F.col("_hs"), k).alias("sig"))
    )
    return lsh_bands(sig, id_col, "sig", bands, rows)


def bucket_pairs(
    rows: DataFrame,
    bucket_cols: tuple[str, ...],
    member: str | tuple[str, ...],
    max_bucket: int | None = None,
    hamming_sql: Callable[[str, str], str] | None = None,
    max_hamming: int = 0,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """In-bucket pair expansion, the one pair path of every blocked
    near-dup operator: group ``rows`` by ``bucket_cols``, collect each
    bucket's sorted members, and explode every (i < j) pair as the struct
    ``p`` = (doc_a, doc_b[, hamming]), doc_a < doc_b.

    ``member`` is the id column, or a tuple of columns collected as a
    struct whose first field is the id (so the sort orders by id).
    Singleton buckets yield nothing. A bucket of B members yields B²/2
    pairs, so ``max_bucket`` drops every bucket over the cap: the standard
    LSH guard for adversarial skew (approximate recall, bounded worst
    task); None keeps recall exact. ``hamming_sql(a, b)`` renders two
    members' hamming distance from their SQL text; pairs over
    ``max_hamming`` are filtered inside the array. ``keep`` names bucket
    columns returned beside ``p``.

    Rendered as one SQL string (``cached_expr``) rather than nested Python
    lambdas: one parse per session instead of a few hundred py4j round
    trips per build."""
    if isinstance(member, str):
        collected, field = F.col(member), ""
    else:
        collected, field = F.struct(*member), f".`{member[0]}`"
    buckets = (
        rows.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(collected)).alias("xs"))
        .where(F.size("xs") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("xs") <= max_bucket)
    a, b = "element_at(xs, i)", "element_at(xs, j)"
    pair = f"'doc_a', {a}{field}, 'doc_b', {b}{field}"
    if hamming_sql is None:
        per_i = f"transform(sequence(i + 1, size(xs)), j -> named_struct({pair}))"
    else:
        per_i = (
            f"filter(transform(sequence(i + 1, size(xs)), j -> named_struct({pair}, "
            f"'hamming', CAST({hamming_sql(a, b)} AS INT))), "
            f"p -> p.hamming <= {int(max_hamming)})"
        )
    pairs = cached_expr(f"flatten(transform(sequence(1, size(xs) - 1), i -> {per_i}))")
    return buckets.select(*keep, F.explode(pairs).alias("p"))


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """Full LSH pipeline → candidate pairs (id_a < id_b, n_shared_bands).

    Candidates come from a ``groupBy(band, bucket) → collect_list →
    in-bucket pair expansion`` rather than a bucket-equality self-join:
    the self-join evaluates the whole signature pipeline once per side
    (~2× the work — Spark does not reuse the un-materialized subtree),
    while the grouped form signs every doc exactly once and generates the
    identical pair multiset. Per-bucket memory is bounded by bucket size;
    ``max_bucket`` is ``bucket_pairs``' degenerate-bucket cap (a bucket
    of B docs yields B²/2 pairs under EITHER formulation)."""
    banded = minhash_bands(docs, id_col, text_col, k, bands, rows, toks_col)
    return (
        bucket_pairs(banded, ("band", "bucket"), id_col, max_bucket)
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_from_hashes_expr(hs_col: str, toks_col: str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash from a precomputed token-hash array column ``hs_col``: per
    bit j, the sign of Σ(2·bit_j(h)−1) over tokens; bit set iff strictly
    positive. NULL when the token array ``toks_col`` is empty.

    Single-pass formulation: ONE fold over the token hashes carrying a
    ``bits``-wide sum vector (``zip_with`` accumulator), bit-tested
    against a literal powers-of-two array via column×column ``&``
    (Spark's shiftright needs a literal shift, so shifting the MASK
    instead of the hash is what unlocks the single pass). ~2× faster than
    the per-bit 60-fold version it replaced — higher-order functions
    evaluate interpreted, so array traversals, not arithmetic, are the
    cost center. For the same reason the per-token ±1 contribution is
    FUSED into the accumulator ``zip_with`` (one traversal per token)
    instead of materializing a contrib array first and zip-adding it.

    The expression is rendered as ONE SQL string and parsed once per
    session (``cached_expr``): built from Python lambdas it cost ~900
    py4j round trips per signature, most of a simhash query's driver
    build time. Column names, not Columns, go in so the text is the memo
    key; callers keep the two-step ``_toks``/``_hs`` projection so the
    token hashes are computed once per row."""
    powers = "array(" + ",".join(f"CAST({1 << j} AS BIGINT)" for j in range(bits)) + ")"
    sums = (
        f"aggregate(`{hs_col}`, array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, {powers}, "
        "(s, p) -> s + CAST(CASE WHEN (h & p) != 0 THEN 1 ELSE -1 END AS BIGINT)))"
    )
    packed = (
        f"aggregate(zip_with({sums}, {powers}, "
        "(s, p) -> CASE WHEN s > 0 THEN p ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return cached_expr(f"CASE WHEN size(`{toks_col}`) > 0 THEN {packed} END")


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash",
    bits: int = SIMHASH_BITS, toks_col: str | None = None,
) -> DataFrame:
    """Attach a simhash column; token hashes are materialized once so the
    60 per-bit aggregates reuse them instead of re-hashing. ``toks_col``
    names a pre-tokenized array column (the minhash_bands shared-pass
    hook) — equivalent by construction when it holds
    ``tokens_expr(text_col)``."""
    toks = F.col(toks_col) if toks_col else tokens_expr(text_col)
    step = df.withColumn("_toks", toks).withColumn(
        "_hs", F.transform(F.col("_toks"), hexint)
    )
    out = step.withColumn(
        out_col, simhash_from_hashes_expr("_hs", "_toks", bits)
    )
    return out.drop("_toks", "_hs")


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def with_simhash_wide(
    df: DataFrame, text_col: str = "text",
    hi_col: str = "sim_hi", lo_col: str = "sim_lo",
) -> DataFrame:
    """120-bit simhash as two independent 60-bit halves (md5 hex chars
    1-15 and 16-30 per token — independent universal hashes from one md5).

    The wide signature is the scale path for LARGER hamming thresholds:
    pigeonhole banding needs max_hamming+1 bands, and 60 bits at h=16
    gives 17 bands of ~3.5 bits (buckets divide a hot block by only ~11),
    while 120 bits gives 17 bands of ~7 bits (÷~128) — real selectivity
    at the same recall. NULL halves for empty token lists."""
    toks = tokens_expr(text_col)
    step = df.withColumn("_toks", toks).withColumn(
        "_hs1", F.transform(F.col("_toks"), hexint)
    ).withColumn(
        "_hs2",
        F.transform(
            F.col("_toks"),
            lambda t: F.conv(F.substring(F.md5(t), 16, 15), 16, 10).cast("bigint"),
        ),
    )
    out = step.withColumn(
        hi_col, simhash_from_hashes_expr("_hs1", "_toks", SIMHASH_BITS)
    ).withColumn(lo_col, simhash_from_hashes_expr("_hs2", "_toks", SIMHASH_BITS))
    return out.drop("_toks", "_hs1", "_hs2")


def simhash_wide_block_pairs(
    sigs: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
    max_hamming: int = 16,
    word_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Blocked near-dup pairs over the 120-bit signature, pigeonhole-
    banded exactly like ``simhash_block_pairs`` but with the
    ``max_hamming + 1`` bands spread across BOTH halves (a band never
    crosses the word boundary: bits distribute per word proportionally).
    Exact pair set for hamming(hi)+hamming(lo) ≤ max_hamming."""
    nb = max_hamming + 1
    # split the band count between the words proportionally to their bits
    # (equal words → as equal as possible); pigeonhole still holds: a pair
    # with ≤ max_hamming total differing bits agrees exactly on ≥1 of the
    # nb bands, whichever word that band lives in. Degenerate nb == 1
    # (max_hamming == 0): a single band on the hi word alone stays exact —
    # equal signatures agree on it, and the hamming ≤ 0 post-filter
    # removes hi-equal/lo-different collisions.
    nb_hi = max(1, nb // 2)
    nb_lo = nb - nb_hi

    def band_exprs(col_name: str, n_bands: int, band_base: int) -> str:
        base, extra = divmod(word_bits, n_bands)
        return (
            f"transform(sequence(0, {n_bands - 1}), i -> named_struct("
            f"'band', CAST(i + {band_base} AS INT), "
            f"'bval', shiftrightunsigned(`{col_name}`, CAST(i * {base} + least(i, {extra}) AS INT)) "
            f"& CAST(CASE WHEN i < {extra} THEN {(1 << (base + 1)) - 1} "
            f"ELSE {(1 << base) - 1} END AS BIGINT)))"
        )

    if nb_lo:
        both = f"concat({band_exprs(hi_col, nb_hi, 0)}, {band_exprs(lo_col, nb_lo, nb_hi)})"
    else:
        both = band_exprs(hi_col, nb_hi, 0)
    exploded = sigs.select(
        *block_cols, id_col, hi_col, lo_col, F.explode(F.expr(both)).alias("_b")
    ).select(
        *block_cols,
        id_col,
        hi_col,
        lo_col,
        F.col("_b.band").alias("_band"),
        F.col("_b.bval").alias("_bval"),
    )
    return (
        bucket_pairs(
            exploded,
            (*block_cols, "_band", "_bval"),
            (id_col, hi_col, lo_col),
            hamming_sql=lambda a, b: (
                f"bit_count({a}.`{hi_col}` ^ {b}.`{hi_col}`) "
                f"+ bit_count({a}.`{lo_col}` ^ {b}.`{lo_col}`)"
            ),
            max_hamming=max_hamming,
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.min("p.hamming").alias("hamming"))
    )


def simhash_block_pairs(
    sigs: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 8,
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Blocked near-dup pairs from simhash signatures, pigeonhole-banded.

    EXACT for the declared threshold: the signature is split into
    ``max_hamming + 1`` contiguous bit-bands, so any pair with hamming
    ≤ max_hamming must agree exactly on at least one band (pigeonhole).
    Candidates are keyed on ``(block…, band_id, band_bits)`` — not on the
    bare categorical block — then confirmed with an exact hamming check
    inside the array expression and de-duplicated across bands. The pair
    set is identical to the all-pairs-in-block formulation, but a hot
    (lang='en', source='web') block at corpus scale fans out over
    ``(max_hamming+1) · 2^band_width`` buckets instead of landing in ONE
    ``collect_list`` task with an O(n²) in-array expansion.

    ``max_bucket`` is ``bucket_pairs``' degenerate-bucket cap: a
    near-dup-DENSE block still costs Σ_buckets B² with
    B ≈ n_block / 2^band_width, so for adversarial
    density at corpus scale either cap buckets (approximate recall,
    documented) or widen the signature (128-bit → ~14-bit bands). The
    oracle-paired queries leave it None (exact recall).

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, one row per pair.
    """
    nb = max_hamming + 1
    base, extra = divmod(bits, nb)
    sig = F.col(sig_col)
    # Band values are computed ABOVE the explode, from the exploded band
    # index — `_bval` depends on the Generate's output, so projection
    # collapse cannot push it (and the signature expression it reads)
    # below the explode: the signature is structurally guaranteed to
    # evaluate ONCE per doc, not once per band. (Referencing the sig
    # inside a per-band struct array lets CollapseProject substitute the
    # whole simhash subtree into every band — measured 2× wall-clock.)
    # Band i covers bits [i·base + min(i, extra), +base + (i < extra)).
    bval_sql = (
        f"shiftrightunsigned(`{sig_col}`, CAST(_band * {base} + least(_band, {extra}) AS INT)) "
        f"& CAST(CASE WHEN _band < {extra} THEN {(1 << (base + 1)) - 1} "
        f"ELSE {(1 << base) - 1} END AS BIGINT)"
    )
    # NO isNotNull pre-filter on the signature: Catalyst would substitute
    # the whole signature pipeline into the predicate and sink it below
    # the parallelizing exchange into the single-split scan task (the
    # minhash_bands trap — measured ~2.5× on q31). NULL sigs ride to the
    # buckets and are excluded by the NULL-propagating hamming filter,
    # exactly as in the all-pairs formulation.
    exploded = sigs.select(
        *block_cols,
        id_col,
        sig_col,
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("_band"),
    ).withColumn("_bval", F.expr(bval_sql))
    return (
        bucket_pairs(
            exploded,
            (*block_cols, "_band", "_bval"),
            (id_col, sig_col),
            max_bucket,
            lambda a, b: f"bit_count({a}.`{sig_col}` ^ {b}.`{sig_col}`)",
            max_hamming,
        )
        # a pair agreeing on k bands is generated k times — dedup on the key
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.min("p.hamming").alias("hamming"))
    )
