"""Streaming building blocks.

Design: transformations are written once against a DataFrame and applied
to both batch and streaming frames (Structured Streaming's core promise).
``windowed_event_stats`` is exactly the A1-shape aggregation with
event-time windows + late-data watermark; ``foreach_batch_merge`` reuses
the batch merge-upsert per micro-batch, giving the reference's idempotent
upsert semantics under replay (exactly-once per key, last-writer-wins).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _dedup_latest(batch_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Collapse duplicate keys WITHIN one micro-batch to a single row:
    winner per key = greatest struct over the non-key orderable columns
    (deterministic across retries; include a monotonic column like
    last_seen_at among them to make it time-correct). Shared by every
    upserting sink — the batch is a statement, not a log."""
    from pyspark.sql import Window

    dtypes = dict(batch_df.dtypes)
    order = [
        c for c in batch_df.columns if c not in keys and not dtypes[c].startswith("map")
    ]
    if not order:
        return batch_df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc_nulls_last() for c in order]
    )
    return (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_from_directory(
    spark: SparkSession, path: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream: new files in ``path`` become micro-batches —
    the streaming twin of the reference's append-only raw landing."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window per-type counts/sums with late-data watermark."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_normalize(
    store,
    adapter,
    raw_dir: str,
    run_ts,
    checkpoint_dir: str | None = None,
    processing_time: str | None = None,
):
    """The reference's extract→normalize→merge loop as a streaming query:
    new raw-landing files become micro-batches; each batch runs the SAME
    normalize_common + merge_into_staging operators inside foreachBatch
    (within-batch window dedup is legal there — the batch frame is a
    plain DataFrame). Returns the started StreamingQuery.

    Trigger modes: default drains what exists and stops (availableNow —
    the reference's daily-batch DAG run); ``processing_time`` (e.g.
    ``"5 seconds"``) keeps the query live, polling the landing dir each
    interval — the continuous-ingest deployment of the same pipeline."""
    from job_etl_spark.pipeline.normalize import merge_into_staging, normalize_common
    from job_etl_spark.schema import RAW_SCHEMA, STAGING_SCHEMA
    from job_etl_spark.sources.base import common_from_raw

    stream = stream_from_directory(store.spark, raw_dir, RAW_SCHEMA)

    def _batch(raw_df: DataFrame, batch_id: int) -> None:
        common = common_from_raw(raw_df, adapter)
        res = normalize_common(common, run_ts)
        staging = store.read("staging_job_postings", STAGING_SCHEMA)
        store.rewrite("staging_job_postings", merge_into_staging(staging, res.normalized))

    writer = stream.writeStream.foreachBatch(_batch)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def foreach_batch_merge(
    store,
    table: str,
    keys: Sequence[str],
    overwrite_cols: Sequence[str] = (),
    coalesce_cols: Sequence[str] | None = None,
    keep_first_cols: Sequence[str] = (),
    schema=None,
):
    """Returns a foreachBatch(fn) that merge-upserts each micro-batch into
    a ``TableStore`` table with J3 semantics. Replayed batches are
    idempotent: merging the same rows twice is a no-op.

    Duplicate keys WITHIN one micro-batch (two files landing in one
    trigger) are collapsed first (``_dedup_latest``) — merge_upsert's
    full-outer join requires unique update keys, and the raw batch would
    otherwise be written verbatim as the initial table.

    This is the COW side of the COW/MOR decision rule (COVERAGE.md
    "Choosing COW vs MOR"): per-trigger cost is O(table) — the r7 soak
    measured p50 tracking table size (684→907 ms at 10× seed) — so use
    it for DIMENSION-sized targets only; fact-sized mutable tables take
    ``foreach_batch_mor`` (flat 464→507 ms in the same soak)."""
    from job_etl_spark.operators.merge import merge_upsert

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _dedup_latest(batch_df, keys)
        base = store.read(table, schema) if (store.exists(table) or schema) else None
        if base is None:
            store.write(table, batch_df)
            return
        merged = merge_upsert(
            base,
            batch_df,
            keys=keys,
            overwrite_cols=overwrite_cols,
            coalesce_cols=coalesce_cols,
            keep_first_cols=keep_first_cols,
        )
        store.rewrite(table, merged)

    return _merge


def foreach_batch_mor(
    store, table: str, keys: Sequence[str], compact_every: int = 0,
    policy: dict | None = None,
):
    """Streaming upsert with O(batch) write cost: each micro-batch lands
    as one immutable merge-on-read delta (``TableStore.mor_upsert``)
    instead of read-modify-rewriting the whole table — the difference
    between O(batch) and O(table) amplification per trigger at 100 TB.

    Within-batch duplicate keys collapse via ``_dedup_latest`` (the rule
    shared with ``foreach_batch_merge``). A replayed batch appends a
    delta with identical rows — latest-wins makes the merged view
    idempotent. ``compact_every`` > 0 folds the delta log into the base
    every N batches, bounding read-side fan-in; the fold is the same
    atomic-swap rewrite, so concurrent readers see either view (both
    identical).

    This is the MOR side — the documented DEFAULT for large mutable
    tables (COVERAGE.md "Choosing COW vs MOR", measured by the r7 soak:
    flat p50 across a 10× base vs COW's proportional growth); its batch
    twins are ``run_rank(mor=True)`` and ``run_normalize(mor=True)`` in
    ``pipeline/runner.py``. ``policy`` passes the per-column
    COALESCE-merge classes to ``mor_init`` (a streaming J3: each batch is
    a merge STATEMENT folded at read time, not a row image) — omit it for
    latest-wins row-image streams. A replayed batch is idempotent under
    either resolution: latest-wins re-lands identical rows; the policy
    fold coalesces the same values again."""
    state = {"batches": 0}

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _dedup_latest(batch_df, keys)
        if not store.mor_exists(table):
            store.mor_init(table, batch_df, keys, policy=policy)
            return
        store.mor_upsert(table, batch_df)
        state["batches"] += 1
        if compact_every and state["batches"] % compact_every == 0:
            store.mor_compact(table)

    return _upsert


def foreach_batch_cms(
    store, table: str, key_col: str, depth: int = 4, width: int = 256
):
    """Streaming frequency sketch: each micro-batch's count-min matrix
    merges into a persisted ≤ D·W-row sketch table (union + re-sum —
    the CMS merge algebra), so a continuously-ingesting stream maintains
    heavy-hitter counts in KiB of state with O(batch) work per trigger.
    The sketch after any prefix of batches equals the batch-built sketch
    of the same rows (associativity), which is exactly what the test
    asserts. Rewriting a KiB-sized table per trigger is the cheap path;
    contrast foreach_batch_mor where the table is large and the delta
    log does the deferral."""
    from job_etl_spark.operators.cms import build_cms, merge_cms

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        sk = build_cms(batch_df, key_col, depth, width)
        if store.exists(table):
            sk = merge_cms(store.read(table), sk)
        store.rewrite(table, sk)

    return _merge


def foreach_batch_kmv(
    store, table: str, key_col: str, group_col: str, k: int = 64
):
    """Streaming distinct-count sketch: each micro-batch's per-group KMV
    sketch merges into a persisted ≤ groups·k-row table (union, re-take
    the k smallest — the KMV merge algebra), so a stream maintains
    deterministic distinct-cardinality state with O(batch) work per
    trigger. Read the estimate any time via
    ``operators.sketch.kmv_estimate(store.read(table), [group_col], k)``."""
    from job_etl_spark.operators.sketch import kmv_sketch, merge_kmv

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        sk = kmv_sketch(batch_df, key_col, [group_col], k=k)
        if store.exists(table):
            sk = merge_kmv([group_col], k, store.read(table), sk)
        store.rewrite(table, sk)

    return _merge


def foreach_batch_lsh_neardup(
    store,
    bands_table: str = "lsh_bands",
    accepted_table: str = "accepted_docs",
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """Streaming near-dup ingestion — the streaming twin of q103's
    incremental MinHash-LSH dedup: each micro-batch of documents is
    admitted only if it collides with neither the STORED corpus bands
    (new×old — the old×old pair space is never re-touched) nor an
    earlier doc of its own batch (bucket-min keeps the first), then the
    survivors' bands append to the state table so the next trigger—or
    the next day's run—dedups against them.

    Per-trigger cost is O(batch bands) + one (band, bucket)-keyed join
    against state and one id-keyed anti-join — never O(corpus²). Replay
    safety: a re-delivered batch anti-joins on already-accepted ids, so
    both outputs are append-once (docs with no bands — blank text —
    bypass LSH but are still replay-guarded by the id anti-join).

    ``compact_every=N`` rewrites both state tables every N batches
    (temp-dir + swap via ``store.rewrite`` — safe against the plan
    reading the files it replaces): the append-per-trigger layout
    otherwise accretes 2 small files per trigger forever (measured: 52
    band files after a 50-trigger soak, BASELINE.md r7), and a 100 TB
    deployment's scan cost is footer-count-bound long before it is
    byte-bound. Off by default — the declared tests pin the pure
    append-once semantics, and compaction changes only the file layout.
    """
    from job_etl_spark.ml.dedup import minhash_bands

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        # accepted and new_bands are SEVERED from their lineage (eager
        # localCheckpoint) before any state write: their plans scan the
        # state tables, and appending first would otherwise make a lazy
        # re-evaluation see this batch's own output — persist() is not
        # enough because TableStore.write's refreshByPath invalidates
        # caches that reference the written path, silently resurrecting
        # the stale plan (read-after-write under lazy evaluation)
        if store.exists(accepted_table):
            seen = store.read(accepted_table).select(id_col)
            batch_df = batch_df.join(seen, id_col, "left_anti")
        bands = minhash_bands(batch_df, id_col=id_col, text_col=text_col).persist()
        try:
            dup_ids = None
            if store.exists(bands_table):
                old = store.read(bands_table).select("band", "bucket")
                dup_ids = (
                    bands.join(old, ["band", "bucket"]).select(id_col).distinct()
                )
            wmin = Window.partitionBy("band", "bucket")
            within = (
                bands.withColumn("_mn", F.min(id_col).over(wmin))
                .where(F.col(id_col) > F.col("_mn"))
                .select(id_col)
                .distinct()
            )
            dup_ids = within if dup_ids is None else dup_ids.union(within).distinct()
            accepted = batch_df.join(dup_ids, id_col, "left_anti").localCheckpoint()
            new_bands = bands.join(accepted.select(id_col), id_col).localCheckpoint()
            store.write(accepted_table, accepted, mode="append")
            store.write(bands_table, new_bands, mode="append")
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                import glob as _glob
                import math as _math
                import os as _os

                par = batch_df.sparkSession.sparkContext.defaultParallelism
                for t in (accepted_table, bands_table):
                    if not store.exists(t):
                        continue
                    # size-aware width: ~128 MB per output file, capped at
                    # cluster parallelism — a KiB-scale state compacts to
                    # one file, a TB-scale one keeps its parallelism
                    nbytes = sum(
                        _os.path.getsize(f)
                        for f in _glob.glob(store.path(t) + "/*.parquet")
                    )
                    width = max(1, min(par, _math.ceil(nbytes / (128 << 20))))
                    store.rewrite(t, store.read(t).repartition(width))
        finally:
            bands.unpersist()

    return _ingest


def foreach_batch_quantile(
    store,
    table: str,
    value_col: str,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    nbins: int = 64,
):
    """Streaming quantile sketch: each micro-batch's equi-width histogram
    merges into a persisted ≤ groups·nbins-row table (union + re-sum —
    `operators/sketch.py`'s merge algebra), completing the sketch-sink
    family (CMS frequencies, KMV distincts, histogram quantiles). Read
    percentiles any time via ``operators.sketch.sketch_quantiles`` over
    ``store.read(table)``. The sketch after any batch prefix equals the
    batch-built sketch of the same rows (associativity)."""
    from job_etl_spark.operators.sketch import histogram_sketch, merge_sketches

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        sk = histogram_sketch(batch_df, value_col, group_cols, lo, hi, nbins)
        if store.exists(table):
            sk = merge_sketches(list(group_cols), store.read(table), sk)
        store.rewrite(table, sk)

    return _merge
