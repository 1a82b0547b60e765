"""Parquet-backed table storage for the pipeline stages.

``TableStore`` persists every stage's tables as parquet directories with
atomic overwrite-rewrite (copy-on-write) and an LSM-style merge-on-read
layout (immutable deltas folded at read time, compacted offline). Each
copy-on-write table, merge-on-read base and delta carries its schema in a
``_SCHEMA.json`` sidecar, so reading it plans without a Spark job.

A merge-on-read table keeps each fact in one file: ``_mor/_META`` holds
what never changes (``keys``, ``policy``, ``buckets``); the base's sidecar
holds its ``columns``, ``schema`` and ``folded`` seq and commits with the
base; a delta's sidecar holds its schema and, for a statement with its own
column classes, ``classes``.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from collections.abc import Sequence
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from job_etl_spark.operators.merge import merge_statements, normalize_policy

# A swap parks the live dir under this prefix + its own name, in the same
# parent. The dot hides the backup from Spark's file listing and from
# ``sources.readers.register_views``.
_OLD = "._old"


def _backup(live: str) -> str:
    head, tail = os.path.split(live)
    return os.path.join(head, _OLD + tail)


def _repair(live: str) -> None:
    """Settle a ``_swap`` that a crash interrupted. A backup without its
    ``live`` twin is the pre-swap content (the crash fell between the
    rename-away and the rename-in): rename it back. A backup next to
    ``live`` is debris of a finished swap: drop it. Every open of a table
    runs this first, so no reader sees a half-swapped directory."""
    old = _backup(live)
    if not os.path.exists(old):
        return
    if os.path.exists(live):
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(old, live)


def _swap(live: str, new: str) -> None:
    """The one directory commit: promote the fully-written dir ``new`` to
    ``live`` by rename-away, rename-in, drop-backup. A crash at any step
    leaves the old or the new content, and ``_repair`` restores or keeps
    it on the next open (an in-place overwrite would delete ``live``
    before the new content is committed). A missing ``new`` retires
    ``live`` (a compacted bucket whose rows all died). Local-FS renames;
    an object-store deployment swaps this seam for a commit protocol /
    Delta."""
    _repair(live)
    old = _backup(live)
    if os.path.exists(live):
        os.rename(live, old)
    if os.path.exists(new):
        os.rename(new, live)
    shutil.rmtree(old, ignore_errors=True)


# A table's (or a MOR base's, or a delta's) schema sidecar. The underscore
# hides it from Spark's file listing, so it rides inside the data dir and
# commits with it.
_SCHEMA = "_SCHEMA.json"


def _nullable(t: DataType) -> DataType:
    """``t`` as parquet reads it back: every field, element and value
    nullable."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _write_schema(dest: str, schema: StructType, **extra) -> None:
    """Record ``schema`` as the sidecar of the parquet dir ``dest``:
    ``{"columns", "schema"}`` plus ``extra`` (a MOR base's ``folded``
    delta seq, a MOR statement's ``classes``). A read with the sidecar's
    schema launches no Spark job; without it, Spark reads a parquet
    footer in a one-task job."""
    info = {"columns": schema.names, "schema": _nullable(schema).json(), **extra}
    _write_atomic(os.path.join(dest, _SCHEMA), json.dumps(info))


def _read_schema(dest: str) -> dict | None:
    """The sidecar of ``dest``, or None when it has none."""
    try:
        with open(os.path.join(dest, _SCHEMA)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _struct(info: dict) -> StructType:
    """The schema a sidecar records."""
    return StructType.fromJson(json.loads(info["schema"]))


def _drop_schema(dest: str) -> None:
    try:
        os.remove(os.path.join(dest, _SCHEMA))
    except FileNotFoundError:
        pass


def _write_atomic(path: str, text: str) -> None:
    """The one file commit: write a sibling ``.tmp`` file, then
    ``os.replace`` it over ``path``, so a reader sees the old or the new
    content and never a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _single_writer(verb):
    """Run the merge-on-read writer verb ``verb(self, name, ...)`` under
    the table's writer lock (the contract lives on
    ``TableStore._mor_writer_lock``)."""

    @functools.wraps(verb)
    def locked(self, name, *args, **kwargs):
        with self._mor_writer_lock(name):
            return verb(self, name, *args, **kwargs)

    return locked


class TableStore:
    """Parquet-backed tables with read-modify-overwrite semantics.

    At 100 TB the overwrite becomes partition-scoped (partitionBy source/
    ingest-date + dynamic partition overwrite) or a Delta MERGE; the runner
    only touches this seam.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # per-run merged-view memo: (table, delta-seq tuple, base stamp) →
        # lazily-checkpointed merged frame (see mor_read)
        self._merged_memo: dict[tuple, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        import glob

        _repair(self.path(name))
        return (
            self.mor_exists(name)
            or bool(glob.glob(os.path.join(self.path(name), "*.parquet")))
            or bool(glob.glob(os.path.join(self.path(name), "_SUCCESS")))
        )

    def read(self, name: str, schema=None, merge_schema: bool = False) -> DataFrame:
        """A copy-on-write table reads under its ``_SCHEMA.json`` sidecar,
        so the read launches no Spark job. A table without one (written
        before sidecars, partitioned, or appended with a different
        schema) infers its schema from a parquet footer, which Spark does
        in a one-task job.

        ``merge_schema=True`` ignores the sidecar and unions the footer
        schemas of every file (parquet schema evolution): rows written
        before a column existed read as NULL. Off by default — the merge
        pass reads every footer, which is a real cost on a 100 TB table;
        flip it only for tables that actually evolve.

        A table migrated to the merge-on-read layout is read through
        ``mor_read`` — every stage (marts/dq/publish/report) sees the
        merged view automatically, so a ``--mor`` write-back is never
        invisible to downstream readers."""
        if self.mor_exists(name):
            return self.mor_read(name)
        if not self.exists(name):
            if schema is None:
                raise FileNotFoundError(self.path(name))
            return self.spark.createDataFrame([], schema)
        if merge_schema:
            return self.spark.read.option("mergeSchema", "true").parquet(self.path(name))
        return self._parquet(self.path(name))

    def _parquet(self, path: str) -> DataFrame:
        """Read the parquet dir ``path`` under its sidecar schema, or infer
        the schema when it has no sidecar."""
        info = _read_schema(path)
        if info is None:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(_struct(info)).parquet(path)

    def write(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: Sequence[str] = (),
    ) -> None:
        """At 100 TB, pass partition_by=('source',) (or ingest date): writes
        become partition-scoped, incremental scans prune partitions, and
        with spark.sql.sources.partitionOverwriteMode=dynamic a merge
        rewrites only the partitions it touched.

        An overwrite, or the append that creates the table, writes the
        ``_SCHEMA.json`` sidecar after the data. An append whose schema
        differs from the sidecar drops it before writing, and partitioned
        writes keep none: those tables infer their schema at read."""
        path = self.path(name)
        _repair(path)
        if self.mor_exists(name):
            # a plain parquet write next to a MOR layout would be INVISIBLE
            # (read() prefers the merged view) — route or refuse, never fork
            if mode == "overwrite" and not partition_by:
                self.rewrite(name, df)
                return
            raise ValueError(
                f"table {name!r} uses the merge-on-read layout: use "
                "mor_upsert (append) or rewrite/mor_compact (rewrite); a "
                "direct parquet write would be invisible to readers"
            )
        fresh = mode == "overwrite" or not self.exists(name)
        side = None if partition_by else _nullable(df.schema).json()
        if fresh or (_read_schema(path) or {}).get("schema") != side:
            _drop_schema(path)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        if fresh and side is not None:
            _write_schema(path, df.schema)
        self.spark.catalog.refreshByPath(path)

    def overwrite_partitions(
        self, name: str, df: DataFrame, partition_by: Sequence[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions present
        in ``df``, leaving every other partition's files untouched.

        This is the 100 TB incremental-write path (reference:
        services/normalizer/db_operations.py:414 batch upsert, re-expressed
        as partition-scoped file replacement): a daily merge that touches 1
        of 1000 date partitions rewrites ~0.1% of the table instead of all
        of it, and concurrent readers of other partitions are unaffected.
        The conf is saved/restored so the session-wide STATIC default (the
        safe mode for full overwrites) still applies elsewhere."""
        _repair(self.path(name))
        if self.mor_exists(name):
            raise ValueError(
                f"table {name!r} uses the merge-on-read layout: partition-"
                "scoped overwrite would fork an invisible COW copy — land "
                "the patch as a delta (mor_upsert) instead"
            )
        _drop_schema(self.path(name))  # partitioned tables keep no sidecar
        conf = self.spark.conf
        prev = conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(
                self.path(name)
            )
        finally:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        self.spark.catalog.refreshByPath(self.path(name))

    def rewrite(self, name: str, df: DataFrame) -> None:
        """Safe read-modify-write: materialize to a temp dir first (the
        plan reads the files being replaced), write the ``_SCHEMA.json``
        sidecar into it, then ``_swap`` it in, so data and schema commit
        in one rename. refreshByPath invalidates Spark's cached file
        listing — without it later scans chase deleted part files.

        A merge-on-read table stays MOR: the rewrite becomes a base
        replacement (the new frame already incorporates the deltas — it
        was read through the merged view) and the deltas are cleared, so
        a stage-level rewrite (marts, enrich) never forks the table back
        into a COW layout the MOR readers would miss."""
        self._rewrite({name: df})

    def rewrite_many(self, updates: dict[str, DataFrame]) -> None:
        """Two-phase multi-table rewrite: materialize every plan to a temp
        dir FIRST, then swap — required when one table's new plan reads
        another table being replaced in the same stage. Each table's swap
        is crash-safe on its own; the set of swaps is not atomic."""
        self._rewrite(updates)

    def _rewrite(self, updates: dict[str, DataFrame]) -> None:
        """Shared body of ``rewrite`` and ``rewrite_many``. A MOR table
        holds its writer lock from its base write through the swap."""
        with ExitStack() as locks:
            staged = {}
            for name, df in updates.items():
                mor = self.mor_exists(name)
                if mor:
                    locks.enter_context(self._mor_writer_lock(name))
                    tmp = self._mor_dir(name, "base._tmp")
                    # df was read through the merged view: the new base
                    # holds every live delta
                    live = self.mor_deltas(name)
                    folded = live[-1] if live else self._mor_base_info(name)["folded"]
                    self._mor_write_base(df, tmp, self._mor_meta(name), folded)
                else:
                    tmp = self.path(f"__tmp_{name}")
                    df.write.mode("overwrite").parquet(tmp)
                    _write_schema(tmp, df.schema)
                    self.spark.catalog.refreshByPath(tmp)
                staged[name] = (tmp, mor)
            for name, (tmp, mor) in staged.items():
                if mor:
                    self._mor_swap_base(name, tmp)
                else:
                    _swap(self.path(name), tmp)
                    self.spark.catalog.refreshByPath(self.path(name))

    # -- snapshot versioning (Delta-lite time travel) ----------------------
    # Each write lands in an immutable {table}/_v/{N}/ dir; a one-line
    # _LATEST pointer file flips atomically (os.replace). Readers resolve
    # the pointer (or an explicit version) so writers never disturb a
    # running read, rollback is a pointer flip, and audits can re-read any
    # retained snapshot — the file-layout core of what Delta/Iceberg
    # transaction logs provide, without a new dependency.

    def _vdir(self, name: str, version: int) -> str:
        return os.path.join(self.path(name), "_v", str(version))

    def _pointer(self, name: str) -> str:
        return os.path.join(self.path(name), "_LATEST")

    def snapshots(self, name: str) -> list[int]:
        import glob

        return sorted(
            int(os.path.basename(d))
            for d in glob.glob(os.path.join(self.path(name), "_v", "*"))
            if os.path.basename(d).isdigit()
        )

    def latest_snapshot(self, name: str) -> int | None:
        try:
            with open(self._pointer(name)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def write_snapshot(self, name: str, df: DataFrame) -> int:
        version = (self.latest_snapshot(name) or 0) + 1
        df.write.mode("overwrite").parquet(self._vdir(name, version))
        _write_atomic(self._pointer(name), str(version))
        return version

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.latest_snapshot(name)
        if v is None:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        return self.spark.read.parquet(self._vdir(name, v))

    def rollback(self, name: str, version: int) -> None:
        if version not in self.snapshots(name):
            raise ValueError(f"version {version} not retained for {name!r}")
        _write_atomic(self._pointer(name), str(version))

    def vacuum_snapshots(self, name: str, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` snapshots (never the pointer
        target). Returns the removed versions."""
        current = self.latest_snapshot(name)
        vs = self.snapshots(name)
        removable = [v for v in vs[:-keep] if v != current] if keep > 0 else []
        for v in removable:
            shutil.rmtree(self._vdir(name, v), ignore_errors=True)
        return removable

    # -- merge-on-read upserts (LSM-lite) ----------------------------------
    # A keyed upsert against a 100 TB base must not rewrite the base per
    # batch. Merge-on-read (the Hudi MOR / LSM pattern) lands each batch as
    # an immutable delta file and defers the merge to READ time:
    #   read = latest-wins over (deltas by descending sequence) ∪ (base
    #          minus keys present in any delta)
    # so a write costs O(batch), reads cost one broadcast-able anti-join
    # (delta keys ≪ base), and compaction — folding deltas into a new base
    # — is an offline rewrite on its own schedule. Tombstones (a true
    # ``_deleted`` column) delete keys at read time. Reference twin:
    # services/normalizer/db_operations.py batch upsert, decoupled from
    # write amplification.

    def _mor_dir(self, name: str, *parts: str) -> str:
        return os.path.join(self.path(name), "_mor", *parts)

    def _mor_meta(self, name: str) -> dict:
        """What never changes about the table: ``keys``, plus ``policy``
        and ``buckets`` when it has them."""
        with open(self._mor_dir(name, "_META")) as f:
            return json.load(f)

    def mor_exists(self, name: str) -> bool:
        return os.path.exists(self._mor_dir(name, "_META"))

    @contextmanager
    def _mor_writer_lock(self, name: str):
        """Enforce the single-writer contract on a MOR table's mutating
        surface (init / upsert / compact / base rewrite). The reference's
        orchestration runs each table's writer with ``max_active_runs=1``
        (airflow/dags/jobs_etl_daily.py), so a second concurrent writer is
        a deployment error — it must FAIL LOUDLY, not queue and not
        silently sweep the first writer's in-flight tmp dirs. ``flock`` on
        ``_mor/_LOCK``, non-blocking: the OS releases it if the holder
        dies, so a crashed writer never wedges the table. Local-FS
        semantics; an object-store deployment swaps this seam for a lease
        (the same seam note as ``_swap``). Readers never take the lock:
        ``mor_read`` is safe against a concurrent upsert (delta register
        is one atomic rename) — only compaction/base-swaps additionally
        assume no concurrent reader mid-swap (see ``mor_compact``)."""
        import fcntl

        os.makedirs(self._mor_dir(name), exist_ok=True)
        fd = os.open(self._mor_dir(name, "_LOCK"), os.O_CREAT | os.O_RDWR)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                raise ValueError(
                    f"MOR table {name!r} has a concurrent writer (lock "
                    "_mor/_LOCK is held); MOR tables are single-writer — "
                    "serialize the callers (max_active_runs=1)"
                )
            yield
        finally:
            os.close(fd)  # closing the fd releases the flock

    def _mor_bucket_expr(self, meta: dict):
        """Stable key→bucket assignment (xxhash64 is a fixed algorithm, so
        the mapping survives restarts and Spark upgrades)."""
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in meta["keys"]]), F.lit(meta["buckets"])
        )

    def _mor_write_base(
        self, df: DataFrame, dest: str, meta: dict, folded: int = 0
    ) -> None:
        """Materialize a (new) base under the table's layout: bucketed
        tables hash-partition by ``_bucket`` (one dir per touched bucket,
        repartitioned so each bucket lands as ~one file), plain tables
        write flat.

        The base's ``_SCHEMA.json`` sidecar is the one home of its column
        list and schema, and of ``folded``, the newest delta seq the base
        already holds (see ``mor_deltas``). It rides INSIDE the base dir
        (underscore prefix — invisible to Spark's file listing), so the
        single base-swap rename publishes data and schema atomically."""
        if meta.get("buckets"):
            (
                df.withColumn("_bucket", self._mor_bucket_expr(meta))
                .repartition(meta["buckets"], F.col("_bucket"))
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(dest)
            )
        else:
            df.write.mode("overwrite").parquet(dest)
        _write_schema(dest, df.schema, folded=folded)
        self.spark.catalog.refreshByPath(dest)

    def _mor_base_info(self, name: str) -> dict:
        """The base's sidecar, ``{"columns", "schema", "folded"}``.
        Opening it first settles an interrupted base swap."""
        base = self._mor_dir(name, "base")
        _repair(base)
        with open(os.path.join(base, _SCHEMA)) as f:
            return json.load(f)

    @_single_writer
    def mor_init(
        self,
        name: str,
        df: DataFrame,
        keys: Sequence[str],
        policy: dict | None = None,
        buckets: int | None = None,
    ) -> None:
        """Write the base and record the key columns. An initial batch may
        carry the ``_deleted`` tombstone column (a CDC feed's first batch
        often does): deleted rows are dropped and the marker stripped —
        the base stores only live rows in the user schema.

        ``policy`` selects the delta-resolution semantics recorded in the
        table's _META and applied by every subsequent ``mor_read``:

        - ``None`` (default): latest-wins — a delta row replaces the key's
          row wholesale (the rank write-back, CDC row images).
        - ``{"overwrite": [...], "coalesce": [...], "keep_first": [...]}``:
          per-column COALESCE-merge fold — each delta is a J3
          ``merge_upsert`` statement, and the read folds the delta stack
          through the same semantics (the staging upsert's contract,
          reference services/normalizer/db_operations.py:427-460).

        ``buckets=N`` hash-partitions the base by key into N stable bucket
        dirs (``_bucket=i/``) — the table-lifetime layout decision that
        makes ``mor_compact`` partition-scoped: compaction rewrites only
        the buckets the delta keys touch, so an amortized compaction costs
        O(touched buckets), not O(table). This is the MOR twin of the
        partitioned-COW ``overwrite_partitions`` path. Choose N so a
        bucket is a few GB at the table's target size; None (default)
        keeps the flat single-dir base for dimension-sized tables.

        Migrating a COW table (the usual first call passes
        ``store.read(name)``) deletes the stale top-level COW files after
        the base materializes, so nothing can silently read pre-migration
        data through a direct parquet path. Single-writer: the call holds
        the table's writer lock (``_mor_writer_lock``)."""
        if "_deleted" in df.columns:
            df = df.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
                "_deleted"
            )
        meta: dict = {"keys": list(keys)}
        if policy is not None:
            meta["policy"] = normalize_policy(policy)
        if buckets:
            if "_bucket" in df.columns:
                raise ValueError("'_bucket' is reserved for the bucketed MOR layout")
            meta["buckets"] = int(buckets)
        self._mor_write_base(df, self._mor_dir(name, "base"), meta)
        os.makedirs(self._mor_dir(name, "delta"), exist_ok=True)
        _write_atomic(self._mor_dir(name, "_META"), json.dumps(meta))
        # the base write above already materialized everything it read.
        # Remove EVERY stale COW artifact — including partition
        # subdirectories from a partition_by write — keeping only the MOR
        # layout and the snapshot store (_v/_LATEST): anything else left
        # behind would let a direct parquet read of the table path see
        # pre-migration data.
        keep = {"_mor", "_v", "_LATEST", "_LATEST.tmp"}
        for entry in os.listdir(self.path(name)):
            if entry in keep:
                continue
            full = os.path.join(self.path(name), entry)
            if os.path.isdir(full):
                shutil.rmtree(full)
            else:
                os.remove(full)
        self.spark.catalog.refreshByPath(self.path(name))

    def _mor_delta_dirs(self, name: str) -> list[int]:
        """Seqs of every registered delta dir, folded ones included."""
        import glob

        return sorted(
            int(os.path.basename(d))
            for d in glob.glob(self._mor_dir(name, "delta", "*"))
            if os.path.basename(d).isdigit()
        )

    def mor_deltas(self, name: str) -> list[int]:
        """Seqs of the live deltas, oldest first. A delta at or below the
        base's ``folded`` seq is already in the base: a rewrite or a
        compaction recorded its fold point and crashed before deleting
        it. Reads skip it, so its pre-rewrite values never fold over the
        new base; the next upsert deletes it."""
        folded = self._mor_base_info(name)["folded"]
        return [s for s in self._mor_delta_dirs(name) if s > folded]

    @_single_writer
    def mor_upsert(
        self, name: str, df: DataFrame, classes: dict | None = None
    ) -> int | None:
        """Land one batch as the next delta and return its seq; an empty
        batch registers no delta and returns None. Rows may carry a boolean
        ``_deleted`` tombstone column; within a batch the caller provides
        at most one row per key (the batch is a statement, not a log) —
        ENFORCED after the delta materializes: duplicate keys would make
        the fold's per-key windows tie on ``_seq`` and silently break the
        COW-parity guarantee, so a duplicate batch fails loudly instead.

        ``classes`` overrides the table policy's column classes FOR THIS
        STATEMENT only (``{"overwrite": [...], "coalesce": [...],
        "keep_first": [...]}``) — the enricher's keyed UPDATE overwrites
        columns the normalize policy keeps-first (reference:
        services/enricher/db_operations.py:140-176 vs the normalizer's ON
        CONFLICT list). A statement may also carry a SUBSET of the table's
        columns: uncarried columns are a no-op (never nulled out). Only
        policy tables accept overrides; columns not named keep the table
        policy's class.

        Crash contract: the batch lands in ``delta/<seq>.tmp.<pid>``
        (invisible to ``mor_deltas``), gets its ``_SCHEMA.json`` sidecar
        (its schema and the statement's ``classes``, so neither the check
        below nor a read opens anything else), is validated, and registers
        via one atomic rename — a crash anywhere before the rename leaves
        no half-visible delta, and the next writer sweeps the debris
        (own-pid-dead check only; see the sweep comment below).
        Concurrency: single-writer, lock-enforced (``_mor_writer_lock``)."""
        meta = self._mor_meta(name)
        keys = meta["keys"]
        base = self._mor_base_info(name)
        # a column the base lacks would land and then vanish at read (reads
        # keep the base columns only) — refuse it before anything is
        # written
        unknown = [c for c in df.columns if c not in base["columns"] and c != "_deleted"]
        if unknown:
            raise ValueError(
                f"mor_upsert({name!r}): batch carries columns absent from "
                f"the base schema: {unknown}"
            )
        if classes is not None:
            if meta.get("policy") is None:
                raise ValueError(
                    f"mor_upsert({name!r}): per-statement classes require a "
                    "policy table (latest-wins deltas replace rows wholesale)"
                )
            named = [c for cs in normalize_policy(classes).values() for c in cs]
            missing = set(named) - set(df.columns)
            if missing:
                raise ValueError(f"classes name columns absent from the batch: {sorted(missing)}")
            if set(named) & set(keys):
                raise ValueError("key columns cannot be classified")
        # numbering continues past the folded seq, so a new delta is never
        # mistaken for one the base already holds
        folded, dirs = base["folded"], self._mor_delta_dirs(name)
        seq = max(dirs + [folded]) + 1
        for s in dirs:
            if s <= folded:  # debris of a crashed rewrite/compaction
                shutil.rmtree(self._mor_dir(name, "delta", str(s)), ignore_errors=True)
        final = self._mor_dir(name, "delta", str(seq))
        # pid-stamped tmp: defense-in-depth under the writer lock — even a
        # writer that bypasses the lock (older code, operator error) can't
        # have its in-flight dir swept, because the sweep only removes tmp
        # dirs whose stamped owner process is DEAD (plus unstamped ones,
        # which no live writer can own under this code).
        tmp = f"{final}.tmp.{os.getpid()}"
        import glob as _glob

        for stale in _glob.glob(self._mor_dir(name, "delta", "*.tmp*")):
            suffix = stale.rsplit(".tmp", 1)[1]
            pid = int(suffix[1:]) if suffix.startswith(".") and suffix[1:].isdigit() else None
            if pid is not None and pid != os.getpid():
                try:
                    os.kill(pid, 0)  # signal 0: existence probe only
                    continue  # owner alive — never sweep a live writer
                except ProcessLookupError:
                    pass
                except PermissionError:
                    continue  # exists under another uid — leave it
            shutil.rmtree(stale, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        own = {"classes": {k: sorted(v) for k, v in classes.items() if v}} if classes else {}
        _write_schema(tmp, df.schema, **own)
        # check the LANDED files, not df's lineage: one cheap key-column
        # scan (column pruning) instead of recomputing an arbitrary plan.
        # Distinct over a STRUCT of the keys: the struct is non-null even
        # when a key field is null, so null-keyed rows count too. The same
        # aggregate counts the batch, so an empty one costs no extra job.
        landed = self._parquet(tmp)
        null_key = None
        for k in keys:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        checks = landed.agg(
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct(*[F.col(k) for k in keys]))
            ).alias("d"),
            F.count(F.when(null_key, 1)).alias("nk"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if not checks["n"]:  # an empty batch must not grow the delta chain
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        if checks["d"] or checks["nk"]:
            shutil.rmtree(tmp, ignore_errors=True)
            if checks["nk"]:
                # the reference's conflict target is a PRIMARY KEY — null
                # keys can't exist there, and the fold would group them
                # while a sequential COW chain inserts one row per batch
                raise ValueError(
                    f"mor_upsert({name!r}): batch has {checks['nk']} "
                    "null-keyed row(s); delta statements require non-null keys"
                )
            raise ValueError(
                f"mor_upsert({name!r}): batch has {checks['d']} duplicate key "
                "row(s); a delta is a statement (at most one row per key per batch)"
            )
        os.rename(tmp, final)
        return seq

    def mor_read(self, name: str) -> DataFrame:
        """Merged view over base + delta stack.

        Latest-wins tables (no policy): newer deltas beat older beat base;
        a tombstone suppresses the key. The per-key window runs over DELTA
        rows only (≪ base); the base is filtered by a left-anti join on
        the delta key set — broadcast-able whenever deltas are batch-sized.

        Policy tables: every delta is a statement whose carried columns
        take the table policy's classes, or its own
        (``mor_upsert(classes=...)``). ``merge_statements`` folds the stack
        in one window pass over the delta rows and merges it onto the base
        in a broadcast-shaped plan, bit-identical to applying each
        statement as a COW ``merge_upsert``, without ever shuffling the
        base."""
        meta = self._mor_meta(name)
        base = self._mor_read_base(name, meta)
        seqs = self.mor_deltas(name)
        if not seqs:
            return base
        # Per-run merged-view memo (guide §5, VERDICT r11 #4): a composed
        # DAG run reads the same merged view from several stages (marts,
        # rank, dq, report, publish all read fact_jobs), and every ACTION
        # on a fresh merged plan re-runs the full base scan + delta fold —
        # measured ~5× read amplification per DAG run (SCALING.md r11).
        # The memo key is exact: the delta-seq tuple changes on every
        # upsert, the base stamp on every swap/compaction, so a hit can
        # only serve a view bit-identical to a fresh fold. The value is a
        # localCheckpoint(eager=False). On Spark 4 with AQE on that call
        # is not lazy: it runs the fold's shuffles and broadcasts as jobs
        # (6 for a one-delta policy table), so a reader that only filters
        # or counts still pays for them. Later consumers read the
        # checkpointed blocks. Intra-TableStore only (runner builds one
        # store per run) — nothing persists across runs. At cluster scale the
        # same seam is a durable checkpoint / persist(DISK) decision.
        try:
            base_stamp = os.stat(self._mor_dir(name, "base")).st_mtime_ns
        except OSError:
            return self._mor_apply_deltas(name, meta, base, seqs)
        key = (name, tuple(seqs), base_stamp)
        hit = self._merged_memo.get(key)
        if hit is not None:
            return hit
        # evict superseded entries for this table (older seq/base states
        # can never hit again; dropping the ref lets ContextCleaner free
        # any materialized checkpoint blocks)
        for stale in [k for k in self._merged_memo if k[0] == name]:
            del self._merged_memo[stale]
        merged = self._mor_apply_deltas(name, meta, base, seqs).localCheckpoint(
            eager=False
        )
        self._merged_memo[key] = merged
        return merged

    def _mor_apply_deltas(
        self, name: str, meta: dict, base: DataFrame, seqs: list[int]
    ) -> DataFrame:
        """Resolve the delta stack against ``base`` (the full base for
        reads; a bucket-filtered base for partition-scoped compaction —
        valid because every delta key hashes into the touched buckets)."""
        keys = meta["keys"]
        policy = meta.get("policy")
        deltas = None
        carried: dict[int, list[str]] = {}  # seq -> data columns the statement carries
        overrides: dict[int, dict] = {}  # seq -> per-statement class overrides
        for s in seqs:
            path = self._mor_dir(name, "delta", str(s))
            info = _read_schema(path)
            d = self.spark.read.schema(_struct(info)).parquet(path)
            carried[s] = [c for c in d.columns if c not in keys and c != "_deleted"]
            overrides[s] = info.get("classes", {})
            if "_deleted" not in d.columns:
                d = d.withColumn("_deleted", F.lit(False))
            d = d.withColumn("_seq", F.lit(s))
            deltas = d if deltas is None else deltas.unionByName(
                d, allowMissingColumns=True
            )
        if policy is not None:
            # a carried column takes the statement's class, else the
            # policy's, else keep-first
            def by_column(spec: dict) -> dict[str, str]:
                return {c: k for k, cs in normalize_policy(spec).items() for c in cs}

            table, base_cols, classes = by_column(policy), set(base.columns), {}
            for s in seqs:
                own = by_column(overrides[s])
                classes[s] = {
                    c: own.get(c, table.get(c, "keep_first"))
                    for c in carried[s]
                    if c in base_cols
                }
            return merge_statements(base, deltas, keys, classes)
        w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
        latest = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_seq")
        )
        live = latest.where(~F.col("_deleted")).drop("_deleted")
        delta_keys = latest.select(*keys)
        survivors = base.join(F.broadcast(delta_keys), list(keys), "left_anti")
        return survivors.unionByName(live)

    def _mor_swap_base(self, name: str, tmp: str) -> None:
        """``_swap`` a fully-written replacement base in and clear the
        delta stack (the replacement was computed FROM the merged view, so
        the deltas are now folded in; the new base's ``folded`` seq hides
        any the crash of this loop leaves behind)."""
        _swap(self._mor_dir(name, "base"), tmp)
        self._mor_drop_deltas(name)

    def _mor_drop_deltas(self, name: str) -> None:
        """Delete every delta dir once the base records them as folded,
        then drop Spark's cached listing of the changed base."""
        for s in self._mor_delta_dirs(name):
            shutil.rmtree(self._mor_dir(name, "delta", str(s)), ignore_errors=True)
        self.spark.catalog.refreshByPath(self._mor_dir(name, "base"))

    def _mor_read_base(
        self, name: str, meta: dict, buckets: list[int] | None = None
    ) -> DataFrame:
        """Base scan under the base sidecar's schema: an EMPTY bucketed
        base has no parquet footer to infer from (partitionBy writes no
        files for zero rows), and the explicit schema spares every other
        read its footer job. A bucketed base reads its ``_bucket``
        partition column, keeps only ``buckets`` when given (partition
        pruning for compaction), then drops it: the column is a layout
        detail, not table schema. Opening the base first settles any
        interrupted base or bucket ``_swap``."""
        basedir = self._mor_dir(name, "base")
        st = _struct(self._mor_base_info(name))
        if not meta.get("buckets"):
            return self.spark.read.schema(st).parquet(basedir)
        for e in os.listdir(basedir):
            if e.startswith(_OLD):
                _repair(os.path.join(basedir, e[len(_OLD) :]))
        base = self.spark.read.schema(st.add("_bucket", "long")).parquet(basedir)
        if buckets is not None:
            base = base.where(F.col("_bucket").isin([int(b) for b in buckets]))
        return base.drop("_bucket")

    @_single_writer
    def mor_compact(self, name: str) -> int:
        """Fold the delta stack into the base; returns the number of
        deltas folded. Readers before the swap see the old base+deltas,
        after it the new base — both are the same merged view.

        Flat tables rewrite the whole base (temp-dir + atomic swap, same
        crash contract as rewrite()). BUCKETED tables rewrite ONLY the
        buckets the delta keys hash into — at 100 TB an amortized full
        rewrite is the dominant write cost, while touched buckets track
        the delta key set, not the table. Every bucket commits through
        ``_swap``; a crash at any point is repaired by ``_repair`` (run
        before every read). After the last bucket swap the base sidecar
        records ``folded``, before any delta is deleted, exactly as a
        flat swap does. A crash before that record leaves the deltas live,
        and because each delta is a merge STATEMENT the fold is idempotent
        over its own result — re-applying them to an already-compacted
        bucket reproduces the same rows. A crash after it leaves deltas
        that reads skip and the next upsert deletes.

        Concurrency contract (matches the enrich-stage ordering comment
        for the flat path): compaction is CRASH-safe but not concurrent-
        READER-safe — between a bucket's rename-away and rename-in a plan
        built at that instant sees the bucket missing, and the delta dirs
        are removed while a plan built before the compaction may still
        list them. Run compaction only from the single writer, ordered
        strictly after any same-process reads have executed (the DAG's
        stage ordering guarantees this; ad-hoc readers must not overlap a
        compaction). Cross-process mutual exclusion of WRITERS is
        enforced by ``_mor_writer_lock``; reader fencing at 100 TB is the
        snapshot-isolation seam a Delta/Iceberg commit log would fill."""
        seqs = self.mor_deltas(name)
        if not seqs:
            return 0
        meta = self._mor_meta(name)
        tmp = self._mor_dir(name, "base._tmp")
        if not meta.get("buckets"):
            self._mor_write_base(self.mor_read(name), tmp, meta, seqs[-1])
            self._mor_swap_base(name, tmp)
            return len(seqs)

        keys = meta["keys"]
        # touched buckets = hash of every delta key (tombstones included);
        # the collect is bounded by the bucket count, never by data size
        dk = None
        for s in seqs:
            d = self._parquet(self._mor_dir(name, "delta", str(s))).select(*keys)
            dk = d if dk is None else dk.unionByName(d)
        touched = sorted(
            r["b"]
            for r in dk.select(self._mor_bucket_expr(meta).alias("b"))
            .distinct()
            .collect()
        )
        # merged view restricted to the touched buckets: every delta key
        # hashes into one of them, so the full delta stack applies cleanly
        # to the filtered base and untouched buckets need no work at all
        base = self._mor_read_base(name, meta, touched)
        merged = self._mor_apply_deltas(name, meta, base, seqs)
        shutil.rmtree(tmp, ignore_errors=True)
        (
            merged.withColumn("_bucket", self._mor_bucket_expr(meta))
            .repartition(max(len(touched), 1), F.col("_bucket"))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(tmp)
        )
        basedir = self._mor_dir(name, "base")
        for b in touched:
            _swap(os.path.join(basedir, f"_bucket={b}"), os.path.join(tmp, f"_bucket={b}"))
        shutil.rmtree(tmp, ignore_errors=True)
        info = {**self._mor_base_info(name), "folded": seqs[-1]}
        _write_atomic(os.path.join(basedir, _SCHEMA), json.dumps(info))
        self._mor_drop_deltas(name)
        return len(seqs)
