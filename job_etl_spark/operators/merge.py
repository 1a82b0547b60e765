"""Merge-upsert — the workhorse write pattern (reference parity: J3/J4/J5).

The reference's ``INSERT … ON CONFLICT (hash_key) DO UPDATE`` (batch
variant, ``services/normalizer/db_operations.py:427-460``) merges duplicate
identities: keep ``first_seen_at``, bump ``last_seen_at``, overwrite the
identity-bearing columns, and ``COALESCE(new, old)`` for the remaining
nullable columns. On Spark this is a keyed full-outer join + per-column
coalesce producing a fully rewritten table (partition-overwrite at scale;
Delta ``MERGE INTO`` drops in behind the same signature when available).

Scale notes (100 TB):
- The join shuffles both sides on the key — unavoidable for a keyed merge;
  with bucketed tables on ``hash_key`` the shuffle disappears (bucket-local
  sort-merge join). AQE handles skewed keys.
- The updates side is usually a small daily delta → Spark auto-broadcasts
  it under the threshold; no collect, no driver materialization.
- Merge-on-read tables defer the merge to read time:
  :func:`merge_statements` folds a stack of upsert statements in one
  window pass over the delta rows and merges it without shuffling the base.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The J3 column classes, in the order a class spec lists them.
COLUMN_CLASSES = ("overwrite", "coalesce", "keep_first")


def normalize_policy(policy: dict) -> dict[str, list[str]]:
    """A ``{class: [columns]}`` spec with every class of
    :data:`COLUMN_CLASSES` present, in that order. Raises on an unknown
    class or a column listed under two classes."""
    unknown = set(policy) - set(COLUMN_CLASSES)
    if unknown:
        raise ValueError(f"unknown class(es): {sorted(unknown)}")
    spec = {k: list(policy.get(k, ())) for k in COLUMN_CLASSES}
    named = [c for cs in spec.values() for c in cs]
    if len(named) != len(set(named)):
        raise ValueError("a column may appear in only one class")
    return spec


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    overwrite_cols: Sequence[str] = (),
    coalesce_cols: Sequence[str] | None = None,
    keep_first_cols: Sequence[str] = (),
) -> DataFrame:
    """Upsert ``updates`` into ``base`` by ``keys``.

    - ``overwrite_cols``: matched rows take the update's value outright
      (reference: title/company/location/source + last_seen_at bump).
    - ``coalesce_cols``: matched rows take ``coalesce(update, base)``
      (reference: the 11 nullable payload columns). Defaults to every
      shared non-key column not otherwise classified.
    - ``keep_first_cols``: matched rows keep the base value
      (reference: first_seen_at).
    Unmatched update rows are inserted; unmatched base rows pass through.
    """
    keys = list(keys)
    all_cols = base.columns
    classified = set(keys) | set(overwrite_cols) | set(keep_first_cols)
    if coalesce_cols is None:
        coalesce_cols = [c for c in all_cols if c not in classified and c in updates.columns]

    b = base.alias("b")
    u = updates.alias("u")
    # explicit join condition keeps both aliases' key columns addressable
    joined = b.join(u, [F.col(f"b.{k}") == F.col(f"u.{k}") for k in keys], "full_outer")
    matched = F.col(f"u.{keys[0]}").isNotNull() & F.col(f"b.{keys[0]}").isNotNull()
    out = []
    for k in keys:
        out.append(F.coalesce(F.col(f"u.{k}"), F.col(f"b.{k}")).alias(k))
    for c in all_cols:
        if c in keys:
            continue
        bcol = F.col(f"b.{c}")
        ucol = F.col(f"u.{c}") if c in updates.columns else F.lit(None)
        if c in keep_first_cols:
            expr = F.coalesce(bcol, ucol)
        elif c in overwrite_cols:
            expr = F.when(matched, ucol).otherwise(F.coalesce(ucol, bcol))
        elif c in coalesce_cols:
            expr = F.coalesce(ucol, bcol)
        else:
            expr = F.coalesce(bcol, ucol)
        out.append(expr.alias(c))
    return joined.select(*out)


def insert_if_absent(base: DataFrame, new_rows: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``INSERT … ON CONFLICT DO NOTHING`` (J4): anti-join then append.
    Intra-batch duplicates are also suppressed (the reference's per-row
    inserts conflict against rows earlier in the same batch) — one
    deterministic winner per key via min-struct ordering over the
    remaining columns. The anti-join broadcasts whichever side is small;
    at scale this is a shuffle-free append when both are bucketed on the
    key."""
    keys = list(keys)
    # maps are not orderable; any remaining orderable column set gives a
    # deterministic winner
    dtypes = dict(new_rows.dtypes)
    others = [
        c for c in new_rows.columns if c not in keys and not dtypes[c].startswith("map")
    ]
    if others:
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in others])
        new_rows = (
            new_rows.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        new_rows = new_rows.distinct()
    fresh = new_rows.join(base.select(*keys).distinct(), on=keys, how="left_anti")
    return base.unionByName(fresh.select(*base.columns))


def merge_statements(
    base: DataFrame,
    batches: DataFrame,
    keys: Sequence[str],
    classes: dict[int, dict[str, str]],
) -> DataFrame:
    """Apply a stack of upsert statements to ``base`` in one plan, with the
    result of applying each as its own :func:`merge_upsert` in ``_seq``
    order (a row whose ``_deleted`` flag is true deletes its key instead).

    ``batches`` is the union of the statements' rows, each tagged with its
    statement's ``_seq`` — at most one row per key per statement (the
    merge-on-read delta contract) — and null in every column its statement
    does not carry. ``classes[seq]`` maps each data column a statement
    carries to its class; every statement has an entry (``{}`` if it
    carries none). Classes vary per statement because an enricher's keyed
    UPDATE overwrites columns the normalize statements keep-first
    (reference: services/normalizer/db_operations.py:427-460 vs
    services/enricher/db_operations.py:140-176).

    The fold is one window pass over the delta rows because the per-
    statement merge functions close under composition:

      overwrite(v)  = const(v)                (ignores prior state)
      coalesce(v)   = s -> coalesce(v, s)     (fill-left)
      keep_first(v) = s -> coalesce(s, v)     (fill-right)

    Any composition is ``s -> coalesce(PRE, s, POST)`` or, once an
    overwrite appears, ``const(coalesce(PRE', K, POST'))`` with K the
    LATEST overwrite's value and PRE'/POST' over the statements after it:

      PRE  = first non-null fill-left value scanning latest -> oldest
      POST = first non-null fill-right value scanning oldest -> latest

    A column whose statements all share one class folds to one value (the
    latest row's, for an overwrite column every statement carries), merged
    with that class's expression. Any other column folds to ``__pre =
    coalesce(PRE, K)``, ``__post = POST`` and ``__skipbase`` (K exists),
    merged as ``coalesce(pre, post)`` if skipbase, else
    ``coalesce(pre, base, post)``. All windows share one partitioning and
    two orders, so the Window operator count does not grow with width.

    Tombstones: rows at or before a key's latest tombstone are dead
    history, and so is its BASE row (a sequential chain deleted it before
    any revive arrived), so the base is anti-joined on every key with a
    tombstone: a deleted key vanishes, a revived one inserts fresh.

    The base is never shuffled (``merge_upsert``'s full-outer join cannot
    broadcast; deltas ≪ base is the merge-on-read invariant):

      matched+survivors = base ⟕ broadcast(folded)       one base scan
      matched_keys      = base ⋉ broadcast(folded keys)  key columns only
      inserts           = folded ∖ matched_keys          small × small
    """
    keys = list(keys)
    seqs = sorted(classes)
    by_col: dict[str, dict[int, str]] = {}
    for s in seqs:
        for c, cls in classes[s].items():
            if cls not in COLUMN_CLASSES:
                raise ValueError(f"unknown column class {cls!r} for {c!r}")
            by_col.setdefault(c, {})[s] = cls
    base_types = dict(base.dtypes)
    extra = set(by_col) - set(base_types)
    if extra:
        raise ValueError(f"statement columns not in base schema: {sorted(extra)}")
    # an uncarried statement's null is a no-op for a fill class but would
    # read as a null overwrite, so a partly carried overwrite column is mixed
    simple: dict[str, str] = {}
    for c, cmap in by_col.items():
        kinds = set(cmap.values())
        if len(kinds) == 1 and (kinds != {"overwrite"} or len(cmap) == len(seqs)):
            simple[c] = kinds.pop()
    mixed = {c: cmap for c, cmap in by_col.items() if c not in simple}

    seq = F.col("_seq")
    if "_deleted" in batches.columns:
        dead = F.coalesce(F.col("_deleted"), F.lit(False))
    else:
        dead = F.lit(False)
    pk = Window.partitionBy(*keys)
    desc = pk.orderBy(F.desc("_seq")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    asc = pk.orderBy(F.asc("_seq")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def of(cmap: dict[int, str], cls: str) -> list[int]:
        return [s for s, k in cmap.items() if k == cls]

    # the latest overwrite seq of each column that mixes overwrite with a
    # fill class, taken over the whole stack: one at or before the key's
    # tombstone precedes every live row, so it filters nothing
    last_ow = {
        c: F.max(F.when(seq.isin(of(cmap, "overwrite")), seq)).over(pk).alias(f"{c}__last_ow")
        for c, cmap in mixed.items()
        if of(cmap, "overwrite") and len(set(cmap.values())) > 1
    }
    live = batches.select(
        "*", F.max(F.when(dead, seq)).over(pk).alias("_tomb"), *last_ow.values()
    ).where(~dead & (F.col("_tomb").isNull() | (seq > F.col("_tomb"))))

    types = dict(batches.dtypes)
    fields = []
    for c in by_col:
        v = F.col(c)
        if c in simple:
            w = asc if simple[c] == "keep_first" else desc
            fields.append(v if simple[c] == "overwrite" else F.first(v, True).over(w).alias(c))
            continue
        ow, co, kf = (of(mixed[c], k) for k in COLUMN_CLASSES)
        null = F.lit(None).cast(types[c])
        j = F.col(f"{c}__last_ow")
        fresh = j.isNull() | (seq > j) if c in last_ow else True
        pre = F.first(F.when(seq.isin(co) & fresh, v), True).over(desc) if co else null
        post = F.first(F.when(seq.isin(kf) & fresh, v), True).over(asc) if kf else null
        skip = F.lit(False)
        if ow:
            # a struct keeps "overwrite with null" apart from "no overwrite"
            k = F.first(F.when(seq.isin(ow), F.struct(v.alias("v"))), True).over(desc)
            pre, skip = F.coalesce(pre, k["v"]), k.isNotNull()
        fields += [pre.alias(f"{c}__pre"), post.alias(f"{c}__post"), skip.alias(f"{c}__skipbase")]
    folded = (
        live.select(*keys, *fields, F.row_number().over(pk.orderBy(F.desc("_seq"))).alias("_rn"))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    reset = batches.where(dead).select(*keys).distinct()
    survivors = base.join(F.broadcast(reset), keys, "left_anti")
    joined = survivors.alias("b").join(
        F.broadcast(folded.alias("u")), [F.col(f"b.{k}") == F.col(f"u.{k}") for k in keys], "left"
    )
    matched = F.col(f"u.{keys[0]}").isNotNull()

    def merged(c: str):
        b, v = F.col(f"b.{c}"), F.col(f"u.{c}")
        if c in mixed:
            pre, post, skip = (F.col(f"u.{c}__{x}") for x in ("pre", "post", "skipbase"))
            # an unmatched row has a null skipbase and takes the base value
            return F.when(skip, F.coalesce(pre, post)).otherwise(F.coalesce(pre, b, post))
        cls = simple.get(c)
        if cls == "overwrite":
            return F.when(matched, v).otherwise(b)
        if cls == "coalesce":
            return F.coalesce(v, b)
        return F.coalesce(b, v) if cls == "keep_first" else b

    def inserted(c: str):
        if c in mixed:
            return F.coalesce(F.col(f"{c}__pre"), F.col(f"{c}__post"))
        return F.col(c) if c in simple else F.lit(None).cast(base_types[c])

    data_cols = [c for c in base_types if c not in keys]
    matched_keys = survivors.select(*keys).join(
        F.broadcast(folded.select(*keys)), keys, "left_semi"
    )
    inserts = folded.join(matched_keys, keys, "left_anti").select(
        *keys, *[inserted(c).alias(c) for c in data_cols]
    )
    return joined.select(
        *[F.col(f"b.{k}").alias(k) for k in keys], *[merged(c).alias(c) for c in data_cols]
    ).unionByName(inserts)
