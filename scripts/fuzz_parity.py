"""Deep fuzz of the cross-engine bit-parity invariants.

The committed hypothesis tests run small example counts (suite-time
budget); this harness runs the same invariants at a configurable depth
for between-round confidence sweeps:

  1. py_dround(x, s) == Spark dround(x, s)   (driver-replica rounding)
  2. py_cosine(a, b) == cosine_expr(a, b)     (driver-replica cosine)
  3. simhash_block_pairs == brute-force pairs (pigeonhole banding, 60-bit)
  4. simhash_wide_block_pairs == brute force  (120-bit two-word banding)
  5. pack_greedy (Catalyst fold) == pure-Python greedy replica
  6. q140 attribution_core (prefix-count/running-max windows) ==
     pure-Python pair-join replica (equal-t collisions, exact lookback
     boundary, empty lookbacks, null keys)
  7. seniority cascade: native expr == Spark-SQL CASE == DuckDB CASE
     (dialect-sensitive escaping, L-level/roman collisions, metachars,
     unicode, ANSI cast-overflow titles)
  8. merge-on-read delta fold (table policy + per-statement classes, flat +
     bucketed store layouts, compaction) == sequential COW merge chain
     (random policies, tombstones, revives, partial columns, empty
     batches)
  9. per-statement fold (``merge_statements``) == pure-Python sequential
     oracle

``--rounds`` sets the case count of families 3-6, 8 and 9 (Spark jobs
per case); ``--examples`` that of families 1, 2 and 7.

Usage: python scripts/fuzz_parity.py [--examples 2000] [--rounds 200] [--seed 0]
Prints one PASS/FAIL line per invariant; exits non-zero on any FAIL.
"""

from __future__ import annotations

import argparse
import math
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def fuzz_dround(spark, rng: random.Random, n: int) -> int:
    from pyspark.sql import functions as F

    from job_etl_spark.queries._util import dround, py_dround

    xs = []
    for _ in range(n):
        kind = rng.random()
        if kind < 0.5:
            xs.append(rng.uniform(-2.0, 2.0))  # the cosine domain
        elif kind < 0.8:
            xs.append(rng.uniform(-1e13, 1e13))  # wide but in-range
        elif kind < 0.9:
            xs.append(rng.uniform(-1e-9, 1e-9))  # subnormal-ish small
        else:
            xs.append(float(rng.randint(-10**12, 10**12)))  # integers
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i int, x double"
    )
    bad = 0
    for scale in (2, 6):
        got = {
            r["i"]: r["y"]
            for r in df.select("i", dround(F.col("x"), scale).alias("y")).collect()
        }
        for i, x in enumerate(xs):
            if got[i] != py_dround(x, scale):
                bad += 1
                print(f"  dround mismatch: x={x!r} scale={scale} "
                      f"spark={got[i]!r} py={py_dround(x, scale)!r}")
    return bad


def fuzz_cosine(spark, rng: random.Random, n: int) -> int:
    from pyspark.sql import functions as F

    from job_etl_spark.ml.ann import cosine_expr, py_cosine

    def vec(dim: int) -> list[float]:
        return [
            0.0 if rng.random() < 0.1 else rng.uniform(-2.0, 2.0)
            for _ in range(dim)
        ]

    dim = 64
    pairs = []
    while len(pairs) < n:
        a, b = vec(dim), vec(dim)
        if any(a) and any(b):
            pairs.append((a, b))
    q = pairs[0][0]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<double>, b array<double>",
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", cosine_expr(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    bad = 0
    for i, (a, b) in enumerate(pairs):
        expect = py_cosine(a, b)
        g = got[i]
        if g is None or (isinstance(g, float) and math.isnan(g)):
            ok = expect is None
        else:
            ok = g == expect
        if not ok:
            bad += 1
            print(f"  cosine mismatch at {i}: spark={g!r} py={expect!r}")
    del q
    return bad


def _brute(rows, max_hamming):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, ba, sa), (ib, bb, sb) = rows[i], rows[j]
            if ba == bb and bin((sa ^ sb) & ((1 << 64) - 1)).count("1") <= max_hamming:
                out.add((min(ia, ib), max(ia, ib)))
    return out


def fuzz_banding(spark, rng: random.Random, rounds: int) -> int:
    from job_etl_spark.ml.dedup import simhash_block_pairs

    bad = 0
    for _ in range(rounds):
        n = rng.randint(2, 24)
        mh = rng.choice([0, 1, 4, 8])
        rows = []
        sigs = []
        for i in range(n):
            if sigs and rng.random() < 0.5:  # force near-dups
                base = rng.choice(sigs)
                flip = 0
                for _ in range(rng.randint(0, mh + 2)):
                    flip |= 1 << rng.randrange(60)
                sig = base ^ flip
            else:
                sig = rng.getrandbits(60)
            sigs.append(sig)
            rows.append((i, rng.choice("ab"), sig))
        df = spark.createDataFrame(rows, "doc_id long, blk string, simhash long")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_block_pairs(
                df, ("blk",), max_hamming=mh, bits=60
            ).collect()
        }
        want = _brute(rows, mh)
        if got != want:
            bad += 1
            print(f"  banding mismatch: n={n} mh={mh} extra={got - want} missing={want - got}")
    return bad


def fuzz_wide_banding(spark, rng: random.Random, rounds: int) -> int:
    from job_etl_spark.ml.dedup import simhash_wide_block_pairs

    bad = 0
    for _ in range(rounds):
        n = rng.randint(2, 16)
        mh = rng.choice([0, 1, 4, 16])
        rows = []
        prev = []
        for i in range(n):
            if prev and rng.random() < 0.5:
                hi, lo = rng.choice(prev)
                for _ in range(rng.randint(0, mh + 2)):
                    b = rng.randrange(120)
                    if b < 60:
                        lo ^= 1 << b
                    else:
                        hi ^= 1 << (b - 60)
            else:
                hi, lo = rng.getrandbits(60), rng.getrandbits(60)
            prev.append((hi, lo))
            rows.append((i, rng.choice("ab"), hi, lo))
        df = spark.createDataFrame(rows, "doc_id long, blk string, sig_hi long, sig_lo long")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_wide_block_pairs(
                df, ("blk",), hi_col="sig_hi", lo_col="sig_lo",
                max_hamming=mh, word_bits=60,
            ).collect()
        }
        want = set()
        for i in range(n):
            for j in range(i + 1, n):
                (ia, ba, ha, la), (ib, bb, hb, lb) = rows[i], rows[j]
                ham = bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")
                if ba == bb and ham <= mh:
                    want.add((min(ia, ib), max(ia, ib)))
        if got != want:
            bad += 1
            print(f"  wide-banding mismatch: n={n} mh={mh} extra={got - want} missing={want - got}")
    return bad


def fuzz_packing(spark, rng: random.Random, rounds: int) -> int:
    """pack_greedy's Catalyst fold ≡ a pure-Python greedy replica, over
    random weights/capacities/shard counts — the only array-accumulating
    F.aggregate in the repo (q77's DuckDB recursive-CTE oracle checks one
    fixed setting; this sweeps the parameter space)."""
    from pyspark.sql import functions as F

    from job_etl_spark.ml.packing import pack_greedy

    bad = 0
    for _ in range(rounds):
        n = rng.randint(1, 60)
        cap = rng.randint(1, 200)
        shards = rng.randint(1, 5)
        rows = [
            (i, rng.choice([0, 1, cap // 2 or 1, cap, cap + 1, rng.randint(1, 2 * cap)]))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "k long, w long")
        got = {
            (r["k"], r["shard"], r["packno"])
            for r in pack_greedy(
                df, "k", "w", F.pmod("k", F.lit(shards)).cast("bigint"), "k", cap
            ).collect()
        }
        want = set()
        for s in range(shards):
            cur, packno = 0, 0
            for k, w in rows:
                if k % shards != s:
                    continue
                if cur != 0 and cur + w > cap:
                    packno += 1
                    cur = 0
                cur += w
                want.add((k, s, packno))
        if got != want:
            bad += 1
            print(f"  packing mismatch: n={n} cap={cap} shards={shards} extra={got - want} missing={want - got}")
    return bad


def fuzz_attribution(spark, rng: random.Random, rounds: int) -> int:
    """q140's prefix-count/running-max window form ≡ a pure-Python
    pair-join replica (the semantics the rewritten plan must reproduce:
    per conversion, touches of the same user with
    conv_t − lookback <= touch_t < conv_t, last-touch tie-broken by
    (touch_t, touch_id) descending, linear credit cnt·round(1/n, 10)
    decimal-exact). Corpora deliberately hit the endpoint-ordering
    surface: equal-timestamp touch/conv collisions, touches exactly AT
    conv_t − lookback, empty-lookback conversions, null user/ts rows,
    multi-user interleaving."""
    from decimal import ROUND_HALF_UP, Decimal, getcontext

    from job_etl_spark.queries.observability import attribution_core

    getcontext().prec = 50
    bad = 0
    for _ in range(rounds):
        lookback = rng.choice([50, 100])
        n = rng.randint(2, 40)
        users = [None] + list(range(rng.randint(1, 4)))
        # small t pool forces equal-t collisions; offsets exactly lookback
        # apart force the inclusive lower bound
        base_ts = [rng.randint(0, 300) for _ in range(max(2, n // 4))]
        t_pool = base_ts + [t + lookback for t in base_ts] + [None]
        rows = []
        for i in range(n):
            rows.append(
                (
                    rng.choice(users),
                    i,
                    rng.choice(["click", "view", "email", "purchase", "purchase"]),
                    rng.choice(t_pool),
                )
            )
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, t long"
        )
        got = {
            r["touch_type"]: (
                r["n_conversions_touched"],
                r["last_touch_credit"],
                r["linear_credit"],
            )
            for r in attribution_core(df, lookback).collect()
        }

        # --- pure-Python pair-join replica -----------------------------
        live = [r for r in rows if r[0] is not None and r[3] is not None]
        convs = [r for r in live if r[2] == "purchase"]
        touches = [r for r in live if r[2] != "purchase"]
        per_type: dict[str, dict[str, object]] = {}
        for cu, cid, _, ct in convs:
            win = [
                (tt, tid, ty)
                for tu, tid, ty, tt in touches
                if tu == cu and ct - lookback <= tt < ct
            ]
            if not win:
                continue
            unit = (Decimal(1) / Decimal(len(win))).quantize(
                Decimal("1e-10"), ROUND_HALF_UP
            )
            last_type = max(win)[2]
            by_type: dict[str, int] = {}
            for _, _, ty in win:
                by_type[ty] = by_type.get(ty, 0) + 1
            for ty, cnt in by_type.items():
                agg = per_type.setdefault(
                    ty, {"convs": 0, "last": 0, "linear": Decimal(0)}
                )
                agg["convs"] += 1
                agg["last"] += 1 if ty == last_type else 0
                agg["linear"] += cnt * unit
        want = {
            ty: (
                a["convs"],
                a["last"],
                float(a["linear"].quantize(Decimal("1e-6"), ROUND_HALF_UP)),
            )
            for ty, a in per_type.items()
        }
        if got != want:
            bad += 1
            print(
                f"  attribution mismatch: lookback={lookback} rows={rows}\n"
                f"    spark={got}\n    python={want}"
            )
    return bad


def fuzz_seniority_render(spark, rng: random.Random, n: int) -> int:
    """Family #7 (r8 verdict #5): the seniority cascade's THREE renders of
    one spec — native Column cascade (``seniority_level_expr``), Spark-SQL
    CASE (``seniority_case_sql('spark')``, backslash-doubled rlike
    literals), DuckDB CASE (``seniority_case_sql('duckdb')``) — must agree
    on adversarial titles: regex metachars, quotes, backslashes, LIKE
    wildcards, unicode, L-level / roman-numeral collisions, huge L-numbers
    (the ANSI cast-overflow case this family found on day one), empty and
    null titles."""
    import duckdb

    from job_etl_spark.functions.text import seniority_case_sql, seniority_level_expr

    frags = [
        # cascade keywords (every branch reachable)
        "senior", "sr", "sr.", "lead", "principal", "staff", "architect",
        "chief", "vp", "vice president", "head of", "director", "manager",
        "advanced", "intern", "junior", "jr", "jr.", "associate",
        "entry-level", "entry level", "entry", "intermediate", "mid-level",
        "mid level", "mid",
        # roman-numeral / level collisions
        "i", "ii", "iii", "iv", "engineer i", "engineer ii", "engineer iii",
        "level i", "level ii", "level iii", "ii,", "ii)", "i/", "iii,",
        # L-levels incl. boundary-glued and overflow-sized numbers
        "l1", "l3", "l4", "l5", "l9", "l10", "l15", "L4", "L5", "l04",
        "xl5", "l5x", "l123", "l2147483648", "l99999999999999999999",
        # metachars / escaping surface
        ".", "*", "+", "?", "(", ")", "[", "]", "{", "}", "|", "^", "$",
        "\\", "\\b", "\\\\", "%", "_", "%senior%", "_lead_", "'", "''",
        '"', "it's", "a'b", "100%",
        # unicode
        "élan", "señor sr", "naïve", "Müller", "日本語", "🚀", "Łukasz",
        # plain filler
        "engineer", "developer", "data", "software", "backend", "ml", "x",
    ]
    seps = [" ", " ", " ", "", ", ", "-", "/", "  ", " (", ") "]
    titles: list[str | None] = [None, "", " ", "l4", "senior l2147483648"]
    while len(titles) < n:
        k = rng.randint(1, 6)
        t = ""
        for j in range(k):
            if j:
                t += rng.choice(seps)
            f = rng.choice(frags)
            t += f.upper() if rng.random() < 0.2 else f
        titles.append(t)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(titles)], "i long, title string")
    got_expr = {
        r["i"]: r["lvl"]
        for r in df.select("i", seniority_level_expr("title").alias("lvl")).collect()
    }
    got_spark_sql = {
        r["i"]: r["lvl"]
        for r in df.selectExpr("i", seniority_case_sql("title", "spark") + " AS lvl").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, title VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, t) for i, t in enumerate(titles)])
    got_duck = dict(
        con.execute(
            f"SELECT i, {seniority_case_sql('title', 'duckdb')} AS lvl FROM t"
        ).fetchall()
    )
    bad = 0
    for i, t in enumerate(titles):
        vals = (got_expr[i], got_spark_sql[i], got_duck[i])
        if len(set(vals)) != 1:
            bad += 1
            print(
                f"  seniority render mismatch: title={t!r} "
                f"expr={vals[0]!r} spark-sql={vals[1]!r} duckdb={vals[2]!r}"
            )
    return bad




def fuzz_mor_fold(spark, rng: random.Random, rounds: int) -> int:
    """Family #8 (r9 verdict #5): the merge-on-read delta fold
    (``merge_statements``), under the table policy alone and with
    per-statement class overrides, must be bit-identical to
    applying every batch as its own sequential COW ``merge_upsert``, for
    random policies (column classes drawn per corpus), random delta stacks
    (nulls everywhere, tombstones, re-inserts after tombstones of
    base-present keys, repeated keys across batches, empty batches,
    partial column sets, per-statement class overrides), and mixed string/
    int/array column types. Every Nth corpus also round-trips through the
    REAL TableStore layout (mor_init/mor_upsert/mor_read, flat and
    bucketed, plus a compaction) so the dispatch + sidecar + layout code
    is fuzzed, not just the algebra."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from job_etl_spark.operators.merge import merge_statements, merge_upsert
    from job_etl_spark.pipeline.runner import TableStore

    COLS = ["c0", "c1", "c2", "c3"]
    TYPES = {"c0": "string", "c1": "int", "c2": "string", "c3": "array<int>"}
    SCHEMA = "k string, " + ", ".join(f"{c} {TYPES[c]}" for c in COLS)
    CLASSES = ["overwrite", "coalesce", "keep_first"]

    def val(c, tag, key):
        if TYPES[c] == "int":
            return rng.randint(-5, 5)
        if TYPES[c].startswith("array"):
            return [rng.randint(0, 3) for _ in range(rng.randint(0, 3))]
        return f"{c}-{tag}-{key}"

    def canon(df):
        rows = [
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select("k", *COLS).collect()
        ]
        return sorted(rows, key=repr)

    bad = 0
    for rd in range(rounds):
        keys = [f"k{i}" for i in range(rng.randint(4, 14))]
        # policy drawn per corpus; unclassified columns default keep-first
        policy = {"overwrite": [], "coalesce": [], "keep_first": []}
        table_cls = {}
        for c in COLS:
            ch = rng.choice(CLASSES + ["unclassified"])
            table_cls[c] = "keep_first" if ch == "unclassified" else ch
            if ch != "unclassified":
                policy[ch].append(c)
        base_rows = [
            tuple(
                [k]
                + [val(c, "b", k) if rng.random() < 0.7 else None for c in COLS]
            )
            for k in keys
            if rng.random() < 0.75
        ]
        base = spark.createDataFrame(base_rows, SCHEMA)

        # random statement stack
        batches = []  # (rows, carried, stmt_cls or None)
        for s in range(1, rng.randint(1, 6) + 1):
            override = rng.random() < 0.4
            carried = (
                sorted(rng.sample(COLS, rng.randint(1, len(COLS))))
                if override
                else list(COLS)
            )
            stmt_cls = (
                {c: rng.choice(CLASSES) for c in carried} if override else None
            )
            rows = []
            for k in keys:
                r = rng.random()
                if r < 0.5:
                    continue
                if r < 0.58:
                    rows.append((k, None))  # tombstone
                else:
                    rows.append(
                        (
                            k,
                            {
                                c: (val(c, f"t{s}", k) if rng.random() < 0.6 else None)
                                for c in carried
                            },
                        )
                    )
            batches.append((rows, carried, stmt_cls))

        # ---- sequential COW ground truth --------------------------------
        cow = base
        for rows, carried, stmt_cls in batches:
            dead = [k for k, v in rows if v is None]
            if dead:
                cow = cow.where(~F.col("k").isin(dead))
            ups_rows = [
                tuple([k] + [v.get(c) for c in carried]) for k, v in rows if v is not None
            ]
            if not ups_rows:
                continue
            ups = spark.createDataFrame(
                ups_rows, "k string, " + ", ".join(f"{c} {TYPES[c]}" for c in carried)
            )
            cls = stmt_cls or table_cls
            cow = merge_upsert(
                cow,
                ups,
                ["k"],
                overwrite_cols=[c for c in carried if cls[c] == "overwrite"],
                coalesce_cols=[c for c in carried if cls[c] == "coalesce"],
                keep_first_cols=[c for c in carried if cls[c] == "keep_first"],
            )
        want = canon(cow)

        # ---- fold path (algebra only, no files) -------------------------
        stack, stmt_classes, any_override = None, {}, False
        for s, (rows, carried, stmt_cls) in enumerate(batches, start=1):
            drows = []
            for k, v in rows:
                if v is None:
                    drows.append(tuple([k] + [None] * len(COLS) + [True]))
                else:
                    drows.append(tuple([k] + [v.get(c) for c in COLS] + [False]))
            d = spark.createDataFrame(drows, SCHEMA + ", _deleted boolean").withColumn(
                "_seq", F.lit(s)
            )
            stack = d if stack is None else stack.unionByName(d)
            cls = stmt_cls or table_cls
            any_override = any_override or stmt_cls is not None
            stmt_classes[s] = {c: cls[c] for c in carried}
        if stack is not None:
            got = canon(merge_statements(base, stack, ["k"], stmt_classes))
        else:
            got = canon(base)
        if got != want:
            bad += 1
            print(f"  mor fold mismatch (corpus {rd}, override={any_override})")
            continue

        # ---- store round-trip every 5th corpus --------------------------
        if rd % 5 == 0:
            root = tempfile.mkdtemp(prefix="fuzz_mor_")
            try:
                store = TableStore(spark, root)
                buckets = rng.choice([None, 4]) if rd % 10 == 0 else None
                store.write("t", base)
                store.mor_init(
                    "t", store.read("t"), ["k"], policy=policy, buckets=buckets
                )
                for rows, carried, stmt_cls in batches:
                    drows = [
                        tuple([k] + [None] * len(carried) + [True])
                        if v is None
                        else tuple([k] + [v.get(c) for c in carried] + [False])
                        for k, v in rows
                    ]
                    d = spark.createDataFrame(
                        drows,
                        "k string, "
                        + ", ".join(f"{c} {TYPES[c]}" for c in carried)
                        + ", _deleted boolean",
                    )
                    store.mor_upsert(
                        "t",
                        d,
                        classes=(
                            {
                                cl: [c for c in carried if stmt_cls[c] == cl]
                                for cl in CLASSES
                            }
                            if stmt_cls is not None
                            else None
                        ),
                    )
                if canon(store.read("t")) != want:
                    bad += 1
                    print(f"  mor STORE mismatch (corpus {rd}, buckets={buckets})")
                elif batches:
                    store.mor_compact("t")
                    if canon(store.read("t")) != want:
                        bad += 1
                        print(f"  mor COMPACT mismatch (corpus {rd}, buckets={buckets})")
            finally:
                shutil.rmtree(root, ignore_errors=True)
    return bad


def fuzz_statement_oracle(spark, rng: random.Random, rounds: int) -> int:
    """Family #9 (r10 verdict #6): the per-statement fold
    (``merge_statements``) against a
    PURE-PYTHON sequential oracle — independent of ``merge_upsert``, so a
    bug shared by the COW merge and the fold (family #8 compares those
    two against each other) cannot hide. The oracle applies each
    statement to a plain dict-of-dicts under the reference's ON CONFLICT
    semantics (services/normalizer/db_operations.py:427-460): insert
    takes the carried values (uncarried → NULL), matched rows update only
    carried columns by class — overwrite takes the statement value (NULL
    included), coalesce takes it only when non-NULL, keep-first is
    COALESCE(base, statement) (first NON-NULL wins, so a null base slot
    may still be filled) — tombstones delete, and a revive inserts
    fresh. Every Nth corpus also round-trips the REAL TableStore layout
    (flat and bucketed, plus a compaction)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from job_etl_spark.operators.merge import merge_statements
    from job_etl_spark.pipeline.runner import TableStore

    COLS = ["c0", "c1", "c2", "c3"]
    TYPES = {"c0": "string", "c1": "int", "c2": "string", "c3": "array<int>"}
    SCHEMA = "k string, " + ", ".join(f"{c} {TYPES[c]}" for c in COLS)
    CLASSES = ["overwrite", "coalesce", "keep_first"]

    def val(c, tag, key):
        if TYPES[c] == "int":
            return rng.randint(-5, 5)
        if TYPES[c].startswith("array"):
            return [rng.randint(0, 3) for _ in range(rng.randint(0, 3))]
        return f"{c}-{tag}-{key}"

    def canon(df):
        rows = [
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select("k", *COLS).collect()
        ]
        return sorted(rows, key=repr)

    bad = 0
    for rd in range(rounds):
        keys = [f"k{i}" for i in range(rng.randint(4, 14))]
        policy = {"overwrite": [], "coalesce": [], "keep_first": []}
        table_cls = {}
        for c in COLS:
            ch = rng.choice(CLASSES + ["unclassified"])
            table_cls[c] = "keep_first" if ch == "unclassified" else ch
            if ch != "unclassified":
                policy[ch].append(c)
        base_rows = [
            tuple([k] + [val(c, "b", k) if rng.random() < 0.7 else None for c in COLS])
            for k in keys
            if rng.random() < 0.75
        ]
        base = spark.createDataFrame(base_rows, SCHEMA)

        # random statement stack: partial column sets + per-statement
        # overrides are the NORM here (this family exists for them)
        batches = []  # (rows, carried, stmt_cls or None)
        for s in range(1, rng.randint(1, 6) + 1):
            override = rng.random() < 0.7
            carried = (
                sorted(rng.sample(COLS, rng.randint(1, len(COLS))))
                if override
                else list(COLS)
            )
            stmt_cls = {c: rng.choice(CLASSES) for c in carried} if override else None
            rows = []
            for k in keys:
                r = rng.random()
                if r < 0.5:
                    continue
                if r < 0.58:
                    rows.append((k, None))  # tombstone
                else:
                    rows.append(
                        (
                            k,
                            {
                                c: (val(c, f"t{s}", k) if rng.random() < 0.6 else None)
                                for c in carried
                            },
                        )
                    )
            batches.append((rows, carried, stmt_cls))

        # ---- pure-Python sequential oracle ------------------------------
        state: dict = {
            r[0]: {c: r[1 + i] for i, c in enumerate(COLS)} for r in base_rows
        }
        for rows, carried, stmt_cls in batches:
            cls = stmt_cls or table_cls
            for k, v in rows:
                if v is None:
                    state.pop(k, None)
                    continue
                if k not in state:
                    state[k] = {c: None for c in COLS}
                    for c in carried:
                        state[k][c] = v.get(c)
                    continue
                for c in carried:
                    if cls[c] == "overwrite":
                        state[k][c] = v.get(c)
                    elif cls[c] == "coalesce" and v.get(c) is not None:
                        state[k][c] = v.get(c)
                    elif cls[c] == "keep_first" and state[k][c] is None:
                        state[k][c] = v.get(c)  # first non-null wins
        want = sorted(
            (
                tuple(
                    [k]
                    + [
                        tuple(state[k][c]) if isinstance(state[k][c], list) else state[k][c]
                        for c in COLS
                    ]
                )
                for k in state
            ),
            key=repr,
        )

        # ---- one-pass statement fold ------------------------------------
        stack, stmt_classes = None, {}
        for s, (rows, carried, stmt_cls) in enumerate(batches, start=1):
            drows = []
            for k, v in rows:
                if v is None:
                    drows.append(tuple([k] + [None] * len(COLS) + [True]))
                else:
                    drows.append(tuple([k] + [v.get(c) for c in COLS] + [False]))
            d = spark.createDataFrame(drows, SCHEMA + ", _deleted boolean").withColumn(
                "_seq", F.lit(s)
            )
            stack = d if stack is None else stack.unionByName(d)
            cls = stmt_cls or table_cls
            stmt_classes[s] = {c: cls[c] for c in carried}
        if stack is not None:
            got = canon(merge_statements(base, stack, ["k"], stmt_classes))
        else:
            got = canon(base)
        if got != want:
            bad += 1
            print(f"  statement-oracle mismatch (corpus {rd})")
            continue

        # ---- store round-trip every 5th corpus --------------------------
        if rd % 5 == 0:
            root = tempfile.mkdtemp(prefix="fuzz_stmt_")
            try:
                store = TableStore(spark, root)
                buckets = rng.choice([None, 4]) if rd % 10 == 0 else None
                store.write("t", base)
                store.mor_init("t", store.read("t"), ["k"], policy=policy, buckets=buckets)
                for rows, carried, stmt_cls in batches:
                    if not rows:
                        continue
                    drows = [
                        tuple([k] + [None] * len(carried) + [True])
                        if v is None
                        else tuple([k] + [v.get(c) for c in carried] + [False])
                        for k, v in rows
                    ]
                    d = spark.createDataFrame(
                        drows,
                        "k string, "
                        + ", ".join(f"{c} {TYPES[c]}" for c in carried)
                        + ", _deleted boolean",
                    )
                    store.mor_upsert(
                        "t",
                        d,
                        classes=(
                            {
                                cl: [c for c in carried if stmt_cls[c] == cl]
                                for cl in CLASSES
                            }
                            if stmt_cls is not None
                            else None
                        ),
                    )
                if canon(store.read("t")) != want:
                    bad += 1
                    print(f"  statement-oracle STORE mismatch (corpus {rd}, buckets={buckets})")
                elif batches:
                    store.mor_compact("t")
                    if canon(store.read("t")) != want:
                        bad += 1
                        print(f"  statement-oracle COMPACT mismatch (corpus {rd})")
            finally:
                shutil.rmtree(root, ignore_errors=True)
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=2000)
    ap.add_argument("--rounds", type=int, default=200, help="cases per Spark-backed family (banding: 1 Spark job each)")
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()

    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-fuzz")
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(args.seed)
    failures = 0
    for name, fn, depth in (
        ("py_dround==dround", fuzz_dround, args.examples),
        ("py_cosine==cosine_expr", fuzz_cosine, args.examples),
        ("banded==bruteforce (60-bit)", fuzz_banding, args.rounds),
        ("wide banded==bruteforce (120-bit)", fuzz_wide_banding, args.rounds),
        ("pack_greedy==python greedy", fuzz_packing, args.rounds),
        ("attribution windows==python pair join", fuzz_attribution, args.rounds),
        ("seniority expr==spark-sql==duckdb", fuzz_seniority_render, args.examples),
        ("mor fold==sequential COW", fuzz_mor_fold, args.rounds),
        ("statement fold==python oracle", fuzz_statement_oracle, args.rounds),
    ):
        bad = fn(spark, rng, depth)
        print(f"{'FAIL' if bad else 'PASS'} {name} ({depth} cases, {bad} mismatches)", flush=True)
        failures += bad
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
