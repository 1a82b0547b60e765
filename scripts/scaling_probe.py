"""Scaling probe: does each heavy operator scale ~linearly in rows?

Builds an N×-scaled copy of the driver testdata in /tmp by unioning the
base tables with id-offset replicas (text/embedding payloads get a
per-replica salt token so near-dup/ANN candidate structure stays
realistic instead of collapsing into N-way exact duplicates), written as
MULTI-file parquet — which also un-pins the single-file single-row-group
decode bottleneck the sf0.1 files have — then times selected queries at
1× and N× and prints the observed scaling exponent per query
(log(tN/t1)/log(N): ~1.0 linear, ~2.0 quadratic).

Usage: python scripts/scaling_probe.py [--scale 8] [--sf /root/testdata/sf0.1]
       [--queries q29 q27 q58 q102 ...] [--runs 2]
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DEFAULT_QUERIES = [
    "q20_dedup_exact",
    "q21_token_stats",
    "q25_ngram_jaccard",
    "q27_embedding_neardup",
    "q29_minhash_lsh",
    "q31_simhash_neardup",
    "q58_dedup_clusters",
    "q88_dedup_keep_canonical",
    "q102_curation_pipeline",
    "q111_span_dedup",
    "q117_bigram_perplexity",
    "q122_semantic_dedup",
]

# id column + offset stride per table (stride >> max base id)
_ID = {
    "region": ("r_regionkey", 1 << 30),
    "nation": ("n_nationkey", 1 << 30),
    "customer": ("c_custkey", 1 << 30),
    "supplier": ("s_suppkey", 1 << 30),
    "part": ("p_partkey", 1 << 30),
    "orders": ("o_orderkey", 1 << 34),
    "lineitem": ("l_orderkey", 1 << 34),
    "events": ("event_id", 1 << 34),
    "documents": ("doc_id", 1 << 30),
    "embeddings": ("vec_id", 1 << 30),
}


def build_scaled(
    spark, base_sf: str, out_dir: str, scale: int, tables: list[str] | None = None
) -> None:
    from pyspark.sql import functions as F

    from job_etl_spark.tables import TABLE_NAMES, table

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        dst = f"{out_dir}/{name}.parquet"
        if tables is not None and name not in tables:
            # probe only touches `tables`: link the base copy for the rest
            # (a 64× lineitem build would dominate the probe's wall-clock)
            src = f"{base_sf}/{name}.parquet"
            if not os.path.exists(dst):
                shutil.copytree(src, dst) if os.path.isdir(src) else shutil.copy(src, dst)
            continue
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        elif os.path.exists(dst):  # a prior --tables run linked a single file
            os.remove(dst)
        base = table(spark, base_sf, name)
        # drop loader-derived helper columns; keep the raw scan shape
        base = base.select(
            *[c for c in base.columns if not c.startswith("_")]
        )
        idc, stride = _ID[name]
        reps = []
        for r in range(scale):
            rep = base.withColumn(idc, F.col(idc) + F.lit(r * stride))
            if name == "documents":
                # salt text per replica so replicas are near- but not
                # exact-duplicates of each other (realistic dup structure)
                rep = rep.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" replica{r}"))
                )
            if name == "embeddings" and r > 0:
                rep = rep.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x: x + F.lit(float(r)) * F.lit(1e-3),
                    ).cast("array<float>"),
                )
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        n_files = max(spark.sparkContext.defaultParallelism, scale)
        out.repartition(n_files).write.parquet(dst)
        print(f"built {name} x{scale}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=8)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/jobspark_scaled")
    ap.add_argument("--queries", nargs="*", default=DEFAULT_QUERIES)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--mode", choices=["scale", "skew", "docskew"], default="scale")
    ap.add_argument(
        "--tables",
        nargs="*",
        default=None,
        help="only materialize these tables at Nx (others link the base copy)",
    )
    args = ap.parse_args()

    if args.mode == "skew":
        if args.queries == DEFAULT_QUERIES:
            args.queries = None
        skew_main(args)
        return
    if args.mode == "docskew":
        if args.queries == DEFAULT_QUERIES:
            args.queries = None
        docskew_main(args)
        return

    from job_etl_spark.queries import registry
    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = f"{args.out}_x{args.scale}"
    if args.rebuild or not os.path.exists(f"{out_dir}/documents.parquet"):
        build_scaled(spark, args.sf, out_dir, args.scale, tables=args.tables)

    # verify every REQUESTED table is actually at Nx (the build trigger
    # above keys on documents.parquet, so a later --tables run against an
    # existing out_dir can silently leave its table base-linked — caught
    # in r7 when an embeddings probe printed all-zero exponents). Derive
    # the scale from parquet footers, not from the requested --scale.
    import pyarrow.parquet as _paq

    def _rows(d: str, t: str) -> int:
        p = Path(d) / f"{t}.parquet"
        if p.is_dir():
            return sum(_paq.ParquetFile(f).metadata.num_rows for f in p.glob("*.parquet"))
        return _paq.ParquetFile(p).metadata.num_rows

    # no --tables means build_scaled scaled EVERYTHING — verify everything,
    # else a stale out_dir from an earlier --tables run silently probes
    # base-linked tables (all-zero exponents, the r7 ADVICE bug class)
    from job_etl_spark.tables import TABLE_NAMES as _all_tables

    for t in args.tables or _all_tables:
        ratio = _rows(out_dir, t) / _rows(args.sf, t)
        print(f"{t}: measured scale x{ratio:.1f}")
        if abs(ratio - args.scale) / args.scale > 0.05:
            sys.exit(
                f"{t} in {out_dir} is x{ratio:.1f}, not x{args.scale} — "
                f"rerun with --rebuild --tables {t}"
            )

    reg = registry()
    # warm the JVM
    reg["q20_dedup_exact"].fn(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    print(f"{'query':32s} {'t_1x':>8s} {'t_Nx':>8s} {'exponent':>9s}")
    for prefix in args.queries:
        name = next((n for n in reg if n.startswith(prefix)), None)
        if name is None:
            print(f"{prefix}: not found", file=sys.stderr)
            continue
        times = {}
        for label, sfd in (("1x", args.sf), ("Nx", out_dir)):
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                reg[name].fn(spark, sfd).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            times[label] = best
        exp = math.log(times["Nx"] / times["1x"]) / math.log(args.scale)
        print(
            f"{name:32s} {times['1x']:8.2f} {times['Nx']:8.2f} {exp:9.2f}",
            flush=True,
        )




def build_skewed(spark, base_sf: str, out_dir: str, hot_factor: int) -> None:
    """events with a manufactured hot key: user 1's rows are replicated
    ``hot_factor``× (distinct event_ids), making one group carry the
    majority of the table — the adversarial input for groupBy/join/window
    operators keyed on user_id."""
    from pyspark.sql import functions as F

    from job_etl_spark.tables import table

    os.makedirs(out_dir, exist_ok=True)
    ev = table(spark, base_sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # the hot key absorbs `hot_factor` FULL copies of the table: with
    # hot_factor=1 user 1 already owns ~50% of all rows
    reps = [ev]
    for r in range(1, hot_factor + 1):
        reps.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(r * (1 << 34)))
            .withColumn("user_id", F.lit(1).cast("long"))
        )
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    dst = f"{out_dir}/events.parquet"
    if os.path.exists(dst):
        shutil.rmtree(dst)
    out.repartition(spark.sparkContext.defaultParallelism).write.parquet(dst)
    # the probed queries only touch events; link the other tables
    for name in _ID:
        if name == "events":
            continue
        src = f"{base_sf}/{name}.parquet"
        link = f"{out_dir}/{name}.parquet"
        if not os.path.exists(link):
            shutil.copytree(src, link) if os.path.isdir(src) else shutil.copy(src, link)
    print(f"built skewed events (+{hot_factor} full copies on ONE key)", flush=True)


def build_docskew(spark, base_sf: str, out_dir: str, hot_factor: int) -> None:
    """documents with a manufactured HOT CATEGORICAL BLOCK: ``hot_factor``
    full copies of the table land in ONE (lang='en', source='web') block,
    text salted per replica (distinct signatures — the block is hot, not
    duplicated). This is the adversarial input for near-dup candidate
    generation: an unbanded blocked pair generator collects the whole hot
    block into a single O(n²) task, while the pigeonhole-banded one fans
    it out over (band, band_bits) buckets."""
    from pyspark.sql import functions as F

    from job_etl_spark.tables import table

    os.makedirs(out_dir, exist_ok=True)
    docs = table(spark, base_sf, "documents")
    docs = docs.select(*[c for c in docs.columns if not c.startswith("_")])
    reps = [docs]
    for r in range(1, hot_factor + 1):
        reps.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * (1 << 30)))
            .withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("web"))
            .withColumn("text", F.concat(F.col("text"), F.lit(f" hotrep{r}")))
        )
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    dst = f"{out_dir}/documents.parquet"
    if os.path.exists(dst):
        shutil.rmtree(dst)
    out.repartition(spark.sparkContext.defaultParallelism).write.parquet(dst)
    for name in _ID:
        if name == "documents":
            continue
        src = f"{base_sf}/{name}.parquet"
        link = f"{out_dir}/{name}.parquet"
        if not os.path.exists(link):
            shutil.copytree(src, link) if os.path.isdir(src) else shutil.copy(src, link)
    print(f"built doc-skewed documents (+{hot_factor} full copies in ONE block)", flush=True)


DOCSKEW_QUERIES = [
    "q31_simhash_neardup",  # banded candidate generation under a hot block
    "q88_dedup_keep_canonical",
    "q102_curation_pipeline",
]


def docskew_main(args) -> None:
    from job_etl_spark.queries import registry
    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-docskew")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = f"{args.out}_docskew{args.scale}"
    if args.rebuild or not os.path.exists(f"{out_dir}/documents.parquet"):
        build_docskew(spark, args.sf, out_dir, args.scale)

    reg = registry()
    reg["q20_dedup_exact"].fn(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    n_base = spark.read.parquet(f"{args.sf}/documents.parquet").count()
    n_skew = spark.read.parquet(f"{out_dir}/documents.parquet").count()
    growth = n_skew / n_base
    print(f"rows: base={n_base} skewed={n_skew} (x{growth:.1f}, all growth in ONE block)")
    # the skew replicas are mutual near-dups, so the PAIR OUTPUT explodes
    # far beyond the row growth — print it so time ratios are interpretable
    p_base = reg["q31_simhash_neardup"].fn(spark, args.sf).count()
    p_skew = reg["q31_simhash_neardup"].fn(spark, out_dir).count()
    print(
        f"q31 pairs: base={p_base} skewed={p_skew} "
        f"(x{p_skew / max(p_base, 1):.0f} output growth)"
    )
    print(f"{'query':32s} {'t_base':>8s} {'t_skew':>8s} {'ratio':>7s} (linear-in-rows bound ≈ x{growth:.1f})")
    for prefix in args.queries or DOCSKEW_QUERIES:
        name = next((n for n in reg if n.startswith(prefix)), None)
        if name is None:
            continue
        times = {}
        for label, sfd in (("base", args.sf), ("skew", out_dir)):
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                reg[name].fn(spark, sfd).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[label] = best
        print(
            f"{name:32s} {times['base']:8.2f} {times['skew']:8.2f} "
            f"{times['skew'] / times['base']:7.2f}",
            flush=True,
        )


SKEW_QUERIES = [
    "q11_running_user_totals",  # per-user window — the hot user serializes
    "q34_sessionize",  # per-user session windows
    "q62_salted_aggregation",  # two-phase salted agg (the mitigation)
    "q125_ewma_smoothing",  # grouped ordered fold
    "q136_ewma_segmented",  # the segmented-scan mitigation of the same fold
    "q137_sessions_segmented",  # segmented sessionization (q34 mitigation)
    "q130_skew_report",  # the diagnosis itself
    "q133_cohort_matrix",
]


def skew_main(args) -> None:
    from job_etl_spark.queries import registry
    from job_etl_spark.session import get_spark

    spark = get_spark("jobspark-skew")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = f"{args.out}_skew{args.scale}"
    if args.rebuild or not os.path.exists(f"{out_dir}/events.parquet"):
        build_skewed(spark, args.sf, out_dir, args.scale)

    reg = registry()
    reg["q33_recent_events"].fn(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    n_base = spark.read.parquet(f"{args.sf}/events.parquet").count()
    n_skew = spark.read.parquet(f"{out_dir}/events.parquet").count()
    growth = n_skew / n_base
    print(f"rows: base={n_base} skewed={n_skew} (x{growth:.1f}, all growth on ONE key)")
    print(f"{'query':32s} {'t_base':>8s} {'t_skew':>8s} {'ratio':>7s} (linear-in-rows bound ≈ x{growth:.1f})")
    for prefix in args.queries or SKEW_QUERIES:
        name = next((n for n in reg if n.startswith(prefix)), None)
        if name is None:
            continue
        times = {}
        for label, sfd in (("base", args.sf), ("skew", out_dir)):
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                reg[name].fn(spark, sfd).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[label] = best
        print(
            f"{name:32s} {times['base']:8.2f} {times['skew']:8.2f} "
            f"{times['skew'] / times['base']:7.2f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
