"""Time declared queries, or A/B a query against variants, at a given SF.

    python scripts/time_query.py q27 q29 [--sf DIR] [--n 3]
    python scripts/time_query.py q148 variant.py:fn [more.py:fn ...] [--sf DIR] [--n 3]

Dev-loop companion to bench.py — same session config, noop sink,
per-arm min-of-N after a q01 warm-up.

An argument of the form ``path.py:fn`` is a variant of the query named
just before it; ``fn(spark, sf)`` returns a DataFrame. Before anything is
timed, every variant is checked once against its query on the sorted,
normalized rows the oracle-parity harness compares; a mismatch exits
non-zero. The arms then run interleaved in one session (A B, then B A,
…) so load drift on a shared box falls on every arm alike, with one
spin sample per round as the load witness.
"""

from __future__ import annotations

import argparse
import importlib.util
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

VARIANT = re.compile(r".+\.py:\w+")


def group_args(items: list[str]) -> list[tuple[str, list[str]]]:
    """[(query prefix, [variant specs])] in command-line order."""
    groups: list[tuple[str, list[str]]] = []
    for item in items:
        if VARIANT.fullmatch(item):
            if not groups:
                raise SystemExit(f"{item}: a variant must follow the query it replaces")
            groups[-1][1].append(item)
        else:
            groups.append((item, []))
    return groups


def load_variant(spec: str):
    path, fn = spec.rsplit(":", 1)
    mod_spec = importlib.util.spec_from_file_location(Path(path).stem, path)
    if mod_spec is None:
        raise SystemExit(f"{spec}: cannot load {path}")
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    return getattr(mod, fn)


def check_variant(spark, sf: str, base, variant, label: str) -> None:
    """Exit non-zero unless ``variant`` returns ``base``'s columns and rows
    (order-insensitive, normalized as in ``testing.check_query``)."""
    from job_etl_spark.testing import sorted_rows

    a, b = base(spark, sf), variant(spark, sf)
    if a.columns != b.columns:
        raise SystemExit(f"{label}: columns differ: {a.columns} vs {b.columns}")
    ra, rb = sorted_rows(a.collect()), sorted_rows(b.collect())
    if ra != rb:
        i = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y), min(len(ra), len(rb)))
        raise SystemExit(f"{label}: rows differ ({len(ra)} vs {len(rb)} rows; first at {i})")


def time_noop(fn, spark, sf: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    args = ap.parse_args()

    from _resolve import resolve_query

    from job_etl_spark.queries import registry
    from job_etl_spark.session import get_spark
    from perfbench.trace import median, spin_ms

    reg = registry()
    groups = [
        (resolve_query(reg, q), [(spec, load_variant(spec)) for spec in specs])
        for q, specs in group_args(args.queries)
    ]
    spark = get_spark()
    # warm the JVM/JIT + parquet footer cache so numbers match bench.py's
    # steady state (it runs a long suite; first queries absorb warmup)
    time_noop(reg["q01_pricing_summary"].fn, spark, args.sf)
    for name, variants in groups:
        for spec, fn in variants:
            check_variant(spark, args.sf, reg[name].fn, fn, f"{name} vs {spec}")
    for name, variants in groups:
        arms = [(name, reg[name].fn), *variants]
        times: dict[str, list[float]] = {label: [] for label, _ in arms}
        spins = []
        for r in range(args.n):
            for label, fn in arms if r % 2 == 0 else arms[::-1]:
                times[label].append(time_noop(fn, spark, args.sf))
            if variants:
                spins.append(spin_ms())
        base = min(times[name])
        for label, ts in times.items():
            rel = "" if label == name else f" x{min(ts) / base:.2f} of {name}"
            print(f"{label}: min={min(ts):.3f}s runs={[round(t, 3) for t in ts]}{rel}")
        if spins:
            print(f"  spin_ms median={median(spins):.1f} samples={[round(s, 1) for s in spins]}")


if __name__ == "__main__":
    main()
