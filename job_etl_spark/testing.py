"""Local oracle-parity harness — replicates the driver's correctness gate
(row count + column names + order-insensitive value comparison against a
DuckDB twin) through BOTH channels:

1. exact Python-value comparison of collected rows (catches any value
   difference, stricter than a hash); and
2. the driver's own canonicalization path — both results converted to
   pandas (DuckDB via ``res.df()``, so HUGEINT→float64 artifacts surface),
   ``sort_values`` over every column, then dtype-sensitive string
   rendering — so a query that passes here cannot crash or hash-mismatch
   the driver's pandas canonicalizer (the r02 q18/q93 failure class).
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from job_etl_spark.tables import TABLE_NAMES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, float) and math.isnan(v):
        return ("__nan__",)  # sentinel tuple: cannot collide with a real varchar
    # exact float equality is intentional — parity rules make both engines
    # produce identical doubles
    return v


def _key(row):
    return str(row)


def sorted_rows(rows) -> list[tuple]:
    """Rows as the order-insensitive, normalized tuples parity compares."""
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=_key)


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str = ""


def _canon_cell(v) -> str:
    """Render a pandas cell the way the driver's hash sees it: integer
    kinds (python int / numpy int64) and float kinds (python float /
    float64) are distinct classes, so a DuckDB HUGEINT→float64 column
    renders 'float:1977.0' against Spark's 'int:1977' and fails."""
    try:
        if v is None or pd.isna(v):  # None / NaN / NaT
            return ""
    except (TypeError, ValueError):
        pass
    import numpy as np

    if isinstance(v, dt.datetime):  # incl. pd.Timestamp from DuckDB .df()
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"ts:{dt.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"int:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"float:{float(v)!r}"
    return f"{type(v).__name__}:{v!r}"


def _driver_canon(pdf: pd.DataFrame) -> list[str]:
    """The driver's canonicalization: sort by all columns (crashes on
    unhashable cells, exactly like the driver), then render each cell
    dtype-sensitively (so bigint 1977 vs float64 1977.0 differ)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return [
        "|".join(_canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]


def check_query(spark, sf_dir: str, name: str, fn, oracle: str | None) -> ParityResult:
    sdf = fn(spark, sf_dir)
    collected = sdf.collect()
    srows = sorted_rows(collected)
    if oracle is None:
        return ParityResult(name, True, f"rows-only: {len(srows)} rows")
    con = duck_connection(sf_dir)
    try:
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = sorted_rows(res.fetchall())
        dpdf = con.execute(oracle).df()
    finally:
        con.close()
    if sdf.columns != dcols:
        return ParityResult(name, False, f"columns differ: spark={sdf.columns} duck={dcols}")
    if len(srows) != len(drows):
        return ParityResult(name, False, f"row count: spark={len(srows)} duck={len(drows)}")
    for i, (a, b) in enumerate(zip(srows, drows)):
        if a != b:
            return ParityResult(
                name, False, f"row {i} differs:\n  spark={a!r}\n  duck ={b!r}"
            )
    # driver-faithful pandas leg: both sides through pandas + sort + hash
    spdf = pd.DataFrame([r.asDict() for r in collected], columns=sdf.columns)
    try:
        scanon = _driver_canon(spdf)
        dcanon = _driver_canon(dpdf)
    except TypeError as e:
        return ParityResult(name, False, f"driver canonicalizer would crash: {e}")
    for i, (a, b) in enumerate(zip(scanon, dcanon)):
        if a != b:
            return ParityResult(
                name,
                False,
                f"driver-canon row {i} differs (pandas dtype artifact?):\n"
                f"  spark={a}\n  duck ={b}",
            )
    return ParityResult(name, True, f"{len(srows)} rows match")
