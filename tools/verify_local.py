"""Local mirror of the driver's t2 correctness gate: run every suite query on Spark
and its oracle on DuckDB over the same parquet tables, compare row count, sorted
column names, and values (rows sorted, NaN-safe, exact for non-floats, 1e-9-relative
for floats). Stricter than the driver's order-insensitive value hash — if this
passes, the hash should too.

Also flags integer-vs-float column dtype skew between the two sides: the driver's
value hash is TYPE-strict (`2477` != `2477.0`), which is how the r2/r3
`sample_stratified_split` HUGEINT oracle bug escaped the lenient numeric compare
here (VERDICT r03 #3).

`--exact` raises the gate to the driver's strictness: ZERO float tolerance
(bit-identical doubles, like the driver's value hash). The 1e-9 default is what
let the r6 rounding-portability class (ROUND of a non-integer-derived double)
ship driver-red while locally green — run the window with --exact each round.

Importable (tests/test_driver_window_smoke.py uses `verify_queries` as the
fixture-drift gate); CLI usage unchanged:

    python tools/verify_local.py [sf_dir] [query ...] [--vanilla] [--exact]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(tuple(_norm_val(v) for v in tup))
    rows.sort(key=repr)
    return rows


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_val(x) for x in v)
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def values_match(a, b, exact: bool = False) -> bool:
    if exact and (isinstance(a, float) or isinstance(b, float)):
        # driver-hash strictness: floats must be bit-identical (and same
        # int-vs-float type class, which _dtype_skew also reports)
        return type(a) is type(b) and repr(a) == repr(b)
    if type(a) is type(b) is float:
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            values_match(x, y, exact) for x, y in zip(a, b)
        )
    return a == b


def _dtype_skew(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Columns where one engine yields integers and the other floats — the class
    the driver's type-strict hash rejects even when values are numerically equal.
    Nullable-int columns surface as float64 in pandas when NULLs are present, so
    columns containing NaN on either side are exempt."""
    skewed = []
    for c in sdf.columns:
        if c not in odf.columns:
            continue
        sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
        if {sk, ok} == {"i", "f"} or {sk, ok} == {"u", "f"}:
            if not (sdf[c].isna().any() or odf[c].isna().any()):
                skewed.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    return skewed


def check_query(
    spark, con, name: str, spec, sf_dir: str, exact: bool = False
) -> list[str]:
    """Run one suite query against its oracle; return a list of failure strings
    (empty = pass)."""
    try:
        sdf = spec.fn(spark, sf_dir).toPandas()
    except Exception as e:
        return [f"spark error: {e}"]
    try:
        odf = con.sql(spec.oracle).df()
    except Exception as e:
        return [f"duckdb error: {e}"]
    if len(sdf) != len(odf):
        return [f"rows spark={len(sdf)} oracle={len(odf)}"]
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        return [f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    errs = [f"dtype skew (driver hash is type-strict) — {s}" for s in _dtype_skew(sdf, odf)]
    srows, orows = normalize(sdf), normalize(odf)
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        if not values_match(sr, orr, exact):
            errs.append(f"first diff at sorted row {i}:\n  spark : {sr}\n  oracle: {orr}")
            break
    return errs


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def verify_queries(
    spark, sf_dir: str, names=None, verbose: bool = False, exact: bool = False
) -> dict[str, list[str]]:
    """Run the given suite queries (default: all) against their oracles.
    Returns {name: [failure, ...]} for failing queries only. Raises
    ValueError for names not in the registry."""
    from movie_genre_data_pipeline_spark.suite import all_queries

    queries = all_queries()
    unknown = sorted(set(names or ()) - queries.keys())
    if unknown:
        raise ValueError(f"unknown query names: {unknown}")
    con = make_duckdb(sf_dir)
    failures: dict[str, list[str]] = {}
    for name, spec in queries.items():
        if names is not None and name not in names:
            continue
        t0 = time.time()
        errs = check_query(spark, con, name, spec, sf_dir, exact)
        if errs:
            failures[name] = errs
            if verbose:
                for e in errs:
                    print(f"FAIL  {name}: {e}")
        elif verbose:
            print(f"ok    {name} ({time.time()-t0:.1f}s)")
    return failures


def main() -> int:
    args = [a for a in sys.argv[1:] if a not in ("--vanilla", "--exact")]
    vanilla = "--vanilla" in sys.argv[1:]
    exact = "--exact" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:]) or None

    if vanilla:
        # simulate the external driver: a bare SparkSession with NO engine
        # configs — queries must self-configure anything they depend on
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from movie_genre_data_pipeline_spark.session import build_session

        spark = build_session(app_name="verify-local")

    failures = verify_queries(spark, sf_dir, names=only, verbose=True, exact=exact)
    print(f"\n{len(failures)} failures" + (f": {sorted(failures)}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
