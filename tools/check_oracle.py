"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and its
``oracle_sql()`` twin on DuckDB at the same sf dir, then compares
row count, schema shape, and order-insensitive values (columns sorted by
name, rows sorted by all columns) with EXACT equality -- stricter than any
hash the driver could use, so passing here implies passing there.

Usage:  python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _dtype_kind(dtype) -> str:
    """Coarse numeric kind BEFORE normalization -- the axis the driver's
    value-hash is sensitive to (DuckDB HUGEINT arrives as float64 while
    Spark BIGINT arrives as int64; values equal, hash differs)."""
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    return "other"


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        errs.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    # dtype-kind strictness: normalize() below coerces both sides to
    # int64/float64, which would mask an int-vs-float gap that the
    # driver's dtype-sensitive hash still sees.  Fail it here first.
    s_kinds = {c: _dtype_kind(spark_pdf[c].dtype) for c in spark_pdf.columns}
    o_kinds = {c: _dtype_kind(oracle_pdf[c].dtype) for c in oracle_pdf.columns}
    for c in sorted(set(s_kinds) & set(o_kinds)):
        if s_kinds[c] != o_kinds[c] and {s_kinds[c], o_kinds[c]} <= {
            "int", "float", "bool",
        }:
            errs.append(
                f"col {c}: dtype-kind mismatch spark={spark_pdf[c].dtype} "
                f"oracle={oracle_pdf[c].dtype} (driver hash is dtype-sensitive)"
            )
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        errs.append(f"columns spark={list(s.columns)} oracle={list(o.columns)}")
        return errs
    if errs:
        return errs
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv):
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = (~eq).idxmax()
                diff = np.nanmax(np.abs(sv.to_numpy() - ov.to_numpy()))
                errs.append(
                    f"col {c}: {int((~eq).sum())}/{len(sv)} mismatch, maxdiff={diff:.3e}, "
                    f"first@{bad}: spark={sv[bad]!r} oracle={ov[bad]!r}"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = (~eq).idxmax()
                errs.append(
                    f"col {c}: {int((~eq).sum())}/{len(sv)} mismatch, "
                    f"first@{bad}: spark={sv[bad]!r} oracle={ov[bad]!r} "
                    f"(dtypes {sv.dtype}/{ov.dtype})"
                )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    registry = entrymod.queries()
    unknown = sorted(only - set(registry))
    if unknown:
        print(f"FAIL unknown query names: {unknown}")
        return 2
    queries = {n: fn for n, fn in registry.items() if not only or n in only}
    oracles = entrymod.oracle_sql()

    from async_stream_processing_spark import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in queries.items():
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(spark_pdf)} (no oracle — rows-only check)"
                  f" [{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        errs = compare(name, spark_pdf, oracle_pdf)
        if errs:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(errs))
        else:
            print(f"ok   {name}: rows={len(spark_pdf)} exact-match [{time.time()-t0:.1f}s]")
    extra = set(oracles) - set(registry)
    if extra:
        failures += 1
        print(f"FAIL oracle_sql has keys missing from queries(): {sorted(extra)}")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {len(queries) - failures}/{len(queries)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
