"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, sorted column names,
and order-insensitive exact values (floats compared bit-exact after each
side's own rounding — the point is to predict the driver's value-hash).

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import numpy as np
import pandas as pd

from re_data_pipeline_spark.catalog import TESTDATA_TABLES
from re_data_pipeline_spark.session import get_spark


def norm_cell(v):
    # numpy/pandas scalars (the DuckDB side arrives via rel.df() — the same
    # pandas canonicalization the driver hashes through) normalize to the
    # Python types Spark's collect() yields, so a dtype coercion that would
    # flip the driver's value hash (e.g. HUGEINT -> float64, int64 -> NaN on
    # NULLs) shows up HERE as a value/dtype diff instead of passing silently
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.ndarray):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


SPARK_CANON = {
    "tinyint": "int", "smallint": "int", "int": "int32", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool",
    "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
}
DUCK_CANON = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int32", "BIGINT": "int",
    "HUGEINT": "int", "UBIGINT": "int",
    "FLOAT": "float", "DOUBLE": "float", "DECIMAL": "float",
    "VARCHAR": "str", "BOOLEAN": "bool",
    "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "DATE": "date",
}


def canon_spark_type(dt: str) -> str:
    base = dt.split("(")[0]
    return SPARK_CANON.get(base, base)


def canon_duck_type(dt: str) -> str:
    base = str(dt).split("(")[0]
    return DUCK_CANON.get(base, base)


def norm_rows(cols, rows):
    # driver compares order-insensitively with columns sorted by name
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [c for c in sorted(cols)], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # a typo'd filter name previously matched NOTHING and printed "all OK"
    # exit 0 — validate up front so re-verifying a fix can't false-pass
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = None
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
            # canonicalize through pandas like the DuckDB side: the driver
            # hashes both results after a pandas round-trip, where a NULL in
            # a double column becomes NaN on BOTH engines (collect() would
            # yield None and spuriously mismatch the oracle's NaN)
            spdf = sdf.toPandas()
            srows = [
                tuple(row) for row in spdf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # free the (now-discarded) result's pins on the FAILURE path
            # too, so a leaked cache cannot skew later comparisons;
            # clearCache alone misses checkpoint pins
            try:
                from re_data_pipeline_spark.operators.ids import release_spines

                if sdf is not None:
                    release_spines(sdf)
            except Exception:
                pass
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = {c: t for c, t in zip(rel.columns, rel.types)}
            # canonicalize through pandas, NOT fetchall(): the driver hashes
            # the oracle result after .df(), whose dtype coercions (HUGEINT →
            # float64/object, nullable int → NaN) fetchall() never shows —
            # the r3 q113 red row was invisible to parity for exactly this
            odf = rel.df()
            orows = [
                tuple(row) for row in odf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orw = norm_rows(ocols, orows)
        status = []
        if len(sr) != len(orw):
            status.append(f"rowcount {len(sr)} vs {len(orw)}")
        if sc != oc:
            status.append(f"cols {sc} vs {oc}")
        else:
            for c in sc:
                st = canon_spark_type(stypes[c])
                ot = canon_duck_type(otypes[c])
                if st != ot:
                    status.append(f"dtype {c}: spark={stypes[c]} vs duckdb={otypes[c]}")
        if not status and sr != orw:
            # find first diff
            ndiff = sum(1 for a, b in zip(sr, orw) if a != b)
            first = next(((a, b) for a, b in zip(sr, orw) if a != b), None)
            status.append(f"values differ in {ndiff}/{len(sr)} rows; first: {first}")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}")
            failures.append(name)
        else:
            print(f"OK   {name}: {len(sr)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
