"""Correctness gate: every run's outputs against DuckDB.

Queries are compared with their ``ORACLES`` SQL on the same generated
inputs, using the parity harness's row normalisation and type
canonicalisation (``tools/parity.py``).  The ingest table is compared with a
DuckDB recomputation of the listing keys the last daily batch keeps.
"""

from __future__ import annotations

import math
import os

import duckdb

from re_data_pipeline_spark.catalog import TESTDATA_TABLES
from tools.parity import canon_duck_type, canon_spark_type, norm_cell, norm_rows

# Float aggregates are rounded to 6 decimals on both engines, but a double
# sum depends on the order its partial sums are merged in, which follows the
# seeded file split and task timing.  A value next to a rounding boundary can
# then land one unit of the 6th decimal apart.
FLOAT_TOL = 1.5e-6

INGEST_KEY_SQL = """
SELECT DISTINCT round(CAST(location.lat AS DOUBLE), 6) AS lat,
       round(CAST(location.lng AS DOUBLE), 6) AS lon, address
FROM read_parquet('{d}/av.parquet') WHERE city = 'Edmonton' AND status <> 'closed'
UNION
SELECT DISTINCT round(CAST(latitude AS DOUBLE), 6), round(CAST(longitude AS DOUBLE), 6), address
FROM read_parquet('{d}/omada.parquet') WHERE status = 'publish'
UNION
SELECT DISTINCT round(CAST(latitude AS DOUBLE), 6), round(CAST(longitude AS DOUBLE), 6), address
FROM read_parquet('{d}/royal_park.parquet')
"""


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per generated table; a table written
    as a directory of part files is read through a glob."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare_query(con, sql: str, cols, spark_types: dict, rows) -> str | None:
    """None when the Spark result equals the oracle's, else the mismatch."""
    rel = con.sql(sql)
    duck_types = dict(zip(rel.columns, rel.types))
    orows = list(rel.df().itertuples(index=False, name=None))
    sc, sr = norm_rows(list(cols), rows)
    oc, orw = norm_rows(list(rel.columns), orows)
    if len(sr) != len(orw):
        return f"rowcount {len(sr)} vs {len(orw)}"
    if sc != oc:
        return f"cols {sc} vs {oc}"
    for c in sc:
        if canon_spark_type(spark_types[c]) != canon_duck_type(duck_types[c]):
            return f"dtype {c}: spark={spark_types[c]} vs duckdb={duck_types[c]}"
    if sr != orw and not _equal_within_rounding(
        cols, spark_types, rows, list(rel.columns), orows
    ):
        ndiff = sum(a != b for a, b in zip(sr, orw))
        return f"values differ in {ndiff}/{len(sr)} rows"
    return None


def _equal_within_rounding(scols, spark_types, srows, ocols, orows) -> bool:
    """Rows match on every non-float column and within FLOAT_TOL on every
    float column, pairing rows by their non-float columns."""
    names = sorted(scols)
    floats = {c for c in names if canon_spark_type(spark_types[c]) == "float"}

    def split(cols, rows):
        idx = [cols.index(c) for c in names]
        out = []
        for r in rows:
            key = tuple(norm_cell(r[i]) for c, i in zip(names, idx) if c not in floats)
            vals = tuple(
                math.nan if r[i] is None else float(r[i])
                for c, i in zip(names, idx)
                if c in floats
            )
            out.append((key, vals))
        return sorted(out, key=lambda kv: repr(kv[0]))

    for (ka, va), (kb, vb) in zip(split(list(scols), srows), split(ocols, orows)):
        if ka != kb:
            return False
        for a, b in zip(va, vb):
            if not (a == b or (math.isnan(a) and math.isnan(b)) or abs(a - b) <= FLOAT_TOL):
                return False
    return True


def compare_ingest(table_keys, last_batch_dir: str) -> str | None:
    """The final table holds exactly one row per listing key of the last
    batch.  ``table_keys`` are the table's (latitude, longitude, address)
    rows; coordinates are compared at the 6 decimals they are written with."""
    want = {
        (lat, lon, addr)
        for lat, lon, addr in duckdb.sql(INGEST_KEY_SQL.format(d=last_batch_dir)).fetchall()
    }
    got = [(round(lat, 6), round(lon, 6), addr) for lat, lon, addr in table_keys]
    if len(got) != len(want):
        return f"rowcount {len(got)} vs {len(want)}"
    if set(got) != want:
        return f"keys differ in {len(set(got) ^ want)} rows"
    return None
