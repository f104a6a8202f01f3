"""Table registry over the driver's parquet test data.

The reference exchanges data between tasks as JSON blobs on GCS and relational
tables in Postgres (SURVEY §1.1).  Here every table is a columnar parquet
dataset; ``load_tables`` registers them as temp views so both the DataFrame
API and ``spark.sql`` can reach them, and Catalyst gets column pruning +
predicate pushdown into the scan for free (SURVEY §4 O1/O2).

A plain ``spark.read.parquet(path)`` launches one Spark job to read footers
and infer the schema, on every load.  ``load_table`` therefore memoizes each
table's inferred ``StructType`` in a module-level dict and reads a hit with
``spark.read.schema(s).parquet(path)``, which launches no job:

- **Key.** The absolute path, the sorted ``(relpath, size, mtime_ns, ino,
  ctime_ns)`` of every file under it, and the session's values of the confs
  that change inference and that ``load_table`` does not pin
  (:data:`_INFERENCE_CONFS`).  A rewritten, added or removed file, or a
  changed conf, misses and re-infers.  A file replaced by renaming another
  over it has a new inode; one rewritten in place is seen through its size,
  mtime or ctime, which tick with the kernel's coarse clock, so a same-size
  in-place rewrite within one tick keeps the key.
- **One entry per absolute path.**  A miss replaces the entry, so the memo
  holds one schema per distinct table.  ``get_spark`` pins ``nanosAsLong``
  on, so the first ``events`` load does not change the key of the tables
  loaded before it.
- **Fails open.**  Only an absolute path on a local default filesystem,
  holding at least one file that ``stat`` reads without ``OSError``, is
  memoized.  A URI (``file://``, ``s3a://``, ``hdfs://``), a relative path
  (the JVM resolves it against its own working directory), a missing
  table or an unreadable listing goes through plain ``spark.read.parquet``
  and stores nothing, so a fingerprint that cannot see a rewrite is never
  trusted, and a missing table raises as before.
- **Outlives the session.**  A ``StructType`` is a plain Python object, so
  the memo survives ``spark.stop()`` followed by ``get_spark()`` in the
  same process.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# session confs whose value changes the schema Spark infers from footers
# (``load_table`` pins inferTimestampNTZ before every read)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
# absolute path -> (file fingerprint, inference conf values, schema)
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}


def _raise(err: OSError) -> None:
    raise err


def _fingerprint(path: str) -> tuple | None:
    """Sorted ``(relpath, size, mtime_ns, ino, ctime_ns)`` of every file
    under the local absolute ``path``; None when it holds no file or a
    listing or ``stat`` fails."""
    try:
        if os.path.isfile(path):
            paths = [path]
        else:
            paths = [
                os.path.join(root, n)
                for root, _, names in os.walk(path, onerror=_raise, followlinks=True)
                for n in names
            ]
        files = []
        for full in paths:
            st = os.stat(full)
            files.append((
                os.path.relpath(full, path),
                st.st_size, st.st_mtime_ns, st.st_ino, st.st_ctime_ns,
            ))
    except OSError:
        return None
    return tuple(sorted(files)) or None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """Scan ``path`` with its memoized schema, inferring (one footer-read
    job) and memoizing it on a miss; see the module docstring."""
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    local = os.path.isabs(path) and default_fs.startswith("file:")
    files = _fingerprint(path) if local else None
    if files is None:
        df = spark.read.parquet(path)
        return df, df.schema
    key = os.path.abspath(path)
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    entry = _SCHEMAS.get(key)
    if entry is not None and entry[:2] == (files, confs):
        return spark.read.schema(entry[2]).parquet(path), entry[2]
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, confs, df.schema)
    return df, df.schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table; Catalyst prunes columns / pushes filters.

    The scan reuses the table's memoized schema when its files and the
    inference confs are unchanged, so a repeat load launches no Spark job;
    the key, the fail-open rule and why the memo outlives a session are in
    the module docstring.

    ``events`` ships nanosecond parquet timestamps, which Spark's reader
    rejects; we read nanos as long (runtime-settable legacy conf) and truncate
    to microsecond TimestampType — the same ns→µs truncation DuckDB applies
    when casting TIMESTAMP_NS → TIMESTAMP, so both engines see equal values.

    Session invariants the engine's results depend on are (re)pinned here —
    every query path loads tables, and both confs are runtime-settable, so
    results stay correct even under a caller-provided SparkSession:
    - UTC session timezone (timestamp→string outputs must match the oracle's
      naive timestamps);
    - shuffle partitions sized for the local data scale unless the caller
      already tuned them.
    """
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        # untouched default → size for the test scale
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    # Spark 4.1 infers parquet timestamps with isAdjustedToUTC=false as
    # TIMESTAMP_NTZ, which Structured Streaming's withWatermark rejects
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  With the session timezone pinned
    # UTC the LTZ reading has identical wall-clock values, so disable NTZ
    # inference (runtime-settable, and re-pinned here so a caller-provided
    # SparkSession gets it too).
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read_parquet(spark, table_path(sf_dir, name))
    if (
        name == "events"
        and "ts" in schema.fieldNames()
        and schema["ts"].dataType == LongType()
    ):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Defensive: if any NTZ column slipped through (e.g. conf ignored by a
    # future Spark), cast to TIMESTAMP — wall-clock-preserving under UTC.
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Load every test table and register each as a temp view for spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
