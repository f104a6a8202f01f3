"""Source readers (SURVEY §2.1).

The reference's inter-task exchange format is "many JSON blobs under a
prefix, parsed and extended into one list" (S8 —
``combine_broker_listings.py:63-75`` and four other sites).  Spark-native:
a **glob JSON scan** is the same union, but parallel, schema-merged, and
predicate/prune-aware.  HTTP/API scans (S1-S7) are acquisition steps outside
the engine; their fetchers are modeled as plain functions whose output lands
in ``spark.createDataFrame`` — with server-side predicate templating kept at
the fetch boundary (SURVEY §4 O1).

PDF/binary ingestion (S10) maps to ``binaryFile`` + a pandas-UDF extraction
stage — see ``re_data_pipeline_spark.llm`` for the extraction harness and
``multimodal`` for typed binary columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from re_data_pipeline_spark.operators.ids import pin, pinning


def read_json_glob(
    spark: SparkSession,
    path_glob: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Multi-blob JSON union scan (S8): ``prefix/*.json`` → one DataFrame.

    The files are JSON-lines; ``multiLine`` is set to false EXPLICITLY so
    the shape does not silently flip when a schema is added.
    With an explicit schema the scan skips inference (one pass, not two);
    for malformed-row capture use ``read_json_quarantine`` (the
    ``_corrupt_record`` column only exists when declared in the schema).
    """
    reader = spark.read.option("multiLine", "false")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path_glob)


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """Binary-document scan (S10, ``REIT_metrics.py:293-314``):
    (path, modificationTime, length, content) rows; extraction is a
    downstream pandas-UDF operator, kept separate so the scan stays prunable."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


@pinning
def read_json_quarantine(
    spark: SparkSession, path_glob: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON scan that *splits* instead of failing: returns
    (good_rows, quarantined_raw) where quarantined rows carry the original
    malformed line for replay.

    At 100 TB of crawled JSON some records are always broken; FAILFAST
    kills a 6-hour job at hour 5 and DROPMALFORMED silently loses data.
    The quarantine pattern keeps the pipeline total *and* lossless: bad
    lines land in a side table for inspection/reprocessing.
    """
    from pyspark.sql.types import StringType, StructField
    from pyspark.sql import functions as F

    with_corrupt = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    df = pin(
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path_glob)
        .cache()  # Spark requires materialization before filtering on _corrupt_record
    )
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    # good and bad share the pin: release_spines(good) (or bad) once both
    # frames are materialized
    return good, bad
