"""MERGE-capable table sink (SURVEY §2.2 K2/K4 — the persistence layer
behind the relational upsert/archival operators).

The reference's load step is Postgres ``INSERT ... ON CONFLICT DO NOTHING``
on natural keys (``combine_broker_listings.py:224-234``,
``combine_and_format.py:122-128``) plus key-diff archival deletes
(``archive_delisted_properties.py:93-147``).  In this engine the *logic*
lives in ``operators/upsert.py`` as pure DataFrame algebra; this module is
the sink boundary that persists it to a parquet directory:
``ParquetAntiJoinSink`` upserts by appending only the anti-joined new rows
(append-only, no rewrite — the same shuffle a ``MERGE WHEN NOT MATCHED``
plans), and archival delete rewrites the (semi-joined) survivor set, then
swaps it in by directory rename.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from re_data_pipeline_spark.operators.upsert import anti_join_new_rows, retain_active


class ParquetAntiJoinSink:
    """Keyed parquet table with ON-CONFLICT-DO-NOTHING upsert (K2) and
    key-diff delete (K4)."""

    def __init__(self, spark: SparkSession, path: str, schema: str):
        self.spark = spark
        self.path = path
        self.schema = schema

    def read(self) -> DataFrame:
        """Current table contents (empty frame with the schema if new)."""
        if not any(Path(self.path).glob("*.parquet")):
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def upsert(self, batch: DataFrame, keys: list[str]) -> None:
        """Insert batch rows whose natural key is absent (K2)."""
        new_rows = anti_join_new_rows(batch, self.read(), keys)
        new_rows.write.mode("append").parquet(self.path)

    def delete_absent(self, current: DataFrame, keys: list[str]) -> None:
        """Delete rows whose key no longer appears in ``current`` (K4 —
        the archival delete)."""
        survivors = retain_active(self.read(), current, keys)
        # materialize BEFORE touching the table (the lazy plan reads the
        # files being replaced) into a sibling dir, so both renames stay on
        # one filesystem.  The old table is renamed aside, not deleted,
        # until the new one is in place, and renamed back on failure.
        tmp = tempfile.mkdtemp(
            prefix=".sink_swap_", dir=os.path.dirname(os.path.abspath(self.path))
        )
        aside = None
        try:
            survivors.write.mode("overwrite").parquet(tmp)
            if os.path.exists(self.path):
                aside = tmp + ".old"
                os.replace(self.path, aside)
            os.replace(tmp, self.path)
        except BaseException:
            if aside is not None and not os.path.exists(self.path):
                os.replace(aside, self.path)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
