"""Engine facade — the user-facing entry point (SURVEY §7 design stance:
"an engine facade that registers tables and runs named pipelines").

A reference user's surface was: Airflow DAG names + Postgres tables.  The
equivalent here::

    from re_data_pipeline_spark.engine import Engine

    eng = Engine.local(sf_dir="/root/testdata/sf0.1")
    eng.table("lineitem")                  # DataFrame, catalog-registered
    eng.sql("SELECT ... FROM lineitem")    # Spark SQL over registered views
    eng.query("q01_pricing_summary")       # named conformance query
    eng.run_pipeline("rental_rates", raw_buildings=df)   # reference DAG trace
    eng.profile(df)                        # A4 completeness profile

Everything returns DataFrames — lazy plans the caller composes further or
writes with ordinary Spark sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from re_data_pipeline_spark.catalog import DEFAULT_SF_DIR, load_tables
from re_data_pipeline_spark.session import get_spark


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables = load_tables(spark, sf_dir)

    @classmethod
    def local(cls, sf_dir: str = DEFAULT_SF_DIR, **session_kwargs) -> "Engine":
        return cls(get_spark(**session_kwargs), sf_dir)

    # -- catalog ------------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            raise KeyError(f"unknown table {name!r}; have {sorted(self._tables)}")
        return self._tables[name]

    def tables(self) -> list[str]:
        return sorted(self._tables)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        self._tables[name] = df

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- named queries (operator conformance suite) -------------------------
    def queries(self) -> list[str]:
        from re_data_pipeline_spark.plans.queries import QUERIES

        return sorted(QUERIES)

    def query(self, name: str) -> DataFrame:
        from re_data_pipeline_spark.plans.queries import QUERIES

        return QUERIES[name](self.spark, self.sf_dir)

    # -- reference pipelines ------------------------------------------------
    def run_pipeline(self, name: str, **inputs) -> dict[str, DataFrame] | DataFrame:
        from re_data_pipeline_spark.plans import pipelines as P
        from re_data_pipeline_spark.plans.reit import reit_metrics_pipeline

        if name == "property_listings":
            return P.property_listings_pipeline(self.spark, **inputs)
        if name == "rental_rates":
            return P.rental_rates_pipeline(self.spark, **inputs)
        if name == "transcripts":
            return P.transcripts_pipeline(self.spark, **inputs)
        if name == "reit_metrics":
            return reit_metrics_pipeline(self.spark, **inputs)
        raise KeyError(
            f"unknown pipeline {name!r}; have property_listings, rental_rates, "
            "transcripts, reit_metrics"
        )

    # -- cache discipline ---------------------------------------------------
    def release(self, df: DataFrame, blocking: bool = False) -> int:
        """Free every pin riding ``df`` — each frame an operator persisted
        or checkpointed while building it — after the caller has
        materialized the result.  Long-lived sessions that chain
        spine-backed queries (q117 pins three spines per call) MUST
        release, or pinned frames accumulate for the session's lifetime.
        Returns the number of pins.  Delegates to ``ids.release_spines``,
        the one release path (``tools/leak_audit.py`` uses it too)."""
        from re_data_pipeline_spark.operators.ids import release_spines

        return release_spines(df, blocking)

    # -- convenience operators ---------------------------------------------
    def profile(self, df: DataFrame, cols: list[str] | None = None) -> DataFrame:
        from re_data_pipeline_spark.functions.cleaning import profile_completeness

        return profile_completeness(df, cols)

    def dedup(self, df: DataFrame, **kwargs) -> DataFrame:
        from re_data_pipeline_spark.operators.dedup import near_dedup_pipeline

        return near_dedup_pipeline(df, **kwargs)

    def topk(self, df: DataFrame, query_vec: list[float], k: int, **kwargs) -> DataFrame:
        from re_data_pipeline_spark.operators.similarity import cosine_topk

        return cosine_topk(df, query_vec, k, **kwargs)
