"""SparkSession factory with scale-oriented defaults.

The reference runs everything in a single Airflow worker process
(SequentialExecutor, one VM — ``airflow_gcp/airflow.cfg:52,67``).  This engine
instead assumes a real cluster: every default below is chosen so the same code
runs unchanged from ``local[32]`` tests up to a 1000-executor deployment.

Key choices
-----------
- **AQE on** (coalesce partitions, skew-join splitting, dynamic broadcast):
  at 100 TB the static plan is always wrong somewhere; AQE re-plans from real
  stage statistics.
- **Arrow on** for the few pandas-UDF operators (LLM/embedding harness,
  point-in-polygon) — batch columnar transfer instead of row pickling.
- **Session timezone UTC** — the reference stores timezone-aware timestamps
  (``get_edm_council_transcripts.py:63-68``); pinning UTC makes results
  deterministic and oracle-comparable.
- ``shuffle.partitions`` defaults to 2× cores locally; on a cluster you would
  size it so post-shuffle partitions land ~128-200 MB (or simply let AQE
  coalesce from a high initial number).
- **Codegen cache sized to the working set** (``codegen.cache.maxEntries``
  2000, Spark's default is 100).  Compiled classes live in one JVM-wide
  cache, and the engine's working sets overflow the default: a curation
  pass compiles 164-167 classes, the seven relational perfbench queries 85
  before the ingest DAG, and the 49 HEADLINE queries ~1,490 at sf0.01.  At
  100 entries every steady pass evicts and recompiles what the previous
  pass compiled.  Cost: ~52 KB of metaspace per class, so at most ~100 MB
  when full.  It is a static conf, so it only takes effect on a session
  this function builds; ``getOrCreate`` on an already running session (or
  ``spark.conf.set``, which rejects it) cannot re-pin it.
- **Package root on ``PYTHONPATH``**: pandas-UDF workers import this
  package, and they see ``PYTHONPATH``, not the driver's ``sys.path``.
  The JVM copies the variable when it starts, so ``get_spark`` exports the
  package root before the first session; any entry point then runs from
  any directory.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


CODEGEN_CACHE_ENTRIES = 2000
DEFAULT_CPUS = 32
MAX_PARTITION_BYTES = 32 * 1024 * 1024
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` as a positive int; a malformed or non-positive
    value warns and falls back to :data:`DEFAULT_CPUS`."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", str(DEFAULT_CPUS))
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus >= 1:
        return cpus
    warnings.warn(
        f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer; using {DEFAULT_CPUS}"
    )
    return DEFAULT_CPUS


def _export_package_root() -> None:
    """Put :data:`PACKAGE_ROOT` on ``$PYTHONPATH`` (module docstring)."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Spark's CodegenMetrics).
    Its delta over a repeat run counts codegen cache misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(
    app_name: str = "re_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32; a
    malformed value warns and uses the default) for local runs; on a
    cluster leave it unset and let spark-submit provide it.
    """
    _export_package_root()
    cpus = _env_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, broadcast-join promotion from real stage stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF operators (llm harness, geometry kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: enrichment/dimension sides in this workload are
        # small (SURVEY §2.4: "join sides are small → broadcast hash join").
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic parquet behavior across engines.
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # Spark 4.1 infers isAdjustedToUTC=false parquet timestamps as
        # TIMESTAMP_NTZ, which withWatermark rejects; with UTC pinned the LTZ
        # reading is wall-clock-identical, so keep the pre-4.1 behavior.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # catalog.load_table turns this on at the first ``events`` load (nanos
        # timestamps); on from the start, a scan's schema no longer depends on
        # whether ``events`` was loaded before it, and the catalog's schema
        # memo keeps one key per table through a session and its restarts.
        # No other table the engine reads has a nanos column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local files are tiny; without this a 1 MB parquet becomes ONE input
        # partition and map-heavy operators (minhash, simhash) serialize onto
        # a single core.  On a real cluster with 128 MB+ files, raise it back
        # through ``extra_conf``.
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        # Static SQL conf: must be set before the session exists (see the
        # module docstring for the sizing).
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        # Tools that read the REST API turn it on through ``extra_conf``.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
