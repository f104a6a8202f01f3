"""Structured Streaming variants of the reference's incremental semantics
(SURVEY §2.9 I1-I5).

The reference implements incrementality by hand in scheduled batch jobs:
natural-key upsert dedup (I1), processed-state flags (I2,
``transcripts_to_vector_db.py:160-171``), already-seen-key skip (I3,
``get_edm_council_transcripts.py:44-54``), and lookback windows (I4).  On
Spark these are native streaming primitives, and because the window/aggregate
*definitions* live in ``operators.windows``, the same code runs batch or
streaming — a stream here is just a DataFrame with an unbounded source.

Batch remains the reference-semantics path; streaming is additive (SURVEY §7
step 7).  Everything below is exercised with file sources +
``Trigger.AvailableNow`` in tests, which is also the production pattern for
incremental backfills ("process whatever has arrived, then stop").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

from re_data_pipeline_spark.operators.ids import hold, pin, pinning, release


def _coerce_event_time_schema(schema: StructType | str) -> StructType | str:
    """Rewrite TIMESTAMP_NTZ fields to TIMESTAMP.

    Spark 4.1 infers parquet timestamps written with isAdjustedToUTC=false as
    TIMESTAMP_NTZ, and ``withWatermark`` rejects NTZ event-time columns
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  Sessions here pin UTC, so the LTZ
    reading of the same micros is wall-clock-identical; coercing at the source
    keeps every downstream watermark/window operator valid.
    """
    if not isinstance(schema, StructType):
        return schema
    return StructType(
        [
            StructField(
                f.name,
                TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in schema.fields
        ]
    )


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: new files under ``path`` become micro-batches —
    the streaming analogue of the reference's GCS-prefix rescans (S8)."""
    reader = spark.readStream.format(fmt).schema(_coerce_event_time_schema(schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def dedup_stream(df: DataFrame, keys: list[str], ts_col: str, watermark: str) -> DataFrame:
    """Exactly-once-ish natural-key dedup (I1) with BOUNDED state — the
    streaming form of the reference's ON CONFLICT DO NOTHING key.

    Plain ``dropDuplicates(keys)`` would keep every key seen forever (the
    watermark only evicts state when the event-time column is part of the
    subset), so this delegates to ``dropDuplicatesWithinWatermark``: state
    for a key is released once the watermark passes its event time + delay
    — memory proportional to the watermark window, not history: exactly
    the crawl-frontier guarantee (duplicate URLs arrive in bursts, never
    months apart) at a fraction of the state.  (A byte-identical twin
    named dedup_within_watermark existed until r13 — one operator, one
    name, so a semantics fix cannot land in one and miss the other.)
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    duration: str,
    watermark: str,
    group_cols: list[str],
) -> DataFrame:
    """Watermarked tumbling aggregation — late data beyond ``watermark`` is
    dropped instead of reopening state (the principled version of the
    reference's 4-month/90-day lookback cutoffs, I4)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("win"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n",
            "total_value",
        )
    )


def anti_join_seen(stream: DataFrame, seen: DataFrame, keys: list[str]) -> DataFrame:
    """Stream-static anti-join (I3): drop stream rows whose key already
    exists in the static 'seen' table — the reference's skip-processed-URLs
    check, evaluated per micro-batch against the current table snapshot."""
    return stream.join(seen.select(keys), on=keys, how="left_anti")


def run_available_now(stream_df: DataFrame, checkpoint: str, out_path: str) -> None:
    """Drain everything currently available into a parquet sink, then stop —
    incremental batch execution with streaming exactly-once bookkeeping
    (checkpoint = the engine-managed version of the reference's `vectorized`
    / `summarized` state flags, I2)."""
    (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    existing_path: str,
    keys: list[str],
    checkpoint: str,
) -> None:
    """Streaming MERGE sink (K2 in streaming form): each micro-batch is
    upserted into a parquet table via the same anti-join-append operator the
    batch path uses — ``foreachBatch`` is the bridge that lets a stream use
    arbitrary batch sinks with exactly-once bookkeeping from the checkpoint.
    """
    from re_data_pipeline_spark.operators.upsert import anti_join_new_rows

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # probe path existence explicitly: a bare except would treat ANY
        # read failure (schema drift, corrupt footer, bad key name) as
        # "first batch" and append duplicates while swallowing the error
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(existing_path)
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            existing = spark.read.parquet(existing_path)
            new_rows = anti_join_new_rows(batch_df, existing, keys)
        else:
            new_rows = batch_df.dropDuplicates(keys)
        new_rows.write.mode("append").parquet(existing_path)

    (
        stream_df.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_available_now_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drain into an in-memory table (tests/debug)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


@pinning
def streaming_incremental_dedup(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Continuous-crawl near-dup dedup as a STREAM: an ``AvailableNow``
    ``foreachBatch`` fold of ``operators.dedup.incremental_lsh_dedup`` —
    each micro-batch computes signatures for ITS documents only, resolves
    collisions against the append-only bucket index of everything seen so
    far, and appends its survivors; the updated index carries to the next
    batch via ``localCheckpoint`` (lineage into a completed micro-batch
    frame must be severed, or batch N+1's plan would reference batch N's
    already-closed source).

    First-seen wins across batches (the streaming-natural policy); when
    files arrive in id order this reproduces the one-shot greedy pair
    removal exactly — the property q187's oracle checks.  Returns the
    kept rows of every drained batch.

    100 TB shape: per-batch work is batch-sized (signatures) plus an
    equi-join against the index partitioned by band_key; the index is
    append-only state a production job keeps in a table (Delta/iceberg),
    not driver memory — here it rides localCheckpoint blocks, the
    single-process stand-in.  Per-batch bucket caches are released
    every fold step.
    """
    import tempfile

    from re_data_pipeline_spark.operators.dedup import incremental_lsh_dedup

    stream = read_stream(
        spark, path, schema, max_files_per_trigger=max_files_per_trigger
    )
    state = {
        "index": spark.createDataFrame(
            [], f"{id_col} bigint, band int, band_key string"
        ),
        "kept": None,
    }

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        r = incremental_lsh_dedup(
            batch_df, state["index"], id_col, text_col,
            num_hashes, shingle_words, bands,
        )
        # the returned union reads every batch's kept checkpoint; only the
        # fold reads the index (this runs on the callback thread while the
        # caller waits in the boundary)
        kept = pin(r["kept"].localCheckpoint(eager=True))
        index = hold(r["updated_index"].localCheckpoint(eager=True))
        release(r["new_buckets"])
        # the new index is materialized (eager), so the PREVIOUS batch's
        # index checkpoint is no longer anyone's lineage root — release it
        # (batch 1's seed is a LocalRelation, where release is a no-op)
        release(state["index"])
        state["index"] = index
        state["kept"] = (
            kept if state["kept"] is None else state["kept"].unionByName(kept)
        )

    import shutil

    ckpt = tempfile.mkdtemp(prefix="stream_inc_dedup_ckpt_")
    try:
        q = (
            stream.writeStream.foreachBatch(step)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # one-shot drain: the checkpoint has no restart value once the
        # query terminated, and kept/index are localCheckpoint blocks
        # (block-manager resident), so the directory can go
        shutil.rmtree(ckpt, ignore_errors=True)
    if state["kept"] is None:
        return spark.createDataFrame([], _coerce_event_time_schema(schema))
    return state["kept"]


def streaming_manifest(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text", "lang"),
    num_shards: int = 16,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Continuous corpus-integrity receipt as a STREAM: an ``AvailableNow``
    ``foreachBatch`` fold where each micro-batch manifests ITS rows only
    (``maintenance.shard_manifest`` — one map-combined agg over the batch)
    and folds into the running receipt via
    ``maintenance.merge_shard_manifests``.  Because every manifest column
    is a commutative monoid fold, the drained stream's receipt equals the
    one-shot batch manifest of the full corpus REGARDLESS of file delivery
    order — the strongest batch/stream parity this engine states (q187's
    dedup needs id-ordered delivery; this needs nothing).

    Append-only contract: batches must be disjoint row sets (re-delivered
    rows would double-count/double-XOR) — exactly what a file-source inbox
    of immutable staged blobs provides.

    100 TB shape: per-batch work is batch-sized; the carried state is
    num_shards ROWS held on the DRIVER (collected each batch — the receipt
    is driver-safe by construction, that being shard_manifest's whole
    contract; a production job upserts the receipt table instead).
    Holding rows rather than chained localCheckpoint frames means no
    block-manager residue accumulates across batches or repeated drains,
    and no lineage ever references a closed micro-batch source.
    """
    from re_data_pipeline_spark.operators.maintenance import (
        merge_shard_manifests,
        shard_manifest,
    )

    stream = read_stream(
        spark, path, schema, max_files_per_trigger=max_files_per_trigger
    )
    state: dict = {"rows": None, "schema": None}

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        m = shard_manifest(batch_df, id_col, list(content_cols), num_shards)
        if state["rows"] is not None:
            m = merge_shard_manifests(
                spark.createDataFrame(state["rows"], state["schema"]), m
            )
        state["schema"] = m.schema
        state["rows"] = m.collect()  # num_shards rows — driver-safe

    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="stream_manifest_ckpt_")
    try:
        q = (
            stream.writeStream.foreachBatch(step)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if state["rows"] is None:
        empty = spark.createDataFrame([], _coerce_event_time_schema(schema))
        return shard_manifest(empty, id_col, list(content_cols), num_shards)
    return spark.createDataFrame(state["rows"], state["schema"])
