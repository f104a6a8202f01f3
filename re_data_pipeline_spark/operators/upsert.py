"""Natural-key upsert / archival operators (SURVEY §2.2 K2-K4, §2.4 J4-J5).

The reference loads with ``INSERT ... ON CONFLICT DO NOTHING`` on natural keys
(rentals 6-col key ``combine_and_format.py:44-46,122-128``; listings
``(latitude, longitude, address)`` ``combine_broker_listings.py:55-57,224-234``;
permits chunked-500 ``get_edm_building_permits.py:213-228``) and archives
delisted rows via a key set-difference (``archive_delisted_properties.py:93-147``).

Spark-native semantics: the batch is deduplicated on the key, then a
**left-anti join** against existing keys keeps only genuinely new rows; the
sink appends.  At scale the anti-join is a shuffle on the natural key (or a
broadcast when the batch is small — Catalyst/AQE decides), which is exactly
how Delta's ``MERGE WHEN NOT MATCHED THEN INSERT`` plans it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _one_row_per_key(batch: DataFrame, keys: list[str]) -> DataFrame:
    """``batch`` with one row per natural key: the min by the remaining
    columns' struct, a DETERMINISTIC pick (dropDuplicates keeps a
    partition-order-dependent winner, so two sources listing one key with
    different values produced run-dependent output until r13)."""
    val_cols = [c for c in batch.columns if c not in keys]
    if not val_cols:
        return batch.dropDuplicates(keys)  # key-only rows: nothing to pick
    w = Window.partitionBy(*keys).orderBy(
        F.struct(*[F.col(c) for c in val_cols]).asc()
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_join_new_rows(batch: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``batch`` whose natural key is absent from ``existing``
    (= ON CONFLICT DO NOTHING insert set).  Batch-internal duplicates
    collapse deterministically first (``_one_row_per_key``), mirroring the
    DB unique constraint."""
    return _one_row_per_key(batch, keys).join(
        existing.select(keys), on=keys, how="left_anti"
    )


def upsert_append(existing: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Insert-if-absent result table: existing ∪ (batch − existing) on the key.

    Emulates Delta ``MERGE ... WHEN NOT MATCHED THEN INSERT`` over plain
    DataFrames.
    """
    return existing.unionByName(anti_join_new_rows(batch, existing, keys))


def delisted_rows(existing: DataFrame, current: DataFrame, keys: list[str]) -> DataFrame:
    """Rows in ``existing`` whose key no longer appears in ``current`` —
    the archival set (``archive_delisted_properties.py:93-119``), with the
    reference's null-guard (keys must be non-null to participate)."""
    guard = F.lit(True)
    for k in keys:
        guard = guard & F.col(k).isNotNull()
    return existing.where(guard).join(current.select(keys), on=keys, how="left_anti")


def merge_aggregate_state(
    state: DataFrame,
    batch: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: merge a new batch's partial
    aggregates into a persisted per-key state table.

    Contract: both inputs carry mergeable partials per key —
    ``n`` (count), ``total`` (decimal-exact sum), ``lo``/``hi`` (min/max).
    Merging is associative/commutative, so the maintained state equals the
    from-scratch aggregate over all data ever seen — the batch analogue of
    streaming state (I2), and the pattern that avoids full recomputes of
    100 TB rollups when a day of data lands.
    """
    both = state.unionByName(batch)
    return both.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )


def partial_aggregate(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Produce the mergeable partial shape for ``merge_aggregate_state``."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.sum(v.cast("decimal(18,2)")).alias("total"),
        F.min(v).alias("lo"),
        F.max(v).alias("hi"),
    )


def retain_active(existing: DataFrame, current: DataFrame, keys: list[str]) -> DataFrame:
    """Active table after archival delete: semi-join against current keys
    (``DELETE WHERE (key) IN delisted`` inverse — ``archive_delisted_properties.py:142-145``)."""
    return existing.join(current.select(keys), on=keys, how="left_semi")


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str], op_col: str = "op"
) -> DataFrame:
    """Change-data-feed between two table snapshots: one row per changed
    key with ``op`` ∈ {'I', 'U', 'D'} and the new-side values ('D' rows
    carry the old values — what was deleted).

    The reverse direction of CDC ingestion: publishing a table's own
    change feed so downstream consumers (indexes, caches, aggregates)
    update incrementally instead of full-rescanning 100 TB.  One full
    outer join on the natural key; unchanged rows (all non-key columns
    equal, NULL-safe) are filtered out, so output is change-sized.
    """
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(*keys, F.struct(*[F.col(c) for c in val_cols]).alias("__o"))
    n = new.select(*keys, F.struct(*[F.col(c) for c in val_cols]).alias("__n"))
    j = o.join(n, on=keys, how="full_outer")
    op = (
        F.when(F.col("__o").isNull(), F.lit("I"))
        .when(F.col("__n").isNull(), F.lit("D"))
        .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("U"))
    )
    payload = F.coalesce(F.col("__n"), F.col("__o"))
    return (
        j.withColumn(op_col, op)
        .where(F.col(op_col).isNotNull())
        .select(
            *keys, F.col(op_col), *[payload.getField(c).alias(c) for c in val_cols]
        )
    )


def merge_upsert(existing: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """SCD1 merge: batch rows REPLACE matched existing rows (last write
    wins) and insert otherwise — ``MERGE WHEN MATCHED THEN UPDATE WHEN NOT
    MATCHED THEN INSERT`` over plain DataFrames (the update-capable
    complement of ``upsert_append``'s insert-if-absent).

    Batch-internal duplicates collapse deterministically first
    (``_one_row_per_key``).  Plan: one anti join + one union.
    """
    dedup = _one_row_per_key(batch, keys)
    kept = existing.join(dedup.select(keys), on=keys, how="left_anti")
    return kept.unionByName(dedup)
