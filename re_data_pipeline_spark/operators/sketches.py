"""Mergeable frequency/cardinality sketches, built from first principles.

Spark ships HLL++ (`approx_count_distinct`) and GK quantiles
(`percentile_approx`) as black boxes — useful, but their internals can't be
value-oracled and their state can't be persisted/merged across pipelines
except through Spark's own aggregate buffers.  These operators build the
classic sketches as PLAIN DATAFRAMES of counters/registers:

- persistable: write the sketch table, read it tomorrow, merge the day's
  delta with a groupBy (max for HLL registers, sum for CMS counters) —
  the incremental-maintenance story of `merge_aggregate_state`, applied to
  approximate state;
- mergeable by construction: both sketches are commutative monoids, so
  partial sketches from 1000 executors combine map-side like any agg;
- exactly replayable: every hash is md5-derived, so a DuckDB oracle
  recomputes the full register/counter state bit-for-bit — the sketches
  are deterministic functions of the data, only their ESTIMATES are
  approximate.

At 100 TB: both reduce the corpus to KB-sized state (d×w counters / m
registers) with one map-combined shuffle; probing/merging never rescans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import md5_60


def _h(col: F.Column, salt: str) -> F.Column:
    """:func:`md5_60` of ``col`` salted (DuckDB:
    ``('0x' || substr(md5(x || salt), 1, 15))``)."""
    return md5_60(F.concat(col, F.lit(salt)))


def countmin_build(
    df: DataFrame, item_col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Count-min sketch over an item column → (row, bucket, c) counters.

    One explode (depth cells per item) + one map-combined agg; at most
    depth×width output rows.  Merging two sketches = union + groupBy-sum.
    """
    item = F.col(item_col)
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    (_h(item, f"#cms{i}") % width).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    )
    return (
        df.select(cells.alias("cell"))
        .select("cell.row", "cell.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_query(
    sketch: DataFrame, probes: DataFrame, item_col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Frequency estimates for probe items: min over rows of the addressed
    counters (absent counter = 0).  Estimates are deterministic and always
    ≥ the true count (classic CMS overestimate bound)."""
    item = F.col(item_col)
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    (_h(item, f"#cms{i}") % width).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    )
    addressed = probes.select(item_col, cells.alias("cell")).select(
        item_col, "cell.row", "cell.bucket"
    )
    joined = addressed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est")
    )


def hll_registers(
    df: DataFrame, item_col: str, m: int = 256
) -> DataFrame:
    """HyperLogLog register table over an item column → (bucket, register).

    bucket = h mod m; register = max over items of (leading-zero count of
    the remaining hash bits) + 1.  All m buckets are emitted (empty → 0),
    so two register tables merge with a groupBy-max.  The register state is
    an EXACT deterministic function of the item set — only the cardinality
    estimate derived from it is approximate.
    """
    if not (256 <= m <= 4096 and (m & (m - 1)) == 0):
        raise ValueError("m must be a power of two in [256, 4096] (the "
                         "remaining-hash field must fit a double-exact long)")
    width = 60 - (m.bit_length() - 1)  # usable bits after the bucket
    item = F.col(item_col)
    h = _h(item, "#hll")
    bucket = h % m
    # integer div by m: (h - h%m)/m is an exact integer ≤ 2^(60-log2 m)
    # ≤ 2^52 — exactly representable through the double divide
    rest = ((h - bucket) / F.lit(m)).cast("long")
    # rho = leading zeros of the width-bit field + 1 = width+1 − bit_length;
    # bit_length via the base-2 string width (conv), not float log2 —
    # floor(log2(x)) is off-by-one exactly at powers of two under fp error
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.conv(rest.cast("string"), 10, 2))
    )
    regs = (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )
    spine = (
        regs.sparkSession.range(m).select(F.col("id").alias("bucket"))
    )
    return spine.join(regs, "bucket", "left").select(
        "bucket", F.coalesce("register", F.lit(0)).cast("int").alias("register")
    )


def hll_estimate(registers: DataFrame, m: int = 256) -> DataFrame:
    """Cardinality estimate from a register table (one output row).

    The harmonic sum Σ 2^−reg is computed as an EXACT integer
    Σ 2^(62−reg) in decimal(38,0) — dyadic terms spanning 60 binary orders
    round differently per summation order in double, so the float form
    would be partition-dependent; the integer form cannot be.  Small-range
    linear counting applies below 2.5·m when empty registers exist.
    """
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # 2^(62−reg) as a LONG shift, not pow(): Spark casts double→decimal
    # through the shortest string repr, which mangles 2^62 into
    # 4611686018427388000 (measured: a 256-register sum drifted by 2400)
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.lit(62) - F.col("register")).cast("int")
    ).cast("decimal(38,0)")
    agg = registers.agg(
        F.sum(term).cast("decimal(38,0)").alias("s"),
        F.sum(F.when(F.col("register") == 0, 1).otherwise(0)).alias("zeros"),
    )
    raw = (
        F.lit(alpha * m * m) * F.pow(F.lit(2.0), F.lit(62)) / F.col("s").cast("double")
    )
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0), linear
    ).otherwise(raw)
    return agg.select(
        F.round(est, 4).alias("estimate"),
        F.col("zeros").cast("int").alias("zero_registers"),
        F.col("s").cast("string").alias("register_sum_fixed"),
    )
