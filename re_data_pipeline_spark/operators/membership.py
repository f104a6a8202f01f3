"""Approximate-membership prefilters for incremental dedup at corpus scale.

The reference dedups incrementally with per-key DB lookups (``INSERT ... ON
CONFLICT DO NOTHING`` round trips, ``combine_and_format.py:122-128``).  The
distributed analogue — anti-joining a day's batch against the full corpus —
shuffles BOTH sides on the key, and at 100 TB the corpus side dominates the
job even when the batch is tiny and almost entirely new.

A Bloom filter built over the corpus keys cuts the batch side before any
shuffle: rows the filter rejects are *definitely new* (zero false negatives)
and never participate in the join; only the filter's positives — true
duplicates plus the configured false-positive sliver — proceed to the exact
anti-join.  The final result is therefore EXACTLY the anti-join (the filter
only routes rows), which is what the DuckDB oracle checks.

Engine-portable construction: bit positions are the md5-prefix→BIGINT hash
family used across the repo (``operators/selection.hash_bucket``), the
bitmap is an ordinary (word_idx, 64-bit word) DataFrame built with one
``bit_or`` aggregation, and membership probes are k *broadcast* hash joins —
no driver-side bitmap materialization, no UDF, and the definitely-new path
is map-only.

Sizing: the bitmap DataFrame is m/64 rows.  m up to ~2^30 broadcasts fine
(16 MiB of words); beyond that, build one filter per corpus bucket and
probe the matching bucket's filter (the same partition-local pattern as
``incremental_lsh_dedup``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import md5_60
from re_data_pipeline_spark.operators.ids import pin, pinning


def _bit_position(key: F.Column, salt: int, m_bits: int) -> F.Column:
    """i-th Bloom hash: :func:`md5_60` of ``key#salt`` mod m."""
    return md5_60(F.concat(key, F.lit(f"#{salt}"))) % m_bits


def bloom_bitmap(
    corpus: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Build the Bloom bitmap over corpus keys → (word_idx, word) rows.

    One explode (k positions per key) + one ``bit_or`` aggregation: the
    100 TB corpus reduces map-side to at most m/64 rows.  Duplicate corpus
    keys cost nothing (the OR is idempotent).
    """
    key = F.col(key_col)
    pos = F.explode(F.array(*[_bit_position(key, i, m_bits) for i in range(k)]))
    bits = corpus.select(pos.alias("__pos")).select(
        (F.col("__pos") / 64).cast("long").alias("word_idx"),
        F.call_function("shiftleft", F.lit(1).cast("long"), (F.col("__pos") % 64).cast("int")).alias(
            "__mask"
        ),
    )
    return bits.groupBy("word_idx").agg(F.bit_or("__mask").alias("word"))


@pinning
def bloom_prefilter_anti_join(
    batch: DataFrame,
    corpus: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Rows of ``batch`` whose key is absent from ``corpus`` — exact
    anti-join semantics, Bloom-accelerated.

    The k membership probes are k BROADCAST hash joins against the bitmap
    (map-only — the batch never shuffles for them).  Rows with any missing
    bit are definitely new and bypass the join entirely; only probe-positive
    rows (true dupes + false positives) reach the exact anti-join.

    The bitmap is PERSISTED before the probe loop: each probe join and
    each branch of the output union references it, and Catalyst plans
    every reference as its own evaluation of the corpus aggregation —
    measured 24 bit_or aggregates / 9 broadcasts with ZERO reuse at k=4
    pre-fix, i.e. ~8 full corpus scans for what must be one (r14).  The
    pinned frame is at most m/64 rows (16k rows for a 1 Mbit filter) —
    KB-scale at any corpus size; it is pinned for the caller to release
    (``ids.release_spines``).
    """
    bitmap = pin(bloom_bitmap(corpus, key_col, m_bits, k).persist())
    key = F.col(key_col)
    probed = batch
    for i in range(k):
        pos = _bit_position(key, i, m_bits)
        widx, mask, word = f"__w{i}", f"__m{i}", f"__word{i}"
        probed = (
            probed.withColumn(widx, (pos / 64).cast("long"))
            .withColumn(mask, F.call_function("shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")))
            .join(
                F.broadcast(
                    bitmap.select(
                        F.col("word_idx").alias(widx), F.col("word").alias(word)
                    )
                ),
                widx,
                "left",
            )
        )
        hit = F.coalesce(
            F.col(word).bitwiseAND(F.col(mask)) != 0, F.lit(False)
        )
        probed = probed.withColumn(f"__hit{i}", hit).drop(widx, mask, word)

    all_hit = F.lit(True)
    for i in range(k):
        all_hit = all_hit & F.col(f"__hit{i}")
    probed = probed.withColumn("__maybe_seen", all_hit)
    drop_cols = ["__maybe_seen"] + [f"__hit{i}" for i in range(k)]

    definitely_new = probed.where(~F.col("__maybe_seen")).drop(*drop_cols)
    candidates = probed.where(F.col("__maybe_seen")).drop(*drop_cols)
    verified_new = candidates.join(
        corpus.select(key_col), on=key_col, how="left_anti"
    )
    return definitely_new.unionByName(verified_new)


def domain_blocklist_filter(
    df: DataFrame,
    host_col: str,
    blocklist_df: DataFrame,
    rule_col: str = "rule",
    out_col: str = "blocked_by",
) -> DataFrame:
    """UT1/FineWeb-style domain blocklist filtering: a rule matches a host
    exactly OR as a parent-domain wildcard (rule ``example.com`` blocks
    ``ads.example.com``).  Adds ``out_col`` = the matched rule (NULL =
    kept); callers drop with ``WHERE out_col IS NULL`` or keep the column
    as provenance for the removal report.

    When several rules match one host (``example.com`` and
    ``ads.example.com`` both listed), the MOST SPECIFIC (longest) rule
    wins, ties broken lexicographically-greatest — deterministic, and the
    provenance a reviewer expects ("blocked by the narrower rule").

    Scale shape: hosts explode into their dot-suffix chains
    (``functions.urls.domain_suffixes`` — bounded by DNS label count, a
    small constant fan-out) and equi-join the blocklist on the suffix.
    NO broadcast hint: curated blocklists range from dozens of rules to
    UT1's millions, so AQE picks broadcast vs shuffle by measured size.
    Only matched rows reach the per-host tie-break agg (blocked rows, not
    the corpus) and the corpus-side re-join is by the host value itself —
    distinct hosts, not rows, drive its cardinality.
    """
    from re_data_pipeline_spark.functions.urls import domain_suffixes

    bl = blocklist_df.select(F.col(rule_col).cast("string").alias("__suf")).distinct()
    hosts = df.select(F.col(host_col).alias("__h")).distinct()
    suf = hosts.select(
        "__h", F.explode(domain_suffixes(F.col("__h"))).alias("__suf")
    )
    hits = (
        suf.join(bl, "__suf")
        .groupBy("__h")
        .agg(
            F.max(F.struct(F.length("__suf").alias("l"), F.col("__suf").alias("s")))
            .alias("__m")
        )
        .select("__h", F.col("__m.s").alias(out_col))
    )
    return df.join(
        hits, df[host_col] == hits["__h"], "left"
    ).drop("__h")
