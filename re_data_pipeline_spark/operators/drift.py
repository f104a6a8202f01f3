"""Corpus distribution-drift monitoring — token-distribution divergence
between two snapshots.

The reference re-crawls its sources on a schedule and diffs snapshots
relationally (``archive_delisted_properties.py:93-147`` detects listings
that vanished between pulls).  A training-data pipeline needs the
DISTRIBUTIONAL version of the same check: when a crawl's token statistics
move sharply against the previous snapshot — a site redesign, an encoding
regression, a spam flood — downstream mixtures and quality filters silently
skew.  Jensen–Shannon divergence per stratum is the standard drift score:
symmetric, bounded [0, ln 2], zero iff identical distributions.

Exactness: each token's contribution p·ln(p/m) is rounded to integer
MICRO-nats before summing (the fixed-point trick of
``selection.dsir_log_weights``) — integer sums are partition-order- and
engine-independent, so the score replays bit-exactly in DuckDB despite ln.

Scale shape: two map-combined token-count aggs (corpus → |vocab| rows per
side), one full-outer equi-join on (stratum, token), one agg back to
|strata| rows.  Nothing vocabulary-sized broadcasts; nothing bigger than
Σ tokens shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import tokens
from re_data_pipeline_spark.operators.ids import pin, pinning

_FIXED = 10**6


@pinning
def token_js_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    stratum_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum Jensen–Shannon divergence between the token
    distributions of snapshots ``df_a`` and ``df_b``.

    Returns ``(stratum, n_tokens_a, n_tokens_b, js_micro, js)`` —
    ``js_micro`` the exact integer micro-nat sum (the comparison-stable
    form), ``js`` the same value in nats rounded to 6dp.  Disjoint
    vocabularies score the maximum ln 2; a stratum present in only ONE
    snapshot scores (ln 2)/2 — the present side's KL half is p·ln 2 per
    token, and the empty side has no mass to contribute — a deliberate
    convention (JS against a zero measure is undefined), chosen so "half
    the signal is missing" reads as half the maximum score.
    """

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.col(stratum_col).alias("__s"),
                F.explode(tokens(F.col(text_col))).alias("__tok"),
            )
            .groupBy("__s", "__tok")
            .agg(F.count(F.lit(1)).alias(f"__c{side}"))
        )

    ca, cb = counts(df_a, "a"), counts(df_b, "b")
    # PERSIST the joined count table: both the per-stratum totals agg and
    # the term projection read it, and Catalyst plans each reference as
    # its own evaluation — without the pin each corpus is tokenized and
    # aggregated TWICE (measured: 7 exchanges, zero ReusedExchange, r14).
    # The pinned frame is |union vocabulary|-sized (two longs + token per
    # row), the same storage class as an ordinal spine — bounded by
    # Heaps-law vocab growth, never the corpus.
    joined = pin(
        ca.join(cb, ["__s", "__tok"], "full_outer")
        .select(
            "__s",
            "__tok",
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
        .persist()
    )
    tot = joined.groupBy("__s").agg(
        F.sum("__ca").alias("__ta"), F.sum("__cb").alias("__tb")
    )
    x = joined.join(tot, "__s")
    # p, q are per-token probabilities; m = (p+q)/2.  Terms with zero
    # count contribute 0 to their own KL half (lim p→0 of p·ln(p/m) = 0).
    # greatest(·,1) denominators: an all-empty side has count 0 anyway, so
    # probabilities stay 0 instead of NULL and a one-sided stratum scores
    # Σ p·ln(2)/2 = (ln 2)/2 — the present side's KL half against an empty
    # distribution (the documented convention; see docstring).
    p = F.col("__ca") / F.greatest(F.col("__ta"), F.lit(1))
    q = F.col("__cb") / F.greatest(F.col("__tb"), F.lit(1))
    m = (p + q) / 2
    term = (
        F.when(F.col("__ca") > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) / 2
        + F.when(F.col("__cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0)) / 2
    )
    fixed = F.round(term * _FIXED, 0).cast("long")
    return (
        x.withColumn("__f", fixed)
        .groupBy("__s")
        .agg(
            F.max("__ta").cast("bigint").alias("n_tokens_a"),
            F.max("__tb").cast("bigint").alias("n_tokens_b"),
            F.sum("__f").cast("bigint").alias("js_micro"),
        )
        .select(
            F.col("__s").alias(stratum_col),
            "n_tokens_a",
            "n_tokens_b",
            "js_micro",
            F.round(F.col("js_micro") / float(_FIXED), 6).alias("js"),
        )
    )


def embedding_centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    stratum_col,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-stratum centroid drift between two embedding snapshots: the
    cosine between the snapshots' mean vectors plus the centroid-norm
    ratio — the standard early-warning when an embedder version bump or an
    upstream content shift moves a corpus region (ANN recall and SemDeDup
    thresholds silently degrade long before counts move).

    Returns ``(stratum, n_a, n_b, centroid_cosine, norm_ratio)`` —
    cosine of the two mean vectors (1.0 = no directional drift) and
    |mean_b|/|mean_a|, both rounded to 6dp.  A stratum present in only
    ONE snapshot is SURFACED (the alarm case), with the missing side's
    count 0 and NULL cosine/ratio; under an embedder dimensionality
    change, dimensions present in only one side count toward that side's
    norm (penalizing the cosine) rather than being silently truncated.

    Exactness: each component is fixed-pointed to integer micro units
    BEFORE the per-stratum sum (float sums are partition-order-dependent;
    integer sums are not), and the dot/norm accumulations over summed
    components run in decimal(38,0) — component sums reach ~1e6·n and
    their squares overflow int64 at corpus scale, where decimal stays
    exact.  The final cosine divides exact integers as doubles — one
    correctly-rounded IEEE operation per stratum, identical in any engine.

    Scale shape: one posexplode per side → map-combined (stratum, dim)
    integer sums (|strata|·dim rows — model-sized, not corpus-sized) →
    per-stratum dot/norm agg → |strata| rows out.  ``stratum_col`` may be
    a Column (e.g. a bucket expression) or a column name.
    """
    s = F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col

    def sums(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                s.alias("__s"),
                F.posexplode(F.col(vec_col)).alias("__d", "__v"),
            )
            .withColumn("__f", F.round(F.col("__v") * 1e6, 0).cast("long"))
            .groupBy("__s", "__d")
            # decimal BEFORE the sum: per-component fixed units are ~1e6·v,
            # and an int64 sum wraps silently past ~1e13 rows per stratum —
            # the DuckDB oracle sums in HUGEINT, so an int64 wrap here
            # would diverge the engines exactly at scale
            .agg(
                F.sum(F.col("__f").cast("decimal(38,0)")).alias(f"__sum{side}"),
                F.count(F.lit(1)).cast("bigint").alias(f"__n{side}"),
            )
        )

    a, b = sums(df_a, "a"), sums(df_b, "b")
    # FULL OUTER on (stratum, dim): a drift monitor must SURFACE, not drop,
    # a stratum that vanished from one snapshot (it emits with the missing
    # side's count 0 and NULL cosine/ratio) — and under a dimensionality
    # change the unmatched dimensions still count toward their own side's
    # norm, penalizing the cosine instead of silently truncating to the
    # shared prefix (same posture as token_js_divergence's full outer).
    j = a.join(b, ["__s", "__d"], "full_outer").select(
        "__s",
        F.coalesce("__suma", F.lit(0).cast("decimal(38,0)")).alias("__suma"),
        F.coalesce("__sumb", F.lit(0).cast("decimal(38,0)")).alias("__sumb"),
        F.coalesce("__na", F.lit(0)).alias("__na"),
        F.coalesce("__nb", F.lit(0)).alias("__nb"),
    )
    # cosine is scale-invariant, so the un-divided component SUMS stand in
    # for the means (n_a/n_b cancel); the norm ratio re-applies the counts.
    acc = j.groupBy("__s").agg(
        F.sum(F.col("__suma") * F.col("__sumb")).alias("__dot"),
        F.sum(F.col("__suma") * F.col("__suma")).alias("__na2"),
        F.sum(F.col("__sumb") * F.col("__sumb")).alias("__nb2"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )
    # explicit NULL for one-sided strata: 0/0 is NULL in Spark but NaN in
    # DuckDB — an unguarded division would diverge the engines
    both = (F.col("__na2") > 0) & (F.col("__nb2") > 0)
    cos = F.when(
        both,
        F.col("__dot").cast("double")
        / (F.sqrt(F.col("__na2").cast("double")) * F.sqrt(F.col("__nb2").cast("double"))),
    )
    ratio = F.when(
        both,
        (F.sqrt(F.col("__nb2").cast("double")) / F.col("n_b"))
        / (F.sqrt(F.col("__na2").cast("double")) / F.col("n_a")),
    )
    return acc.select(
        F.col("__s").alias(
            stratum_col if isinstance(stratum_col, str) else "stratum"
        ),
        "n_a",
        "n_b",
        F.round(cos, 6).alias("centroid_cosine"),
        F.round(ratio, 6).alias("norm_ratio"),
    )
