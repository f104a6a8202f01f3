"""Distributed BPE tokenizer training (Sennrich et al. 2016) — the full
merge loop, not just the pair-count pass (q132 is iteration 0 of this).

Why it scales: after ONE corpus pass collapses raw text to the
``(word, freq)`` table, every merge round runs over that vocabulary-sized
table — pair counting, argmax, and merge application never touch the
corpus again.  100 TB of text becomes a few-hundred-thousand-row working
set, which is exactly how production tokenizer training is structured.

Round structure (k rounds, driver-coordinated like k-means/pagerank):

1. adjacent-pair counts weighted by word freq (explode → map-combined agg)
2. argmax pair under the deterministic order (count DESC, left ASC,
   right ASC) — a 1-row TakeOrdered collect, the same driver exchange
   k-means does for centroids
3. apply the merge to every word's token list with a LEFT FOLD: push the
   next token; if the accumulator's last token is ``left`` and the next is
   ``right``, replace the tail with the merged token.  A fold is exactly
   greedy leftmost non-overlapping merging ("a a a" + merge(a,a) →
   [aa, a], because the merged tail "aa" no longer equals "a").  Pure
   ``F.aggregate`` string algebra — no UDF; tokens are '|'-joined in the
   accumulator, so the fold is engine-portable (DuckDB replays it with
   ``list_reduce`` and the identical CASE).

Determinism: counts are exact integer sums; the argmax tiebreak is total;
the fold is order-defined — so Spark and DuckDB agree on every merge rule
bit-for-bit, which is what the q161 oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.operators.ids import hold, pinning, release
from re_data_pipeline_spark.operators.layout import narrow_small_frame

# '|' never occurs inside tokens: build_word_table keeps [a-z0-9]+ words.
_SEP = "|"


def build_word_table(df: DataFrame, text_col: str = "text", max_len: int = 12) -> DataFrame:
    """(word, freq, toks) over lowercase [a-z0-9]+ words of bounded length —
    the compact working set every merge round re-reads.  ``toks`` starts as
    the character sequence."""
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")).alias("w"))
        .where((F.length("w") >= 2) & (F.length("w") <= max_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    return words.withColumn("toks", chars)


def _pair_counts(words: DataFrame) -> DataFrame:
    """freq-weighted adjacent-pair counts over the token lists."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1))),
        lambda i: F.struct(
            F.element_at("toks", i).alias("l"),
            F.element_at("toks", i + F.lit(1)).alias("r"),
        ),
    )
    return (
        words.where(F.size("toks") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )


def _apply_merge(toks: Column, left: str, right: str) -> Column:
    """Greedy leftmost non-overlapping merge of (left, right) via a string
    fold, returned as the new token array."""
    merged = left + right
    acc0 = F.lit("")
    folded = F.aggregate(
        toks,
        acc0,
        lambda acc, x: F.when(
            (
                acc.endswith(_SEP + left)
                | (acc == F.lit(left))  # single-token accumulator
            )
            & (x == F.lit(right)),
            F.concat(
                F.substring(acc, 1, F.length(acc) - len(left)), F.lit(merged)
            ),
        ).otherwise(
            F.when(acc == F.lit(""), x).otherwise(F.concat(acc, F.lit(_SEP), x))
        ),
    )
    return F.split(folded, r"\|")


@pinning
def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 3,
    max_word_len: int = 12,
) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules; returns a DataFrame
    ``(merge_rank int, left, right, pair_count bigint)`` with one row per
    learned rule in order.

    The driver loop collects ONE row per round (the argmax pair) — the
    same k-sized driver exchange as k-means centroids; everything else is
    distributed.  The word table is localCheckpointed per round so round
    r+1's plan doesn't replay rounds 1..r.
    """
    spark = df.sparkSession
    # the learned rules are driver rows: every word table is held
    words = hold(narrow_small_frame(
        build_word_table(df, text_col, max_word_len)
    ).localCheckpoint())
    rules = []
    for rank in range(num_merges):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        rules.append((rank, b["left"], b["right"], b["pair_count"]))
        if rank == num_merges - 1:
            # the merged word table would never be read: skip its
            # eager checkpoint
            break
        prev = words
        words = hold(words.withColumn(
            "toks", _apply_merge(F.col("toks"), b["left"], b["right"])
        ).localCheckpoint())
        # eager checkpoint: round r's word table is materialized, so round
        # r-1's blocks are dead (unpersist/clearCache can't see them)
        release(prev)
    return spark.createDataFrame(
        rules, "merge_rank int, left string, right string, pair_count bigint"
    )


def bpe_encode_counts(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    max_word_len: int = 12,
) -> DataFrame:
    """Tokenize the corpus under learned merge rules; returns per-document
    ``(doc_id, n_words, n_bpe_tokens)``.

    Scale shape — the same vocabulary trick as training: the merges are
    applied (k chained folds) to the DISTINCT-WORD table only, producing a
    ``word → token-count`` lookup joined back onto the per-document word
    stream; the corpus itself is touched by exactly one explode + one
    map-combined aggregate.  The lookup join carries NO broadcast hint:
    the distinct-word table is word-vocabulary-sized and grows with the
    corpus (~10⁸ words at 100 TB — a forced broadcast OOMs the driver).
    The word stream shuffles on ``w`` either way, so a shuffle sort-merge
    join costs nothing extra asymptotically, and AQE still upgrades to a
    runtime broadcast whenever the MEASURED lookup size is under
    autoBroadcastJoinThreshold — the size-bounded gate.  Words outside
    the [2, max_word_len] training band are excluded from both counts
    (consistent with ``build_word_table``).
    """
    doc_words = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")).alias("w"),
    ).where((F.length("w") >= 2) & (F.length("w") <= max_word_len))

    vocab = doc_words.select("w").distinct()
    toks = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    for left, right in merges:
        toks = _apply_merge(toks, left, right)
    lookup = vocab.select("w", F.size(toks).alias("__nt"))

    return (
        doc_words.join(lookup, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("__nt").cast("bigint").alias("n_bpe_tokens"),
        )
    )
