"""Unigram-LM (SentencePiece-style) tokenizer training — the missing
sibling of ``bpe.bpe_train`` in the tokenizer tier (Kudo 2018, "Subword
Regularization: Improving Neural Network Translation Models with Multiple
Subword Candidates"; the ``unigram`` model of the SentencePiece library).

Reference analogue: the tokenizer/fertility tier generalizing the text
normalization around ``combine_broker_listings.py``'s cleaning passes —
the reference has no tokenizer training; this is north-star territory.

Algorithm (hard-EM / Viterbi-EM, the deterministic variant of Kudo's EM):

1. **Seed**: candidate pieces = every substring of length ≤ P of the
   corpus's distinct words, counted by occurrence × word frequency; the
   vocab keeps ALL single characters (coverage guarantee) plus the top-K
   multi-character pieces under the total order (count DESC, piece ASC).
   Piece cost = integer micro-nats of its normalized count,
   ``round(-ln(c/T)·1e6)`` — the same fixed-point trick as
   ``operators/lm.py`` / DSIR, so every downstream comparison is
   integer-exact across engines.
2. **E-step**: each distinct word is segmented by VITERBI under the
   current costs — minimize (total_cost, segmentation_string): the
   integer cost sum first, the space-joined piece string as the
   deterministic tie-break.  The tie-break is suffix-stable (two distinct
   segmentations of the same prefix are never string-prefixes of each
   other, so appending a common suffix preserves their order), which
   makes the DP's local choice globally optimal — and makes the DP
   bit-equal to the oracle's exhaustive enumerate-all-segmentations
   min, the strongest spec available.
3. **M-step**: piece counts = Σ word-freq over the Viterbi segmentations;
   single characters get Laplace +1 (they must survive to keep every
   word segmentable — SentencePiece likewise never prunes required
   chars); multi-char pieces that won zero positions drop out (the
   pruning).  New costs from the re-normalized counts; repeat.

Scale shape (100 TB): ONE corpus pass collapses text to the
``(word, freq)`` table; every EM round runs over that vocabulary-sized
working set (the ``bpe_train`` discipline).  The per-round driver
exchange is the piece table itself — bounded by the PARAMETERS
(seed_multi + |alphabet| ≤ seed_multi + 36 rows, [a-z0-9] alphabet), the
k-row-collect class, not a corpus-derived relation.  Because the table
is parameter-bounded AND already driver-resident between rounds, the
per-word piece-cost lookup ships it as a LITERAL map in the plan (r18;
this is NOT a vocabulary-relation broadcast — a corpus-derived
vocabulary could never ride the plan, but a ≤(seed_multi+36)-entry
parameter table can), making segmentation one MAP-ONLY pass: a single
``F.aggregate`` fold per word, O(L·P) integer struct comparisons, all
JVM-side, zero segmentation-side exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from re_data_pipeline_spark.operators.ids import hold, pinning
from re_data_pipeline_spark.operators.layout import narrow_small_frame

__all__ = ["unigram_lm_train", "unigram_word_fertility"]

_VOCAB_SCHEMA = StructType(
    [
        StructField("piece", StringType(), False),
        StructField("count", LongType(), False),
        StructField("cost_micro", LongType(), False),
    ]
)


def _word_table(df: DataFrame, text_col: str, max_word_len: int) -> DataFrame:
    """(word, freq) over lowercase [a-z0-9]+ words of bounded length —
    includes single-character words (unlike ``bpe.build_word_table``: the
    unigram model must price every character)."""
    return narrow_small_frame(
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")).alias("w")
        )
        .where((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _span_pieces(max_piece_len: int):
    """All substrings of ``w`` with length 1..max_piece_len, one element
    per OCCURRENCE (start position × length)."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length("w") - i + 1),
                ),
                lambda L: F.col("w").substr(i, L),
            ),
        )
    )


def _viterbi_best(pc, max_piece_len: int):
    """Column expr: best (cost, seg) struct for word ``w`` under the
    piece→cost map ``pc`` — a left fold over end positions j=1..len(w),
    appending the argmin over start positions to the DP array.  Feasible
    whenever every character of ``w`` is in ``pc`` (the char-coverage
    invariant the M-step maintains for the TRAINING corpus); a word with
    a character outside the trained alphabet has no segmentation — its
    argmin pick is an empty candidate array, and ``try_element_at``
    surfaces that as a NULL best (propagated, never a crash: ANSI-mode
    ``element_at`` would abort the job on the first unseen character)."""
    # the zero's element type must be NULLABLE (containsNull=true): an
    # unsegmentable position appends a NULL best, and F.aggregate casts
    # the merge result back to the zero's type each step — with a
    # non-null element type that hidden Cast NPEs in codegen the moment
    # the first NULL lands in the DP array
    acc0 = F.array(
        F.struct(F.lit(0).cast("long").alias("c"), F.lit("").alias("s"))
    ).cast("array<struct<c:bigint,s:string>>")
    folded = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        acc0,
        lambda acc, j: F.concat(
            acc,
            F.array(
                F.try_element_at(
                    F.array_sort(
                        F.filter(
                            F.transform(
                                # piece covers i..j, length ≤ max_piece_len
                                F.sequence(
                                    F.greatest(
                                        F.lit(1), j - F.lit(max_piece_len - 1)
                                    ),
                                    j,
                                ),
                                lambda i: F.struct(
                                    (
                                        F.element_at(acc, i)["c"]
                                        # try_: ANSI mode throws on a missing
                                        # map key; absent piece → NULL → the
                                        # candidate is filtered below
                                        + F.try_element_at(
                                            pc, F.col("w").substr(i, j - i + 1)
                                        )
                                    ).alias("c"),
                                    F.when(
                                        F.element_at(acc, i)["s"] == "",
                                        F.col("w").substr(i, j - i + 1),
                                    )
                                    .otherwise(
                                        F.concat(
                                            F.element_at(acc, i)["s"],
                                            F.lit(" "),
                                            F.col("w").substr(i, j - i + 1),
                                        )
                                    )
                                    .alias("s"),
                                ),
                            ),
                            lambda cand: cand["c"].isNotNull(),
                        )
                    ),
                    F.lit(1),
                )
            ),
        ),
    )
    return F.element_at(folded, F.length("w") + 1)


def _costed(vocab_counts: DataFrame) -> DataFrame:
    """(piece, count) → (piece, count, cost_micro): integer micro-nats of
    the normalized count; BIGINT/BIGINT division and one ln, the
    IEEE-identical shape shared with operators/lm.py."""
    stats = vocab_counts.agg(F.sum("count").cast("bigint").alias("__t"))
    return vocab_counts.crossJoin(F.broadcast(stats)).select(
        "piece",
        F.col("count").cast("long").alias("count"),
        F.round((-F.log(F.col("count") / F.col("__t"))) * 1e6, 0)
        .cast("long")
        .alias("cost_micro"),
    )


def _segment_words(
    words: DataFrame, vocab: DataFrame, max_piece_len: int
) -> DataFrame:
    """(w, freq, best struct<c,s>) — Viterbi segmentation of every
    distinct word under ``vocab``'s costs.  The piece-cost lookup is a
    LITERAL map in the plan (r18): the vocabulary is PARAMETER-bounded
    (``seed_multi`` + |alphabet| rows — the module docstring's
    k-row-collect class) and already driver-resident in the training
    loop, so shipping it as plan data replaces the pre-r18 per-call
    spans-explode → piece equi-join → ``map_from_entries`` re-grouping
    (one corpus-spans shuffle per EM round / fertility call) with a
    MAP-ONLY pass over the word table — zero extra exchanges (guide
    §2.4).  Lookups are equivalent: a probed substring outside the vocab
    returns NULL from the literal map exactly as it was absent from the
    joined per-word map, and a word sharing no piece with the vocab
    still folds to a NULL ``__b`` (every candidate filtered) — TOTAL
    over ``words``, as before.  ``vocab.collect()`` is driver-only on
    the training loop's LocalRelation; for a caller-provided frame it is
    one parameter-bounded action."""
    rows = vocab.select("piece", "cost_micro").collect()
    if rows:
        pc = F.create_map(
            *[
                x
                for r in rows
                for x in (
                    F.lit(r["piece"]),
                    F.lit(int(r["cost_micro"])).cast("bigint"),
                )
            ]
        )
    else:
        pc = F.expr("cast(map() as map<string,bigint>)")
    return words.select(
        "w", "freq", _viterbi_best(pc, max_piece_len).alias("__b")
    )


@pinning
def unigram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    num_iters: int = 2,
    max_word_len: int = 12,
    max_piece_len: int = 4,
    seed_multi: int = 64,
    target_vocab: int | None = None,
) -> DataFrame:
    """Train a unigram-LM subword vocabulary (module docstring) and return
    the final piece table ``(piece, count, cost_micro)`` — ``count`` is
    the model numerator (Viterbi piece count, +1 Laplace on single
    characters), ``cost_micro`` the integer micro-nat cost the encoder
    prices that piece at.

    ``target_vocab`` is SentencePiece's defining knob: after each M-step,
    if the vocabulary exceeds it, only the highest-count multi-character
    pieces are kept (count DESC, piece ASC — the deterministic stand-in
    for Kudo's likelihood-loss ranking, which orders by the same count
    signal under a unigram model) until ``|chars| + kept = target_vocab``;
    single characters are never pruned (coverage), so a target below
    ``|alphabet|`` yields the all-chars vocabulary.  Costs are re-derived
    from the SURVIVORS' counts (the removed mass re-normalizes away,
    matching SentencePiece's prune-then-renormalize step).

    The per-round piece table round-trips through the driver (parameter-
    bounded: ≤ seed_multi + |alphabet| rows) to cut the iterative lineage,
    exactly as ``bpe_train`` round-trips its 1-row argmax."""
    spark: SparkSession = df.sparkSession
    words = hold(_word_table(df, text_col, max_word_len).persist())
    cand = (
        words.select(
            F.explode(_span_pieces(max_piece_len)).alias("piece"), "freq"
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("count"))
    )
    chars0 = cand.where(F.length("piece") == 1)
    multi0 = (
        cand.where(F.length("piece") >= 2)
        .orderBy(F.desc("count"), F.asc("piece"))
        .limit(seed_multi)  # bounded-global-window: a limit(K)-sized frame
    )
    vocab_rows = _costed(chars0.unionByName(multi0)).collect()
    # the char set is fixed across iterations (chars always survive
    # the M-step), so the prune budget for multi pieces is a constant
    n_chars = sum(1 for r in vocab_rows if len(r["piece"]) == 1)

    for _ in range(num_iters):
        vocab = spark.createDataFrame(vocab_rows, _VOCAB_SCHEMA)
        seg = _segment_words(words, vocab, max_piece_len)
        cnt = (
            seg.select(
                "freq", F.explode(F.split(F.col("__b")["s"], " ")).alias("piece")
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("__cnt"))
        )
        # M-step: previous-vocab chars survive with Laplace +1;
        # multi-char pieces keep raw Viterbi counts, zeros drop out
        chars = (
            vocab.where(F.length("piece") == 1)
            .select("piece")
            .join(cnt, "piece", "left")
            .select(
                "piece",
                (F.coalesce(F.col("__cnt"), F.lit(0)) + 1)
                .cast("bigint")
                .alias("count"),
            )
        )
        multi = cnt.where(F.length("piece") >= 2).select(
            "piece", F.col("__cnt").cast("bigint").alias("count")
        )
        if target_vocab is not None:
            multi = multi.orderBy(F.desc("count"), F.asc("piece")).limit(
                max(target_vocab - n_chars, 0)
            )  # bounded-global-window: a limit(K)-sized frame
        vocab_rows = _costed(chars.unionByName(multi)).collect()

    return spark.createDataFrame(vocab_rows, _VOCAB_SCHEMA)


def unigram_word_fertility(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    max_word_len: int = 12,
    max_piece_len: int = 4,
) -> DataFrame:
    """(w, freq, n_pieces) — every distinct corpus word with its piece
    count under ``vocab``'s Viterbi encoding: the per-word fertility
    table a dashboard joins back against documents.  Encoding is
    vocabulary-sized work; the corpus is touched once (the word table).

    TOTAL over the corpus's words: when ``df`` is NOT the corpus the
    vocab was trained on, words containing a character outside the
    trained alphabet are unsegmentable and return NULL ``n_pieces``
    (they neither crash the fold nor silently drop — the out-of-vocab
    rate is itself a signal a dashboard wants).

    CONTRACT: ``vocab`` must be parameter-bounded (≲ thousands of rows) —
    segmentation collects it to the driver and ships it as a literal map
    (the r18 one-pass rewrite), which is exactly right for a trained
    SentencePiece-style vocabulary and wrong for an unbounded frame."""
    words = _word_table(df, text_col, max_word_len)
    seg = _segment_words(words, vocab, max_piece_len)
    return seg.select(
        "w",
        "freq",
        F.size(F.split(F.col("__b")["s"], " ")).cast("bigint").alias("n_pieces"),
    )
