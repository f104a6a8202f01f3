"""Word-level n-gram language model with Stupid Backoff — the
KenLM-shaped perplexity filter of web-corpus curation (CCNet trains a
5-gram KenLM on Wikipedia and buckets CommonCrawl by perplexity;
reference analogue: the quality-gating tier around
``combine_broker_listings.py``'s cleaning passes, generalized to the
corpus-curation form).

This is the word-level sibling of ``selection.char_bigram_nll``: a
trigram model with Stupid Backoff (Brants et al. 2007, "Large Language
Models in Machine Translation") instead of KenLM's modified Kneser-Ney —
Stupid Backoff is the published large-corpus choice precisely because it
needs only raw counts (no discount fitting), which makes it exactly
replayable in SQL:

    S(w3 | w1 w2) = c3(w1 w2 w3) / c2(w1 w2)            if c3 > 0
                  = 0.4 · c2(w2 w3) / c1(w2)             elif c2 > 0
                  = 0.16 · (c1(w3) + 1) / (N + V)        otherwise

(α = 0.4 as published; α² is applied as the literal 0.16 so both engines
parse the identical double).  The unigram floor is Laplace-smoothed so an
unseen word scores the worst plausible surprise — never a free pass (the
same inversion-guard argument as ``char_bigram_nll``'s unseen-context
floor).

Cross-engine exactness: every per-position log term is rounded to integer
MICRO-nats in the MODEL tables (the DSIR trick), so per-document sums are
integer-exact under any partitioning; the per-element double math
(BIGINT/BIGINT division, literal-double multiply, one ln) is
IEEE-identical between Spark and DuckDB.

Scale shape (100 TB): training is three explode→map-combined-count aggs
down to |observed grams| rows (corpus-bounded, never broadcast — the
model tables join back by key and AQE gates the strategy by measured
size).  Scoring shuffles Σ trigram positions once per backoff tier (three
equi-joins against progressively smaller model tables) plus one per-doc
agg; nothing is quadratic and no vocabulary-sized relation crosses the
driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.operators.ids import assign_ordinals, pin, pinning
from re_data_pipeline_spark.operators.layout import narrow_small_frame

__all__ = ["ngram_lm_nll", "ngram_lm_train", "perplexity_buckets"]


def _toks(text_col: str) -> Column:
    """Whitespace tokens, empties dropped, NULL text → [] — delegates to
    the single corpus-wide contract (``functions.text.ws_tokens``)."""
    from re_data_pipeline_spark.functions.text import ws_tokens

    return ws_tokens(text_col)


def _grams(t: Column, n: int, out: Column) -> Column:
    """Positions 1..len−n+1 mapped through ``out`` (a fn of start index);
    <n tokens → empty array (``F.sequence`` would count backwards)."""
    return F.when(
        F.size(t) >= n,
        F.transform(F.sequence(F.lit(1), F.size(t) - (n - 1)), out),
    ).otherwise(F.array().cast("array<string>"))


def _train_tables(
    base: DataFrame, min_count2: int, min_count3: int
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Build the three model tables and the 1-row corpus stats frame from
    the tokenized training corpus ``base`` (one ``__t`` token-array
    column).  Shared verbatim by :func:`ngram_lm_nll`'s train-in-place
    path and :func:`ngram_lm_train` — ONE expression construction, so the
    default scoring plan cannot drift from the frozen-model tables
    (r18; the q220/`_q220_snapshot_cuts` extraction precedent).

    Returns ``(tri_model, bi_model, uni_model, stats)`` with the
    scoring-join column names (``__g3/__f3``, ``__b2/__f2``,
    ``__w3/__f1``, ``__n_tok/__v``); the persisted count tables (see the
    pin rationale below) are pinned.
    """
    # PERSIST the unigram and bigram count tables: uni feeds the corpus
    # stats, the bigram backoff denominators, AND the unigram floor; bi
    # feeds the trigram denominators AND the bigram model — and Catalyst
    # plans every reference as its own evaluation, so the pre-r14 plan ran
    # NINE corpus scans / eight explodes per scoring call (measured, zero
    # ReusedExchange) where the module contract says three gram aggs +
    # scoring + totality.  Both tables are the MODEL tables the design
    # already bounds (|observed grams|, corpus-head-sized under pruning —
    # never the corpus); with the pins the plan is back to five corpus
    # passes (uni/bi/tri builds + positions + totality).
    # Known trade (measured r14): an unmaterialized InMemoryRelation
    # reports its child's (wildly high) size estimate, so the pin demotes
    # the scoring joins from AQE-broadcast to sort-merge at small scale
    # (q202 shuffle rows 39k → 337k) — while cutting the corpus passes
    # 9 → 5 and the cold wall 2.59 → 1.91 s.  Sort-merge is the
    # documented, always-safe 100 TB mode (self-scoring models outgrow
    # the broadcast threshold anyway — SCALING.md measured exp 1.13
    # same-mode); deployments that KNOW the model is reference-corpus-
    # bounded (CCNet-faithful) opt back into map-only scoring with
    # ``broadcast_model=True`` instead of relying on AQE to guess.
    # when ``base`` is an unmaterialized cache its inflated size estimate
    # makes narrow_small_frame a no-op, preserving the r14 plan-hash notes
    uni = pin(
        narrow_small_frame(
            base.select(F.explode("__t").alias("__w")).groupBy("__w").agg(
                F.count(F.lit(1)).alias("__c1")
            )
        ).persist()
    )
    # 1-row corpus stats: N tokens, V distinct tokens
    stats = uni.agg(
        F.sum("__c1").cast("bigint").alias("__n_tok"),
        F.count(F.lit(1)).cast("bigint").alias("__v"),
    )
    # adjacent pairs, keyed by the joined gram AND its first word (the
    # backoff denominator c1(first) joins on the word, not the gram)
    bi = pin(
        narrow_small_frame(
            base.select(
                F.explode(
                    _grams(
                        F.col("__t"),
                        2,
                        lambda i: F.array_join(F.slice(F.col("__t"), i, 2), " "),
                    )
                ).alias("__g2")
            )
            .groupBy("__g2")
            .agg(F.count(F.lit(1)).alias("__c2"))
            .withColumn("__w1", F.split(F.col("__g2"), " ")[0])
        ).persist()
    )
    # tri is NOT narrowed: narrow_small_frame targets persisted tables that
    # are re-scanned, and tri is neither persisted nor read by anything but
    # tri_model, so its groupBy output is consumed once by the join below
    tri = (
        base.select(
            F.explode(
                _grams(
                    F.col("__t"),
                    3,
                    lambda i: F.array_join(F.slice(F.col("__t"), i, 3), " "),
                )
            ).alias("__g3")
        )
        .groupBy("__g3")
        .agg(F.count(F.lit(1)).alias("__c3"))
        .withColumn(
            "__p2", F.array_join(F.slice(F.split(F.col("__g3"), " "), 1, 2), " ")
        )
    )
    # model tables: per-key integer micro-nat NLL terms.  BIGINT/BIGINT
    # division is IEEE double in both engines; α and α² are literals.
    # Count pruning filters the MODEL side only (denominators stay raw);
    # the conditionals keep the default (no-pruning) plan byte-identical
    # so q202/q203/q206's recorded plan hashes don't drift.
    if min_count3 > 1:
        tri = tri.where(F.col("__c3") >= min_count3)
    if min_count2 > 1:
        bi_pruned = bi.where(F.col("__c2") >= min_count2)
    else:
        bi_pruned = bi
    tri_model = tri.join(
        bi.select(F.col("__g2").alias("__p2"), F.col("__c2").alias("__d2")), "__p2"
    ).select(
        "__g3",
        F.round((-F.log(F.col("__c3") / F.col("__d2"))) * 1e6, 0)
        .cast("long")
        .alias("__f3"),
    )
    bi_model = bi_pruned.join(
        uni.select(F.col("__w").alias("__w1"), F.col("__c1").alias("__d1")), "__w1"
    ).select(
        F.col("__g2").alias("__b2"),
        F.round((-F.log(F.lit(0.4) * (F.col("__c2") / F.col("__d1")))) * 1e6, 0)
        .cast("long")
        .alias("__f2"),
    )
    uni_model = uni.crossJoin(F.broadcast(stats)).select(
        F.col("__w").alias("__w3"),
        F.round(
            (
                -F.log(
                    F.lit(0.16)
                    * ((F.col("__c1") + F.lit(1)) / (F.col("__n_tok") + F.col("__v")))
                )
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("__f1"),
    )
    return tri_model, bi_model, uni_model, stats


@pinning
def ngram_lm_train(
    train_df: DataFrame,
    text_col: str = "text",
    min_count2: int = 1,
    min_count3: int = 1,
) -> dict[str, DataFrame]:
    """Train the trigram Stupid-Backoff model ALONE and return the four
    frames a production deployment freezes to storage — the
    injected-model counterpart of ``maintenance.incremental_corpus_update``'s
    ``index_a``/``manifest_a`` (r17 verdict task 3): CCNet's reference
    model is trained ONCE on the clean reference corpus, persisted, and
    every subsequent crawl snapshot is scored under the LOADED model —
    the training corpus is never re-read.

    Returns ``{"tri": (gram, nll_micro), "bi": (gram, nll_micro),
    "uni": (word, nll_micro), "stats": (n_tokens, vocab)}`` — per-key
    integer micro-nat NLL terms (parquet round-trips them exactly, so
    injected scoring is score-identical to train-in-place, asserted by
    ``tests/test_lm.py``).  Write each to parquet, reload, and pass the
    dict as :func:`ngram_lm_nll`'s ``model=``.

    The frames share the training-time count-table pins — release with
    ``ids.release_spines`` on any ONE of them after the last has been
    materialized (releasing each is also fine).

    Scale shape: identical to train-in-place (three explode→map-combined
    aggs, |observed grams| rows); the whole point is that this cost is
    paid once per reference-corpus refresh instead of once per scoring
    run.
    """
    t = _toks(text_col)
    base = train_df.select(t.alias("__t")).where(F.size("__t") > 0)
    tri_model, bi_model, uni_model, stats = _train_tables(
        base, min_count2, min_count3
    )
    return {
        "tri": tri_model.select(
            F.col("__g3").alias("gram"), F.col("__f3").alias("nll_micro")
        ),
        "bi": bi_model.select(
            F.col("__b2").alias("gram"), F.col("__f2").alias("nll_micro")
        ),
        "uni": uni_model.select(
            F.col("__w3").alias("word"), F.col("__f1").alias("nll_micro")
        ),
        "stats": stats.select(
            F.col("__n_tok").alias("n_tokens"), F.col("__v").alias("vocab")
        ),
    }


@pinning
def ngram_lm_nll(
    train_df: DataFrame | None,
    score_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count2: int = 1,
    min_count3: int = 1,
    broadcast_model: bool = False,
    model: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Per-document average negative log-likelihood under a trigram
    Stupid-Backoff model trained on ``train_df`` (see module docstring).

    ``model`` is the frozen pre-trained model a production run loads from
    storage (:func:`ngram_lm_train`'s ``{"tri", "bi", "uni", "stats"}``
    dict, persisted to parquet and reloaded) — exactly as
    ``maintenance.incremental_corpus_update`` accepts
    ``index_a``/``manifest_a``: when given, ``train_df`` is ignored (may
    be ``None``) and NO training pass runs — the scoring plan is the
    same three equi-joins, fed by parquet scans instead of the in-plan
    count aggs.  Scores are IDENTICAL to train-in-place (integer
    micro-nats round-trip parquet exactly; asserted by
    ``tests/test_lm.py``).  ``min_count2``/``min_count3`` are trainer
    knobs and must be passed to :func:`ngram_lm_train` instead; a
    non-default value here with ``model`` set raises (silently ignoring
    them would misreport the loaded model's pruning).

    ``broadcast_model=True`` broadcast-hints the three model tables in the
    scoring joins — map-only scoring, zero position shuffle.  ONLY for the
    CCNet-faithful configuration where the model is trained on a small
    clean reference corpus (the caller's knowledge, not a guess): a
    self-scored crawl's model tables grow with the corpus and a forced
    broadcast would OOM the executors exactly at scale.  Default off =
    equi-join scoring, the always-safe mode.

    Returns one row per ``score_df`` document: ``(id_col, n_trigrams,
    nll_micro, nll)`` where ``nll_micro`` is the exact integer micro-nat
    total over trigram positions, ``nll`` the 6dp-rounded mean in nats;
    documents with fewer than 3 tokens return ``n_trigrams = 0`` and NULL
    ``nll`` (no positions to score — NOT a perfect score).

    ``score_df`` defaults to ``train_df`` (self-scoring, the corpus-health
    view); CCNet-FAITHFUL usage trains on a SMALL CLEAN REFERENCE corpus
    (CCNet: Wikipedia) and scores the crawl — the model tables are then
    reference-corpus-bounded, not crawl-bounded, which is what keeps them
    join-sized at 100 TB of scored text.  Self-scoring a raw crawl grows
    the trigram table with the corpus (every novel trigram is a row); use
    it for corpus-health dashboards, not as the production filter.

    ``min_count2`` / ``min_count3`` prune the bigram/trigram MODEL tables
    to grams seen at least that often (KenLM's standard count pruning;
    1 = keep all).  A pruned gram simply backs off to the next tier —
    the denominators stay RAW counts, so surviving entries' scores are
    unchanged by pruning.  Pruning bounds the model tables by the
    corpus's HEAD rather than its long tail (singleton trigrams are
    typically >half the table), which is the published lever for keeping
    self-trained model size sublinear in corpus size.

    Degenerate corner: a training corpus with ZERO tokens has no model —
    every scoreable document returns NULL ``nll`` (the 1-row stats frame
    is empty, so the floor term is NULL too).  Deliberate: "no evidence"
    must surface as NULL, and pre-checking emptiness would cost an extra
    action on every call to defend a meaningless configuration.
    """
    if model is not None and (min_count2 != 1 or min_count3 != 1):
        raise ValueError(
            "min_count2/min_count3 are trainer knobs — pass them to "
            "ngram_lm_train; the loaded model's pruning is already baked in"
        )
    if train_df is None and score_df is None:
        raise ValueError("score_df is required when train_df is None")
    same = score_df is None or score_df is train_df
    if score_df is None:
        score_df = train_df

    t = _toks(text_col)
    sc = score_df.select(F.col(id_col), t.alias("__t"))
    if model is not None:
        # frozen model loaded from storage: rename the public columns back
        # to the scoring-join names — no training pass, no count-table pins
        tri_model = model["tri"].select(
            F.col("gram").alias("__g3"), F.col("nll_micro").alias("__f3")
        )
        bi_model = model["bi"].select(
            F.col("gram").alias("__b2"), F.col("nll_micro").alias("__f2")
        )
        uni_model = model["uni"].select(
            F.col("word").alias("__w3"), F.col("nll_micro").alias("__f1")
        )
        stats = model["stats"].select(
            F.col("n_tokens").alias("__n_tok"), F.col("vocab").alias("__v")
        )
    else:
        if same:
            base = sc.where(F.size("__t") > 0)
        else:
            base = train_df.select(t.alias("__t")).where(F.size("__t") > 0)
        tri_model, bi_model, uni_model, stats = _train_tables(
            base, min_count2, min_count3
        )

    pos = sc.where(F.size("__t") >= 3).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 2),
                lambda i: F.struct(
                    F.array_join(F.slice(F.col("__t"), i, 3), " ").alias("__g3"),
                    F.array_join(F.slice(F.col("__t"), i + 1, 2), " ").alias("__b2"),
                    F.element_at(F.col("__t"), (i + 2).cast("int")).alias("__w3"),
                ),
            )
        ).alias("__p"),
    ).select(id_col, "__p.__g3", "__p.__b2", "__p.__w3")

    if broadcast_model:
        tri_model = F.broadcast(tri_model)
        bi_model = F.broadcast(bi_model)
        uni_model = F.broadcast(uni_model)
    scored = (
        pos.join(tri_model, "__g3", "left")
        .join(bi_model, "__b2", "left")
        .join(uni_model, "__w3", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("__f3"),
                F.col("__f2"),
                F.col("__f1"),
                # unseen word: the c1=0 case of the unigram formula, same
                # textual shape so the double math is engine-identical
                F.round(
                    (
                        -F.log(
                            F.lit(0.16)
                            * (F.lit(1) / (F.col("__n_tok") + F.col("__v")))
                        )
                    )
                    * 1e6,
                    0,
                ).cast("long"),
            ).alias("__f"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.sum("__f").cast("bigint").alias("nll_micro"),
        F.round(F.sum("__f") / (F.count(F.lit(1)) * 1e6), 6).alias("nll"),
    )
    # totality: <3-token docs come back with 0 positions and NULL nll
    return (
        sc.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_trigrams"), F.lit(0).cast("bigint")).alias(
                "n_trigrams"
            ),
            "nll_micro",
            "nll",
        )
    )


@pinning
def perplexity_buckets(
    scored_df: DataFrame,
    group_col: str,
    nll_col: str = "nll",
    id_col: str = "doc_id",
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    bucket_col: str = "bucket",
) -> DataFrame:
    """CCNet-style per-group perplexity bucketing: within each group
    (language, source, …) rank documents by ascending NLL and cut the
    ranking into ``len(labels)`` equal-population bands — CCNet keeps the
    "head" (lowest-perplexity) band and drops or down-samples the tail.

    Band of the 0-based within-group rank r over n group rows is
    ``(B·r) DIV n`` — pure integer arithmetic, so the cut is exact in both
    engines (float percentile math can flip a boundary row).  Rows with
    NULL ``nll_col`` (unscoreable: <3 tokens) are EXCLUDED — a document
    with no evidence must not land in "head" by default.

    Scale shape: ONE ordinal spine over (group, nll, id) — never a
    ``Window.partitionBy(group)``, which funnels the corpus into
    |groups| reducers (languages are few and skewed: maximal skew by
    construction).  Within-group rank = global ordinal − group-first
    ordinal, group sizes and first-ordinals from one |groups|-row agg
    broadcast back (the ``curriculum_interleave`` discipline).
    """
    if len(labels) < 2:
        raise ValueError(f"need ≥ 2 labels; got {labels!r}")
    b = len(labels)
    d = scored_df.where(F.col(nll_col).isNotNull())
    o = assign_ordinals(
        d, [F.asc(group_col), F.asc(nll_col), F.asc(id_col)], "__g"
    )
    # NULL-SAFE group equality: a NULL group (lang-id failures are routine
    # in crawl data) is a real partition — SQL's PARTITION BY groups NULLs
    # together, and a plain equi-join would silently drop every such row
    firsts = o.groupBy(group_col).agg(
        F.min("__g").alias("__g0"), F.count(F.lit(1)).alias("__n")
    ).withColumnRenamed(group_col, "__grp")
    idx = F.expr(f"CAST(({b} * (__g - __g0)) DIV __n AS INT)")
    label_arr = F.array(*[F.lit(x) for x in labels])
    return (
        o.join(
            F.broadcast(firsts),
            F.col(group_col).eqNullSafe(F.col("__grp")),
        )
        .withColumn("group_rank", (F.col("__g") - F.col("__g0")).cast("bigint"))
        .withColumn(bucket_col, F.element_at(label_arr, idx + 1))
        .drop("__g", "__g0", "__n", "__grp")
    )
