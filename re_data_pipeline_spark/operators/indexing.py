"""Inverted-index construction over a document corpus.

The retrieval-side complement of the vector indexes in
``operators/similarity``: term → sorted posting list with document
frequency, the structure behind BM25/keyword search and behind
contamination scans cheaper than q100's n-gram join when the query set
changes often (build once, probe many).

Plan shape at 100 TB:
- per-doc DISTINCT terms explode map-side (array_distinct before explode —
  the exploded stream is |doc|·|distinct terms|, never raw token count);
- document frequency is one map-combined agg on the term;
- the stop-band filter (df > max_df_fraction·N) broadcasts the 1-row corpus
  count — the classic reason NOT to index "the";
- posting lists are CAPPED BEFORE collection with a two-phase exact min-k
  (per-input-partition pre-cap, then a capped merge — see
  ``inverted_index``'s docstring), so no executor ever materializes OR
  sorts an unbounded list for a hot term — the cap is the index's page
  size, and full postings for capped terms live in overflow segments in a
  real deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from re_data_pipeline_spark.functions.text import tokens, ws_tokens
from re_data_pipeline_spark.operators.ids import (
    assign_prefix_sums,
    pin,
    pinning,
)


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_fraction: float = 0.5,
    max_postings: int = 1000,
) -> DataFrame:
    """Build (term, df, postings) rows; postings sorted ascending by doc id
    and truncated to ``max_postings`` (df still counts ALL matching docs).

    The cap is a two-phase exact min-k, NOT a ``Window.partitionBy(term)``
    rank: a stop-band-surviving hot term (df just under
    ``max_df_fraction``·N) would funnel all its postings through ONE
    window task, a single-reducer sort of up to N/2 rows (r13 fix).
    Phase 1 groups by (term, input-partition-id): because a group lives
    entirely in one input partition, its full posting buffer is built by
    the map-side partial ``collect_list`` — so the (term, df, __p)
    shuffle still carries each group's UNCAPPED id buffer (sort_array/
    slice run in the final aggregate, after that exchange); what the
    phase buys is that a hot term's buffers hash-spread across reducers
    as ~tasks independent groups instead of one, and each reducer sorts
    at most one input partition's worth.  The ≤ k·tasks-rows-per-term
    bound holds for the PHASE-2 shuffle (its inputs are the capped
    ``__ids`` arrays), which is where the rank-window funnel used to
    be.  Exact because min-k distributes over partition-wise min-k.
    """
    toks = df.select(
        # ws_tokens, NOT tokens: the unfiltered form keeps a single ''
        # for empty/whitespace docs, which would index a bogus hot term
        # whose df grows with every empty doc in the crawl (r13 fix)
        F.col(id_col), F.explode(F.array_distinct(ws_tokens(text_col))).alias("term")
    )
    total = df.agg(F.count_distinct(F.col(id_col)).alias("__n"))
    stats = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        stats.crossJoin(F.broadcast(total))
        .where(
            (F.col("df") >= F.lit(min_df))
            & (F.col("df") <= F.lit(max_df_fraction) * F.col("__n"))
        )
        .select("term", "df")
    )
    part = (
        toks.join(kept, "term")
        .withColumn("__p", F.spark_partition_id())
        .groupBy("term", "df", "__p")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.col(id_col))), 1, max_postings
            ).alias("__ids")
        )
    )
    return part.groupBy("term", "df").agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("__ids"))), 1, max_postings
        ).alias("postings")
    )


def merge_inverted_indexes(
    ix_a: DataFrame,
    ix_b: DataFrame,
    total_docs: DataFrame,
    min_df: int = 1,
    max_df_fraction: float = 0.5,
    max_postings: int = 1000,
) -> DataFrame:
    """Merge two inverted indexes over DISJOINT document sets into one —
    index maintenance without re-reading the corpus.

    Exactness argument: with per-side posting caps ≥ the merged cap, any
    doc id in the merged index's smallest-``max_postings`` set is among its
    own side's smallest ``max_postings`` ids, so concat → sort → re-cap
    reproduces the full-rebuild postings EXACTLY (q154's oracle states the
    rebuild).  df adds across disjoint sides; the stop band re-evaluates
    against the combined corpus count (``total_docs``: 1-row DF with
    ``__n``) — which is why the per-side builds must NOT stop-band
    (a banded term's postings are unrecoverable at merge time).

    One groupBy on the term (map-combined; posting arrays are cap-bounded)
    + a broadcast of the 1-row count.
    """
    u = ix_a.select("term", "df", "postings").unionByName(
        ix_b.select("term", "df", "postings")
    )
    merged = u.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("postings"))), 1, max_postings
        ).alias("postings"),
    )
    return (
        merged.crossJoin(F.broadcast(total_docs))
        .where(
            (F.col("df") >= F.lit(min_df))
            & (F.col("df") <= F.lit(max_df_fraction) * F.col("__n"))
        )
        .select("term", "df", "postings")
    )


@pinning
def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 3,
) -> DataFrame:
    """Top-``top_k`` collocations per left word by pointwise mutual
    information over ADJACENT word pairs — the classic collocation /
    phrase-mining statistic ("New York", "machine learning") that phrase
    detectors and tokenizer pre-segmentation both build on.

    PMI is computed entirely within the bigram event space (self-
    normalized): PMI(w₁,w₂) = ln(c₁₂·N / (c₁•·c•₂)) with c₁• / c•₂ the
    left-/right-position marginals and N the total bigram count — every
    statistic derives from one bigram-count table, so no unigram pass and
    no cross-space normalization subtleties.  Scores are fixed-pointed to
    integer micro-nats (``pmi_micro``) and RANKED on that integer (then
    the right word) — float ties can never reorder the top-k across
    engines.  Pairs below ``min_count`` are dropped before scoring (rare
    pairs have unboundedly noisy PMI — standard practice).

    Returns ``(w1, w2, n_12, pmi_micro, pmi, rnk)``.

    Scale shape: one explode to the bigram stream → map-combined
    (w₁,w₂) agg → two marginal aggs of the PAIR table (vocabulary-sized,
    not corpus-sized) → joins back on w₁/w₂ WITHOUT broadcast hints
    (marginals are vocabulary-sized and grow with the corpus — AQE gates
    by measured size) → per-w₁ rank window.
    """
    from re_data_pipeline_spark.functions.text import word_shingles_of

    toks = df.select(tokens(F.col(text_col)).alias("__toks"))
    pairs = (
        toks.select(F.explode(word_shingles_of(F.col("__toks"), 2, distinct=False)).alias("__sh"))
        .where(F.size(F.split(F.col("__sh"), " ")) == 2)
        .select(
            F.split(F.col("__sh"), " ")[0].alias("w1"),
            F.split(F.col("__sh"), " ")[1].alias("w2"),
        )
    )
    # PERSIST the pair-count table: the two marginals, the grand total,
    # and the scored base all read it, and Catalyst plans each reference
    # as its own evaluation — without the pin the corpus bigram explode +
    # agg ran FOUR times (measured: 4 Generate nodes, zero ReusedExchange,
    # r14).  The pinned frame is pair-vocabulary-sized (Heaps-bounded),
    # never the corpus.
    # Measured CROSSOVER (keep this pin): at sf0.1 the pin reads 27%
    # slower (1.42 → 1.81 s — cache-store cost), but at the 10× sf1
    # anchor corpus it is 32% FASTER (5.35 → 3.65 s) because the four
    # saved corpus explodes grow linearly while the vocab store grows
    # sublinearly — the scale-correct side of the trade.
    cb = pin(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_12")).persist())
    left = cb.groupBy("w1").agg(F.sum("n_12").alias("__c1"))
    right = cb.groupBy("w2").agg(F.sum("n_12").alias("__c2"))
    n = cb.agg(F.sum("n_12").alias("__n"))
    scored = (
        cb.where(F.col("n_12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            # double-space the ratio BEFORE multiplying: long·long would
            # silently overflow at corpus scale (N ~ 1e13 bigrams at
            # 100 TB); ln() is float anyway and both engines divide doubles
            # identically (IEEE / is correctly rounded)
            "pmi_micro",
            F.round(
                F.log(
                    (F.col("n_12").cast("double") * F.col("__n").cast("double"))
                    / (F.col("__c1").cast("double") * F.col("__c2").cast("double"))
                )
                * 1_000_000,
                0,
            ).cast("long"),
        )
    )
    w = Window.partitionBy("w1").orderBy(F.desc("pmi_micro"), F.asc("w2"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= top_k)
        .select(
            "w1", "w2", "n_12", "pmi_micro",
            F.round(F.col("pmi_micro") / 1_000_000.0, 6).alias("pmi"),
            "rnk",
        )
    )


@pinning
def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    thresholds: tuple[int, ...] = (90, 95, 99),
) -> DataFrame:
    """Vocabulary-coverage curve: for each percentage threshold, the
    minimal top-k vocabulary (tokens ranked by frequency desc, token asc)
    whose cumulative token mass reaches that fraction of the corpus — the
    sizing question every tokenizer/vocab-pruning decision asks ("how many
    types cover 99% of tokens?").

    Returns ``(threshold_pct, vocab_size, coverage)`` — ``vocab_size`` the
    minimal k, ``coverage`` the exact mass fraction AT that k (≥ the
    threshold; 6dp).  Comparisons are pure integer arithmetic
    (``cum·100 ≥ pct·total``) — no float thresholds to straddle a
    boundary differently per engine.

    Scale shape: one map-combined token-count agg (corpus → |vocab| rows),
    then ONE prefix-sum spine over the vocabulary table
    (``ids.assign_prefix_sums`` — range exchange + map-only scan; never a
    single-partition window even though |vocab| ~10⁸ at 100 TB), and a
    |vocab|-row min-aggregate per threshold, all in one agg pass.  The
    cumulative-mass monotonicity makes ``min(cum | qualifying)`` the mass
    at the minimal k — no re-join to look it up.
    """
    counts = (
        # ws_tokens: '' from empty docs is not a vocabulary type and its
        # occurrences are not token mass (r13 fix)
        df.select(F.explode(ws_tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ps = assign_prefix_sums(
        counts,
        [F.desc("c"), F.asc("tok")],
        "c",
        out_col="__cum",
        ordinal_col="__rank",
    )
    total = ps._prefix_total
    aggs = []
    for i, pct in enumerate(thresholds):
        cond = F.col("__cum") * 100 >= F.lit(int(pct)) * F.lit(total)
        aggs.append(F.min(F.when(cond, F.col("__rank") + 1)).alias(f"__k{i}"))
        aggs.append(F.min(F.when(cond, F.col("__cum"))).alias(f"__c{i}"))
    # Collect the 1-row aggregate ONCE and unpivot driver-side: the
    # previous union-of-per-threshold-selects planned the agg — a full
    # mapInPandas prefix-sum pass over the |vocab| table — once per
    # threshold (r14 fix, the weighted_quantiles pattern).  The coverage
    # division/rounding stays in Spark so HALF_UP matches the oracle.
    row = ps.agg(*aggs).first()
    spec = df.sparkSession.createDataFrame(
        [
            (
                int(pct),
                None if row[f"__k{i}"] is None else int(row[f"__k{i}"]),
                None if row[f"__c{i}"] is None else int(row[f"__c{i}"]),
            )
            for i, pct in enumerate(thresholds)
        ],
        "threshold_pct int, vocab_size bigint, __cum bigint",
    )
    return spec.select(
        "threshold_pct",
        "vocab_size",
        F.round(F.col("__cum") / F.lit(float(total or 1)), 6).alias("coverage"),
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 5,
    min_docs: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """Corpus boilerplate LEADERBOARD: the top ``top_n`` word n-gram spans
    by distinct-document reach — the report that names the site template /
    navigation bar / cookie banner polluting a crawl, where per-document
    span stats (``dedup.span_dup_stats``) only say THAT a doc is
    boilerplate-ridden.  Returns
    ``(span, n_docs, n_occurrences, rnk)`` for spans in ≥ ``min_docs``
    documents, ranked by (docs desc, occurrences desc, span asc).

    Scale shape: positional spans explode map-side; ONE combined agg on
    the span computes occurrence count and distinct-doc count (map-side
    partials collapse repeated spans within a partition before the
    shuffle); the leaderboard is a TakeOrdered top-N with the rank window
    running post-limit over ≤ top_n rows.  The span text itself is the
    group key — at 100 TB group on the 64-bit span hash and re-attach one
    example text via min(), same volume after combine.
    """
    from re_data_pipeline_spark.functions.text import tokens, word_shingles_of

    spans = df.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("__t")
    ).where(
        # a doc with fewer than span_words tokens has NO spans; without
        # this filter word_shingles_of's floor-at-one injects a phantom
        # truncated span per short doc ('' per empty doc), letting
        # empty-doc duplicates top the leaderboard (r13 fix)
        F.size(F.col("__t")) >= span_words
    ).select(
        F.col(id_col),
        F.explode(word_shingles_of(F.col("__t"), span_words, distinct=False)).alias(
            "span"
        ),
    )
    g = (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct(F.col(id_col)).cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    top = g.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span")
    ).limit(top_n)
    # bounded-global-window: ranks the .limit(top_n) result only
    w = Window.orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))
