"""Training-data selection operators: DSIR importance weighting and a
hashed linear quality classifier.

The reference curates text ad-hoc (regex cleaning + LLM calls, e.g.
``tasks/council_transcripts/transcript_summaries.py``); a 100 TB corpus
needs *principled, cheap* selection passes before anything expensive runs.
Two public techniques, both expressible as pure Spark column algebra:

- **DSIR** (Data Selection via Importance Resampling, Xie et al. 2023):
  score every raw document by how much its hashed-n-gram distribution looks
  like a small target corpus, log p_target(x) - log p_raw(x) under a
  bag-of-hashed-unigrams model.  The feature space is a fixed B-bucket
  hash table, so the learned "model" is a B-row table — broadcastable no
  matter how big the corpus is.

- **Hashed linear classifier** (fastText-style, Joulin et al. 2016): a
  quality score as sigmoid(mean of per-token weights looked up by feature
  hash).  With the weight table keyed by ``hash(token) % B`` the whole
  model inlines into a column expression — zero shuffles, zero joins, the
  scan IS the inference pass.

Cross-engine determinism: token→bucket uses the md5-prefix→BIGINT mapping
(the same primitive as ``operators/dedup.minhash_signature``), and every
floating-point sum is computed over pre-rounded fixed-point BIGINTs so the
result is independent of partitioning / summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import md5_60, tokens
from re_data_pipeline_spark.operators.ids import (
    assign_ordinals,
    assign_prefix_sums,
    hold,
    pin,
    pinning,
    release,
)
from re_data_pipeline_spark.operators.layout import narrow_rescanned_frame

# Fixed-point scale for order-independent floating sums (see module doc).
# 1e6 — NOT finer: the pre-round boundary test |frac(x·scale) − 0.5| must
# stay far above double ulp at the scaled magnitude, or a last-ulp libm
# difference (JVM Math.log vs DuckDB libm) could round the same value to
# different integers in the two engines.
_FIXED = 1_000_000


def hash_bucket(col: Column, n_buckets: int) -> Column:
    """Deterministic token→bucket: :func:`md5_60` mod B.

    Engine-portable: DuckDB spells it
    ``('0x' || substr(md5(x), 1, 15))::BIGINT % B``.
    """
    return md5_60(col) % n_buckets


@pinning
def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """Per-document DSIR log importance weight under hashed unigrams.

    ``weight(doc) = Σ_tok  ln p̂_target(bucket(tok)) − ln p̂_raw(bucket(tok))``
    with add-1 smoothing over the B-bucket vocabulary; ``is_target`` marks
    the rows that define the target distribution (they are also part of the
    raw corpus, as in the paper's setup).

    Returns ``id_col | n_tokens | dsir_logweight`` (weight rounded to 6dp).

    Plan shape: one explode → ONE bucket-count aggregate computes both
    distributions (raw count + conditional target count per bucket — not
    two scans) → the B-row log-ratio table broadcasts back onto the token
    stream → per-document sum.  At 100 TB the only wide exchanges are the
    B-bucket agg (map-side partials collapse it to B rows per task) and the
    final per-doc agg; the model join is a broadcast by construction.

    The per-token log-ratio is rounded to fixed point (1e-9) *before* the
    per-document sum, so the sum is exact BIGINT arithmetic — identical
    under any partitioning and in any engine.
    """
    tok = df.select(
        F.col(id_col), is_target.alias("__tgt"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).withColumn("__b", hash_bucket(F.col("__tok"), n_buckets))

    # PERSIST the B-row bucket table: the totals agg and the model
    # projection both read it, and Catalyst plans each as its own
    # evaluation — without the pin the corpus token explode+agg ran twice
    # (the r14 multiply-referenced-frame rule; B ≤ 4096 rows, trivially
    # pinnable).
    bucket_counts = pin(
        tok.groupBy("__b").agg(
            F.count(F.lit(1)).alias("raw_c"),
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("tgt_c"),
        ).persist()
    )
    totals = bucket_counts.agg(
        F.sum("raw_c").alias("raw_t"), F.sum("tgt_c").alias("tgt_t")
    )
    model = (
        bucket_counts.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            F.round(
                (
                    F.log((F.col("tgt_c") + 1.0) / (F.col("tgt_t") + F.lit(float(n_buckets))))
                    - F.log((F.col("raw_c") + 1.0) / (F.col("raw_t") + F.lit(float(n_buckets))))
                )
                * _FIXED,
                0,
            )
            .cast("long")
            .alias("lw_fixed"),
        )
    )
    return (
        tok.join(F.broadcast(model), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("lw_fixed") / float(_FIXED), 6).alias("dsir_logweight"),
        )
    )


def classifier_weight(bucket: Column, n_buckets: int) -> Column:
    """Deterministic pseudo-trained weight for a feature bucket, in
    [-0.5, 0.5): Knuth multiplicative scramble of the bucket id.  Stands in
    for a trained weight vector — swap the expression for a real
    ``F.element_at(lit(weights), bucket + 1)`` lookup without touching the
    plan shape."""
    return ((bucket * F.lit(2654435761)) % 1048576) / 1048576.0 - 0.5


def classifier_score(
    text_col: Column | str,
    n_buckets: int = 1024,
    scale: float = 4.0,
) -> Column:
    """fastText-style document quality probability as a single column
    expression: ``sigmoid(scale · mean_tok w[hash(tok) % B])``.

    No explode, no join, no shuffle — the weight lookup is inlined algebra
    on the token array, so scoring 100 TB is exactly one map-only scan
    (and it pipelines into whatever filter consumes it).  Per-token weights
    are rounded to 1e-6 fixed point before the array sum → order-exact.
    Returns NULL for empty/whitespace-only text.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    w_fixed = F.transform(
        toks,
        lambda t: F.round(classifier_weight(hash_bucket(t, n_buckets), n_buckets) * 1_000_000, 0).cast(
            "long"
        ),
    )
    total = F.aggregate(w_fixed, F.lit(0).cast("long"), lambda acc, x: acc + x)
    mean = total / (F.size(toks) * 1_000_000.0)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(scale) * mean))


@pinning
def mixture_allocation(
    df: DataFrame,
    domain_col: str,
    size_col: Column | str,
    budget: int,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a sampling budget
    across domains, proportional to each domain's size.

    The "data recipe" step of corpus assembly: given per-domain sizes
    (token counts, doc counts), emit an integer quota per domain that sums
    EXACTLY to ``budget`` — floor(n_d·budget/N) each, then the leftover
    units go to the largest fractional remainders (domain-name tiebreak).
    Temperature-flattened recipes (n^α) are this same operator fed
    pre-scaled sizes.

    Exactness: quotas and remainders are decimal(38,0) arithmetic — no
    floating point anywhere, so the allocation is bit-stable across
    engines and partitionings even at 10^14-token domain sizes where
    ``n·budget`` overflows int64.  Plan shape: one map-side-combined agg to
    |domains| rows, then broadcast joins of two 1-row aggregates and one
    |domains|-row rank window — the 100 TB input reduces immediately; only
    domain-cardinality rows ever shuffle.
    """
    from pyspark.sql.window import Window

    s = F.col(size_col) if isinstance(size_col, str) else size_col
    # PERSIST the |domains|-row quota base: the grand-total agg and the
    # quota projection both read it — without the pin the corpus size agg
    # ran twice (r14 multiply-referenced-frame rule; domains are few).
    counts = pin(
        df.groupBy(domain_col).agg(F.sum(s).cast("decimal(38,0)").alias("n")).persist()
    )
    total = counts.agg(F.sum("n").cast("decimal(38,0)").alias("__t"))
    x = counts.crossJoin(F.broadcast(total))
    prod = F.col("n") * F.lit(budget).cast("decimal(38,0)")
    # Exact integer division: decimal(38,0)/decimal(38,0) yields decimal
    # (38,6) rounded HALF_UP, so floor(prod/__t) overshoots the true floor
    # by 1 whenever the exact fractional part is within 5e-7 of 1.  Compute
    # the remainder first (pmod is exact) and divide the exactly-divisible
    # difference — an exact-integer quotient survives the scale-6 rounding
    # untouched.
    rem = F.pmod(prod, F.col("__t"))
    base = ((prod - rem) / F.col("__t")).cast("decimal(38,0)")
    x = x.withColumn("base", base).withColumn("rem", rem)
    leftover = x.agg(
        (F.lit(budget).cast("decimal(38,0)") - F.sum("base")).alias("__left")
    )
    # bounded-global-window: x is the |domains|-row quota table (one row
    # per domain after the groupBy), never the corpus
    w = Window.orderBy(F.desc("rem"), F.asc(domain_col))
    return (
        x.crossJoin(F.broadcast(leftover))
        .withColumn("__rk", F.row_number().over(w))
        .select(
            domain_col,
            F.col("n").cast("bigint").alias("domain_size"),
            (
                F.col("base")
                + F.when(F.col("__rk") <= F.col("__left"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("quota"),
        )
    )


def grouped_split(
    df: DataFrame,
    group_col: Column | str,
    test_permille: int = 100,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/test assignment: the SPLIT UNIT IS THE GROUP
    (dup-cluster id, source domain, fingerprint), never the row — held-out
    evaluation is worthless if near-duplicates of test docs sit in train,
    so all rows sharing a group key must land on the same side.

    Deterministic md5 bucketing (same primitive as ``hash_bucket``): the
    assignment is a pure map-side column — no shuffle, no stored split
    table, reproducible across runs/engines/backfills, and any future row
    of an existing group routes to that group's side automatically.
    Appends a ``split`` column ('test' iff bucket < test_permille of 1000).
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    bucket = md5_60(F.concat(F.lit(f"{salt}:"), g.cast("string"))) % 1000
    return df.withColumn(
        "split", F.when(bucket < test_permille, F.lit("test")).otherwise(F.lit("train"))
    )


def grouped_kfold(
    df: DataFrame,
    group_col: Column | str,
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """K-fold cross-validation assignment at GROUP granularity — the
    k-way generalization of ``grouped_split``: every row of a group lands
    in the same fold, so no fold's held-out set leaks near-duplicates into
    its training complement.  Map-only md5 bucketing; appends ``fold`` ∈
    [0, k)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    fold = md5_60(F.concat(F.lit(f"{salt}:"), g.cast("string"))) % k
    return df.withColumn("fold", fold.cast("int"))


def stratified_sample_exact(
    df: DataFrame,
    strata_col: Column | str,
    k: int,
    id_col: Column | str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """EXACTLY min(k, |stratum|) rows per stratum, deterministically.

    Per-domain subsampling for corpus recipes needs exact counts (a
    Bernoulli ``df.sample`` gives binomial noise per stratum and a
    different result every partitioning) and reproducibility (the same
    corpus must yield the same sample across runs, engines, and
    backfills).  Order within a stratum is an md5 priority over
    (salt, id) — a fixed random permutation, so growing a stratum leaves
    previously-sampled ids stable until they are outranked, and two
    engines agree bit-for-bit.

    Plan: ONE rank window keyed by the stratum (shuffle by stratum;
    per-partition state is stratum-sized).  A skewed giant stratum is the
    window's known hot key — for those, pre-filter with an approximate
    per-key count and a looser md5-prefix cut before the exact window.
    """
    from pyspark.sql.window import Window

    s = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    pri = F.md5(F.concat_ws(":", F.lit(salt), i.cast("string")))
    w = Window.partitionBy(s).orderBy(pri.asc(), i.asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


@pinning
def quota_sample(
    df: DataFrame,
    domain_col: str,
    budget: int,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Sample EXACTLY ``budget`` rows, proportionally across domains —
    ``mixture_allocation`` (largest-remainder quotas, exact decimal
    arithmetic) composed with ``stratified_sample_exact``'s md5 rank
    window, with the per-domain k coming from the quota table instead of
    a constant.  The corpus-recipe primitive: "give me a 1M-doc sample
    with the corpus's own domain mix, reproducibly".

    Plan: map-combined domain counts → |domains|-row quota table
    (broadcast) → ONE rank window keyed by domain → quota filter.  Note
    a domain's quota can exceed another's size only if sizes change
    between counting and sampling — both run over the same frame here,
    so Σ emitted = budget exactly (quota_d ≤ n_d by construction of
    proportional floors + ≤1 leftover unit per domain).
    """
    from pyspark.sql.window import Window

    q_full = mixture_allocation(
        df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n")),
        domain_col,
        "__n",
        budget,
    )
    quotas = q_full.select(domain_col, "quota")
    pri = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(quotas), domain_col)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("quota"))
        .drop("__rn", "quota")
    )


@pinning
def temperature_quotas(
    df: DataFrame,
    domain_col: str,
    size_col: Column | str,
    budget: int,
    weight_scale: int = 10**6,
) -> DataFrame:
    """Temperature-flattened mixture quotas at T=2 (weights ∝ √size) —
    the multilingual/low-resource up-weighting recipe (p_d ∝ n_d^α with
    α = 1/T): raw proportional sampling starves small domains, √-scaling
    moves budget toward them while preserving the size ordering.

    Returns ``(domain, domain_size, weight, quota)`` with Σ quota =
    ``budget`` exactly (largest-remainder apportionment over the scaled
    weights, via :func:`mixture_allocation`'s exact decimal arithmetic).

    Exactness across engines: α = 1/2 is the one non-trivial temperature
    with a CROSS-ENGINE-EXACT float path — IEEE 754 requires sqrt to be
    correctly rounded (unlike pow/exp/ln, which differ in final ulps
    between libm implementations), so ``floor(sqrt(n)·scale)`` yields the
    identical integer on Spark/JVM and DuckDB/C++ for any n < 2^53.
    Other temperatures: pre-scale sizes yourself (``mixture_allocation``
    accepts any size column) and accept engine-dependent last-ulp weights,
    or use rational powers of 1/2 (n^(1/4) = sqrt∘sqrt, still exact).

    Plan shape: one map-side-combined agg to |domains| rows; everything
    after operates on domain-cardinality data (same 100 TB story as
    ``mixture_allocation``).
    """
    s = F.col(size_col) if isinstance(size_col, str) else size_col
    counts = df.groupBy(domain_col).agg(
        F.sum(s).cast("decimal(38,0)").alias("__n")
    )
    w = F.floor(F.sqrt(F.col("__n").cast("double")) * F.lit(weight_scale)).cast(
        "decimal(38,0)"
    )
    weighted = counts.withColumn("__w", w)
    q_full = mixture_allocation(weighted, domain_col, "__w", budget)
    quotas = q_full.select(
        domain_col,
        F.col("domain_size").alias("weight"),
        "quota",
    )
    return (
        weighted.select(
            domain_col, F.col("__n").cast("bigint").alias("domain_size")
        )
        .join(quotas, domain_col)
        .select(domain_col, "domain_size", "weight", "quota")
    )


@pinning
def snake_shards(
    df: DataFrame,
    size_col: Column | str,
    num_shards: int,
    order_tiebreak: list[Column | str] | None = None,
    shard_col: str = "shard",
) -> DataFrame:
    """Assign rows to ``num_shards`` balanced shards by snake (boustrophedon)
    distribution over the size-descending order — the deterministic,
    fully-distributed cousin of longest-processing-time bin packing for
    carving a corpus into per-worker training shards with near-equal token
    budgets.

    Rank rows by (size desc, tiebreak); row with 0-based ordinal ``o`` goes
    to shard ``r`` if ``r < S`` else ``2S−1−r`` where ``r = o mod 2S``:
    each full pass deals one large+one small row to every shard, so shard
    totals differ by at most the largest item of the final pass — the
    ~(1 + 1/pass-count) balance of LPT without LPT's sequential state.

    Scale shape: the global order comes from ``assign_ordinals``
    (operators/ids.py) — range partition + per-partition sort + map-only id
    arithmetic + a partition-count-sized offset exchange; NO
    single-partition sort stage.  The shard id is then pure row-local
    arithmetic.
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be ≥ 1; got {num_shards}")
    s = F.col(size_col) if isinstance(size_col, str) else size_col
    order = [s.desc()] + [
        (F.col(c) if isinstance(c, str) else c).asc()
        for c in (order_tiebreak or [])
    ]
    o = assign_ordinals(df, order, "__ord")
    r = F.pmod(F.col("__ord"), F.lit(2 * num_shards))
    shard = F.when(r < num_shards, r).otherwise(F.lit(2 * num_shards - 1) - r)
    return o.withColumn(shard_col, shard.cast("int")).drop("__ord")


@pinning
def char_bigram_nll(
    train_df: DataFrame,
    score_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average negative log-likelihood under a character-
    bigram language model trained on ``train_df`` — the perplexity-style
    quality filter of web-corpus curation (CCNet's LM filter, with the
    KenLM swapped for the simplest model that is exactly replayable in
    SQL): gibberish, encoding noise, and boilerplate score high NLL
    against the corpus's own character statistics.

    Returns ``(doc_id, n_bigrams, nll)`` where nll = mean −ln P(c₂|c₁)
    in nats, Laplace-smoothed (P = (cnt(c₁c₂)+1)/(cnt(c₁·)+V), V =
    distinct observed bigram-second characters).  Each bigram's log term
    is rounded to integer MICRO-nats before the per-document sum (the
    DSIR trick, ``dsir_log_weights``): integer sums are exact under any
    partitioning and engine, where a float sum's result depends on
    accumulation order.

    ``score_df`` defaults to ``train_df`` (self-scoring); scoring a
    different corpus left-joins the model and treats unseen bigrams with
    the smoothed floor 1/(cnt(c₁·)+V) — a wholly unseen CONTEXT has
    cnt(c₁·) = 0, so its floor is 1/V → NLL ln V.  Out-of-alphabet
    gibberish therefore scores the worst plausible per-bigram surprise,
    never a free pass (a 0 here would rank foreign-script noise as
    perfect-quality text — the exact inversion a quality filter must not
    have).

    Scale shape: training is one explode + two map-combined aggs down to
    |observed bigrams| rows (alphabet-bounded for alphabetic scripts,
    corpus-bounded for ideographic ones — so the model joins back WITHOUT
    a broadcast hint; AQE gates by measured size).  Scoring shuffles
    Σ bigrams once for the join and once for the per-doc agg.
    """
    from re_data_pipeline_spark.functions.text import char_ngrams

    if score_df is None:
        score_df = train_df
    grams = train_df.select(
        F.explode(char_ngrams(F.col(text_col), 2, distinct=False)).alias("__g")
    ).where(F.length("__g") == 2)
    # PERSIST the bigram count table: ctx, V, the model join, and the
    # floor table all derive from it, and Catalyst plans each reference as
    # its own evaluation — without the pin the training corpus was
    # exploded ~5× per scoring call (the ngram_lm_nll pattern, r14).  The
    # table is |observed bigrams| rows — alphabet-bounded for alphabetic
    # scripts — and pinned for the caller to release.
    big = pin(grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__c2")).persist())
    ctx = big.groupBy(F.substring("__g", 1, 1).alias("__c1")).agg(
        F.sum("__c2").alias("__cc")
    )
    v = big.agg(
        F.count_distinct(F.substring("__g", 2, 1)).cast("double").alias("__v")
    )
    model = (
        big.withColumn("__c1", F.substring("__g", 1, 1))
        .join(ctx, "__c1")
        .crossJoin(F.broadcast(v))
        .select(
            "__g",
            F.round(
                -F.log((F.col("__c2") + 1.0) / (F.col("__cc") + F.col("__v"))) * 1e6, 0
            )
            .cast("long")
            .alias("__nll_fixed"),
        )
    )
    doc_grams = score_df.select(
        F.col(id_col),
        F.explode(char_ngrams(F.col(text_col), 2, distinct=False)).alias("__g"),
    ).where(F.length("__g") == 2)
    floor_nll = (
        ctx.crossJoin(F.broadcast(v))
        .select(
            F.substring(F.col("__c1"), 1, 1).alias("__c1f"),
            F.round(F.log(F.col("__cc") + F.col("__v")) * 1e6, 0)
            .cast("long")
            .alias("__floor"),
        )
    )
    scored = (
        doc_grams.join(model, "__g", "left")
        .withColumn("__c1", F.substring("__g", 1, 1))
        .join(floor_nll, F.col("__c1") == F.col("__c1f"), "left")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "__t",
            F.coalesce(
                F.col("__nll_fixed"),
                F.col("__floor"),  # unseen bigram, seen context: −ln 1/(cc+V)
                # unseen context: cnt(c1·)=0 → floor 1/V → NLL ln V (the
                # worst plausible surprise, NOT 0 — see docstring)
                F.round(F.log(F.col("__v")) * 1e6, 0).cast("long"),
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.sum("__t") / (F.count(F.lit(1)) * 1e6), 6).alias("nll"),
    )


@pinning
def curriculum_interleave(
    df: DataFrame,
    tier_col: str,
    order_cols: list,
    num_tiers: int,
    key_col: str = "interleave_key",
    rank_col: str = "tier_rank",
) -> DataFrame:
    """Deterministic curriculum ordering that ROUND-ROBINS difficulty
    tiers: row r of tier t gets ``interleave_key = r·T + t``, so a
    dataloader sorting by the key sees one row from each tier in rotation
    (easy/medium/hard mixing) instead of a difficulty-sorted corpus —
    the standard curriculum-with-mixing recipe.  Keys are a total order
    but deliberately NOT densified when tiers are unequal (a tier that
    exhausts leaves gaps): densifying would cost a second spine for zero
    training effect.

    ``tier_col`` must hold integers in [0, num_tiers); ``order_cols``
    orders WITHIN a tier (md5 of the id for a shuffled curriculum, a
    quality score for a strict one) and must total-order rows within
    every tier.

    Scale shape: ONE ordinal spine over (tier, order) — never a
    per-tier window (``partitionBy(tier)`` hash-exchanges the corpus
    into ``num_tiers`` reducers: maximal skew by construction).  The
    within-tier rank is ``global ordinal − first ordinal of the tier``,
    with the T first-ordinals from a T-row agg broadcast back.
    """
    t = F.col(tier_col)
    o = assign_ordinals(
        df.withColumn("__t", t.cast("int")),
        [F.asc("__t")] + list(order_cols),
        "__g",
    )
    firsts = o.groupBy("__t").agg(F.min("__g").alias("__t0"))
    return (
        o.join(F.broadcast(firsts), "__t")
        .withColumn(rank_col, (F.col("__g") - F.col("__t0")).cast("bigint"))
        .withColumn(
            key_col,
            (F.col(rank_col) * F.lit(num_tiers) + F.col("__t")).cast("bigint"),
        )
        .drop("__t", "__g", "__t0")
    )


@pinning
def length_bucketed_batches(
    df: DataFrame,
    size_col: str,
    bucket_edges: list[int],
    batch_rows: int,
    order_tiebreak: list = (),
    bucket_col: str = "bucket",
    batch_col: str = "batch",
) -> DataFrame:
    """Length-bucketed inference/training batching: rows are banded by
    ``bucket_edges`` (bucket = #edges ≤ size), ordered size-DESC within
    each band, and grouped into fixed-count batches — the standard
    dynamic-batching recipe that keeps each batch length-homogeneous so
    padding waste stays near zero (batching across the length spectrum
    pads every short row to the batch's longest).

    Adds ``bucket_col`` and ``batch_col`` (0-based within the bucket).
    Deterministic: same data ⇒ same batches, any partitioning.

    Scale shape: ONE ordinal spine over (bucket, size desc, tiebreak) —
    the same never-partitionBy(bucket) discipline as
    ``curriculum_interleave`` (a handful of buckets would hash the corpus
    into a handful of reducers); within-bucket rank = global ordinal −
    the bucket's first ordinal (|buckets|-row broadcast); the batch id is
    row-local integer division.
    """
    if batch_rows < 1:
        raise ValueError(f"batch_rows must be ≥ 1; got {batch_rows}")
    s = F.col(size_col)
    bucket = F.lit(0)
    for e in bucket_edges:
        bucket = bucket + (s >= F.lit(int(e))).cast("int")
    d = df.withColumn(bucket_col, bucket)
    order = [F.asc(bucket_col), s.desc()] + [
        (F.col(c) if isinstance(c, str) else c).asc() for c in order_tiebreak
    ]
    o = assign_ordinals(d, order, "__lb_g")
    firsts = o.groupBy(bucket_col).agg(F.min("__lb_g").alias("__lb_b0"))
    return (
        o.join(F.broadcast(firsts), bucket_col)
        .withColumn(
            batch_col,
            # integer DIV, not floor(float division): ordinals pass 2^53 at
            # extreme scale and a double round-trip is off-by-one there
            F.expr(f"CAST((__lb_g - __lb_b0) DIV {int(batch_rows)} AS BIGINT)"),
        )
        .drop("__lb_g", "__lb_b0")
    )


@pinning
def train_quality_classifier(
    df: DataFrame,
    label_col: Column | str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    iters: int = 3,
    lr_num: int = 1,
    lr_den: int = 2,
    scale: int = 4,
) -> DataFrame:
    """IN-ENGINE training of the hashed linear quality classifier that
    :func:`classifier_score` applies — distributed logistic regression by
    full-batch gradient descent over hashed unigram features (the
    fastText-style scorer of Joulin et al. 2016; the model family behind
    public-pipeline quality filters).  Closes the train→score loop:
    feed the result to :func:`classifier_score_trained`.

    Model: ``p(d) = sigmoid(scale · Σ_b w_b · c_b(d)/n(d))`` — exactly the
    mean-token-weight form `classifier_score` evaluates.  Update per
    iteration: ``w_b ← w_b − (lr_num/lr_den)·scale/N · Σ_d (p_d − y_d)·
    f_b(d)`` with ``f_b = c_b/n``.

    Engine-exact arithmetic (the q161 integer-replay discipline, so a
    DuckDB oracle reproduces every iteration bit-for-bit): features are
    integer fixed-point ``(c·10⁹) div n``; weights are 10⁻⁶ fixed-point
    integers updated in PYTHON bigint arithmetic (no float drift, no
    overflow, no engine floor-vs-truncate division ambiguity — magnitude
    and sign are separated so `//` on non-negatives matches any engine's
    integer division); per-doc sums are decimal/HUGEINT-exact.  The ONLY
    float op is the sigmoid itself, whose input ``zr/10¹⁵`` is an
    integer-valued sum < 2⁵³ (|w|·10⁻⁶ ≤ ~2 and Σ_b f_b ≡ 10⁹ per doc, so
    zr ≤ ~2·10¹⁵ regardless of corpus size) — converted identically to
    IEEE double by both engines, then rounded to 10⁻⁶ before it re-enters
    integer math.

    Scale shape (two aggregates per iteration, the k-means/BPE loop
    discipline): one corpus pass builds the per-(doc, bucket) fixed-point
    feature table (localCheckpointed — iterations never replay
    tokenization); each iteration is (1) a map-combined per-doc aggregate
    with the weight vector inlined as a LITERAL ARRAY (map-only lookup —
    no join, no broadcast of anything corpus-sized), and (2) a
    map-combined per-bucket gradient aggregate; the only driver exchange
    is the ≤``n_buckets``-row gradient collect per iteration.  Docs with
    zero tokens (NULL text) carry no gradient and are excluded from N.

    Returns ``(bucket bigint, weight_fixed bigint, weight double)`` —
    one row per bucket, ``weight = round(weight_fixed/10⁶, 6)``.
    """
    if iters < 1 or n_buckets < 1 or lr_num < 1 or lr_den < 1 or scale < 1:
        raise ValueError("iters, n_buckets, lr_num, lr_den, scale must be ≥ 1")
    if n_buckets > (1 << 17):
        # the weight vector inlines as a LITERAL ARRAY in the per-doc
        # aggregate (map-only lookup, no join) — practical to ~10⁵
        # buckets; beyond that the expression tree itself becomes the
        # bottleneck and a broadcast-join weight table is the right shape
        raise ValueError(
            f"n_buckets={n_buckets} exceeds the literal-array practical "
            f"bound (2^17); use a coarser feature hash or a broadcast-join "
            f"weight lookup for wider models"
        )
    spark = df.sparkSession
    y = F.col(label_col) if isinstance(label_col, str) else label_col

    tb = df.select(
        F.col(id_col),
        y.cast("int").alias("__y"),
        F.explode(tokens(text_col)).alias("__tok"),
    ).withColumn("__b", hash_bucket(F.col("__tok"), n_buckets))
    # cb is deliberately NOT pinned (measured r14): it is doc×bucket-sized
    # — the corpus-scale side the multiply-referenced-frame rule's
    # corollary 1 forbids pinning — and a tried persist DOUBLED the
    # training wall (3.0 → 6.1 s cold at sf0.1: cache-store cost plus the
    # lost pipelining of the nd re-aggregation over the same exchange
    # outweigh the saved tokenize pass inside the one checkpoint job).
    cb = tb.groupBy(id_col, "__y", "__b").agg(F.count(F.lit(1)).alias("__c"))
    nd = cb.groupBy(id_col).agg(F.sum("__c").alias("__n"))
    # the weights are driver rows: nothing downstream derives from the
    # feature checkpoint
    feat = hold(
        cb.join(nd, id_col)
        .select(
            F.col(id_col),
            F.col("__y"),
            F.col("__b"),
            F.expr("CAST((__c * 1000000000) DIV __n AS BIGINT)").alias("__f"),
        )
        .localCheckpoint()
    )
    n_docs = feat.select(id_col).distinct().count()
    den = lr_den * max(n_docs, 1) * 10**9

    w = [0] * n_buckets  # 1e-6 fixed-point weights, exact Python ints
    for _ in range(iters):
        # one SQL parse per round, not 2·n_buckets py4j calls (r19)
        wlit = F.expr("array(" + ", ".join(f"{int(v)}L" for v in w) + ")")
        z = (
            feat.withColumn(
                "__wf", F.element_at(wlit, F.col("__b").cast("int") + 1)
            )
            .groupBy(id_col, "__y")
            .agg(
                F.sum((F.col("__wf") * F.col("__f")).cast("decimal(38,0)")).alias(
                    "__zr"
                )
            )
        )
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-F.lit(float(scale)) * (F.col("__zr").cast("double") / F.lit(1e15)))
        )
        r = z.select(
            F.col(id_col),
            F.round((p - F.col("__y")) * 1_000_000, 0).cast("long").alias("__rf"),
        )
        g = (
            feat.join(r, id_col)
            .groupBy("__b")
            .agg(
                F.sum((F.col("__rf") * F.col("__f")).cast("decimal(38,0)")).alias(
                    "__g"
                )
            )
        )
        for row in g.collect():  # ≤ n_buckets rows — bounded driver exchange
            G = int(row["__g"])
            mag = (lr_num * scale * abs(G)) // den
            w[int(row["__b"])] -= mag if G > 0 else -mag
    out = spark.createDataFrame(
        [(b, w[b]) for b in range(n_buckets)], "bucket bigint, weight_fixed bigint"
    )
    return out.select(
        "bucket",
        "weight_fixed",
        F.round(F.col("weight_fixed") / 1_000_000.0, 6).alias("weight"),
    )


def classifier_score_trained(
    text_col: Column | str,
    weights_fixed: list[int],
    scale: float = 4.0,
) -> Column:
    """Apply a TRAINED hashed linear quality model (the ``weight_fixed``
    column of :func:`train_quality_classifier`, collected to a list —
    model-sized, ≤ n_buckets values) as a single map-only column
    expression: identical plan shape to :func:`classifier_score`, with the
    pseudo-weight scramble swapped for a literal-array lookup — exactly
    the swap `classifier_score`'s docstring promises.  Per-token weights
    are already 10⁻⁶ fixed-point integers, so the array sum is exact
    BIGINT math; returns NULL for empty/whitespace-only text."""
    n_buckets = len(weights_fixed)
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    wlit = F.expr("array(" + ", ".join(f"{int(v)}L" for v in weights_fixed) + ")")
    w_fixed = F.transform(
        toks,
        lambda t: F.element_at(wlit, hash_bucket(t, n_buckets).cast("int") + 1),
    )
    total = F.aggregate(w_fixed, F.lit(0).cast("long"), lambda acc, x: acc + x)
    mean = total / (F.size(toks) * 1_000_000.0)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(scale) * mean))


@pinning
def contiguous_pack(
    df: DataFrame,
    order_cols: list,
    size_col: str,
    ctx_len: int,
    chunk_col: str = "chunk",
    start_col: str = "tok_start",
    end_col: str = "tok_end",
    count_col: str = "n_chunk_tokens",
) -> DataFrame:
    """GPT-style concat-and-chunk packing: documents are conceptually
    concatenated in ``order_cols`` order into one token stream, and the
    stream is cut into fixed ``ctx_len`` windows — the standard
    pretraining dataloader recipe (docs split across window boundaries;
    zero padding anywhere).  Emits one row per (document × window it
    touches): the window id and the 1-based inclusive in-document token
    range ``[start_col, end_col]`` that lands in it — exactly the slice
    spec a tokenizing writer consumes.  q97's greedy bin packing is the
    no-split sibling (whole docs, per-shard bins); this is the
    contiguous-stream form.

    All arithmetic is integer: a doc owning global token interval
    [cum − size, cum) touches windows ``(cum−size) DIV C`` through
    ``(cum−1) DIV C``, and each overlap is a greatest/least clamp — no
    float division anywhere, so the layout is engine-exact and
    boundary-stable.  Zero-size docs own no tokens and are dropped.

    Scale shape: ONE prefix-sum spine over the ordering
    (``ids.assign_prefix_sums`` — range exchange + map-only Arrow scan),
    then row-local window arithmetic with a per-doc fan-out of
    ``size/C + 1`` rows (the document's own window count — data-mass-
    proportional, never corpus-quadratic).  No further shuffle: the
    explode pipelines into the scan's output.
    """
    if ctx_len < 1:
        raise ValueError(f"ctx_len must be ≥ 1; got {ctx_len}")
    spine = assign_prefix_sums(df, order_cols, size_col, out_col="__cum")
    sz = F.col(size_col).cast("long")
    p = spine.where(sz > 0).withColumn("__st", F.col("__cum") - sz)
    c = F.lit(int(ctx_len)).cast("long")
    ks = F.sequence(
        F.expr(f"__st DIV {int(ctx_len)}"),
        F.expr(f"(__cum - 1) DIV {int(ctx_len)}"),
    )
    return (
        p.withColumn("__k", F.explode(ks))
        .withColumn("__ov_s", F.greatest(F.col("__st"), F.col("__k") * c))
        .withColumn("__ov_e", F.least(F.col("__cum"), (F.col("__k") + 1) * c))
        .withColumn(chunk_col, F.col("__k").cast("bigint"))
        .withColumn(
            start_col, (F.col("__ov_s") - F.col("__st") + 1).cast("bigint")
        )
        .withColumn(end_col, (F.col("__ov_e") - F.col("__st")).cast("bigint"))
        .withColumn(count_col, (F.col("__ov_e") - F.col("__ov_s")).cast("bigint"))
        .drop("__cum", "__st", "__k", "__ov_s", "__ov_e")
    )


# Above this k, kcenter_select switches from the literal-inlining greedy
# route to the persisted-min-dist incremental route: the greedy plan at
# round r carries r·dim vector literals in ONE projection, so
# codegen/analysis cost grows O(k·dim) per round and the route stops being
# viable long before the k≈10³ of coreset practice.
_KCENTER_GREEDY_MAX_K = 64
# The incremental route localCheckpoints its frame every this many rounds.
_KCENTER_CHECKPOINT_EVERY = 8

@pinning
def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _plan_probe=None,
) -> DataFrame:
    """Greedy k-center (farthest-point / max-min) selection over an
    embedding column — the coreset/diversity-selection primitive of
    training-data curation (Sener & Savarese 2018 active-learning
    coresets; the diversification step of D4, Tirumala et al. 2023, which
    pairs it with SemDeDup — `operators/dedup.semantic_dedup_pipeline` —
    and prototype clustering — `similarity.ivf_kmeans`).  Gonzalez-1985
    greedy gives the classic 2-approximation to the k-center objective.

    Deterministic: the seed is the minimum-id row; each round picks the
    point maximizing the INTEGER micro-distance (squared Euclidean ×1e6,
    HALF_UP) to its nearest chosen center, ids ascending on ties.  The
    distance fold is a left-to-right `F.aggregate` over `zip_with`
    products on DOUBLE — the q35/q174 cross-engine exactness shape — so
    the selection replays bit-for-bit in the DuckDB oracle's ordered
    `list_reduce`.  Rows with a NULL id or NULL vector are excluded up
    front (a NULL id would otherwise seed the selection and poison the
    not-yet-chosen filter; a NULL vector has no distance).

    Returns ``(center_rank, id_col, dist_micro)``: the k selected rows in
    selection order — ``id_col`` keeps the input column's type —
    ``dist_micro`` the max-min radius AT SELECTION TIME (NULL for the
    seed): the coverage-radius curve a data-selection run reports.

    Two physical routes, identical results, chosen by ``k``:

    - greedy (k ≤ 64): k rounds, each ONE map-only pass
      computing the min distance to ALL ≤k chosen centers (center vectors
      are k×dim DRIVER LITERALS — the k-means/q103 pattern; never a join,
      never a broadcast relation) followed by a 1-row TakeOrdered argmax.
      Zero persisted state, but round r's projection embeds r·dim
      literals — O(k²·n·dim) total work AND O(k·dim) plan growth per
      round, so it is capped at k ≤ 64.
    - incremental (k > 64): maintains a persisted
      ``__md = min distance to the chosen set`` column, updated each
      round against ONLY the newest center — O(dim) literals per round,
      O(k·n·dim) total work.  Each round's frame is materialized (the
      argmax collect) with the previous round's cache released;
      ``localCheckpoint`` every 8 rounds truncates the lineage so the
      analyzed plan stays O(8·dim) regardless of k.  Same per-center
      rounding, same least() fold order → bit-identical to greedy (least
      of per-center HALF_UP integers is associative), which the
      conformance tests assert.  The interval
      dropped 32 → 8 in r18: execution always hits the previous round's
      cache, but ANALYSIS re-walks the whole logical chain since the last
      checkpoint every round — measured per-round driver cost grows with
      that depth while the per-round literals cost nothing (same-vs-fresh
      literal probe: plan med 25 ms vs 13 ms, argmax unchanged), so a
      shallower truncation cap is a pure driver-time win at any scale
      (6 more 1-job truncations per 65 rounds vs ~O(depth) analysis on
      every round; q214 wall 24.9–34.7 s → 15.0–22.6 s same-host A/B).

    Scale shape (100 TB): both routes shuffle NOTHING — per-round traffic
    is one 1-row TakeOrdered argmax; the incremental route adds one
    n-row cache per round (previous round's released) and a checkpoint
    every 8 rounds.

    ``_plan_probe`` (tests only): called with ``(round, frame)`` before
    each incremental argmax so the O(dim)-per-round plan-growth contract
    is assertable from outside.
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1; got {k}")

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("center_rank", IntegerType(), False),
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField("dist_micro", LongType(), True),
        ]
    )
    e = df.select(F.col(id_col), F.col(vec_col)).where(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    # the frame is re-scanned once per round (see operators/layout.py)
    e = narrow_rescanned_frame(e)
    seed = e.orderBy(F.asc(id_col)).limit(1).collect()
    if not seed:
        return df.sparkSession.createDataFrame([], out_schema)

    from re_data_pipeline_spark.functions.vectors import micro_sq_dist

    def d_micro(center_vec: list) -> Column:
        # pass the NAME, not F.col(...): micro_sq_dist's one-SQL-parse fast
        # path needs a plain identifier, and this expression is rebuilt
        # with fresh literals every round (r19 driver-time fix)
        return micro_sq_dist(vec_col, center_vec)

    chosen = [(0, seed[0][id_col], None)]

    if k <= _KCENTER_GREEDY_MAX_K:
        center_vecs = [list(seed[0][vec_col])]
        for r in range(1, k):
            md = F.least(*[d_micro(c) for c in center_vecs]) \
                if len(center_vecs) > 1 else d_micro(center_vecs[0])
            far = (
                e.where(~F.col(id_col).isin([c[1] for c in chosen]))
                .select(id_col, vec_col, md.alias("__md"))
                .orderBy(F.desc("__md"), F.asc(id_col))
                .limit(1)
                .collect()
            )
            if not far:  # fewer than k rows: return what exists
                break
            chosen.append((r, far[0][id_col], far[0]["__md"]))
            center_vecs.append(list(far[0][vec_col]))
        return df.sparkSession.createDataFrame(chosen, out_schema)

    # Incremental route: __md carries min-dist-to-chosen-set; each round
    # folds in ONLY the newest center.  least(a, b) over per-center
    # HALF_UP integers ≡ greedy's least over all centers at once.  Every
    # round frame is held (the result is driver rows); a persisted round
    # is released once its child is materialized, a checkpoint only once
    # the NEXT checkpoint is (see release_local_checkpoint's recompute
    # caveat).
    frame = hold(
        e.where(F.col(id_col) != F.lit(seed[0][id_col]))
        .withColumn("__md", d_micro(list(seed[0][vec_col])))
        .persist()
    )
    prev = None  # the persisted parent of the frame the next argmax materializes
    last_ckpt = None  # the checkpointed frame still serving as lineage root
    for r in range(1, k):
        if _plan_probe is not None:
            _plan_probe(r, frame)
        far = frame.orderBy(F.desc("__md"), F.asc(id_col)).limit(1).collect()
        release(prev)  # materialized child no longer needs it
        prev = frame if frame.is_cached else None  # checkpoints retire via last_ckpt
        if not far:
            break
        chosen.append((r, far[0][id_col], far[0]["__md"]))
        if r == k - 1:
            # the frame update below would never be read — building it
            # anyway cost one full eager-checkpoint pass whenever the
            # last round landed ON a checkpoint boundary (q214's exact
            # configuration: k=65, r=64)
            break
        frame = frame.where(F.col(id_col) != F.lit(far[0][id_col])).withColumn(
            "__md", F.least(F.col("__md"), d_micro(list(far[0][vec_col])))
        )
        if r % _KCENTER_CHECKPOINT_EVERY == 0:
            frame = hold(frame.localCheckpoint(eager=True))  # truncate lineage
            # the previous checkpoint stops being any live frame's
            # lineage root the moment the new one is materialized
            release(last_ckpt)
            last_ckpt = frame
        else:
            frame = hold(frame.persist())
    return df.sparkSession.createDataFrame(chosen, out_schema)
