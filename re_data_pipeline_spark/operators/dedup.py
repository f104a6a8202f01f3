"""Deduplication operators — exact and near-dup (north-star extension).

A training-data pipeline at 100 TB needs dedup as a first-class relational
operator.  Four tiers, all shuffle-planned by Catalyst:

1. **Exact** — hash-groupBy on a normalized fingerprint (md5); one shuffle.
2. **N-gram Jaccard** — exact set similarity via shingle explode + equi-join
   on shingle; O(total shingles) shuffle, correct but quadratic in cluster
   size — use on candidate pairs, not the full corpus.
3. **MinHash + LSH** — the scale path: constant-size signature per document,
   band-bucket equi-join produces candidate pairs without any cross join.
4. **SimHash** — 60-bit signed-projection fingerprint; hamming distance on a
   single BIGINT.

Determinism/portability: every hash is derived from ``md5`` (not Spark's
xxhash64/murmur) so signatures are bit-identical in any engine — the DuckDB
oracle recomputes them exactly.  MinHash semantics follow Broder: h_i(s)
must be ``num_hashes`` INDEPENDENT hash functions of the shingle.  The
implementation derives 4 functions per digest by splitting each 128-bit
md5 into four disjoint 32-bit hex lanes (h_{4d+j}(s) = bits [32j, 32j+32)
of md5(s || '#d')) — ⌈num_hashes/4⌉ digests per shingle instead of
num_hashes, measured 0.42× the 16-digest form on sf0.1 signatures with
identical LSH behavior (each lane is a distinct random function of s, so
per-lane argmins are independent).  Two measured-and-rejected "one digest
per shingle" ARITHMETIC shortcuts, kept here as a warning — both differ
from lane-splitting in that their g_i are algebraic functions of a single
shared value rather than disjoint bits of the digest:

- Kirsch–Mitzenmacher g_i = h1 + i·h2 keeps the *ordering* of shingles
  nearly identical across rows, so all rows of a band pick the same argmin
  shingle and band-match probability collapses from s^bands toward s —
  at sf0.1 it produced 14,296 candidate pairs (one 2,606-doc spurious
  component) where Broder produces 256.  Any family whose g_i are positive
  linear forms over digest slices fails the same way: only shingles on the
  lower-left convex hull of the digest point set can ever be a row minimum.
- The fix — 2-universal g_i = (A_i·h1 + B_i·h2) mod 2^32 — restores
  exactly Broder's 256 pairs, but is *not faster here*: one conv()-decoded
  digest + 16 arithmetic transforms measured 0.48–0.55 s vs 16 digests'
  0.29–0.36 s for sf0.1 signatures (JVM md5 on short strings is cheap;
  higher-order-function arithmetic and radix conversion are not).  Lane
  substrings stay string-typed end to end — no decode, no arithmetic.

Measure, don't guess: lane-split md5 is both DuckDB-replayable (substr of
md5 hex) and the fastest correct variant in this engine.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from re_data_pipeline_spark.functions.text import (
    doc_fingerprint,
    md5_60,
    tokens,
    word_shingles,
    word_shingles_of,
)
from re_data_pipeline_spark.operators.graph import arrow_id_array, arrow_id_columns, integral_ids
from re_data_pipeline_spark.operators.ids import hold, pin, pinning, release
from re_data_pipeline_spark.operators.layout import (
    fits_one_task,
    narrow_small_frame,
    widen_for_pairs,
    widen_small_frame,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per normalized-text fingerprint (lowest id wins —
    deterministic, unlike dropDuplicates' partition-order winner).

    One hash shuffle on the 128-bit fingerprint; at 100 TB the fingerprint
    groupBy is map-side combined and the full text never shuffles.

    NULL text coalesces to a sentinel fingerprint so NULL-text rows dedup to
    one survivor (lowest id) instead of vanishing — NULL keys never match in
    the semi join, and ``dropDuplicates`` (the semantics being improved on)
    keeps one NULL row.  The sentinel cannot collide: real fingerprints are
    32-char md5 hex.
    """
    fp = df.withColumn(
        "__fp", F.coalesce(doc_fingerprint(F.col(text_col)), F.lit("__null__"))
    )
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["__fp", id_col], "left_semi").drop("__fp")


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """Append a MinHash signature column ``array<string>[num_hashes]``.

    Hash family: h_{4d+j}(shingle) = hex lane j (8 chars = 32 bits) of
    md5(shingle || '#d') — ⌈num_hashes/4⌉ digests per shingle, 4
    independent functions per digest.  signature[i] = min of h_i over the
    document's distinct word-shingles (lanes are fixed-length hex, so
    lexicographic min = numeric min).  Disjoint digest bits are
    independent random functions of the shingle — the property LSH band
    amplification requires (the module docstring documents the arithmetic
    shortcut families that DON'T have it, and why).  Pure expressions
    (transform + array_min) — map-only, no shuffle, no UDF.

    Performance shape (measured at sf0.01/sf0.1): the shingle array AND
    the per-digest arrays must be *materialized columns* — inlining the
    shingle expression recomputes tokenize→shingle→distinct per reference
    (~40× slower), and inlining the digest transform recomputes md5 once
    per lane (4×); CollapseProject leaves multiply-referenced non-cheap
    columns alone, so withColumn materialization is what pins them.  The
    mins must be num_hashes flat expressions, not a nested
    ``transform(sequence(...), i -> ...)`` whose outer-lambda reference
    blocks codegen (~8× slower).
    """
    lanes_per_digest = 4
    num_digests = -(-num_hashes // lanes_per_digest)
    # widen BEFORE the per-shingle digest work (guide §2.5 input
    # parallelism): every caller either persists this operator's output
    # (bucket tables, estimate signatures) or consumes it exactly once
    # (retraction/update index builds), so the round-robin exchange is
    # paid once while the md5-per-shingle map work — measured as 1-task
    # 1.3-2.4 s stages on the 1-row-group local parquet — spreads to all
    # cores.  The stats gate skips it when the scan already has ≥cores
    # natural splits (a real 100 TB input).
    sh_df = widen_small_frame(df).withColumn(
        "__toks", tokens(F.col(text_col))
    ).withColumn(
        "__sh", word_shingles_of(F.col("__toks"), shingle_words)
    )

    def digest_d(d: int):
        # single-parameter lambda: pyspark inspects lambda arity, and a
        # two-arg lambda would receive the array INDEX as its second
        # argument — silently shadowing a closure default (`lambda s, d=d`
        # is a trap here).
        tag = F.lit(f"#{d}")
        return lambda s: F.md5(F.concat(s, tag))

    for d in range(num_digests):
        sh_df = sh_df.withColumn(
            f"__dig{d}", F.transform(F.col("__sh"), digest_d(d))
        )

    def lane_j(j: int):
        start = 1 + 8 * j
        return lambda x: F.substring(x, start, 8)

    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col(f"__dig{i // lanes_per_digest}"), lane_j(i % lanes_per_digest))
            )
            for i in range(num_hashes)
        ]
    )
    out = sh_df.withColumn(out_col, sig).drop("__sh", "__toks")
    return out.drop(*[f"__dig{d}" for d in range(num_digests)])


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Explode a MinHash signature into (id, band, band_key) bucket rows.

    band_key = md5 of the band's signature slice; two docs share a bucket iff
    their band slices agree exactly — the standard LSH AND-OR construction.
    Output is the shuffle-friendly form: candidate generation is a plain
    equi-join on (band, band_key), never a cross join.
    """
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band))
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        df.select(F.col(id_col), F.explode(band_entries).alias("e"))
        .select(id_col, F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key"))
    )


def _band_pairs(buckets: DataFrame, id_col: str) -> DataFrame:
    """``(id_a, id_b)`` with id_a < id_b, one row per (band, band_key)
    bucket the two documents share — the LSH band self-join over
    ``lsh_bands`` rows.  A pair sharing several bands repeats: callers
    dedupe."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))


@pinning
def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) via MinHash-LSH banding.

    Plan shape at scale: map-only signature pass → explode to bands (×bands
    rows) → hash shuffle on band_key → pair emit → distinct.  Skewed buckets
    (e.g. boilerplate docs) are AQE-split; no O(n²) stage exists.

    ``materialize=False`` skips the persist + localCheckpoint and returns
    the raw lineage — for plan inspection (tools/explain_audit.py) and
    single-consumer callers; the default materialized form is what the
    multi-reference verification pipelines need.  That form returns the
    pair-list checkpoint itself, pinned, so ``ids.release_spines`` frees
    it.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(df, text_col, num_hashes, shingle_words)
    buckets = lsh_bands(sigs, id_col, "minhash", bands, rows_per_band)
    if not materialize:
        return _band_pairs(buckets, id_col).distinct()
    # The self-join references `buckets` twice; without a persist Spark
    # recomputes the full tokenize→shingle→digest pipeline for each side
    # (ReuseExchange doesn't fire: AQE broadcasts one side, so the two
    # sides use different exchange types).
    # The pair list is localCheckpoint'ed — small (candidate pairs, not
    # corpus rows), and downstream consumers reference it repeatedly
    # anyway — which materializes it eagerly, so the bucket cache is dead
    # when the operator returns.
    buckets = hold(buckets.persist())
    return pin(_band_pairs(buckets, id_col).distinct().localCheckpoint())


def _shingle_set(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int,
    out_id: str | None = None,
) -> DataFrame:
    """Distinct ``(id, s)`` rows: each document's word ``shingle_words``-
    shingles, the id column renamed to ``out_id`` when given."""
    doc = F.col(id_col) if out_id is None else F.col(id_col).alias(out_id)
    return (
        df.select(doc, tokens(F.col(text_col)).alias("__toks"))
        .select(
            out_id or id_col,
            F.explode(word_shingles_of(F.col("__toks"), shingle_words)).alias("s"),
        )
        .distinct()
    )


def _shingle_overlap(sh: DataFrame, id_col: str) -> DataFrame:
    """``(id_a, id_b, inter, sz_a, sz_b)`` for every pair id_a < id_b that
    shares a shingle of the ``_shingle_set`` table ``sh``: the shared-
    shingle count and both set sizes, from one self-equi-join on the
    shingle (never a cross join)."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a"
    ).join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-shingle Jaccard similarity for all intersecting pairs.

    Shingle-explode + self-equi-join on the shingle — only pairs sharing at
    least one shingle are materialized (never a cross join).  Exact and
    shuffle-heavy: the verification stage after LSH candidate generation, or
    a direct operator on corpora small enough to afford it.
    """
    # the shingle table is deliberately NOT pinned (measured r14): its
    # four references DO re-plan the explode+distinct, but the re-
    # evaluations pipeline through shared scan work where a persist adds
    # a corpus-shingle-sized cache store and blocks the exchange sharing
    # — a tried pin DOUBLED q34's cold wall (1.11 → 2.35 s at sf0.1), the
    # same measurement that rejected the prefix_filter_pairs persist.
    sh = _shingle_set(df, id_col, text_col, shingle_words)
    return (
        _shingle_overlap(sh, id_col)
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_on_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
) -> DataFrame:
    """Exact Jaccard computed ONLY for given candidate pairs (id_a, id_b).

    This is the scalable verification shape: the corpus is first semi-joined
    down to docs that appear in some candidate pair, and only THOSE docs'
    shingles explode — cost proportional to the candidates' shingles, not
    the corpus shingle count.  (Without the semi-join the explode+distinct
    shuffles every shingle string in the corpus just to verify a handful of
    pairs — measured 7.6 s → 2.9 s on the sf0.1 documents table.)
    """
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # NOT pinned (measured r14): the three references re-plan the
    # candidate-bounded explode+distinct, but pinning it measured SLOWER
    # across every consumer (q71 via near_dedup, q153, q100's sibling —
    # cache-store cost beats the pipelined re-evaluation; the same
    # measurement that rejected the prefix_filter_pairs persist).
    sh = _shingle_set(df.join(cand_ids, id_col, "left_semi"), id_col, text_col, shingle_words)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a"))
    sb = sh.select(F.col(id_col).alias("id_b2"), F.col("s").alias("s_b"))
    inter = (
        pairs.join(sa, "id_a")
        .join(
            sb,
            (F.col("id_b") == F.col("id_b2")) & (F.col("s_a") == F.col("s_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"inter": 0})
        .join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .select("id_a", "id_b", "jaccard")
    )


def _confirmed_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_words: int,
    bands: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """LSH candidates → exact-Jaccard confirmation: ``(cands, confirmed)``,
    the pinned candidate checkpoint and its ``(id_a, id_b, jaccard)`` rows
    with Jaccard ≥ ``threshold``.

    The pair list arrives already localCheckpoint'ed (materialized once,
    bucket cache released inside the operator) and pinned: verification
    references it four times (scoping union ×2, intersection join, final
    left join) and each reference would otherwise replay the bucket
    self-join+distinct.  Measured on sf0.1 documents: 7.6 s → 1.1 s for
    the whole ``near_dedup_pipeline``."""
    cands = lsh_candidate_pairs(df, id_col, text_col, num_hashes, shingle_words, bands)
    verified = jaccard_on_pairs(cands, df, id_col, text_col, shingle_words)
    return cands, verified.where(F.col("jaccard") >= F.lit(threshold))


def _confirmed_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_words: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """``connected_components`` over the ``_confirmed_pairs`` graph →
    ``(node, component)``.  CC materializes the confirmed pairs (its edge
    checkpoint + per-round counts), so the pair-list checkpoint is dead
    once it returns and is released here; CC's FINAL label checkpoint
    backs the result, and CC pins it."""
    cands, confirmed = _confirmed_pairs(
        df, id_col, text_col, num_hashes, shingle_words, bands, threshold
    )
    comps = connected_components(confirmed.select("id_a", "id_b"))
    release(cands)
    return comps


@pinning
def near_dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-duplicate removal: MinHash-LSH candidate generation →
    exact-Jaccard verification on candidates only → drop the higher id of
    each confirmed pair (greedy lowest-id-wins, the standard single-pass
    policy).  Returns the surviving rows of ``df``.

    Plan shape at 100 TB: map-only signatures → band-bucket equi-join →
    candidate-scoped Jaccard joins → small anti-join.  No stage is
    quadratic in corpus size.
    """
    # the pinned pair-list checkpoint backs the returned lineage
    _, confirmed = _confirmed_pairs(
        df, id_col, text_col, num_hashes, shingle_words, bands, threshold
    )
    losers = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


@pinning
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair graph → (node, component)
    with component = min node id in the component.

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels; stop when no label changes.
    Each round is one join + one groupBy (shuffle on node id); lineage is
    truncated with localCheckpoint so the plan doesn't grow per iteration.
    Rounds needed ≈ graph diameter (near-dup clusters are tiny), and the
    same loop is how large-scale CC runs on clusters (alternating
    big-star/small-star is the heavily-skewed-graph refinement).

    The transitive closure this computes is what upgrades greedy pair-wise
    dedup (drop id_b of each pair) into true cluster dedup: A~B, B~C drops
    both B and C even when (A,C) was never a candidate pair.

    One task: when the edge checkpoint measures under
    ``layout.fits_one_task`` and the ids are integral, the same
    synchronous rounds, capped at ``max_iterations``, run in one task
    (``coalesce(1)`` + ``mapInArrow``, numpy int64; executors need numpy
    and pyarrow).  The solver emits the last round's ``__changed`` flag,
    so the lazy checkpoint and its one count job below pin the result and
    raise the same non-convergence error.  Above the gate, or when the
    size is unknown, the distributed loop runs.
    """
    edges = hold(narrow_small_frame(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize: the edge list is referenced 2× per iteration, and its
        # lineage may be an expensive candidate-generation pipeline
    ).localCheckpoint())
    if fits_one_task(edges) and integral_ids(edges):
        ids = edges.schema.fields[0]
        schema = StructType([
            StructField("node", ids.dataType, ids.nullable),
            StructField("comp", ids.dataType, ids.nullable),
            StructField("__changed", BooleanType()),
        ])
        new_labels = pin(
            edges.coalesce(1)
            .mapInArrow(lambda it: _cc_solve(it, max_iterations), schema)
            .localCheckpoint(eager=False)
        )
        # zero rounds never converge, as in the loop's for/else
        if max_iterations < 1 or new_labels.where(F.col("__changed")).count():
            raise _cc_exhausted(max_iterations)
        return new_labels.select(F.col("node"), F.col("comp").alias("component"))
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    prev_ckpt = None  # round r-1's label checkpoint — dead once round r's is full
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        # the change flag is computed in the SAME select (old and new label
        # are both in the row) — no extra join-with-previous-labels probe.
        # One job per round: the checkpoint is LAZY and the convergence count
        # is the materializing action, so the count job computes every
        # partition (a full count, never limit(1) — a short-circuiting action
        # would truncate lineage with partitions missing from the cache),
        # caches the blocks, and returns the probe in the same pass.  The
        # final round's checkpoint backs the returned frame: pinned.
        new_labels = pin(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias("comp"),
                (F.coalesce(F.col("nmin"), F.col("comp")) < F.col("comp")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("__changed")).count()
        # the count fully materialized new_labels, so the previous round's
        # checkpoint is no longer anyone's lineage root — release its blocks
        # (unpersist/clearCache can't see checkpoint storage)
        release(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    else:
        # loop exhausted without converging: labels are WRONG for any chain
        # longer than max_iterations — wrong dedup silently keeps duplicates,
        # so fail loudly instead
        raise _cc_exhausted(max_iterations)
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def _cc_exhausted(max_iterations: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations (graph diameter too large) — raise max_iterations"
    )


def _cc_solve(batches, max_iterations: int):
    """``connected_components``' synchronous min-label rounds over the
    whole symmetric ``(src, dst)`` edge list in one task → ``(node, comp,
    __changed)`` with the last round's change flag.  A null id never
    joins, so it stays an isolated ``(null, null)`` row, as in the loop."""
    import numpy as np
    import pyarrow as pa

    cols = arrow_id_columns(batches)
    if cols is None:
        return
    s, s_null, d, d_null, id_type = cols
    nodes = np.unique(s[~s_null])  # the edge list is symmetric
    live = ~(s_null | d_null)
    order = np.argsort(s[live], kind="stable")
    si = np.searchsorted(nodes, s[live][order])
    di = np.searchsorted(nodes, d[live][order])
    starts = np.flatnonzero(np.r_[True, si[1:] != si[:-1]]) if len(si) else si
    grp = si[starts]
    comp = nodes.copy()
    changed = np.zeros(len(nodes), dtype=bool)
    for _r in range(max_iterations):
        nmin = np.minimum.reduceat(comp[di], starts) if len(si) else comp[grp]
        changed = np.zeros(len(nodes), dtype=bool)
        changed[grp] = nmin < comp[grp]
        comp[grp] = np.minimum(comp[grp], nmin)
        if not changed.any():
            break
    has_null = bool(s_null.any())
    yield pa.RecordBatch.from_arrays(
        [
            arrow_id_array(nodes, has_null, id_type),
            arrow_id_array(comp, has_null, id_type),
            pa.array(np.append(changed, [False] * has_null), pa.bool_()),
        ],
        names=["node", "comp", "__changed"],
    )


@pinning
def connected_components_bss(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*, SoCC
    2014) → (node, component) with component = min node id, identical
    output contract to ``connected_components``.

    Why a second algorithm: min-label propagation needs ~diameter rounds
    and every round shuffles the full neighborhood of every high-degree
    node — on a skewed graph (one boilerplate doc colliding with millions)
    the hub's edge list hits the same reducer every round.  Large-star
    rewires every *larger* neighbor of a node directly to its current
    minimum, small-star does the same for the smaller ones; together they
    contract paths at doubling speed (O(log² n) rounds regardless of
    diameter) **and monotonically shrink hub degrees** — the hot reducer
    disappears after the first rewire rather than persisting to
    convergence.  This is the variant to reach for at 100 TB when the
    candidate graph is long-chained or hub-skewed; for the tiny-diameter
    clusters typical of near-dup output, plain label propagation has one
    fewer shuffle per round (no re-orientation pass) so both stay exposed.

    Each round is two join+groupBy stages over the *current* edge list
    (which only ever shrinks toward the star forest); lineage is truncated
    per round with localCheckpoint.  Convergence = the oriented edge set is
    a fixpoint of large∘small, checked EXACTLY via one symmetric-difference
    count (both sides are distinct sets, so a (u,v) group seen in only one
    side ⟺ the sets differ — never a count/checksum probe, which could
    silently converge on a hash collision and ship wrong dedup labels).
    The probe doubles as the round checkpoint's materializing action (r18,
    guide §2.4): the pre-r18 round ran an EAGER checkpoint job plus TWO
    exceptAll probe jobs, each shuffling both edge sets — one full-count
    probe over the union materializes the lazy checkpoint (a full count,
    never limit(1): a short-circuiting action would truncate lineage with
    partitions missing from the cache — the connected_components
    precedent) and performs the set comparison in the same pass, 3 jobs /
    3 edge-set shuffles per round → 1 job / 1 shuffle.
    """

    def _dedup_edges(e: DataFrame) -> DataFrame:
        return e.where(F.col("u") != F.col("v")).distinct()

    def _large_star(e: DataFrame) -> DataFrame:
        # undirected neighborhood view; m(u) = min(Γ(u) ∪ {u});
        # emit (v, m(u)) for every neighbor v > u
        d = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = d.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        return _dedup_edges(
            d.join(mins, "u").where(F.col("v") > F.col("u")).select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient each edge from its larger endpoint: u > v; m(u) = min
        # smaller-neighbor; emit (v, m(u)) for all smaller neighbors v and
        # re-attach u itself to m(u)
        d = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        ).distinct()
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        rewired = d.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        return _dedup_edges(rewired.union(mins.select(F.col("u"), F.col("m").alias("v"))))

    edges = hold(narrow_small_frame(
        _dedup_edges(pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    ).localCheckpoint())
    for _ in range(max_iterations):
        # the final round's checkpoint backs the returned frame: pinned
        new_edges = pin(_small_star(_large_star(edges)).localCheckpoint(eager=False))
        # exact fixpoint probe AND checkpoint materializer in one job:
        # both sides are distinct (u, v) sets, so a group with exactly
        # one tagged member ⟺ the symmetric difference is non-empty.
        # The full count computes every new_edges partition through the
        # lazy checkpoint (no short-circuit), caching all its blocks.
        changed = (
            new_edges.select("u", "v")
            .unionByName(edges.select("u", "v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") == 1)
            .count()
        )
        # new_edges is now fully materialized and the probe was the
        # last reader of the old round — release its checkpoint blocks
        release(edges)
        edges = new_edges
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_bss did not converge in {max_iterations} "
            "rounds — pathological input (each round is O(log) contraction; "
            "30 rounds covers any graph smaller than 2^30 nodes)"
        )
    # fixpoint edge set is a star forest oriented (leaf → root)
    roots = edges.select(F.col("v").alias("node")).distinct().withColumn("component", F.col("node"))
    leaves = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return leaves.unionByName(roots).distinct()


@pinning
def cluster_dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster-correct near-dedup: LSH candidates → exact-Jaccard
    confirmation → connected components over confirmed pairs → keep only
    each component's minimum id.

    Strictly stronger than ``near_dedup_pipeline``'s greedy pair removal:
    for a chain A~B, B~C the greedy form could keep C (if (A,C) never
    shared a bucket and (B,C)'s loser was already dropped); components drop
    every non-root of the cluster exactly once.
    """
    comps = _confirmed_components(
        df, id_col, text_col, num_hashes, shingle_words, bands, threshold
    )
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


@pinning
def cluster_dedup_keep_best(
    df: DataFrame,
    quality_col: Column | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    keep_k: int = 1,
) -> DataFrame:
    """Quality-aware cluster dedup: keep each near-duplicate cluster's BEST
    row (max ``quality_col``, min id tiebreak) instead of its minimum id.

    Curation pipelines rank duplicates before dropping them — when a crawl
    captures the same article as clean text and as boilerplate-ridden
    scrape, lowest-id-wins keeps whichever arrived first while this keeps
    the highest-quality copy (the policy large curation efforts apply at
    the cluster stage; the reference's analogue is its keyed upserts
    preferring the already-cleaned row, ``combine_broker_listings.py``).

    Plan shape: same LSH → Jaccard-confirm → connected-components spine as
    ``cluster_dedup_pipeline``; the keep rule is a rank window over
    CLUSTERED ROWS ONLY — ``comps`` names exactly the nodes of the
    confirmed-pair graph, so the window's input is cluster-member-sized
    (≤ 2·|confirmed pairs|), not the corpus.  Non-winners become a small
    loser list and the corpus passes through one broadcast anti-join,
    map-only.  (The previous form coalesced singletons to their own id and
    windowed the ENTIRE corpus by component — a full-corpus shuffle at
    100 TB for work that only cluster members need; r5 verdict flagged it
    as the most expensive headline query.)

    ``keep_k`` keeps the top-k members per cluster (quality desc, id asc)
    instead of just the best — the "bounded diversity" policy when
    near-duplicates carry complementary noise (keep 2-3 independent
    scrapes of an article, drop the other 400 mirror copies).
    """
    from pyspark.sql.window import Window

    if keep_k < 1:
        raise ValueError(f"keep_k must be ≥ 1; got {keep_k}")
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    comps = _confirmed_components(
        df, id_col, text_col, num_hashes, shingle_words, bands, threshold
    )
    clustered = df.join(
        comps.withColumnRenamed("node", id_col), id_col
    ).select(F.col(id_col), F.col("component"), q.alias("__q"))
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc(), F.col(id_col).asc()
    )
    losers = (
        clustered.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > keep_k)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


@pinning
def semantic_dedup_pipeline(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style embedding-level dedup (Abbas et al. 2023): drop every
    document whose embedding is near-identical (cosine ≥ ``threshold``) to a
    lower-id document, transitively — the semantic tier above MinHash
    (catches paraphrases/translations that share no shingles).  Returns the
    surviving rows of ``df``.

    Candidate generation is an SRP-bucket equi-join (the deterministic
    stand-in for SemDeDup's k-means cluster assignment): only vectors whose
    sign-projection bits agree are compared, so no stage is quadratic in
    corpus size — the 100 TB shape is bucket-at-ingest + partition-by-bucket,
    making this one pruned self-join.  Confirmed pairs feed the same
    connected-components → keep-component-min machinery as text dedup
    (``connected_components_bss`` — embedding near-dup graphs have the
    hub-skew shape: one boilerplate template ≈ thousands of copies).

    Caveat shared with every bucketed ANN: a true near-dup pair split by a
    hyperplane is missed; more planes ↓bucket size but ↑split risk — stack
    multiple plane sets (union the pair lists) for recall, exactly like LSH
    band stacking.
    """
    from re_data_pipeline_spark.functions.vectors import cosine_similarity
    from re_data_pipeline_spark.operators.similarity import srp_bucket

    # widen BEFORE bucketing (guide §2.5): the bucket self-join's probe
    # side inherits this frame's partitioning (the build side broadcasts
    # at batch scale), and the per-pair cosine fold is the operator's
    # dominant compute — a 3-split local scan serialized it onto 3 cores
    bucketed = widen_small_frame(df).select(
        F.col(id_col), F.col(vec_col), srp_bucket(F.col(vec_col), planes).alias("__b")
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__ea"), "__b"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__eb"), "__b"
    )
    pairs = (
        a.join(b, ["__b"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", cosine_similarity(F.col("__ea"), F.col("__eb")))
        .where(F.col("__cos") >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    comps = connected_components_bss(pairs, "id_a", "id_b")
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


_SIMHASH_WORD_BITS = 60  # bits per fingerprint word (15 md5 hex chars < 2^60)


def simhash_multi(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 120,
    out_col: str = "simhash_words",
) -> DataFrame:
    """Append a ``bits``-wide SimHash fingerprint as ``array<bigint>`` —
    word w holds fingerprint bits [60w, 60w+60) in its low bits.

    Fingerprint width must SCALE WITH THE CORPUS for Hamming-radius search
    (:func:`simhash_radius_pairs`): with ``radius+1`` pigeonhole bands, a
    band is ``bits/(radius+1)`` wide and expected per-band candidate volume
    has an ~n²/2^width floor even on uniformly random fingerprints — so
    choose ``bits ≥ (radius+1)·log₂(n_docs)`` (e.g. 10⁹ docs at radius 3 →
    ≥120 bits; radius 6 → ≥210, use 240).  A single 64-bit word (the r7
    representation) caps bands at ~16 bits for radius 3 — a quadratic
    floor at corpus scale, which is exactly why this emits an array.

    Per-token hashes are md5-derived and engine-portable: digest d of a
    token is ``md5(token)`` for d=0 and ``md5(token ∥ '§d')`` for d≥1;
    each digest's 30 leading hex chars yield two 60-bit words (chars 1-15
    and 16-30).  bit_j(doc) = sign of Σ_tokens (bit_j(h(token))·2 − 1),
    computed as explode → md5s per token → ONE groupBy with ``bits`` sums
    — one shuffle regardless of width.  Bits come from integer
    ``shiftright`` on a LONG; decimal division would round at result scale
    and can flip a bit when the true quotient's fraction exceeds
    0.9999995.

    Word 0 is bit-identical to :func:`simhash`'s scalar fingerprint (same
    hex lane, same sign rule).
    """
    if bits < 1:
        raise ValueError(f"bits must be ≥ 1; got {bits}")
    n_words = -(-bits // _SIMHASH_WORD_BITS)
    # fingerprint per DISTINCT text, then join back on an md5 key: every
    # input row survives (null text -> null fingerprint via the left join,
    # duplicate rows are preserved), and repeated texts hash once
    texts = (
        df.select(F.col(text_col).alias("__text"))
        .where(F.col("__text").isNotNull())
        .distinct()
    )
    hcols = []
    for w in range(n_words):
        digest, half = divmod(w, 2)
        src = (
            F.col("__tok")
            if digest == 0
            else F.concat(F.col("__tok"), F.lit(f"§{digest}"))
        )
        hcols.append(md5_60(src, half).alias(f"__h{w}"))
    toks = texts.select(
        "__text", F.explode(F.split(F.trim(F.col("__text")), r"\s+")).alias("__tok")
    ).select("__text", *hcols)
    # The per-bit expressions are built as SQL strings (ONE JVM parse per
    # column) instead of nested Column operator calls: the Column form made
    # ~12 py4j round trips per bit — ~1,400 for a 120-bit fingerprint —
    # costing 2.5-3.5 s of pure driver time per query CONSTRUCTION at any
    # data scale (measured r19; the parsed trees are identical, so plans,
    # results, and plan hashes are unchanged).
    bit_sums = toks.groupBy("__text").agg(
        *[
            F.expr(
                f"sum((shiftright(__h{j // _SIMHASH_WORD_BITS}, "
                f"{j % _SIMHASH_WORD_BITS}) % 2) * 2 - 1) AS __b{j}"
            )
            for j in range(bits)
        ]
    )
    words = []
    for w in range(n_words):
        terms = " + ".join(
            f"CASE WHEN __b{w * _SIMHASH_WORD_BITS + i} > 0 "
            f"THEN {2 ** i} ELSE 0 END"
            for i in range(min(_SIMHASH_WORD_BITS, bits - w * _SIMHASH_WORD_BITS))
        )
        words.append(F.expr(f"CAST({terms} AS BIGINT)"))
    fp = bit_sums.select(F.md5("__text").alias("__sk"), F.array(*words).alias(out_col))
    return (
        df.withColumn("__sk", F.md5(F.col(text_col)))
        .join(fp, "__sk", "left")
        .drop("__sk")
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 60, out_col: str = "simhash") -> DataFrame:
    """Append a ``bits``-wide (≤60, fits signed BIGINT) SimHash fingerprint
    — the single-word form of :func:`simhash_multi` (same md5 hex lane,
    same sign rule; ``simhash(df)[out_col] == simhash_multi(df)[out][0]``).
    Use :func:`simhash_multi` when fingerprints must widen with the corpus
    (Hamming-radius banding)."""
    if bits > _SIMHASH_WORD_BITS:
        raise ValueError(
            f"scalar simhash caps at {_SIMHASH_WORD_BITS} bits (signed BIGINT); "
            f"got {bits} — use simhash_multi for wider fingerprints"
        )
    out = simhash_multi(df, text_col, bits, "__simhash_w")
    return out.withColumn(out_col, F.element_at("__simhash_w", 1)).drop("__simhash_w")


@pinning
def incremental_lsh_dedup(
    new_docs: DataFrame,
    index_buckets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
) -> dict[str, DataFrame]:
    """Dedup a NEW batch against the historical LSH index without touching
    old documents — the incremental form of the *candidate tier* (band
    collision ⇒ duplicate) for a continuously-crawled corpus, first-seen
    wins.  NOTE: this is stricter than ``near_dedup_pipeline``, which
    verifies candidates with exact Jaccard before dropping; verifying
    incrementally requires a document store for prior texts (keep one and
    run ``jaccard_on_pairs`` over the collision pairs before trusting a
    drop, if LSH false positives are unacceptable for your corpus).

    ``index_buckets`` is the persisted ``(id, band, band_key)`` table of
    every *previously seen* document (kept AND dropped — a doc removed as a
    duplicate must still block future copies of itself, or chains
    A≈B, B≈C leak C back in).  Per batch:

    - signature + banding run over the new docs only (map-only + explode);
    - collisions vs the index are an equi-join on (band, band_key) — at
      100 TB the index side is bucketed/partitioned by band_key so only
      matching buckets shuffle;
    - within-batch collisions keep the lowest id (same rule as the batch
      pipeline);
    - the updated index is ``index ∪ new buckets`` (append-only — an upsert
      sink in production).

    The new batch's bucket table is persisted (it feeds both collision
    checks and the updated index); it is exposed as ``result["new_buckets"]``
    — per-batch drivers should ``unpersist()`` it after writing the updated
    index, or cached copies accumulate across batches.  It is also the
    result's pin, so ``release_spines(result["kept"])`` ALSO unpins it —
    write ``result["updated_index"]`` (which reads the pinned table)
    BEFORE releasing the kept frame, or the index write silently
    recomputes the batch signatures/banding instead of reading the cache
    (slow, not wrong).

    When batches arrive in id order this reproduces the batch pipeline's
    greedy pair-removal exactly (tested); out of order it is the
    streaming-natural "first seen wins".
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(new_docs, text_col, num_hashes, shingle_words)
    nb = pin(lsh_bands(sigs, id_col, "minhash", bands, rows_per_band).persist())

    hit_index = (
        nb.join(
            index_buckets.select(
                F.col("band"), F.col("band_key"), F.col(id_col).alias("__prior_id")
            ),
            ["band", "band_key"],
        )
        .select(id_col)
        .distinct()
    )
    hit_batch = _band_pairs(nb, id_col).select(F.col("id_b").alias(id_col)).distinct()
    dropped = hit_index.unionByName(hit_batch).distinct()
    kept = new_docs.join(dropped, id_col, "left_anti")
    return {
        "kept": kept,
        "dropped": dropped,
        "new_buckets": nb,
        "updated_index": index_buckets.unionByName(nb),
    }


def span_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 5,
    max_dup_fraction: float = 0.5,
) -> DataFrame:
    """Substring-span duplication profile per document (Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*: remove
    repeated SPANS, not just whole near-duplicate documents — boilerplate
    headers/footers repeat across millions of otherwise-distinct pages).

    Every ``span_words``-token window (stride 1, positions kept — NOT the
    distinct shingle set MinHash uses) is hashed; a span occurring in ≥ 2
    distinct documents is *duplicated*; each document reports what fraction
    of its span positions are duplicated and a keep flag under
    ``max_dup_fraction``.  Returns
    ``id_col | n_spans | dup_spans | dup_fraction | keep``.

    Plan shape: posexplode → span-hash count-distinct-docs agg → equi-join
    the counts back on the span hash (both sides partitioned by the SAME
    key from the same exchange — co-located, no extra shuffle) → per-doc
    agg.  The heavy shuffle carries (id, 64-bit hash), never span text.
    The exact full algorithm (suffix-array substring removal) is not
    relationally expressible; this windowed-span profile is the standard
    scalable approximation.
    """
    spans = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.posexplode(word_shingles_of(F.col("__toks"), span_words, distinct=False)).alias(
            "__pos", "__span"
        ),
    ).withColumn("__h", md5_60("__span")).drop("__span")
    counts = spans.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    return (
        spans.join(counts, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("__nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "dup_spans",
            F.round(F.col("dup_spans") / F.col("n_spans"), 6).alias("dup_fraction"),
            (F.col("dup_spans") / F.col("n_spans") <= max_dup_fraction).alias("keep"),
        )
    )


def _degradation_guard(op_name: str, on_degradation: str, cap_pairs_per_doc: int):
    """The candidate-volume guard of every pair-generating operator.

    A bucketed equi-join (prefix tokens, fingerprint bands, winnowing
    anchors) lists Σ bucket-size² candidates, which a low-diversity or
    heavily duplicated corpus drives toward all-pairs.  Before the join
    fires, the operator builds a one-row ``(est_pairs, max_bucket)``
    aggregate of its EXACT pre-distinct candidate volume and hands it to
    the guard, which runs it (one ``.first()``) plus one document count
    and, when ``est_pairs`` exceeds ``cap_pairs_per_doc × n_docs``, warns
    (``on_degradation="warn"``, the default: the result is unchanged) or
    raises ``RuntimeError`` (``"error"``).  ``"off"`` skips the estimate
    and its jobs.  Any other mode raises ``ValueError`` here, before any
    job runs.

    Returns ``None`` for ``"off"``, else ``check(stats, n_docs_fn,
    advice) -> est_pairs``; ``advice`` ends the message, and is a
    function of ``n_docs`` where the advice depends on it.
    """
    if on_degradation not in ("warn", "error", "off"):
        raise ValueError(
            f"on_degradation must be 'warn', 'error', or 'off'; got {on_degradation!r}"
        )
    if on_degradation == "off":
        return None

    def check(stats: DataFrame, n_docs_fn, advice) -> int:
        row = stats.first()
        n_docs = n_docs_fn()
        est = int(row["est_pairs"] or 0)
        if est > cap_pairs_per_doc * max(n_docs, 1):
            msg = (
                f"{op_name} degradation: ~{est} candidate pairs for {n_docs} "
                f"docs (cap {cap_pairs_per_doc}/doc; largest bucket "
                f"{row['max_bucket']}). "
                + (advice(n_docs) if callable(advice) else advice)
            )
            if on_degradation == "error":
                raise RuntimeError(msg)
            warnings.warn(msg)
        return est

    return check


def _self_join_volume(rows: DataFrame, *key: str) -> DataFrame:
    """The guard's ``(est_pairs, max_bucket)`` row for an id-ordered
    equi-self-join of ``rows`` on ``key``: Σ c·(c−1)/2 over bucket sizes c,
    the EXACT pre-distinct candidate count, and the largest c.  One
    map-combined aggregate."""
    return (
        rows.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - F.lit(1)) / F.lit(2)).alias("est_pairs"),
            F.max("c").alias("max_bucket"),
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 4,
    threshold_den: int = 5,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
) -> DataFrame:
    """EXACT set-similarity candidate pairs via prefix filtering (the
    PPJoin principle, Chaudhuri et al. / Xiao et al.): two token sets with
    Jaccard ≥ t MUST share a token among each one's first
    ``|x| − ⌈t·|x|⌉ + 1`` tokens under any fixed global token order — so
    indexing only prefixes yields candidates with ZERO false negatives,
    unlike MinHash-LSH's probabilistic recall.  The deterministic
    complement of ``lsh_candidate_pairs``: use LSH when approximate recall
    is acceptable at extreme scale, prefix filtering when the dedup must
    be provably complete.

    The global order is (df asc, token) — rarest first, which minimizes
    prefix collisions (frequent tokens land outside prefixes).  The
    threshold is a RATIONAL num/den and the prefix length is computed in
    pure integer arithmetic (``⌈t·n⌉ = (num·n + den − 1) div den``):
    float ceil at representation boundaries (0.8·25 → 20.000…004 → 21)
    would silently shorten prefixes and break the no-false-negative
    guarantee.

    Plan: token df agg (map-combined) → rank the order back via an
    equi-join on the token → per-doc sort + slice → prefix explode →
    equi-join on the token.  Shuffle volume is Σ prefix lengths, a (1−t)
    fraction of the corpus.  The df re-join carries NO broadcast hint on
    purpose: the token→df table is vocabulary-sized and grows with the
    corpus (Heaps' law reaches ~10⁸ terms at 100 TB — a multi-GB relation
    that would OOM the driver as a forced broadcast).  Σ tokens already
    shuffles in this plan, so a shuffle join adds no new asymptotic cost,
    and AQE still upgrades it to a runtime broadcast whenever the MEASURED
    df size is under ``spark.sql.autoBroadcastJoinThreshold`` — the
    size-bounded gate, for free.

    Input-sensitivity caveat (measured, SCALING.md §Measured scaling):
    candidate volume grows ~n²/|V| — prefix filtering is effective exactly when
    rarest-first prefix tokens are rare.  Real text obeys Heaps' law
    (vocabulary grows with the corpus) and stays near-linear; a
    low-diversity corpus (fixed small vocabulary: logs, templated text)
    degrades toward all-pairs — measured 20M candidates at 20k docs under
    a fixed 20k-token vocabulary.  ``on_degradation`` and
    ``cap_pairs_per_doc`` guard against walking into that case silently
    (:func:`_degradation_guard`); the estimate is Σ c·(c−1)/2 over
    prefix-token frequencies, and the advice on overflow is to use
    ``lsh_candidate_pairs`` for the corpus.
    """
    guard = _degradation_guard("prefix_filter_pairs", on_degradation, cap_pairs_per_doc)

    toks = df.select(F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = toks.join(dfreq, "tok").select(
        id_col, F.struct(F.col("df"), F.col("tok")).alias("key")
    )
    per_doc = ordered.groupBy(id_col).agg(
        F.array_sort(F.collect_list("key")).alias("keys")
    )
    sz = F.size("keys")
    # ⌈(num/den)·sz⌉ in exact integer math; prefix = sz − ⌈t·sz⌉ + 1
    ceil_t = F.floor((F.lit(threshold_num) * sz + F.lit(threshold_den - 1)) / F.lit(threshold_den))
    prefix_len = (sz - ceil_t + F.lit(1)).cast("int")
    # NOT persisted, deliberately (measured): the self-join reads `pre`
    # from both sides, but both references are the identical plan subtree,
    # so ReuseExchange computes it once — while a .persist() here forces an
    # InMemoryRelation that blocks AQE's runtime re-planning of the join
    # and adds cache-store cost (measured 4.6-17 s vs 2.9 s for q153 at
    # sf0.1).  The guard (when on) recomputes the lineage once for its
    # estimate — one extra pass over the smallest relation in this plan.
    pre = per_doc.select(
        F.col(id_col),
        F.explode(F.slice("keys", 1, prefix_len)).alias("k"),
    ).select(id_col, F.col("k.tok").alias("tok"))
    if guard is not None:
        # The estimate is EXACT for the pre-distinct candidate volume, so
        # an over-cap reading means the equi-join genuinely fans out toward
        # all-pairs — not a heuristic false alarm.  It costs ONE pass over
        # the prefix lineage; n_docs comes from a count of the input frame —
        # metadata-only on a raw parquet scan, and an upper bound on prefix
        # docs (empty-token docs inflate it), which only makes the cap
        # marginally laxer.
        guard(
            _self_join_volume(pre, "tok"),
            df.count,
            "Low-diversity vocabulary: prefix filtering is degrading toward "
            "all-pairs.  Use lsh_candidate_pairs (band-bounded candidates, "
            "probabilistic recall) for this corpus.",
        )
    a = pre.alias("a")
    b = pre.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return out


def simhash_radius_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 120,
    radius: int = 3,
    num_bands: int | None = None,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
) -> DataFrame:
    """All pairs whose SimHash fingerprints are within Hamming distance
    ``radius`` — EXACT (zero false negatives) via pigeonhole banding:
    split the ``bits``-wide fingerprint into ``radius + 1`` contiguous
    bands; any pair with ≤ ``radius`` differing bits must agree EXACTLY on
    at least one band (r differences cannot touch r+1 bands), so an
    equi-join on (band_idx, band_value) yields a candidate superset, and an
    exact per-word popcount-of-XOR verifies.  The multi-index pigeonhole
    principle behind binary-code ANN (Norouzi et al.'s multi-index
    hashing) — the deterministic complement of SRP-LSH the way
    ``prefix_filter_pairs`` complements MinHash-LSH.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and
    ``hamming ≤ radius``.

    **Width rule (the 100 TB knob):** band width is ``bits/(radius+1)``
    and expected per-band candidates have an ~n²/2^width floor even on
    uniformly random fingerprints, so ``bits`` must grow with the corpus:
    choose ``bits ≥ (radius+1)·log₂(n_docs)`` (10⁹ docs: ≥120 at radius 3,
    240 at radius 6).  Fingerprints are ``array<bigint>``
    (:func:`simhash_multi`), so width is unbounded — the r7 single-BIGINT
    representation capped bands at ~16 bits at radius 3, a quadratic
    candidate floor no skew-handling can fix.  Measured
    (SCALING.md §Measured scaling): at fixed radius and adequate width,
    candidate rows grow ~linearly with docs; at the capped width they grow ~n².

    ``on_degradation`` and ``cap_pairs_per_doc`` guard the band join
    (:func:`_degradation_guard`); the estimate is Σ c·(c−1)/2 over
    (band, band value) bucket sizes, and the message says whether
    ``bits`` must widen or the mass is near-duplicate skew.  While the
    guard is on, the fingerprint frame is persisted so its Σ-tokens
    aggregation runs once, not twice, and pinned.

    Scale shape: fingerprints cost one shuffle; candidates come from a
    band equi-join — Σ bucket² pairs, never all-pairs; verification is
    row-local popcount.  Band buckets also skew when near-duplicate mass
    skews (same story as LSH bands) — AQE skew-join handles hot buckets;
    the uniform floor above is what only width can fix.  More bands than
    ``radius + 1`` narrows each band (bigger buckets, more candidates) and
    is only correct if ``num_bands ≥ radius + 1``; fewer is rejected.
    """
    fp = (
        simhash_multi(df.select(id_col, text_col), text_col, bits=bits, out_col="__w")
        .select(id_col, "__w")
        .where(F.col("__w").isNotNull())
    )
    return hamming_radius_pairs_on_words(
        fp,
        id_col,
        "__w",
        bits=bits,
        radius=radius,
        num_bands=num_bands,
        on_degradation=on_degradation,
        cap_pairs_per_doc=cap_pairs_per_doc,
        # n_docs from the INPUT frame: metadata-only on a raw parquet scan,
        # an upper bound on fingerprinted docs that only makes the cap
        # marginally laxer
        n_docs_fn=df.count,
        op_name="simhash_radius_pairs",
    )


@pinning
def hamming_radius_pairs_on_words(
    fp: DataFrame,
    id_col: str,
    words_col: str,
    bits: int,
    radius: int,
    num_bands: int | None = None,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
    n_docs_fn=None,
    op_name: str = "hamming_radius_pairs_on_words",
) -> DataFrame:
    """The modality-agnostic Hamming-radius core: EXACT ≤``radius`` pairs
    over PRECOMPUTED multi-word fingerprints (``array<bigint>``, ≤60
    fingerprint bits per word) — pigeonhole banding, Σ bucket² degradation
    guard, band equi-join, per-word popcount verify.  Both fingerprint
    modalities delegate here: :func:`simhash_radius_pairs` (text SimHash)
    and ``operators/multimodal.media_phash_pairs`` (image perceptual
    hashes) — one banding/guard/verify implementation, audited once.

    ``fp`` must carry ``(id_col, words_col)`` with non-null word arrays;
    ``n_docs_fn`` (optional) supplies the guard's row count cheaply (a
    metadata count of the raw input); default counts ``fp`` (already
    persisted while the guard is on).  See :func:`simhash_radius_pairs`
    for semantics and width rules, :func:`_degradation_guard` for the
    guard contract.
    """
    n_bands = num_bands if num_bands is not None else radius + 1
    if n_bands < radius + 1:
        raise ValueError(
            f"num_bands must be ≥ radius + 1 for zero false negatives "
            f"(pigeonhole); got num_bands={n_bands}, radius={radius}"
        )
    if n_bands > bits:
        raise ValueError(f"num_bands={n_bands} exceeds bits={bits}")
    guard = _degradation_guard(op_name, on_degradation, cap_pairs_per_doc)
    wb = _SIMHASH_WORD_BITS
    fp = fp.select(F.col(id_col), F.col(words_col).alias("__w")).where(
        F.col("__w").isNotNull()
    )
    if guard is not None:
        # persist the fingerprint frame: the guard's bucket aggregate and
        # the band self-join both consume it, and its lineage (e.g. the
        # Σ-tokens explode + bits-wide agg of SimHash, or a mapInPandas
        # decode) is the expensive part of the operator
        fp = pin(fp.persist())
    # Contiguous band slices covering ALL bits with EXACTLY n_bands bands:
    # floor width with the remainder spread over the first (bits mod
    # n_bands) bands.  A ceil width would be WRONG here — ceil(bits/n)
    # makes only ceil(bits/width) bands non-empty, which can fall below
    # radius+1 and silently break the pigeonhole guarantee (e.g. bits=10,
    # radius=6 → 7 requested bands but ceil width 2 covers them in 5 —
    # a hamming-6 pair can then differ in every band and be lost).
    # A band can straddle word boundaries: its value is assembled from the
    # overlapping 60-bit words with shift/mask/or — still pure integer
    # expressions inside whole-stage codegen.
    # ONE explode of a per-row struct array (the lsh_bands shape), not an
    # n_bands-way union — a union would replay the fingerprint stage's
    # post-shuffle work once per band branch.
    base, extra = divmod(bits, n_bands)
    entries = []
    lo = 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        if w > 62:
            raise ValueError(
                f"band width {w} exceeds 62 bits (band values are BIGINT); "
                f"raise num_bands"
            )
        pieces = []
        for k in range(lo // wb, -(-(lo + w) // wb)):
            s, e = max(lo, k * wb), min(lo + w, (k + 1) * wb)
            piece = (
                F.shiftright(F.element_at(F.col("__w"), k + 1), s - k * wb)
                .bitwiseAND(F.lit((1 << (e - s)) - 1))
            )
            pieces.append(F.shiftleft(piece, s - lo))
        bv = pieces[0]
        for p in pieces[1:]:
            bv = bv.bitwiseOR(p)
        entries.append(F.struct(F.lit(i).alias("band"), bv.alias("bv")))
        lo += w
    assert lo == bits and len(entries) == n_bands
    band_rows = fp.select(
        F.col(id_col), F.col("__w"), F.explode(F.array(*entries)).alias("__e")
    ).select(
        id_col,
        "__w",
        F.col("__e.band").alias("__band"),
        F.col("__e.bv").alias("__bv"),
    )
    if guard is not None:

        def advice(n_docs: int) -> str:
            need = (radius + 1) * max(1, math.ceil(math.log2(max(n_docs, 2))))
            if bits < need:
                # uniform floor: bands narrower than log₂(n) collide by
                # the pigeonhole of the hash itself — only width fixes it
                return (
                    f"Bands too narrow for this corpus — widen fingerprints: "
                    f"bits ≥ (radius+1)·log₂(n) ≈ {need} "
                    f"(current bits={bits}, radius={radius})."
                )
            # width already adequate: the mass is near-duplicate
            # fingerprint skew — real duplicate structure the verify
            # stage will confirm; AQE skew-join handles hot buckets
            return (
                f"Width is adequate (bits={bits} ≥ {need} needed), so the "
                "candidate mass is near-duplicate fingerprint skew — real "
                "duplicate clusters, not band narrowness; AQE skew-join "
                "handles the hot buckets.  Raise cap_pairs_per_doc if this "
                "duplication level is expected for the corpus."
            )

        # one map-combined agg over the (persisted-fingerprint) band table
        guard(
            _self_join_volume(band_rows, "__band", "__bv"),
            n_docs_fn if n_docs_fn is not None else fp.count,
            advice,
        )
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bv") == F.col("b.__bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col("a.__w").alias("__ha"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.__w").alias("__hb"),
        )
        .distinct()
    )
    # exact Hamming distance: per-word popcount of XOR, statically unrolled
    # (codegen-friendly — no higher-order-function overhead per candidate)
    n_words = -(-bits // wb)
    ham = None
    for k in range(n_words):
        t = F.bit_count(
            F.element_at("__ha", k + 1).bitwiseXOR(F.element_at("__hb", k + 1))
        )
        ham = t if ham is None else ham + t
    out = (
        cands.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )
    return out


@pinning
def containment_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 9,
    threshold_den: int = 10,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
) -> DataFrame:
    """For each document, its best CONTAINER: the other document whose
    token set covers the largest fraction of this document's tokens, kept
    only when coverage ≥ ``threshold_num/threshold_den``.  Containment
    C(a→b) = |T(a) ∩ T(b)| / |T(a)| (Broder's containment, the asymmetric
    cousin of Jaccard) is what subset-duplication detection needs: a
    quote, excerpt, or truncated crawl of a larger page scores near 1
    against its source while Jaccard stays low.

    Returns ``(doc_id, container_id, containment)`` — ``containment``
    rounded to 6dp; best = max coverage, then min container id (exact
    integer ordering on the intersection count, never float ranks).

    EXACT, via the containment form of prefix filtering: order tokens
    rarest-first (global df asc, token); if C(a→b) ≥ t then b must contain
    one of a's first ``|a| − ⌈t·|a|⌉ + 1`` tokens — more misses than that
    already violate the threshold.  So candidates come from an equi-join
    of a's PREFIX tokens against the FULL token table (zero false
    negatives), and the exact intersection count verifies.  Same no-hint
    join discipline as ``prefix_filter_pairs``: the token-df table joins
    without a broadcast hint (vocabulary-sized; AQE gates by measured
    size).

    Scale shape: shuffles are Σ tokens (df rank-back), Σ prefixes × df
    (candidate join — the (1−t) rarest fraction against per-token
    postings), and the candidate-pair intersection count.  Low-diversity
    corpora degrade the same way ``prefix_filter_pairs`` documents —
    bounded vocabularies make every prefix token common.
    ``on_degradation`` and ``cap_pairs_per_doc`` guard the candidate join
    (:func:`_degradation_guard`); the estimate is Σ_tok pre(tok)·df(tok)
    over (prefix counts ⋈ token df).
    """
    from pyspark.sql.window import Window

    guard = _degradation_guard("containment_best", on_degradation, cap_pairs_per_doc)
    # The distinct-token explode feeds FIVE consumers (df agg, rank-back,
    # posting side, both intersection sides) — persist it (measured at
    # sf0.1: 4.2 s → 3.0 s for q169; the guard's eager stats pass warms
    # the cache for the main query).  Unlike q153's self-join persist
    # (which blocked AQE's broadcast upgrade and measured SLOWER), no join
    # here reads the cache from both sides of one exchange.
    toks = pin(
        df.select(
            F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
        ).persist()
    )
    # candidates: prefix tokens (rarest-first) equi-joined to the postings
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = toks.join(dfreq, "tok").select(
        id_col, F.struct(F.col("df"), F.col("tok")).alias("key")
    )
    per_doc = ordered.groupBy(id_col).agg(
        F.array_sort(F.collect_list("key")).alias("keys")
    )
    sz = F.size("keys")
    ceil_t = F.floor(
        (F.lit(threshold_num) * sz + F.lit(threshold_den - 1)) / F.lit(threshold_den)
    )
    prefix_len = (sz - ceil_t + F.lit(1)).cast("int")
    pre = per_doc.select(
        F.col(id_col).alias("id_a"),
        sz.alias("__na"),
        F.explode(F.slice("keys", 1, prefix_len)).alias("k"),
    ).select("id_a", "__na", F.col("k.tok").alias("tok"))
    full_b = toks.select(F.col(id_col).alias("id_b"), "tok")
    if guard is not None:
        # EXACT pre-filter candidate volume of the prefix-vs-full equi-join:
        # Σ_tok pre(tok)·df(tok) — every (prefix row, posting row) token
        # match becomes one candidate row before the id_a≠id_b filter and
        # distinct.  Cost: one pass over the prefix lineage + the
        # (vocab-sized) token-df agg; n_docs is a cheap input count.
        guard(
            pre.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("pc"))
            .join(dfreq, "tok")
            .agg(
                F.sum(F.col("pc") * F.col("df")).alias("est_pairs"),
                F.max("df").alias("max_bucket"),
            ),
            df.count,
            "Low-diversity vocabulary: every prefix token is common, so the "
            "prefix-vs-postings join is degrading toward all-pairs.",
        )
    cands = (
        pre.join(full_b, "tok")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "__na", "id_b")
        .distinct()
    )
    # exact |T(a) ∩ T(b)| per candidate: a's tokens matched against b's
    ta = toks.select(F.col(id_col).alias("id_a"), "tok")
    tb = toks.select(F.col(id_col).alias("id_b"), "tok")
    inter = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "tok"], "left_semi")
        .groupBy("id_a", "__na", "id_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    qual = inter.where(
        F.col("__c") * F.lit(threshold_den) >= F.lit(threshold_num) * F.col("__na")
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("__c"), F.asc("id_b"))
    out = (
        qual.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("container_id"),
            F.round(F.col("__c") / F.col("__na"), 6).alias("containment"),
        )
    )
    return out


@pinning
def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs WITH their MinHash Jaccard estimate — the
    signature-only similarity report: est_J = (# agreeing signature lanes)
    / num_hashes, the unbiased MinHash estimator (each lane agrees with
    probability J).  The cheap middle tier between raw candidate pairs
    (no score) and ``jaccard_on_pairs`` (exact, but re-tokenizes both
    documents per pair): dedup triage, threshold sweeps, and
    cluster-quality dashboards read the estimate straight off signatures
    already computed for banding.

    Returns ``(id_a, id_b, matching_lanes, est_jaccard)`` with
    ``id_a < id_b`` — ``matching_lanes`` the exact integer agreement
    count (the comparison-stable form), ``est_jaccard`` its /num_hashes
    ratio at 6dp.

    Scale shape: ONE signature pass (persisted — it feeds both banding
    and the estimate join; pinned),
    band-bounded candidates, then two signature equi-joins on the pair
    ids; lane agreement is a row-local ``zip_with`` + ``filter`` over
    num_hashes-sized arrays.  Nothing is all-pairs; nothing re-reads
    text after the signature pass.
    """
    sigs = pin(
        minhash_signature(
            df.select(id_col, text_col), text_col, num_hashes, shingle_words
        ).select(id_col, "minhash").persist()
    )
    rows_per_band = num_hashes // bands
    pairs = _band_pairs(
        lsh_bands(sigs, id_col, "minhash", bands, rows_per_band), id_col
    ).distinct()
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("__sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("__sb"))
    matching = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            matching.cast("int").alias("matching_lanes"),
            F.round(matching / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
        )
    )
    return out


def lsh_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
) -> DataFrame:
    """MEASURED recall/precision of the probabilistic LSH tier against the
    EXACT shingle-Jaccard truth on the same corpus — the "measure, don't
    guess" audit for a dedup configuration: before trusting (bands, rows)
    at production scale, run this on a sample and read the recall the
    banding actually delivers at the threshold that matters.

    Truth = all pairs with exact Jaccard ≥ num/den over distinct
    ``shingle_words``-shingles (shingle-explode equi-join — complete for
    any threshold > 0, since a qualifying pair shares ≥1 shingle).
    Candidates = ``lsh_candidate_pairs`` under the same shingling.
    Returns ONE row:
    ``(n_true, n_candidates, n_hit, recall, precision)`` — ``n_hit`` the
    true pairs the banding surfaced, ``precision`` the fraction of
    candidates that verify at the threshold.  The threshold is RATIONAL
    and every comparison is integer (``inter·den ≥ union·num``) — a float
    boundary can't move a pair between engines.

    Scale shape: the truth join is O(Σ shingle postings²) per shingle —
    the expensive exact tier, which is exactly why it runs on a SAMPLE
    while LSH runs on the corpus; both sides reduce to pair sets and a
    3-count aggregate.  Nothing here is all-pairs.
    """
    # NOT pinned (measured r14): pinning the shingle table here read 20%
    # SLOWER (3.16 → 3.81 s cold at sf0.1) — the ngram_jaccard_pairs
    # measurement; the re-evaluations pipeline where the pin pays a
    # corpus-shingle-sized cache store.
    sh = _shingle_set(df, id_col, text_col, shingle_words)
    truth = (
        _shingle_overlap(sh, id_col)
        .where(
            F.col("inter") * F.lit(threshold_den)
            >= (F.col("sz_a") + F.col("sz_b") - F.col("inter")) * F.lit(threshold_num)
        )
        .select("id_a", "id_b")
    )
    cands = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes=num_hashes, shingle_words=shingle_words,
        bands=bands, materialize=False,
    ).select("id_a", "id_b")
    # truth ∩ candidates, counted once (a semi-join from either side is the
    # same intersection — n_hit serves both recall and precision)
    hit = truth.join(cands, ["id_a", "id_b"], "left_semi")
    report = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        .crossJoin(cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit")))
        .select(
            "n_true",
            "n_candidates",
            "n_hit",
            F.when(
                F.col("n_true") > 0, F.round(F.col("n_hit") / F.col("n_true"), 6)
            ).alias("recall"),
            F.when(
                F.col("n_candidates") > 0,
                F.round(F.col("n_hit") / F.col("n_candidates"), 6),
            ).alias("precision"),
        )
    )
    return report


def dup_cluster_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int | None = None,
) -> DataFrame:
    """Exact-duplicate cluster-size profile — the dedup HEALTH report:
    for each cluster size s, how many fingerprint clusters have exactly s
    members, how many documents they hold, and what corpus share that is.
    Read it before and after a dedup pass: a fat tail (huge s) is
    templated boilerplate; `pct_docs` at s=1 is the unique fraction; the
    s≥2 mass is exactly what ``exact_dedup`` will remove minus one doc
    per cluster.

    Fingerprint = md5 of normalized text (``functions.text.doc_fingerprint``),
    optionally truncated to the first ``prefix_chars`` characters first
    (the q32 prefix trick for corpora whose duplicates share heads).

    Returns ``(cluster_size, n_clusters, n_docs, pct_docs)``.

    Scale shape: two map-combined aggs (corpus → |clusters| rows →
    |distinct sizes| rows — tiny) and one broadcast 1-row total; nothing
    cluster-cardinality-sized sorts or collects.
    """
    t = F.col(text_col)
    if prefix_chars is not None:
        t = F.substring(t, 1, prefix_chars)
    fp = df.select(doc_fingerprint(t).alias("__fp"))
    clusters = fp.groupBy("__fp").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            F.round(
                F.col("cluster_size") * F.col("n_clusters") / F.col("__total"), 6
            ).alias("pct_docs"),
        )
    )


@pinning
def cross_corpus_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
) -> DataFrame:
    """DOCUMENT-level benchmark decontamination: training documents that
    are near-duplicates of a benchmark document, found by an LSH band
    join ACROSS the two corpora (A×B only — within-corpus pairs are never
    generated, unlike ``lsh_candidate_pairs``' self-join) and verified
    with exact shingle Jaccard at a RATIONAL threshold.  The doc-level
    complement of q100's n-gram overlap scan: n-gram overlap catches a
    quoted test QUESTION inside a long page; this catches wholesale
    near-copies of benchmark documents cheaply at corpus scale.

    Returns ``(train_id, bench_id, jaccard)`` — every verified
    contaminated (train, bench) pair; anti-join ``train`` on ``train_id``
    to clean.

    Scale shape: one signature pass per side (map-only), candidates from
    the band equi-join with the BENCHMARK side small — at 100 TB the
    bench bucket table is broadcast-sized and AQE turns the join into a
    broadcast automatically (no hint: benchmarks grow too); verification
    re-tokenizes only docs appearing in some candidate pair (semi-join
    pruned).  Threshold comparisons are integer (``inter·den ≥
    union·num``); ``jaccard`` is the exact ratio at 6dp.
    """
    rows_per_band = num_hashes // bands
    ba = lsh_bands(
        minhash_signature(train.select(id_col, text_col), text_col, num_hashes, shingle_words),
        id_col, "minhash", bands, rows_per_band,
    ).select(F.col(id_col).alias("train_id"), "band", "band_key")
    bb = lsh_bands(
        minhash_signature(bench.select(id_col, text_col), text_col, num_hashes, shingle_words),
        id_col, "minhash", bands, rows_per_band,
    ).select(F.col(id_col).alias("bench_id"), "band", "band_key")
    cands = ba.join(bb, ["band", "band_key"]).select("train_id", "bench_id").distinct()
    # the pair list is referenced THREE times below (two semi-join prunes +
    # the intersection base) — materialize it once (small: candidate pairs,
    # not corpus rows) so the two signature passes don't replay per use;
    # the returned intersection base reads it, so it is pinned
    cands = pin(cands.localCheckpoint())

    # NOT pinned (measured r14): the candidate-bounded shingle sets each
    # feed two consumers, but pinning them read 14% slower (q100
    # 0.77 → 0.88 s cold) — the jaccard-family measurement; re-evaluation
    # pipelines where the pin pays a cache store.
    sa = _shingle_set(
        train.join(cands.select("train_id").distinct(),
                   train[id_col] == F.col("train_id"), "left_semi"),
        id_col, text_col, shingle_words, "train_id",
    )
    sb = _shingle_set(
        bench.join(cands.select("bench_id").distinct(),
                   bench[id_col] == F.col("bench_id"), "left_semi"),
        id_col, text_col, shingle_words, "bench_id",
    )
    za = sa.groupBy("train_id").agg(F.count(F.lit(1)).alias("__na"))
    zb = sb.groupBy("bench_id").agg(F.count(F.lit(1)).alias("__nb"))
    inter = (
        cands.join(sa, "train_id")
        .join(sb, ["bench_id", "s"], "left_semi")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    out = (
        inter.join(za, "train_id")
        .join(zb, "bench_id")
        .where(
            F.col("__i") * F.lit(threshold_den)
            >= (F.col("__na") + F.col("__nb") - F.col("__i")) * F.lit(threshold_num)
        )
        .select(
            "train_id",
            "bench_id",
            F.round(
                F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")), 6
            ).alias("jaccard"),
        )
    )
    return out


def source_dup_rates(
    df: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    prefix_chars: int | None = None,
) -> DataFrame:
    """Per-stratum exact-duplication rates — the crawl-health dashboard
    row: for each source/domain, document count, distinct-fingerprint
    count, duplicate share, and the largest single cluster.  A source
    whose dup_rate jumps is mirroring/templating; the monitoring
    complement of :func:`dup_cluster_profile` (corpus-wide histogram) and
    the drift monitors (distributional shift).

    Returns ``(stratum, n_docs, n_unique, n_dups, dup_rate,
    max_cluster)`` — ``n_dups = n_docs − n_unique`` (exactly what
    ``exact_dedup`` would remove within the stratum), rates exact
    rationals at 6dp.

    Scale shape: one map-combined (stratum, fingerprint) count agg →
    one stratum agg; |strata| rows out, nothing else shuffles.
    """
    t = F.col(text_col)
    if prefix_chars is not None:
        t = F.substring(t, 1, prefix_chars)
    clusters = (
        df.select(F.col(stratum_col).alias("__s"), doc_fingerprint(t).alias("__fp"))
        .groupBy("__s", "__fp")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        clusters.groupBy("__s")
        .agg(
            F.sum("__c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            F.max("__c").cast("bigint").alias("max_cluster"),
        )
        .select(
            F.col("__s").alias(stratum_col),
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).cast("bigint").alias("n_dups"),
            F.round((F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6).alias(
                "dup_rate"
            ),
            "max_cluster",
        )
    )


def line_dedup_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style LINE-level corpus dedup with document REWRITE (Raffel et
    al. 2020 kept only lines; Lee et al. 2022 measure the duplicated-span
    mass this removes): any line occurring in more than
    ``max_occurrences`` documents corpus-wide is boilerplate
    (navigation, cookie banners, footers) and is dropped from EVERY
    document; surviving lines are reassembled in original order.  The
    rewrite complement of ``span_dup_stats`` (which only profiles) and
    ``boilerplate_ngrams`` (which only names the offenders).

    Returns every input row as ``(id_col, clean_text, n_lines,
    n_removed)`` — documents whose lines are all boilerplate come back
    with an empty string, not silently dropped (the caller decides
    whether empties die at the next filter).  NULL text is coalesced to
    ``''`` up front (``split(NULL)`` would make posexplode emit nothing
    and the row would vanish from the totals), so a NULL-text doc comes
    back exactly like an empty-text doc: one empty line, subject to the
    same corpus-wide count.

    Scale shape: posexplode to (id, pos, line-hash) → one map-combined
    distinct-doc count per line hash → equi-join the counts back on the
    hash (both sides partitioned by the same key from the same exchange)
    → per-doc ordered reassembly (collect_list over struct(pos, line),
    array_sort — cluster-local, no global sort).  The heavy shuffle
    carries (id, 64-bit hash); line TEXT travels only on the reassembly
    leg, exactly once per surviving line.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n")
        ).alias("__pos", "__line"),
    ).withColumn("__h", md5_60("__line"))
    counts = lines.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    kept = (
        lines.join(counts, "__h")
        .where(F.col("__nd") <= max_occurrences)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(out_col),
            F.count(F.lit(1)).cast("bigint").alias("__nkept"),
        )
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce(out_col, F.lit("")).alias(out_col),
            "n_lines",
            (F.col("n_lines") - F.coalesce("__nkept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def _es_validate(min_len: int, k: int | None) -> tuple[int, int]:
    """Validate ExactSubstr parameters; returns ``(k, w)`` with the
    winnowing window w = min_len − k + 1."""
    if min_len < 2:
        raise ValueError(f"min_len must be ≥ 2, got {min_len}")
    if k is None:
        k = max(1, (min_len + 1) // 2)
    if not (1 <= k <= min_len):
        raise ValueError(f"k must be in [1, min_len={min_len}], got {k}")
    return k, min_len - k + 1


# the ExactSubstr guard's advice, both the self-join and the A×B shape
_ES_ADVICE = (
    "Corpus-wide boilerplate spans make TRUE duplicate pairs quadratic in "
    "occurrence count — run line_dedup_rewrite/boilerplate_ngrams first to "
    "strip that mass linearly, raise min_len, or raise cap_pairs_per_doc if "
    "this duplication level is expected."
)


def _es_token_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id_col, __toks array<string>, __n int)`` — whitespace tokens with
    empties dropped; NULL text behaves as empty text (0 tokens)."""
    from re_data_pipeline_spark.functions.text import ws_tokens

    return df.select(F.col(id_col), ws_tokens(text_col).alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )


def _es_bind(expr, fn):
    """Evaluate ``expr`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable (transform over a 1-element array) — the only
    subexpression-elimination mechanism HOF trees have.  Without it,
    CollapseProject inlines a withColumn's defining expression into EVERY
    reference site, and an element_at inside a fold inside a transform
    re-derives the whole array per access — measured 207 s → sub-second
    on 500 sf0.01 docs for the winnowing stage."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


_ES_EMPTY_ANCH = "cast(array() as array<struct<p:int,v:bigint>>)"
_ES_EMPTY_SPANS = "cast(array() as array<struct<s:int,e:int>>)"

def _es_anchor_table(
    t: DataFrame, id_col: str, min_len: int, k: int, w: int
) -> DataFrame:
    """Per-doc winnowing anchors as rows ``(id_col, __p, __h)``.

    All expressions live inside one bound scope so neither the token
    array nor the k-gram hash array is ever re-derived:

    - k-gram hash array: internal ONLY (candidates are verified on real
      tokens, and winnowing selection is content-relative under ANY
      hash), so the fast JVM xxhash64 is safe despite the module's
      md5-for-oracle-replay convention;
    - winnowing (Schleimer–Wilkerson–Aiken, SIGMOD 2003): leftmost argmin
      of each w-window via an aggregate fold that carries ``(p, v)`` —
      the hash rides along, so anchor rows need no second lookup into the
      hash array.  Any span of ≥ w + k − 1 = min_len shared tokens
      selects at least one IDENTICAL anchor in both documents — zero
      false negatives at ~2/(w+1) the shuffle volume of all k-grams.
    """

    def _winnow(khv):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(khv) - F.lit(w - 1)),
                lambda i: F.aggregate(
                    F.sequence(i, i + F.lit(w - 1)),
                    F.struct(
                        F.lit(0).cast("int").alias("p"),
                        F.lit((1 << 63) - 1).cast("bigint").alias("v"),
                    ),
                    lambda acc, j: F.when(
                        F.element_at(khv, j) < acc["v"],
                        F.struct(
                            j.cast("int").alias("p"),
                            F.element_at(khv, j).alias("v"),
                        ),
                    ).otherwise(acc),
                ),
            )
        )

    anch_structs = _es_bind(
        F.col("__toks"),
        lambda tv: F.when(
            F.size(tv) >= min_len,
            _es_bind(
                F.transform(
                    F.sequence(F.lit(1), F.size(tv) - F.lit(k - 1)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(tv, i, F.lit(k)))
                    ),
                ),
                _winnow,
            ),
        ).otherwise(F.expr(_ES_EMPTY_ANCH)),
    )
    return t.select(F.col(id_col), F.explode(anch_structs).alias("__a")).select(
        F.col(id_col),
        F.col("__a.p").alias("__p"),
        F.col("__a.v").alias("__h"),
    )


def _es_extend(c: DataFrame, k: int, min_len: int) -> DataFrame:
    """Verify + extend candidates on REAL tokens.  ``c`` carries
    ``(__pa, __pb, __ta, __tb, __na, __nb)``; returns the rows whose
    maximal extension reaches ``min_len``, with ``__l``/``__r`` extension
    columns.  The consecutive-match folds keep acc = j−1 only while every
    prior offset matched, so each fold computes the maximal extension and
    freezes at the first mismatch — exact per (pair, alignment), and
    hash-collision-proof (slice equality at the anchor).

    Two-phase fold: an aggregate HOF cannot early-exit, so a frozen fold
    still iterates its whole bound — and most candidates (anchor k-grams
    shared across NON-duplicate contexts, k < min_len) mismatch within a
    few tokens.  Phase 1 folds a capped window; only candidates that
    match the ENTIRE cap re-fold the full bound.  Identical result
    (saturated cap → full fold recomputes from scratch), measured 4.0 s
    → ~1 s on 720k candidates at sf0.1 with 62k survivors."""

    _CAP = 8

    def _ext(side_a_pos, side_b_pos, bound):
        def fold(ub):
            return F.aggregate(
                F.sequence(F.lit(1), ub),
                F.lit(0),
                lambda acc, j: F.when(
                    (acc == j - 1)
                    & (
                        F.element_at(F.col("__ta"), side_a_pos(j))
                        == F.element_at(F.col("__tb"), side_b_pos(j))
                    ),
                    j.cast("int"),
                ).otherwise(acc),
            )

        capped = F.least(bound, F.lit(_CAP))
        return F.when(
            bound >= 1,
            F.element_at(
                F.transform(
                    F.array(fold(capped)),
                    lambda l1: F.when(
                        (l1 == capped) & (bound > _CAP), fold(bound)
                    ).otherwise(l1),
                ),
                1,
            ),
        ).otherwise(F.lit(0))

    lmax = F.least(F.col("__pa"), F.col("__pb")) - F.lit(1)
    rmax = F.least(
        F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
    ) - F.lit(k - 1)
    lext = _ext(lambda j: F.col("__pa") - j, lambda j: F.col("__pb") - j, lmax)
    rext = _ext(
        lambda j: F.col("__pa") + F.lit(k - 1) + j,
        lambda j: F.col("__pb") + F.lit(k - 1) + j,
        rmax,
    )
    verify = F.slice(F.col("__ta"), F.col("__pa"), F.lit(k)) == F.slice(
        F.col("__tb"), F.col("__pb"), F.lit(k)
    )
    return (
        c.withColumn("__l", lext)
        .withColumn("__r", rext)
        .where(verify & (F.col("__l") + F.lit(k) + F.col("__r") >= min_len))
    )


def _es_union(spans: Column) -> Column:
    """Interval union of a SORTED ``array<struct<s:int,e:int>>`` of
    1-based inclusive token spans: one fold in which overlapping or
    adjacent intervals coalesce.  The result is sorted and disjoint."""
    return F.aggregate(
        spans,
        F.expr(_ES_EMPTY_SPANS),
        lambda acc, x: F.when(
            (F.size(acc) == 0) | (x["s"] > F.element_at(acc, -1)["e"] + 1),
            F.concat(acc, F.array(x)),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(F.element_at(acc, -1)["e"], x["e"]).alias("e"),
                    )
                ),
            )
        ),
    )


def _es_merge(sp: DataFrame, id_col: str) -> DataFrame:
    """Per-doc interval union of ``(id_col, __s, __e)`` span rows:
    sort + ``_es_union`` — frames bounded by spans per doc, never
    corpus-scale.  Returns ``(id_col, __msp array<struct<s:int,e:int>>)``."""
    return (
        sp.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__s").alias("s"), F.col("__e").alias("e")))
            ).alias("__sps")
        )
        .select(F.col(id_col), _es_union(F.col("__sps")).alias("__msp"))
    )


def _es_drop_spans(toks: Column, spans: Column) -> tuple[Column, Column]:
    """``(kept text, removed count)`` of token array ``toks`` after
    dropping every token inside a 1-based inclusive interval of the
    disjoint ``spans``: an indexed filter, survivors single-space-joined
    in order."""
    kept = F.array_join(
        F.filter(
            toks,
            lambda x, i: ~F.exists(
                spans, lambda p: (p["s"] <= i + 1) & (i + 1 <= p["e"])
            ),
        ),
        " ",
    )
    removed = F.aggregate(
        spans, F.lit(0), lambda acc, p: acc + (p["e"] - p["s"] + F.lit(1))
    ).cast("bigint")
    return kept, removed


def _es_rewrite(
    df: DataFrame, id_col: str, text_col: str, merged: DataFrame, out_col: str
) -> DataFrame:
    """Rewrite every row of ``df`` without the tokens its ``merged`` spans
    cover → ``(id_col, out_col, n_tokens, n_removed)``; fully-covered
    docs come back as empty strings."""
    t = _es_token_table(df, id_col, text_col).join(merged, id_col, "left")
    t = t.withColumn("__sp", F.coalesce(F.col("__msp"), F.expr(_ES_EMPTY_SPANS)))
    kept, removed = _es_drop_spans(F.col("__toks"), F.col("__sp"))
    return t.select(
        F.col(id_col),
        kept.alias(out_col),
        F.col("__n").cast("bigint").alias("n_tokens"),
        removed.alias("n_removed"),
    )


def _exact_substring_merged_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
    k: int | None,
    guard,
    bench: DataFrame | None = None,
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Core of the ExactSubstr tier: one row per ``df`` document that
    LOSES tokens — ``(id_col, __msp array<struct<s:int,e:int>>)``,
    1-based inclusive token-position intervals, sorted, disjoint,
    adjacent-coalesced.  The guarded path pins its persisted anchor
    tables.  Within-corpus by default; with ``bench`` the candidates are
    ``df`` × ``bench`` anchor pairs only and just the ``df`` side's spans
    come back (`exact_substring_decontaminate`).

    Semantics (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499 — the ExactSubstr tier): a
    token is duplicated iff it lies inside a VERBATIM token-span of length
    ≥ ``min_len`` shared by ≥ 2 distinct documents, at ARBITRARY
    alignment.  Equivalent declarative form (what the DuckDB oracle
    computes directly): a token is duplicated iff some ``min_len``-token
    window covering it occurs in ≥ 2 distinct documents.  Equivalence:
    (⊆) a shared ``min_len``-gram sits inside the maximal shared span
    around it, which this operator recovers; (⊇) a maximal shared span of
    length L ≥ min_len covering position p contains a full min_len-window
    that also covers p (clamp the window into the span).

    Plan, Spark-first (the reference ExactSubstr builds ONE suffix array on
    a single node — a shape that cannot shard; this is the distributed
    re-expression): map-only tokens → k-gram hashes → winnowing anchors
    (`_es_anchor_table`); ONE bucketed equi-join of the (id, pos, hash64)
    anchor table with itself (id_a < id_b) — the banding discipline of
    `hamming_radius_pairs_on_words`, never all-pairs, with the Σ bucket²
    degradation guard; candidates verify + extend on REAL tokens
    (`_es_extend` — token arrays travel only on this candidates-sized
    leg); per-doc interval merge (`_es_merge`).

    Degradation contract: corpus-wide boilerplate k-grams make anchor
    buckets — and TRUE duplicate pairs — quadratic in bucket size; that is
    inherent to pair-listing exact semantics (witness-capping would
    under-extend spans and break exactness).  ``guard`` (a
    :func:`_degradation_guard` check, None when off) guards the join; the
    estimate is Σ c·(c−1)/2 over anchor-hash buckets (Σ cA·cB with
    ``bench``).  Route
    heavily-boilerplated corpora through `line_dedup_rewrite` /
    `boilerplate_ngrams` first (they remove exactly that mass linearly),
    then run this tier on the residue.
    """
    k, w = _es_validate(min_len, k)
    within = bench is None
    t = _es_token_table(df, id_col, text_col)
    anch_a = _es_anchor_table(t, id_col, min_len, k, w)
    tb, b_id, anch_b = t, id_col, None
    if not within:
        tb, b_id = _es_token_table(bench, bench_id_col, bench_text_col), bench_id_col
        anch_b = _es_anchor_table(tb, b_id, min_len, k, w)
    if guard is not None:
        # persist: the guard's bucket aggregate and BOTH sides of the
        # candidate join consume the anchor tables, and their lineage
        # (tokenize + O(n·k) gram hashing + O(n·w) winnowing) is the
        # expensive map stage
        anch_a = pin(anch_a.persist())
        if within:
            stats = _self_join_volume(anch_a, "__h")
            advice = _ES_ADVICE + (
                "  Or use impl='grams', which lists no pairs and stays "
                "linear in the corpus."
            )
        else:
            anch_b = pin(anch_b.persist())
            ca = anch_a.groupBy("__h").agg(F.count(F.lit(1)).alias("ca"))
            cb = anch_b.groupBy("__h").agg(F.count(F.lit(1)).alias("cb"))
            stats = ca.join(cb, "__h").agg(
                F.sum(F.col("ca") * F.col("cb")).alias("est_pairs"),
                F.max(F.col("ca") * F.col("cb")).alias("max_bucket"),
            )
            advice = _ES_ADVICE
        est = guard(stats, df.count, advice)
        # Candidate-volume-gated probe widening (layout.widen_for_pairs)
        # of the ``df``-side anchors; a bench side stays as-is
        # (broadcast-sized): the candidate join's probe side — where the
        # per-candidate extension folds run — inherits the anchor CACHE's
        # partitioning, and a 1-split local scan serialized the whole
        # verify/extend stage onto one core (q197: a single 5.0 s task).
        # The guard's est_pairs is already on the driver.  CAVEAT (ADVICE
        # r18): the widened partitioning only survives into the verify
        # stage while one side of the join broadcasts; if the anchor
        # table outgrows autoBroadcastJoinThreshold the fallback
        # sort-merge join re-shuffles both sides and the extra exchange is
        # wasted (a measured local-mode win that is size-bounded by
        # construction — the anchor cache of a corpus whose est_pairs
        # clears the gate at 32 cores is ~MBs here; re-measure before
        # raising the gate).
        anch_a = widen_for_pairs(anch_a, est)
    if within:
        anch_b = anch_a

    a, b = anch_a.alias("a"), anch_b.alias("b")
    on = F.col("a.__h") == F.col("b.__h")
    if within:
        on = on & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cand = a.join(b, on).select(
        F.col(f"a.{id_col}").alias("__ida"),
        F.col("a.__p").alias("__pa"),
        F.col(f"b.{b_id}").alias("__idb"),
        F.col("b.__p").alias("__pb"),
    )
    ta = t.select(
        F.col(id_col).alias("__ida"),
        F.col("__toks").alias("__ta"),
        F.col("__n").alias("__na"),
    )
    tb = tb.select(
        F.col(b_id).alias("__idb"),
        F.col("__toks").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    ext = _es_extend(cand.join(ta, "__ida").join(tb, "__idb"), k, min_len)

    def span(side: str) -> tuple[Column, Column, Column]:
        # (doc id, start, end) of the extended span on one pair side
        p = F.col(f"__p{side}")
        return (
            F.col(f"__id{side}"),
            (p - F.col("__l")).cast("int"),
            (p + F.lit(k - 1) + F.col("__r")).cast("int"),
        )

    if within:
        # within-corpus: EVERY occurrence goes — emit the span on both sides
        sp = ext.select(
            F.explode(
                F.array(
                    *[
                        F.struct(i.alias("id"), st.alias("s"), e.alias("e"))
                        for i, st, e in (span("a"), span("b"))
                    ]
                )
            ).alias("__x")
        ).select(
            F.col("__x.id").alias(id_col),
            F.col("__x.s").alias("__s"),
            F.col("__x.e").alias("__e"),
        )
    else:
        # cross-corpus: only the ``df`` side is rewritten
        i, st, e = span("a")
        sp = ext.select(i.alias(id_col), st.alias("__s"), e.alias("__e"))
    return _es_merge(sp.distinct(), id_col)


def _exact_substring_merged_spans_grams(
    df: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """GUARANTEED-LINEAR implementation of the ExactSubstr coverage
    semantics — the all-grams route the anchor path's degradation guard
    points to: emit every ``min_len``-gram (128-bit double-xxhash key, so
    false sharing is ~2⁻¹²⁸ even at 10¹³ grams — there is NO verify stage
    here), count distinct docs per gram key (map-combined), keep the
    duplication-sized ≥2-doc key set, and join it back for positions.
    No pair listing, no extension: overlapping shared grams chain into
    the maximal span during the interval merge, which is the declarative
    oracle form computed directly.

    Trade-off vs the winnowed-anchor path: shuffles ALL gram keys (≈ one
    row per token — ~25× the anchor volume at min_len=50) but its volume
    is linear in the corpus NO MATTER how duplicated the corpus is; the
    anchor path shuffles ~2/(w+1) of that but lists candidate pairs,
    which go quadratic on corpus-wide boilerplate.  Pick grams for
    heavily-duplicated/boilerplated corpora, anchors for clean corpora
    where shuffle volume dominates.  Both produce identical output
    (cross-implementation equality is tested, and q197/q200 hash-match
    the same DuckDB oracle)."""
    t = _es_token_table(df, id_col, text_col)
    gram_structs = _es_bind(
        F.col("__toks"),
        lambda tv: F.when(
            F.size(tv) >= min_len,
            F.transform(
                F.sequence(F.lit(1), F.size(tv) - F.lit(min_len - 1)),
                lambda i: _es_bind(
                    F.concat_ws(" ", F.slice(tv, i, F.lit(min_len))),
                    lambda g: F.struct(
                        i.cast("int").alias("p"),
                        F.xxhash64(g).alias("h1"),
                        F.xxhash64(F.concat(g, F.lit("#2"))).alias("h2"),
                    ),
                ),
            ),
        ).otherwise(
            F.expr("cast(array() as array<struct<p:int,h1:bigint,h2:bigint>>)")
        ),
    )
    grams = t.select(F.col(id_col), F.explode(gram_structs).alias("__g")).select(
        F.col(id_col),
        F.col("__g.p").alias("__p"),
        F.col("__g.h1").alias("__h1"),
        F.col("__g.h2").alias("__h2"),
    )
    hot = (
        grams.groupBy("__h1", "__h2")
        .agg(F.count_distinct(F.col(id_col)).alias("__d"))
        .where(F.col("__d") >= 2)
        .select("__h1", "__h2")
    )
    sp = grams.join(hot, ["__h1", "__h2"]).select(
        F.col(id_col),
        F.col("__p").alias("__s"),
        (F.col("__p") + F.lit(min_len - 1)).alias("__e"),
    )
    return _es_merge(sp, id_col)


@pinning
def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    k: int | None = None,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
    out_col: str = "clean_text",
    impl: str = "anchors",
) -> DataFrame:
    """Rewrite half of the ExactSubstr tier (Lee et al. 2022): EVERY
    occurrence of any cross-document verbatim token-span of length ≥
    ``min_len`` is removed from every document (the paper's convention —
    all copies go, including the first), and the surviving tokens are
    reassembled in order, single-space-joined (token-normalized rewrite —
    original whitespace is not preserved, matching `line_dedup_rewrite`'s
    convention of normalizing the reassembly separator).

    Returns every input row as ``(id_col, out_col, n_tokens, n_removed)``
    — documents that were entirely duplicated come back with an empty
    string, not silently dropped; NULL text behaves as empty text (0
    tokens).  Complements the other rewrite tiers: `line_dedup_rewrite`
    (line-aligned), `span_dup_stats` (profiling only), and document-level
    dedup — this is the only tier that removes verbatim spans at ARBITRARY
    alignment.  See :func:`_exact_substring_merged_spans` for the
    winnowing guarantee, degradation guard, and scale shape;
    ``impl="grams"`` selects the guaranteed-linear all-grams route
    (:func:`_exact_substring_merged_spans_grams`).
    """
    guard = _degradation_guard("exact_substring_dedup", on_degradation, cap_pairs_per_doc)
    if impl == "grams":
        merged = _exact_substring_merged_spans_grams(df, id_col, text_col, min_len)
    elif impl == "anchors":
        merged = _exact_substring_merged_spans(df, id_col, text_col, min_len, k, guard)
    else:
        raise ValueError(f"impl must be 'anchors' or 'grams', got {impl!r}")
    return _es_rewrite(df, id_col, text_col, merged, out_col)


@pinning
def exact_substring_decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    min_len: int = 50,
    k: int | None = None,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
    out_col: str = "clean_text",
) -> DataFrame:
    """CROSS-CORPUS span-level decontamination — the ExactSubstr machinery
    pointed at a benchmark: every token of ``df`` lying inside a verbatim
    token-span of length ≥ ``min_len`` that also appears ANYWHERE in
    ``bench`` is removed, and the documents are rewritten (Lee et al.
    2022 §decontamination: benchmark text must not survive in training
    data verbatim, at any alignment).  Span-level complement of the
    document-level tiers: q100 (8-gram overlap flags) and
    `cross_corpus_contamination` (MinHash-LSH doc pairs) FLAG documents;
    this REWRITES them, surgically, keeping the clean remainder.

    Declarative semantics (the DuckDB oracle form): a token of ``df``
    dies iff some ``min_len``-token window covering it occurs verbatim in
    some benchmark document — same equivalence argument as
    :func:`_exact_substring_merged_spans`, with "≥ 2 distinct documents"
    replaced by "any benchmark document".

    Plan: the A×B-ONLY shape of `cross_corpus_contamination` — anchors
    are winnowed independently per side with the SAME (k, w), so a shared
    span of ≥ min_len tokens selects the same anchor in both corpora;
    the candidate join is anchors_A ⋈ anchors_B on the hash (never a
    within-corpus pair, never all-pairs), guarded by ``on_degradation``
    and ``cap_pairs_per_doc`` (:func:`_degradation_guard`; the estimate is
    Σ cA·cB over anchor-hash buckets).  At 100 TB ×
    benchmark-sized B, the B anchor table is small — AQE broadcasts it —
    and A is touched by one map pass + the candidates-sized verify leg.

    Returns every ``df`` row as ``(id_col, out_col, n_tokens,
    n_removed)``; benchmark rows are never returned.
    """
    guard = _degradation_guard(
        "exact_substring_decontaminate", on_degradation, cap_pairs_per_doc
    )
    merged = _exact_substring_merged_spans(
        df, id_col, text_col, min_len, k, guard, bench, bench_id_col, bench_text_col
    )
    return _es_rewrite(df, id_col, text_col, merged, out_col)


def intra_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    out_col: str = "clean_text",
) -> DataFrame:
    """WITHIN-document repeated-substring rewrite — the third alignment
    class of the ExactSubstr family (Lee et al. 2022 dedup within as well
    as across documents; self-repetition is the signature of looping
    generation and templated spam): every occurrence of a ≥``min_len``-
    token span that already occurred EARLIER IN THE SAME DOCUMENT is
    removed (keep-first), and the survivors are reassembled in order.
    Declarative semantics (the oracle form): a token dies iff some
    ``min_len``-gram window covering it has an equal gram at a strictly
    earlier position in the same document.

    Completes the triad: `exact_substring_dedup` (cross-document),
    `exact_substring_decontaminate` (cross-corpus), this (intra-document).
    Complements `duplicate_ngram_fraction` (q122), which MEASURES
    self-repetition; this REWRITES it.

    Scale shape — the best possible: ENTIRELY MAP-ONLY, zero shuffle.
    Repeat detection is per-row array algebra (double-xxhash 128-bit gram
    keys → one array_sort by (key, pos) → adjacent-equal scan marks every
    non-first occurrence → interval fold-merge → indexed-filter rewrite),
    so 100 TB is one parquet scan pass that pipelines into whatever
    consumes it.  Every array is bound once per row (`_es_bind`) — no HOF
    re-derivation.
    """
    _es_validate(min_len, None)
    L = min_len
    t = _es_token_table(df, id_col, text_col)

    def _spans_of(tv):
        grams = F.transform(
            F.sequence(F.lit(1), F.size(tv) - F.lit(L - 1)),
            lambda i: _es_bind(
                F.concat_ws(" ", F.slice(tv, i, F.lit(L))),
                lambda g: F.struct(
                    F.xxhash64(g).alias("h1"),
                    F.xxhash64(F.concat(g, F.lit("#2"))).alias("h2"),
                    i.cast("int").alias("p"),
                ),
            ),
        )
        # sort by (h1, h2, p): within an equal-key run, the first element
        # is the earliest occurrence — every later element is a repeat
        return _es_bind(
            F.array_sort(grams),
            lambda sg: _es_union(
                F.array_sort(
                    F.transform(
                        F.filter(
                            sg,
                            lambda x, i: F.when(
                                i > 0,
                                (x["h1"] == F.element_at(sg, i)["h1"])
                                & (x["h2"] == F.element_at(sg, i)["h2"]),
                            ).otherwise(F.lit(False)),
                        ),
                        lambda x: F.struct(
                            x["p"].alias("s"),
                            (x["p"] + F.lit(L - 1)).alias("e"),
                        ),
                    )
                )
            ),
        )

    def _rewrite(tv, spv):
        kept, removed = _es_drop_spans(tv, spv)
        return F.struct(kept.alias("clean"), removed.alias("removed"))

    result = _es_bind(
        F.col("__toks"),
        lambda tv: _es_bind(
            F.when(F.size(tv) >= L, _spans_of(tv)).otherwise(F.expr(_ES_EMPTY_SPANS)),
            lambda spv: _rewrite(tv, spv),
        ),
    )
    return t.select(
        F.col(id_col),
        result["clean"].alias(out_col),
        F.col("__n").cast("bigint").alias("n_tokens"),
        result["removed"].alias("n_removed"),
    )
