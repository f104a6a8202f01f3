"""Table-maintenance operators: small-file compaction planning.

A 100 TB table accretes small files from streaming micro-batches and
per-executor writes (the reference's per-task appends —
``tasks/broker_feeds/combine_broker_listings.py`` writes whatever each run
produced); query latency then dies on file-open overhead and tiny row
groups.  Compaction = rewrite many small files into few target-sized ones.
The *plan* (which files merge into which output) is itself a relational
computation and must scale to millions of file entries, so it runs as a
DataFrame job over the file inventory, not a driver loop.

Bin assignment is the streaming first-fit used by every table format's
compactor (Delta OPTIMIZE, Iceberg rewrite_data_files): within a table
partition, order files deterministically, take a running byte total, and
cut a new output bin every ``target_bytes`` — ``bin = floor((cumsum −
size) / target)``, i.e. a file joins the bin its *starting* offset falls
in.  Pure window arithmetic: one shuffle keyed by the table partition, no
driver state, no UDF.  Files larger than the target land alone in their
own bin(s) and can be skipped by the executor (already-compact check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import md5_60
from re_data_pipeline_spark.operators.ids import pin, pinning, release


def plan_compaction(
    files: DataFrame,
    partition_cols: list[str],
    size_col: str = "size_bytes",
    file_col: str = "file_id",
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Assign every file to a compaction output bin.

    Input: one row per data file with its table-partition columns, a
    deterministic file identifier, and its size.  Output: the input plus
    ``bin`` (BIGINT, 0-based within each table partition) — all files with
    the same (partition, bin) are rewritten into one output file of ~
    ``target_bytes``.

    Scale shape: a single window over (partition_cols) ordered by
    ``file_col`` — one hash exchange on the table partition key, which is
    exactly how the work parallelizes on a cluster (each table partition
    compacts independently).  No global sort, no driver-side file list.
    """
    w = (
        Window.partitionBy(*[F.col(c) for c in partition_cols])
        .orderBy(F.col(file_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(size_col)).over(w)
    return files.withColumn(
        "bin",
        F.floor((cum - F.col(size_col)) / F.lit(target_bytes)).cast("bigint"),
    )


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    state_cols: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change log:
    one row per (key, state run) with ``valid_from`` / ``valid_to``
    (NULL = current).

    The lakehouse compaction of a CDC stream: consecutive records with an
    unchanged state collapse into one validity interval; a state CHANGE
    closes the previous interval at the new record's timestamp.  Two rank
    windows partitioned by the natural key — the only shuffle is one hash
    exchange on the key, and key partitions are change-log-per-entity sized
    (small), so 100 TB of log compacts without skew.

    Ties on ``ts_col`` within a key are broken by the state columns so the
    history is deterministic even for same-timestamp changes.
    """
    key_cols = [F.col(k) for k in keys]
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in state_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)

    state = F.struct(*[F.col(c) for c in state_cols])
    changed = (
        F.lag(state).over(w).isNull() | (F.lag(state).over(w) != state)
    )
    runs = changes.withColumn("__new_run", changed.cast("int"))
    # run id = prefix count of state changes; the interval rows are the
    # run-openers, closed by the NEXT opener's timestamp
    runs = runs.withColumn(
        "__run",
        F.sum("__new_run").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    openers = runs.where(F.col("__new_run") == 1).select(
        *keys,
        *state_cols,
        F.col(ts_col).alias("valid_from"),
        F.col("__run").alias("__run"),
    )
    w2 = Window.partitionBy(*key_cols).orderBy(F.col("__run"))
    return openers.select(
        *keys,
        *state_cols,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )


def key_skew_report(
    df: DataFrame,
    key_cols: list[Column | str],
    top_n: int = 10,
) -> DataFrame:
    """Heavy-hitter report for a prospective shuffle key — the diagnostic
    you run BEFORE a 100 TB groupBy/join on that key: the top ``top_n``
    keys by row count with each one's corpus share, skew factor (count ÷
    mean rows per key), and the integer salt fan-out that would level it
    (``⌈count·n_keys/total⌉`` — the split count ``salted_agg``/AQE skew
    join would need).  A skew factor near 1 means the key is safe; tens
    means one reducer owns the stage.

    Returns ``(key..., n_rows, share, skew_factor, suggested_salt, rnk)``.

    Exactness: share and skew are exact rationals rounded at 6dp;
    ``suggested_salt`` is integer-ceil arithmetic (never float).  Scale
    shape: one map-combined count agg (corpus → |keys| rows), a 1-row
    stats agg broadcast back, and a ``top_n`` TakeOrdered — the corpus is
    touched once and nothing key-cardinality-sized ever sorts globally.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    # deliberately NOT pinned (measured r14): the stats agg and the top-N
    # do re-plan the corpus groupBy, but a tried persist read 43% SLOWER
    # (0.35 → 0.50 s cold at sf0.1 — cache-store cost beats the pipelined
    # re-aggregation), and the key-count table is |keys|-sized, which for
    # a high-cardinality key approaches the corpus — the pin the
    # multiply-referenced-frame rule's corollary 1 forbids.
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    top = (
        counts.crossJoin(F.broadcast(stats))
        .orderBy(F.desc("n_rows"), *[c.asc() for c in cols])
        .limit(top_n)
    )
    # bounded-global-window: ranks the .limit(top_n) result only — the
    # key-count table never sorts globally
    w = Window.orderBy(F.desc("n_rows"), *[c.asc() for c in cols])
    out = (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(
            *[c for c in top.columns if c not in ("__total", "__nkeys", "rnk")],
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
            # double FIRST: a bigint·bigint product wraps at 2^63 before
            # the (double) division ever sees it; the display ratio only
            # needs double precision (r13 fix)
            (
                F.round(
                    F.col("n_rows").cast("double") * F.col("__nkeys") / F.col("__total"), 6
                )
            ).alias("skew_factor"),
            # integer ceil via DIV over decimal(38,0), not bigint and not
            # floor(float division): at corpus scale n_rows·n_keys exceeds
            # 2^53 (double off-by-one) AND can exceed 2^63 (bigint wraps
            # NEGATIVE in non-ANSI mode, exactly for the hottest keys this
            # report exists to flag — r13 fix)
            F.expr(
                "CAST((CAST(n_rows AS DECIMAL(38,0)) * __nkeys + __total - 1)"
                " DIV __total AS INT)"
            ).alias("suggested_salt"),
            "rnk",
        )
    )
    return out


def _nullsafe_str(col: Column) -> Column:
    """The receipt family's NULL convention: a field hashes as its string
    cast, NULL as '' — md5(NULL) would NULL the whole serialized row,
    land it in a NULL shard, and bit_xor would then SKIP it, leaving the
    row's content entirely outside the receipt (r11 advice).  The
    deliberate residual is that NULL and a ''-casting value hash
    identically.  ONE definition shared by every receipt field in
    :func:`shard_manifest` AND :func:`lsh_index_summary` so the
    convention cannot drift per-field (r17 review: the index summary
    originally coalesced id/band_key but not band)."""
    return F.coalesce(col.cast("string"), F.lit(""))


def _row_digest(id_col: str, content_cols: list[str]) -> tuple[Column, Column]:
    """The receipt family's (shard-key hash, injective row hash) pair —
    ONE construction shared by :func:`shard_manifest` and
    :func:`corpus_receipt_diff` (r18): the diff fetches rows by the SAME
    ``pmod(md5_60(id))`` shard key the manifest localizes to, and
    compares them by the SAME boundary-shift-proof row hash, so the two
    operators cannot drift apart.  Per-field fixed-length md5 digests
    concatenated (injective across field boundaries); NULL fields hash
    as '' (:func:`_nullsafe_str`)."""
    sid = _nullsafe_str(F.col(id_col))
    content = F.concat(
        F.md5(sid),
        *[F.md5(_nullsafe_str(F.col(c))) for c in content_cols],
    )
    return md5_60(sid), md5_60(content)


def shard_manifest(
    df: DataFrame,
    id_col: str,
    content_cols: list[str],
    num_shards: int = 64,
    shard_col: str = "shard",
) -> DataFrame:
    """Per-shard integrity manifest for a corpus handoff: row count,
    order-independent content checksum, byte mass, and id range — the
    receipt a downstream trainer (or a re-run of the same pipeline)
    verifies against before touching 100 TB of payload.  The checksum is
    ``bit_xor`` of a 60-bit md5-prefix row hash: XOR is commutative and
    associative, so the aggregate is partition-order-independent — any
    engine computing the same row hashes over the same rows produces the
    same manifest, which is the whole point of a manifest.

    Rows land in ``pmod(md5_60(id), num_shards)`` — the shard key depends
    only on the id, so two runs that disagree on anything (a dropped row,
    a mutated text) disagree on exactly that shard's line, localizing the
    diff to 1/num_shards of the corpus.

    Scale shape: ONE map-combined groupBy over num_shards keys; nothing
    else moves.  The manifest is num_shards rows — driver-safe at any
    corpus size.
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be ≥ 1; got {num_shards}")
    # NULL fields hash as '' (_nullsafe_str — the r11 convention);
    # min_id/max_id still ignore NULLs (they are ranges of REAL ids).
    # INJECTIVE row serialization (_row_digest): hash each field
    # separately and concatenate the fixed-length digests.  A
    # separator-joined string is ambiguous across field boundaries
    # (text='a\x1fb', lang='c' vs text='a', lang='b\x1fc' collide) —
    # which would let a tamper that shifts bytes across a boundary pass
    # verification, the one failure an integrity receipt exists to catch.
    key, row_hash = _row_digest(id_col, content_cols)
    n_bytes = sum(
        (F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0)) for c in content_cols),
        F.lit(0),
    )
    return (
        df.select(
            F.pmod(key, F.lit(num_shards)).cast("int").alias(shard_col),
            row_hash.alias("__rh"),
            n_bytes.cast("bigint").alias("__nb"),
            F.col(id_col).alias("__id"),
        )
        .groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(__rh)").cast("bigint").alias("content_xor"),
            F.sum("__nb").cast("bigint").alias("n_bytes"),
            F.min("__id").alias("min_id"),
            F.max("__id").alias("max_id"),
        )
    )


def merge_shard_manifests(
    a: DataFrame, b: DataFrame, shard_col: str = "shard"
) -> DataFrame:
    """Merge two ``shard_manifest`` outputs into the manifest of the union
    corpus — the incremental-maintenance path: a daily append re-manifests
    only its OWN rows and folds into yesterday's receipt, never re-reading
    the historical corpus.  Sound because every manifest column is a
    commutative monoid fold (count/byte sums, XOR checksum, min/max id):
    merge-of-manifests ≡ manifest-of-union for DISJOINT row sets, which is
    what append-only batches are.  (Re-processed/overlapping rows would
    double-count and double-XOR — dedup batches before manifesting, the
    same contract as every incremental aggregate in
    ``upsert.merge_aggregate_state``.)

    Scale shape: both inputs are num_shards rows; the merge is a
    num_shards-row agg — free at any corpus size.
    """
    u = a.unionByName(b)
    return u.groupBy(shard_col).agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.expr("bit_xor(content_xor)").cast("bigint").alias("content_xor"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        F.min("min_id").alias("min_id"),
        F.max("max_id").alias("max_id"),
    )


def retract_shard_manifest(
    manifest: DataFrame, retracted: DataFrame, shard_col: str = "shard"
) -> DataFrame:
    """Un-fold a retracted subset's manifest OUT of a frozen corpus
    receipt — :func:`merge_shard_manifests`' monoid run backwards, for
    deletions (right-to-be-forgotten, license retraction, the 100 TB form
    of the reference's archival delete-by-key,
    ``tasks/property_listings/archive_delisted_properties.py:141-147``):
    the corpus itself is never re-scanned; only the retracted rows'
    OWN manifest is needed.

    Sound because every surviving column is a commutative GROUP fold, not
    just a monoid: counts and byte sums subtract, and the XOR checksum is
    its own inverse (``x ⊕ x = 0``), so
    unfold-of-manifest ≡ manifest-of-difference for ``retracted ⊆
    corpus`` (q221's DuckDB oracle certifies the identity end-to-end).
    ``min_id`` / ``max_id`` do NOT survive: min/max form a monoid with no
    inverse (deleting a shard's extreme id cannot reveal the next one
    without a scan), so the output schema is
    ``(shard, n_rows, content_xor, n_bytes)`` — re-derive id ranges from
    storage metadata if a consumer needs them.

    Preconditions: the retracted manifest must be computed over EXACTLY
    the rows being deleted, with the same ``num_shards`` / content
    columns (:func:`corpus_retraction` guarantees this by fetching the
    rows from the corpus itself).  Violations stay LOUD: a shard is
    dropped from the output only when it zeroes out completely (rows,
    checksum, AND bytes — a legitimately emptied shard, matching the
    from-scratch manifest's absent row); retracting rows the corpus never
    had leaves a negative count or a nonzero residual checksum in place,
    which any receipt comparison then catches.

    Scale shape: both inputs are num_shards rows; the unfold is a
    num_shards-row agg — free at any corpus size.
    """
    neg = retracted.select(
        F.col(shard_col),
        (-F.col("n_rows")).cast("bigint").alias("n_rows"),
        F.col("content_xor"),
        (-F.col("n_bytes")).cast("bigint").alias("n_bytes"),
    )
    u = manifest.select(
        shard_col, "n_rows", "content_xor", "n_bytes"
    ).unionByName(neg)
    out = u.groupBy(shard_col).agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.expr("bit_xor(content_xor)").cast("bigint").alias("content_xor"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
    )
    return out.where(
        ~(
            (F.col("n_rows") == 0)
            & (F.col("content_xor") == 0)
            & (F.col("n_bytes") == 0)
        )
    )


def lsh_index_summary(
    index_buckets: DataFrame,
    id_col: str = "doc_id",
    num_shards: int = 16,
    shard_col: str = "shard",
) -> DataFrame:
    """Per-shard integrity receipt for a persisted LSH bucket index
    (``(id, band, band_key)`` rows — the
    :func:`~re_data_pipeline_spark.operators.dedup.incremental_lsh_dedup`
    index contract): row count and order-independent XOR checksum of a
    60-bit md5-prefix hash over the injectively-serialized bucket row
    (fixed-length per-field digests, the same boundary-shift-proof
    construction as :func:`shard_manifest`).  Rows land in the SAME
    ``pmod(md5_60(id), num_shards)`` shard as the corpus manifest, so the
    two receipts align shard-for-shard — q221 joins them into one frame
    whose oracle match certifies prune-of-index ≡ index-of-difference
    alongside the manifest identity.

    Scale shape: ONE map-combined groupBy over num_shards keys; output is
    num_shards rows.
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be ≥ 1; got {num_shards}")
    # every field through _nullsafe_str — a NULL band (index corruption)
    # must enter the checksum like NULL ids/band_keys do, not be counted
    # in idx_rows while bit_xor silently skips its NULL hash (r17 review)
    sid = _nullsafe_str(F.col(id_col))
    content = F.concat(
        F.md5(sid),
        F.md5(_nullsafe_str(F.col("band"))),
        F.md5(_nullsafe_str(F.col("band_key"))),
    )
    return (
        index_buckets.select(
            F.pmod(md5_60(sid), F.lit(num_shards)).cast("int").alias(shard_col),
            md5_60(content).alias("__rh"),
        )
        .groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("idx_rows"),
            F.expr("bit_xor(__rh)").cast("bigint").alias("idx_xor"),
        )
    )


def retract_from_lsh_index(
    index_buckets: DataFrame,
    retract_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Prune a retracted doc set's rows out of a persisted LSH bucket
    index: a left-anti join on the id.  Retraction REVERSES the
    index-retention rule dedup uses (a doc removed as a *duplicate* keeps
    blocking future copies of itself; a doc removed by *retraction* must
    stop blocking — its content is being erased, and future recrawls of
    it must be judged on their own).

    The id set is broadcast-hinted — retraction requests are
    batch-sized, so the prune is a map-only filter over the index with
    ZERO index-side shuffle, which is the whole point at 100 TB (the
    index is corpus×bands rows).  No ``distinct``: the anti-join only
    checks existence, so duplicate ids cannot change the result.
    """
    return index_buckets.join(
        F.broadcast(retract_ids.select(id_col)), id_col, "left_anti"
    )


@pinning
def incremental_corpus_update(
    corpus_a: DataFrame,
    batch_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    content_cols: list[str] | None = None,
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    min_len: int = 50,
    k: int | None = None,
    num_shards: int = 16,
    index_a: DataFrame | None = None,
    manifest_a: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The frozen-corpus maintenance core of an incremental crawl ingest
    (q220's dedup→span→manifest tiers as a reusable API): fold a NEW,
    already-gated batch into a FROZEN curated corpus without touching any
    old row.

    - LSH dedup of the batch against the prior corpus's bucket index plus
      within-batch first-seen-wins (:func:`~re_data_pipeline_spark.operators.dedup.incremental_lsh_dedup`);
    - ExactSubstr span rewrite checked new-vs-old ONLY
      (:func:`~re_data_pipeline_spark.operators.dedup.exact_substring_decontaminate`
      — the frozen corpus's shipped shards are immutable, so spans of the
      batch that appear verbatim anywhere in the corpus are removed from
      the BATCH);
    - the batch's shard manifest folded into the corpus's frozen receipt
      (:func:`merge_shard_manifests` — merge-of-manifests ≡
      manifest-of-union for disjoint row sets, which append-only batches
      are; q220's DuckDB oracle certifies the identity end-to-end).

    ``corpus_a`` / ``batch_b`` carry ``(id_col, text_col, *content_cols)``;
    quality gating (blocklist / Gopher / frozen-LM thresholds) is corpus
    POLICY and stays with the caller (q220 shows the full composition).
    ``index_a`` / ``manifest_a`` are the frozen state a production run
    loads from storage — when omitted (fixtures, tests) they are
    recomputed from ``corpus_a`` with identical plan shapes.

    Returns ``{"kept", "dropped", "manifest", "manifest_batch"}`` where
    ``kept`` is the processed batch ``(id_col, text_col, *content_cols)``
    (rewritten text; dedup-dropped rows absent) and ``manifest`` is the
    updated ``num_shards``-row receipt.  ``kept`` DERIVES from the
    operator's internal eager localCheckpoint at the dedup→span stage
    boundary (the span tier's guard/anchor actions would otherwise
    re-analyze the batch lineage per job — the stage-boundary
    discipline) — ``kept`` itself is a lazy span-join over that
    checkpoint — and the result pins that checkpoint plus the span
    tier's anchor tables for ``ids.release_spines``; the batch bucket
    table is released here (it is dead once the
    boundary checkpoint materializes).  The returned ``manifest``
    recomputes through ``kept`` and ``corpus_a``; ``dropped`` recomputes
    through ``batch_b``'s ORIGINAL lineage (it is the dedup tier's
    collision set, upstream of the boundary checkpoint) — callers that
    eagerly release ``batch_b``'s own checkpoint after this call (q220's
    pattern) must materialize ``dropped`` FIRST or not at all.  Release
    after materializing, as usual.

    Scale shape (100 TB corpus + daily batch): the corpus is touched only
    by the passes production pays (index scan or none, bench anchor pass,
    its own manifest or none); all rewrite work is batch-sided; candidate
    generation is (band, band_key) / anchor-hash equi-joins — batch×index,
    never corpus×corpus; the fold is 2×num_shards rows.
    """
    from re_data_pipeline_spark.operators.dedup import (
        exact_substring_decontaminate,
        incremental_lsh_dedup,
        lsh_bands,
        minhash_signature,
    )

    if content_cols is None:
        content_cols = [text_col, "lang"]
    if index_a is None:
        index_a = lsh_bands(
            minhash_signature(corpus_a, text_col, num_hashes, shingle_words),
            id_col, "minhash", bands, num_hashes // bands,
        )
    r = incremental_lsh_dedup(
        batch_b, index_a, id_col, text_col, num_hashes, shingle_words, bands
    )
    # STAGE BOUNDARY (dedup → span tier): the A×B span pass runs guard and
    # anchor actions over the deduped batch several times — checkpoint,
    # then release the dedup tier's own pin (dead once materialized)
    b_ded = pin(r["kept"].localCheckpoint())
    release(r["new_buckets"])

    es = exact_substring_decontaminate(
        b_ded.select(id_col, text_col),
        corpus_a.select(F.col(id_col).alias("bench_id"), F.col(text_col).alias("text")),
        id_col=id_col,
        min_len=min_len,
        k=k,
    )
    carried = b_ded.select(id_col, *[c for c in content_cols if c != text_col])
    kept = es.select(id_col, F.col("clean_text").alias(text_col)).join(carried, id_col)
    m_a = (
        manifest_a
        if manifest_a is not None
        else shard_manifest(corpus_a, id_col, content_cols, num_shards=num_shards)
    )
    m_b = shard_manifest(kept, id_col, content_cols, num_shards=num_shards)
    manifest = merge_shard_manifests(m_a, m_b)
    return {
        "kept": kept,
        "dropped": r["dropped"],
        "manifest": manifest,
        "manifest_batch": m_b,
    }


def corpus_retraction(
    corpus_a: DataFrame,
    retract_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    content_cols: list[str] | None = None,
    num_hashes: int = 16,
    shingle_words: int = 3,
    bands: int = 4,
    num_shards: int = 16,
    index_a: DataFrame | None = None,
    manifest_a: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The inverse of :func:`incremental_corpus_update`: DELETE a doc set
    D from a FROZEN curated corpus A without reprocessing A — the 100 TB
    form of the reference's archival delete-by-key
    (``tasks/property_listings/archive_delisted_properties.py:141-147``,
    K4), generalized to a corpus with an integrity receipt and a dedup
    index (right-to-be-forgotten / license-retraction maintenance):

    - fetch D's rows from A by id (a broadcast equi-join — id-pruned
      point reads, batch-sized, the only pass that touches A's payload);
    - manifest exactly those rows and UN-fold them out of A's frozen
      receipt (:func:`retract_shard_manifest` — XOR is self-inverse,
      counts/bytes subtract; q221's DuckDB oracle certifies
      unfold-of-manifest ≡ manifest-of-difference);
    - prune D's rows from the frozen LSH bucket index
      (:func:`retract_from_lsh_index` — broadcast anti-join, map-only
      over the index; retracted docs must STOP blocking future recrawls,
      the reverse of the duplicate-retention rule);
    - A∖D itself is the lazy anti-join ``kept`` (in production a
      partition-pruned lakehouse DELETE; returned here so callers can
      materialize or MERGE it).

    ``index_a`` / ``manifest_a`` are the frozen state a production run
    loads from storage — when omitted (fixtures, tests) they are
    recomputed from ``corpus_a`` with identical plan shapes.  Fetching
    D's content from the corpus itself (rather than trusting a
    caller-supplied copy) guarantees the unfold subtracts what A actually
    holds, so the receipt cannot silently drift; ids in ``retract_ids``
    absent from A are no-ops, and duplicate request rows are collapsed.

    Returns ``{"kept", "retracted", "manifest", "manifest_retracted",
    "index"}`` — all lazy, no pins to release.

    Scale shape (100 TB corpus + batch-sized retraction): A's payload is
    touched once (the broadcast id fetch; the fixture's manifest/index
    recompute disappears in production); the unfold is 2×num_shards rows;
    the index prune shuffles ZERO index rows (broadcast anti-join); D's
    own manifest is one map-combined agg over batch-sized rows.
    """
    from re_data_pipeline_spark.operators.dedup import lsh_bands, minhash_signature

    if content_cols is None:
        content_cols = [text_col, "lang"]
    # distinct matters for the INNER fetch below (duplicate request rows
    # would double-count D's manifest); the two anti-joins are
    # existence-semantics and indifferent to duplicates
    ids = retract_ids.select(id_col).distinct()
    # D's content, fetched from the corpus itself: id-pruned point reads
    d_rows = corpus_a.join(F.broadcast(ids), id_col)
    m_d = shard_manifest(d_rows, id_col, content_cols, num_shards=num_shards)
    m_a = (
        manifest_a
        if manifest_a is not None
        else shard_manifest(corpus_a, id_col, content_cols, num_shards=num_shards)
    )
    manifest = retract_shard_manifest(m_a, m_d)
    if index_a is None:
        index_a = lsh_bands(
            minhash_signature(corpus_a, text_col, num_hashes, shingle_words),
            id_col, "minhash", bands, num_hashes // bands,
        )
    index = retract_from_lsh_index(index_a, ids, id_col)
    kept = corpus_a.join(F.broadcast(ids), id_col, "left_anti")
    return {
        "kept": kept,
        "retracted": d_rows,
        "manifest": manifest,
        "manifest_retracted": m_d,
        "index": index,
    }


def manifest_diff(
    manifest_a: DataFrame, manifest_b: DataFrame, shard_col: str = "shard"
) -> DataFrame:
    """Compare two :func:`shard_manifest` receipts and return one row per
    DIVERGENT shard — the review surface of a corpus audit (yesterday's
    frozen manifest vs a re-manifest after an incident), and the pruning
    input of :func:`corpus_receipt_diff`.  A shard diverges when any of
    (``n_rows``, ``content_xor``, ``n_bytes``) differ, null-safely: a
    shard present in only ONE receipt (a wholly lost or wholly new
    shard) is divergent, with the absent side's columns NULL.

    Output: ``(shard, a_rows, a_xor, a_bytes, b_rows, b_xor, b_bytes)``.

    Scale shape: both inputs are num_shards rows; the full-outer compare
    is a num_shards-row join — free at any corpus size.  The deliberate
    residual is the XOR checksum's blindness to paired changes that
    cancel (measure-zero under md5) and the shared NULL-as-'' field
    convention (:func:`_nullsafe_str`).
    """
    a = manifest_a.select(
        shard_col,
        F.col("n_rows").alias("a_rows"),
        F.col("content_xor").alias("a_xor"),
        F.col("n_bytes").alias("a_bytes"),
    )
    b = manifest_b.select(
        shard_col,
        F.col("n_rows").alias("b_rows"),
        F.col("content_xor").alias("b_xor"),
        F.col("n_bytes").alias("b_bytes"),
    )
    j = a.join(b, shard_col, "full_outer")
    same = (
        F.col("a_rows").eqNullSafe(F.col("b_rows"))
        & F.col("a_xor").eqNullSafe(F.col("b_xor"))
        & F.col("a_bytes").eqNullSafe(F.col("b_bytes"))
    )
    return j.where(~same)


def corpus_receipt_diff(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    id_col: str = "doc_id",
    content_cols: list[str] | None = None,
    num_shards: int = 16,
    shard_col: str = "shard",
    manifest_a: DataFrame | None = None,
    manifest_b: DataFrame | None = None,
    stored_shard_col: str | None = None,
) -> dict[str, DataFrame]:
    """Shard-localized row-level audit of two corpus versions — the third
    leg of the maintenance triptych (append :func:`incremental_corpus_update`
    / retract :func:`corpus_retraction` / AUDIT), and the 100 TB form of
    the reference's scrape-vs-DB delisting comparison
    (``tasks/property_listings/archive_delisted_properties.py:104-147``:
    current-listings vs stored-table diff): given two receipts, localize
    the divergence to shards (:func:`manifest_diff` — the exact promise
    :func:`shard_manifest` makes: any diff lands in 1/num_shards of the
    corpus), then fetch ONLY the differing shards' rows via the same
    ``pmod(md5_60(id))`` key and report per-shard row-level deltas.

    Returns ``{"shards", "deltas"}``: ``shards`` is the divergent-shard
    receipt join (≤ num_shards rows); ``deltas`` is one row per differing
    document — ``(shard, id_col, delta)`` with ``delta`` ∈ ``'added'``
    (in B only), ``'removed'`` (in A only), ``'mutated'`` (both, content
    hash differs) — A reads as the frozen/prior version, B as the
    current one.

    ``manifest_a`` / ``manifest_b`` are the frozen receipts a production
    audit loads from storage — when omitted (fixtures, tests) they are
    recomputed from the corpora with identical plan shapes.  The
    divergent-shard set is materialized here (ONE bounded collect,
    ≤ num_shards rows — receipt-sized, never corpus-sized) so the shard
    predicate is a LITERAL ``IN`` filter sitting directly on both corpus
    scans: under a production layout partitioned/bucketed by the shard
    key it becomes partition pruning, and the row-level pass reads
    |divergent shards| / num_shards of each corpus, not the corpus.

    Equivalence contract (q222's DuckDB oracle): diff-via-receipt ≡
    diff-from-scratch — the oracle full-outer-joins BOTH corpora wholesale
    and compares fields directly; the hash match certifies both the shard
    pruning (no delta escapes its divergent shard) and the row-hash
    mutation test (hash-compare ≡ field-compare, md5-collision
    measure-zero).  Known residuals, shared with the whole receipt
    family: NULL fields hash as '' (:func:`_nullsafe_str`), and NULL ids
    never join-match, so an identical NULL-id row on both sides reports
    as removed+added IF its shard diverges for other reasons (identical
    receipts otherwise keep that shard out of the diff entirely).

    ``stored_shard_col`` names a MATERIALIZED shard column both corpora
    carry (the production handoff layout: written
    ``partitionBy(shard)``, since the shard key IS the manifest's
    localization unit).  Without it, the shard is recomputed from the id
    — correct, but an md5 expression is opaque to the file index, so a
    flat fixture reads every row and filters in the scan.  With it, the
    literal IN predicate lands on the partition column itself and
    becomes REAL partition pruning: only the divergent shards' files
    are opened (measured in SCALING.md §sf1 anchor, "q222 receipt
    audit").  Layout
    contract: the stored column must equal ``pmod(md5_60(id),
    num_shards)`` — what :func:`shard_manifest` shards by; a corpus
    written by this engine's receipt family satisfies it by
    construction.

    Scale shape (100 TB corpus, incident-sized divergence): the receipts
    are num_shards rows (loaded, or one map-combined agg each when
    recomputed); the row-level pass scans only divergent shards (file
    skipping under ``stored_shard_col``) and shuffles their rows once
    for the full-outer id join — wall scales with |differing shards|,
    not |corpus|.  Nothing is corpus×corpus.
    """
    if content_cols is None:
        content_cols = ["text", "lang"]
    m_a = (
        manifest_a
        if manifest_a is not None
        else shard_manifest(corpus_a, id_col, content_cols, num_shards=num_shards)
    )
    m_b = (
        manifest_b
        if manifest_b is not None
        else shard_manifest(corpus_b, id_col, content_cols, num_shards=num_shards)
    )
    shards = manifest_diff(m_a, m_b, shard_col=shard_col)
    # BOUNDED collect (≤ num_shards rows): the divergent-shard ids become
    # a literal IN predicate ON the scans — broadcast-joining them instead
    # would keep the filter out of partition pruning's reach
    div = sorted(r[0] for r in shards.select(shard_col).collect())
    # LOUD guard on the one silent-miss mismatch this operator can
    # detect: receipts built with a LARGER num_shards than this call
    # surface divergent ids ≥ num_shards, which the computed shard key
    # could never match — the prune would quietly drop those rows.  (A
    # SMALLER receipt modulus is indistinguishable from sparse
    # divergence and stays a documented caller contract, like
    # stored_shard_col's layout contract.)
    bad = [s for s in div if s is None or s < 0 or s >= num_shards]
    if bad:
        raise ValueError(
            f"divergent shard ids {bad} outside [0, {num_shards}): the "
            "injected receipts were built with a different num_shards "
            "than this call; the shard-pruned fetch would silently miss "
            "their rows"
        )

    def pruned(df: DataFrame, sh: str, rh: str) -> DataFrame:
        key, row_hash = _row_digest(id_col, content_cols)
        shard = (
            F.col(stored_shard_col).cast("int")
            if stored_shard_col is not None
            else F.pmod(key, F.lit(num_shards)).cast("int")
        )
        out = df.select(shard.alias(sh), F.col(id_col), row_hash.alias(rh))
        return out.where(F.col(sh).isin(div)) if div else out.where(F.lit(False))

    pa = pruned(corpus_a, "__sha", "__rha")
    pb = pruned(corpus_b, "__shb", "__rhb")
    j = pa.join(pb, id_col, "full_outer")
    delta = (
        F.when(F.col("__rha").isNull(), F.lit("added"))
        .when(F.col("__rhb").isNull(), F.lit("removed"))
        .when(F.col("__rha") != F.col("__rhb"), F.lit("mutated"))
    )
    deltas = j.select(
        F.coalesce(F.col("__sha"), F.col("__shb")).alias(shard_col),
        F.col(id_col),
        delta.alias("delta"),
    ).where(F.col("delta").isNotNull())
    return {"shards": shards, "deltas": deltas}
