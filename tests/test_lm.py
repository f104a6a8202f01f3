"""Unit tests for operators/lm.py (trigram Stupid-Backoff LM + CCNet
buckets), functions/urls.domain_suffixes, membership.domain_blocklist_filter,
and maintenance.shard_manifest."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from re_data_pipeline_spark.operators.lm import ngram_lm_nll, perplexity_buckets


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_ngram_lm_backoff_tiers_hand_computed(spark):
    # corpus: one doc "a b c a b d".  tokens N=6, V=4 (a,b,c,d)
    # trigrams: "a b c", "b c a", "c a b", "a b d" (each c3=1)
    # bigrams:  "a b"x2, "b c", "c a", "b d"
    train = _docs(spark, [(1, "a b c a b d")])
    out = {r["doc_id"]: r for r in ngram_lm_nll(train).collect()}
    r = out[1]
    assert r["n_trigrams"] == 4
    # every trigram is observed: term = -ln(c3/c2(prefix))
    # "a b c": c3=1, c2("a b")=2 -> -ln(1/2); "b c a": c2("b c")=1 -> 0
    # "c a b": c2("c a")=1 -> 0; "a b d": c2("a b")=2 -> -ln(1/2)
    exp = 2 * round(-math.log(1 / 2) * 1e6) + 0 + 0
    assert r["nll_micro"] == exp
    # engines round HALF_UP (Python's round() is banker's — 0.3465735 is
    # a genuine 6dp tie here, so spell the rule out)
    from decimal import ROUND_HALF_UP, Decimal

    # str(): Spark/DuckDB round the double's SHORTEST decimal repr
    # ("0.3465735"), not its full binary expansion (…49999…)
    exp_nll = float(
        Decimal(str(exp / (4 * 1e6))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    )
    assert r["nll"] == exp_nll


def test_ngram_lm_bigram_and_unigram_backoff(spark):
    train = _docs(spark, [(1, "a b c a b d")])
    # score a doc with an UNSEEN trigram whose suffix bigram exists
    # ("c a b" exists; craft "d a b": trigram unseen, bigram "a b" seen)
    score = _docs(spark, [(7, "d a b")])
    r = ngram_lm_nll(train, score).collect()[0]
    # backoff tier 2: -ln(0.4 * c2("a b")/c1("a")) = -ln(0.4 * 2/2)
    assert r["n_trigrams"] == 1
    assert r["nll_micro"] == round(-math.log(0.4 * (2 / 2)) * 1e6)

    # unigram tier: trigram+bigram unseen, word "c" seen (c1=1, N=6, V=4)
    score2 = _docs(spark, [(8, "d d c")])
    r2 = ngram_lm_nll(train, score2).collect()[0]
    assert r2["nll_micro"] == round(-math.log(0.16 * ((1 + 1) / (6 + 4))) * 1e6)

    # unseen word floor: 0.16 * 1/(N+V)
    score3 = _docs(spark, [(9, "x y z")])
    r3 = ngram_lm_nll(train, score3).collect()[0]
    assert r3["nll_micro"] == round(-math.log(0.16 * (1 / (6 + 4))) * 1e6)


def test_ngram_lm_short_and_null_docs_total(spark):
    train = _docs(spark, [(1, "a b c a b d")])
    score = _docs(spark, [(1, "a b"), (2, None), (3, ""), (4, "a b c")])
    rows = {r["doc_id"]: r for r in ngram_lm_nll(train, score).collect()}
    assert len(rows) == 4  # totality: every input doc comes back
    for i in (1, 2, 3):
        assert rows[i]["n_trigrams"] == 0 and rows[i]["nll"] is None
    assert rows[4]["n_trigrams"] == 1


def test_perplexity_buckets_integer_cut(spark):
    # n=7 in one group: (3*rk) DIV 7 -> head rk 0-2, middle rk 3-4, tail 5-6
    d = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(7)], "doc_id bigint, lang string, nll double"
    )
    out = perplexity_buckets(d, "lang")
    got = {r["doc_id"]: (r["group_rank"], r["bucket"]) for r in out.collect()}
    assert [got[i][1] for i in range(7)] == [
        "head", "head", "head", "middle", "middle", "tail", "tail",
    ]
    assert [got[i][0] for i in range(7)] == list(range(7))


def test_perplexity_buckets_null_nll_excluded(spark):
    d = spark.createDataFrame(
        [(0, "g", 1.0), (1, "g", None), (2, "g", 2.0), (3, "g", 3.0)],
        "doc_id bigint, lang string, nll double",
    )
    rows = perplexity_buckets(d, "lang").collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 2, 3]


def test_domain_suffixes_chain(spark):
    from re_data_pipeline_spark.functions.urls import domain_suffixes

    d = spark.createDataFrame([("a.b.example.com",), ("",), (None,)], "h string")
    rows = d.select(domain_suffixes("h").alias("s")).collect()
    assert rows[0]["s"] == ["a.b.example.com", "b.example.com", "example.com", "com"]
    assert rows[1]["s"] == [] and rows[2]["s"] == []


def test_domain_blocklist_filter_semantics(spark):
    from re_data_pipeline_spark.operators.membership import domain_blocklist_filter

    hosts = spark.createDataFrame(
        [
            (1, "ads.example.com"),     # wildcard parent match
            (2, "example.com"),          # exact match
            (3, "safe.org"),             # kept
            (4, "deep.ads.example.com"), # two rules match: longest wins
            (5, "notexample.com"),       # suffix STRING but not suffix DOMAIN
        ],
        "id bigint, host string",
    )
    bl = spark.createDataFrame(
        [("example.com",), ("ads.example.com",)], "rule string"
    )
    out = {r["id"]: r["blocked_by"] for r in
           domain_blocklist_filter(hosts, "host", bl).collect()}
    assert out[1] == "ads.example.com"
    assert out[2] == "example.com"
    assert out[3] is None
    assert out[4] == "ads.example.com"  # most-specific rule, not example.com
    assert out[5] is None  # 'notexample.com' must NOT match rule 'example.com'


def test_ngram_lm_min_count_pruning_semantics(spark):
    """min_count prunes MODEL entries only: a singleton trigram backs off
    to the bigram tier; surviving entries score EXACTLY as unpruned
    (denominators stay raw counts)."""
    # "a b c" appears twice (c3=2, survives min_count3=2); "a b d" once
    # (pruned -> backs off to bigram "b d", c2=1, c1(b)=3)
    train = _docs(spark, [(1, "a b c x a b c a b d")])
    score = _docs(spark, [(2, "a b c"), (3, "a b d")])
    unpruned = {r["doc_id"]: r["nll_micro"]
                for r in ngram_lm_nll(train, score).collect()}
    pruned = {r["doc_id"]: r["nll_micro"]
              for r in ngram_lm_nll(train, score,
                                    min_count3=2, min_count2=1).collect()}
    # surviving trigram "a b c": c3=2, c2("a b")=3 — identical either way
    assert pruned[2] == unpruned[2] == round(-math.log(2 / 3) * 1e6)
    # pruned trigram "a b d" falls to tier 2: -ln(0.4 * c2("b d")/c1("b"))
    assert unpruned[3] == round(-math.log(1 / 3) * 1e6)
    assert pruned[3] == round(-math.log(0.4 * (1 / 3)) * 1e6)

    # bigram pruning: score "z b d" — trigram unseen either way; bigram
    # "b d" (c2=1) prunes under min_count2=2 -> unigram tier for "d"
    score2 = _docs(spark, [(4, "z b d")])
    p2 = ngram_lm_nll(train, score2, min_count2=2).collect()[0]
    # N=10 tokens, V=4 (a,b,c,x... plus d = 5): recount — tokens:
    # a,b,c,x,a,b,c,a,b,d -> N=10, V={a,b,c,x,d}=5; c1(d)=1
    assert p2["nll_micro"] == round(-math.log(0.16 * ((1 + 1) / (10 + 5))) * 1e6)


def test_shard_manifest_order_independent_and_localizing(spark):
    from re_data_pipeline_spark.operators.maintenance import shard_manifest

    d = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(100)],
        "doc_id bigint, text string, lang string",
    )
    m1 = shard_manifest(d, "doc_id", ["text", "lang"], num_shards=8)
    m2 = shard_manifest(
        d.repartition(7, "text"), "doc_id", ["text", "lang"], num_shards=8
    )
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))

    # mutating one row changes exactly that row's shard line
    d3 = d.withColumn(
        "text", F.when(F.col("doc_id") == 42, F.lit("tampered")).otherwise(F.col("text"))
    )
    m3 = shard_manifest(d3, "doc_id", ["text", "lang"], num_shards=8)
    a = {r["shard"]: tuple(r) for r in m1.collect()}
    b = {r["shard"]: tuple(r) for r in m3.collect()}
    diff = [s for s in a if a[s] != b[s]]
    assert len(diff) == 1


def test_shard_manifest_covers_null_id_rows(spark):
    """r11 advice: md5(NULL id) used to NULL the whole row hash and
    bit_xor then SKIPPED it — a tamper in a NULL-id row's content passed
    verification.  NULL ids now hash as '' so their content is covered."""
    from re_data_pipeline_spark.operators.maintenance import shard_manifest

    schema = "doc_id string, text string, lang string"
    d = spark.createDataFrame(
        [("a", "alpha", "en"), (None, "payload", "en"), ("b", "beta", "en")],
        schema,
    )
    m = shard_manifest(d, "doc_id", ["text", "lang"], num_shards=4)
    # the NULL-id row lands in a real (non-null) shard and is counted
    assert m.where(F.col("shard").isNull()).count() == 0
    assert m.agg(F.sum("n_rows")).first()[0] == 3
    # tampering the NULL-id row's content MUST change the receipt
    tampered = spark.createDataFrame(
        [("a", "alpha", "en"), (None, "PAYLOAD*", "en"), ("b", "beta", "en")],
        schema,
    )
    mt = shard_manifest(tampered, "doc_id", ["text", "lang"], num_shards=4)
    a = {r["shard"]: r["content_xor"] for r in m.collect()}
    b = {r["shard"]: r["content_xor"] for r in mt.collect()}
    assert a != b
    # documented residual: NULL id hashes like '' id (same convention as
    # the content columns), and the shard key is id-only — so the NULL-id
    # row shares the '' shard
    empty = spark.createDataFrame([("", "payload", "en")], schema)
    nulls = spark.createDataFrame([(None, "payload", "en")], schema)
    se = shard_manifest(empty, "doc_id", ["text", "lang"], num_shards=4).first()
    sn = shard_manifest(nulls, "doc_id", ["text", "lang"], num_shards=4).first()
    assert se["shard"] == sn["shard"] and se["content_xor"] == sn["content_xor"]


def test_merge_shard_manifests_equals_full_manifest(spark):
    from re_data_pipeline_spark.operators.maintenance import (
        merge_shard_manifests,
        shard_manifest,
    )

    d = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(200)],
        "doc_id bigint, text string, lang string",
    )
    full = shard_manifest(d, "doc_id", ["text", "lang"], num_shards=8)
    p1 = shard_manifest(
        d.where("doc_id < 77"), "doc_id", ["text", "lang"], num_shards=8
    )
    p2 = shard_manifest(
        d.where("doc_id >= 77"), "doc_id", ["text", "lang"], num_shards=8
    )
    merged = merge_shard_manifests(p1, p2)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_contiguous_pack_hand_computed(spark):
    from re_data_pipeline_spark.operators.selection import contiguous_pack

    d = spark.createDataFrame(
        [(1, 3), (2, 4), (3, 2), (4, 0)], "doc_id bigint, n bigint"
    )
    out = contiguous_pack(d, ["doc_id"], "n", ctx_len=5)
    rows = sorted(
        (r["doc_id"], r["chunk"], r["tok_start"], r["tok_end"], r["n_chunk_tokens"])
        for r in out.collect()
    )
    # stream: doc1 [0,3) doc2 [3,7) doc3 [7,9); windows of 5; doc4 empty
    assert rows == [
        (1, 0, 1, 3, 3),   # doc1 fully in window 0
        (2, 0, 1, 2, 2),   # doc2 first 2 tokens finish window 0
        (2, 1, 3, 4, 2),   # doc2 last 2 tokens open window 1
        (3, 1, 1, 2, 2),   # doc3 fully in window 1
    ]


def test_contiguous_pack_invariants(spark):
    import pyspark.sql.functions as F2

    from re_data_pipeline_spark.operators.selection import contiguous_pack

    d = spark.createDataFrame(
        [(i, (i * 7) % 13 + 1) for i in range(200)], "doc_id bigint, n bigint"
    )
    out = contiguous_pack(d, ["doc_id"], "n", ctx_len=16).cache()
    # every doc's slices cover exactly its tokens
    per_doc = out.groupBy("doc_id").agg(F2.sum("n_chunk_tokens").alias("s")).collect()
    sizes = {r["doc_id"]: r["n"] for r in d.collect()}
    assert all(sizes[r["doc_id"]] == r["s"] for r in per_doc)
    # every window holds exactly ctx_len tokens (except the last)
    per_chunk = {
        r["chunk"]: r["s"]
        for r in out.groupBy("chunk").agg(F2.sum("n_chunk_tokens").alias("s")).collect()
    }
    last = max(per_chunk)
    assert all(v == 16 for k, v in per_chunk.items() if k != last)
    assert 1 <= per_chunk[last] <= 16
    out.unpersist()


def test_perplexity_buckets_null_group_is_a_real_partition(spark):
    # lang-id failures are routine: NULL-lang docs must be bucketed as
    # their own group (SQL PARTITION BY semantics), not silently dropped
    d = spark.createDataFrame(
        [(0, "en", 1.0), (1, None, 2.0), (2, "en", 3.0), (3, None, 4.0),
         (4, None, 5.0)],
        "doc_id bigint, lang string, nll double",
    )
    rows = {r["doc_id"]: (r["lang"], r["group_rank"], r["bucket"])
            for r in perplexity_buckets(d, "lang").collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]  # nothing dropped
    assert rows[1] == (None, 0, "head")
    assert rows[3] == (None, 1, "middle")
    assert rows[4] == (None, 2, "tail")


def test_contiguous_pack_releases_its_spine(spark):
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.selection import contiguous_pack

    d = spark.createDataFrame([(i, 3) for i in range(20)], "doc_id bigint, n bigint")
    out = contiguous_pack(d, ["doc_id"], "n", ctx_len=7)
    out.collect()
    # the persisted prefix-sum spine must be releasable through the output
    assert release_spines(out) >= 1


def test_shard_manifest_field_boundary_shift_changes_checksum(spark):
    from re_data_pipeline_spark.operators.maintenance import shard_manifest

    a = spark.createDataFrame([(1, "a\x1fb", "c")], "doc_id bigint, text string, lang string")
    b = spark.createDataFrame([(1, "a", "b\x1fc")], "doc_id bigint, text string, lang string")
    xa = shard_manifest(a, "doc_id", ["text", "lang"], num_shards=1).collect()[0]
    xb = shard_manifest(b, "doc_id", ["text", "lang"], num_shards=1).collect()[0]
    # same bytes shifted across the field boundary MUST change the receipt
    assert xa["content_xor"] != xb["content_xor"]


def test_broadcast_model_scoring_equals_default(spark):
    """r14: broadcast_model=True (CCNet-faithful map-only scoring) must
    return exactly the default equi-join mode's scores — it is a physical
    hint, never a semantics change — and must plan broadcast joins."""
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.lm import ngram_lm_nll

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps " * 3) for i in range(5)],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [(10, "the quick brown fox"), (11, "totally unseen words here")],
        "doc_id long, text string",
    )
    a = ngram_lm_nll(ref, crawl)
    b = ngram_lm_nll(ref, crawl, broadcast_model=True)
    got_a = {(r.doc_id, r.n_trigrams, r.nll_micro) for r in a.collect()}
    got_b = {(r.doc_id, r.n_trigrams, r.nll_micro) for r in b.collect()}
    assert got_a == got_b
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3  # the three scoring tiers
    release_spines(a)
    release_spines(b)


def test_incremental_corpus_update_semantics_and_release(spark):
    """r16: the frozen-corpus maintenance core as a reusable operator —
    a batch duplicate of a frozen-corpus doc is DROPPED, a batch doc
    carrying a verbatim >=min_len-token span of corpus text is REWRITTEN
    (corpus rows never touched), the updated manifest equals the
    from-scratch manifest of corpus ∪ processed batch, and the kept
    frame's carried handles release executor storage to baseline."""
    from tests.conftest import persistent_ids

    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.maintenance import (
        incremental_corpus_update,
        shard_manifest,
    )

    span = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(2, f"frozen corpus document with the shared span {span} inside", "en"),
         (4, "another frozen corpus document entirely unrelated words", "en")],
        "doc_id bigint, text string, lang string",
    )
    batch = spark.createDataFrame(
        [(1, f"frozen corpus document with the shared span {span} inside", "en"),
         (3, f"fresh batch document quoting {span} and continuing onward", "en"),
         (5, "a wholly new batch document with no overlap at all", "en")],
        "doc_id bigint, text string, lang string",
    )
    spark.catalog.clearCache()
    before = persistent_ids(spark)
    upd = incremental_corpus_update(corpus, batch, min_len=10, k=5)
    kept = {r["doc_id"]: r["text"] for r in upd["kept"].collect()}
    # doc 1 is a verbatim duplicate of corpus doc 2 -> LSH-dropped
    assert 1 not in kept
    assert sorted(r.doc_id for r in upd["dropped"].collect()) == [1]
    # doc 3 quoted a 10-token corpus span -> the span is excised, the
    # remainder survives in order
    assert span not in kept[3]
    assert kept[3].startswith("fresh batch document quoting")
    assert kept[3].endswith("and continuing onward")
    # doc 5 untouched
    assert kept[5] == "a wholly new batch document with no overlap at all"
    # merge-of-manifests == manifest-of-union (frozen corpus + processed batch)
    union = corpus.unionByName(upd["kept"].select("doc_id", "text", "lang"))
    expect = {
        r["shard"]: r
        for r in shard_manifest(union, "doc_id", ["text", "lang"], num_shards=16).collect()
    }
    got = {r["shard"]: r for r in upd["manifest"].collect()}
    assert got.keys() == expect.keys()
    for s in got:
        assert got[s] == expect[s]
    # the kept frame carries every live handle — releasing it returns
    # executor storage to baseline
    release_spines(upd["kept"])
    assert not (persistent_ids(spark) - before)


def test_retract_shard_manifest_unfold_equals_difference(spark):
    """r17: unfold-of-manifest ≡ manifest-of-difference — the receipt of
    A∖D from A's receipt and D's own manifest, never re-scanning A; an
    emptied shard drops out exactly like the from-scratch manifest's
    absent row; retracting rows the corpus never had stays LOUD."""
    from re_data_pipeline_spark.operators.maintenance import (
        retract_shard_manifest,
        shard_manifest,
    )

    rows = [(i, f"document number {i} body text {'x' * i}", "en") for i in range(12)]
    a = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    d = a.where(F.col("doc_id") % 3 == 1)
    remain = a.where(F.col("doc_id") % 3 != 1)

    m_a = shard_manifest(a, "doc_id", ["text", "lang"], num_shards=4)
    m_d = shard_manifest(d, "doc_id", ["text", "lang"], num_shards=4)
    got = {
        r["shard"]: (r["n_rows"], r["content_xor"], r["n_bytes"])
        for r in retract_shard_manifest(m_a, m_d).collect()
    }
    exp = {
        r["shard"]: (r["n_rows"], r["content_xor"], r["n_bytes"])
        for r in shard_manifest(remain, "doc_id", ["text", "lang"], num_shards=4).collect()
    }
    assert got == exp
    # retract EVERYTHING: every shard zeroes out and drops — empty receipt
    assert retract_shard_manifest(m_a, m_a).count() == 0
    # violation stays loud: retract rows the corpus never had — the
    # phantom shard line SURVIVES the emptied-shard filter (negative
    # count / residual checksum), so any receipt comparison catches it
    # instead of silently absorbing it
    alien = spark.createDataFrame(
        [(999, "never in the corpus", "en")], "doc_id bigint, text string, lang string"
    )
    m_alien = shard_manifest(alien, "doc_id", ["text", "lang"], num_shards=4)
    loud = retract_shard_manifest(
        retract_shard_manifest(m_a, m_a), m_alien
    ).collect()
    assert len(loud) == 1 and loud[0]["n_rows"] == -1


def test_corpus_retraction_semantics_and_injected_state(spark, tmp_path):
    """r17: the composed retraction — kept = A∖D, the un-folded receipt
    equals the from-scratch manifest of A∖D, the pruned index equals the
    from-scratch index of A∖D (prune-of-index ≡ index-of-difference),
    duplicate/absent request ids are no-ops, and the production path
    (frozen index/manifest loaded from parquet) returns byte-identical
    results to the fixture recompute path."""
    from re_data_pipeline_spark.operators.dedup import lsh_bands, minhash_signature
    from re_data_pipeline_spark.operators.maintenance import (
        corpus_retraction,
        shard_manifest,
    )

    rows = [
        (i, f"retraction corpus doc {i} with body words w{i} w{i + 1} w{i + 2}", "en")
        for i in range(1, 9)
    ]
    a = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    # duplicate request row + an id the corpus never had: both no-ops
    ids = spark.createDataFrame([(2,), (5,), (2,), (99,)], "doc_id bigint")
    remain = a.where(~F.col("doc_id").isin(2, 5))

    ret = corpus_retraction(a, ids, num_shards=8)
    assert sorted(r.doc_id for r in ret["kept"].collect()) == [1, 3, 4, 6, 7, 8]
    assert sorted(r.doc_id for r in ret["retracted"].collect()) == [2, 5]
    man_cols = ("shard", "n_rows", "content_xor", "n_bytes")
    got_m = {tuple(r[c] for c in man_cols) for r in ret["manifest"].collect()}
    exp_m = {
        tuple(r[c] for c in man_cols)
        for r in shard_manifest(remain, "doc_id", ["text", "lang"], num_shards=8).collect()
    }
    assert got_m == exp_m
    # prune-of-index ≡ index-of-difference, row for row
    got_i = {tuple(r) for r in ret["index"].select("doc_id", "band", "band_key").collect()}
    exp_i = {
        tuple(r)
        for r in lsh_bands(
            minhash_signature(remain, "text", 16, 3), "doc_id", "minhash", 4, 4
        ).select("doc_id", "band", "band_key").collect()
    }
    assert got_i == exp_i
    # the prune must be a broadcast anti-join: zero index-side shuffle
    plan = ret["index"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # production path: frozen state loaded from storage, identical results
    idx_dir, man_dir = str(tmp_path / "index_a"), str(tmp_path / "manifest_a")
    lsh_bands(
        minhash_signature(a, "text", 16, 3), "doc_id", "minhash", 4, 4
    ).write.parquet(idx_dir)
    shard_manifest(a, "doc_id", ["text", "lang"], num_shards=8).write.parquet(man_dir)
    ret2 = corpus_retraction(
        a, ids, num_shards=8,
        index_a=spark.read.parquet(idx_dir),
        manifest_a=spark.read.parquet(man_dir),
    )
    assert {tuple(r[c] for c in man_cols) for r in ret2["manifest"].collect()} == exp_m
    assert {
        tuple(r) for r in ret2["index"].select("doc_id", "band", "band_key").collect()
    } == exp_i


def test_incremental_corpus_update_injected_frozen_state(spark, tmp_path):
    """r17 (r16 verdict task 3): the PRODUCTION path of
    incremental_corpus_update — the frozen bucket index and manifest
    persisted to parquet, reloaded, and passed as index_a/manifest_a —
    returns exactly the recompute-from-corpus fixture path's results
    (kept rows, dropped ids, merged manifest), with handles still
    releasing executor storage to baseline."""
    from tests.conftest import persistent_ids

    from re_data_pipeline_spark.operators.dedup import lsh_bands, minhash_signature
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.maintenance import (
        incremental_corpus_update,
        shard_manifest,
    )

    span = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(2, f"frozen corpus document with the shared span {span} inside", "en"),
         (4, "another frozen corpus document entirely unrelated words", "en")],
        "doc_id bigint, text string, lang string",
    )
    batch = spark.createDataFrame(
        [(1, f"frozen corpus document with the shared span {span} inside", "en"),
         (3, f"fresh batch document quoting {span} and continuing onward", "en"),
         (5, "a wholly new batch document with no overlap at all", "en")],
        "doc_id bigint, text string, lang string",
    )
    # freeze A's state to storage with the operator's own parameters
    idx_dir, man_dir = str(tmp_path / "index_a"), str(tmp_path / "manifest_a")
    lsh_bands(
        minhash_signature(corpus, "text", 16, 3), "doc_id", "minhash", 4, 4
    ).write.parquet(idx_dir)
    shard_manifest(corpus, "doc_id", ["text", "lang"], num_shards=16).write.parquet(
        man_dir
    )

    def run(**frozen):
        spark.catalog.clearCache()
        before = persistent_ids(spark)
        upd = incremental_corpus_update(corpus, batch, min_len=10, k=5, **frozen)
        kept = {(r["doc_id"], r["text"], r["lang"]) for r in upd["kept"].collect()}
        dropped = sorted(r.doc_id for r in upd["dropped"].collect())
        man = {tuple(r) for r in upd["manifest"].collect()}
        release_spines(upd["kept"])
        assert not (persistent_ids(spark) - before)
        return kept, dropped, man

    fixture = run()
    production = run(
        index_a=spark.read.parquet(idx_dir),
        manifest_a=spark.read.parquet(man_dir),
    )
    assert production == fixture


def test_lsh_index_summary_null_band_enters_checksum(spark):
    """r17 review: a NULL band (index corruption) must enter idx_xor via
    the shared NULL-as-'' convention — not be counted in idx_rows while
    bit_xor silently skips its NULL hash, which would let two indexes
    differing only in that row's band_key certify as equal."""
    from re_data_pipeline_spark.operators.maintenance import lsh_index_summary

    good = spark.createDataFrame(
        [(1, 0, "k0"), (1, None, "k1")],
        "doc_id bigint, band int, band_key string",
    )
    tampered = spark.createDataFrame(
        [(1, 0, "k0"), (1, None, "DIFFERENT")],
        "doc_id bigint, band int, band_key string",
    )
    g = lsh_index_summary(good, "doc_id", num_shards=4).collect()
    t = lsh_index_summary(tampered, "doc_id", num_shards=4).collect()
    assert g[0]["idx_rows"] == t[0]["idx_rows"] == 2
    # the NULL-band rows differ in band_key -> the checksums MUST differ
    assert g[0]["idx_xor"] != t[0]["idx_xor"]
    # and the NULL-band row hashes exactly like a ''-band row (the
    # documented NULL=='' residual, same as shard_manifest's id rule)
    empty_band = spark.createDataFrame(
        [(1, "", "k1")], "doc_id bigint, band string, band_key string"
    )
    null_band = spark.createDataFrame(
        [(1, None, "k1")], "doc_id bigint, band string, band_key string"
    )
    e = lsh_index_summary(empty_band, "doc_id", num_shards=4).first()
    n = lsh_index_summary(null_band, "doc_id", num_shards=4).first()
    assert e["idx_xor"] == n["idx_xor"]


def test_manifest_fold_unfold_roundtrip(spark):
    """r17: the group law tying q220 to q221 — folding a disjoint batch
    into a receipt (merge_shard_manifests) and then un-folding the same
    batch back out (retract_shard_manifest) recovers the original
    receipt EXACTLY on the invertible columns, including shards the
    batch alone occupied (they empty out and drop, matching the
    original's absent rows)."""
    from re_data_pipeline_spark.operators.maintenance import (
        merge_shard_manifests,
        retract_shard_manifest,
        shard_manifest,
    )

    # ids chosen by their md5_60 shard at num_shards=8: A = {0,2,3} lands
    # in shards {6,7} only; B = {4,5,6,7,9,10} lands in {1,2,3,4,5,7} —
    # one shared shard (7, the subtract path) and five B-only shards
    # (the empty-out-and-drop path)
    a = spark.createDataFrame(
        [(i, f"corpus doc {i} {'y' * (i % 5)}", "en") for i in (0, 2, 3)],
        "doc_id bigint, text string, lang string",
    )
    b = spark.createDataFrame(
        [(i, f"batch doc {i} appended later", "de") for i in (4, 5, 6, 7, 9, 10)],
        "doc_id bigint, text string, lang string",
    )
    m_a = shard_manifest(a, "doc_id", ["text", "lang"], num_shards=8)
    m_b = shard_manifest(b, "doc_id", ["text", "lang"], num_shards=8)
    merged = merge_shard_manifests(m_a, m_b)
    back = retract_shard_manifest(merged, m_b)
    cols = ("shard", "n_rows", "content_xor", "n_bytes")
    got = {tuple(r[c] for c in cols) for r in back.collect()}
    exp = {tuple(r[c] for c in cols) for r in m_a.collect()}
    assert got == exp
    # sanity: both inverse paths really ran — B occupied shards A did not
    # (empty-out-and-drop) AND shared one with A (in-place subtract)
    a_shards = {r["shard"] for r in m_a.collect()}
    b_shards = {r["shard"] for r in m_b.collect()}
    assert b_shards - a_shards, "fixture regression: no B-only shard"
    assert b_shards & a_shards, "fixture regression: no shared shard"


def test_retract_from_lsh_index_no_broadcast_branch(spark):
    """The prune removes every band row of each retracted id and keeps
    the rest; a duplicated id (4 appears twice, with no distinct before
    the anti-join) neither duplicates nor drops a surviving row."""
    from re_data_pipeline_spark.operators.maintenance import retract_from_lsh_index

    idx = spark.createDataFrame(
        [(i, b, f"k{i}-{b}") for i in range(6) for b in range(2)],
        "doc_id bigint, band int, band_key string",
    )
    ids = spark.createDataFrame([(1,), (4,), (4,)], "doc_id bigint")
    got = [
        tuple(r)
        for r in retract_from_lsh_index(idx, ids).select(
            "doc_id", "band", "band_key"
        ).collect()
    ]
    assert sorted(got) == [
        (i, b, f"k{i}-{b}") for i in (0, 2, 3, 5) for b in range(2)
    ]


def test_ngram_lm_injected_model_scores_identical(spark, tmp_path):
    """r18 (r17 verdict task 3): the PRODUCTION path of the CCNet gating
    tier — the frozen trigram model trained once with ngram_lm_train,
    persisted to parquet, reloaded, and passed as ngram_lm_nll's
    ``model=`` — returns score-IDENTICAL results (exact integer
    micro-nats, every backoff tier exercised, <3-token totality rows
    included) to the train-in-place path, with training pins releasing
    executor storage to baseline after staging."""
    from tests.conftest import persistent_ids

    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.lm import ngram_lm_train

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat quietly today"),
         (3, "a dog ran past the cat")],
        "doc_id bigint, text string",
    )
    # hits all four scoring tiers: seen trigram, bigram backoff, unigram
    # floor, unseen word — plus a <3-token doc (NULL nll totality row)
    score = spark.createDataFrame(
        [(10, "the cat sat on a dog"), (11, "mat dog quietly zebra"),
         (12, "too short")],
        "doc_id bigint, text string",
    )

    inplace = {
        tuple(r) for r in ngram_lm_nll(train, score).collect()
    }

    before = persistent_ids(spark)
    m = ngram_lm_train(train)
    for name, df in m.items():
        df.write.parquet(str(tmp_path / name))
    # staging materialized every table: the count-table pins are dead
    for df in m.values():
        release_spines(df)
    assert not (persistent_ids(spark) - before)

    loaded = {
        name: spark.read.parquet(str(tmp_path / name))
        for name in ("tri", "bi", "uni", "stats")
    }
    injected = {
        tuple(r)
        for r in ngram_lm_nll(None, score, model=loaded).collect()
    }
    assert injected == inplace
    # every tier is actually represented in the fixture
    nlls = {r[0]: r for r in injected}
    assert nlls[12][1] == 0 and nlls[12][3] is None
    assert nlls[10][1] == 4 and nlls[11][1] == 2

    # trainer knobs on the scoring call with a loaded model must raise
    import pytest

    with pytest.raises(ValueError):
        ngram_lm_nll(None, score, model=loaded, min_count3=2)
    with pytest.raises(ValueError):
        ngram_lm_nll(None, None)


def test_ngram_lm_injected_model_respects_trainer_pruning(spark, tmp_path):
    """Count pruning travels WITH the frozen model: a model trained with
    min_count3=2 and reloaded scores exactly like train-in-place pruning
    — the pruned trigram backs off to the bigram tier in both paths."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.lm import ngram_lm_train

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat quietly today")],
        "doc_id bigint, text string",
    )
    score = spark.createDataFrame(
        [(10, "the cat sat on the mat")], "doc_id bigint, text string"
    )
    inplace = {
        tuple(r) for r in ngram_lm_nll(train, score, min_count3=2).collect()
    }
    m = ngram_lm_train(train, min_count3=2)
    for name, df in m.items():
        df.write.parquet(str(tmp_path / name))
        release_spines(df)
    loaded = {
        name: spark.read.parquet(str(tmp_path / name))
        for name in ("tri", "bi", "uni", "stats")
    }
    injected = {
        tuple(r) for r in ngram_lm_nll(None, score, model=loaded).collect()
    }
    assert injected == inplace


def test_manifest_diff_detects_each_divergence_class(spark):
    """r18: manifest_diff is null-safe over the three receipt columns —
    a count change, a checksum flip, a byte change, and a shard present
    on only one side each surface as a divergent row; identical receipts
    produce an empty diff."""
    from re_data_pipeline_spark.operators.maintenance import manifest_diff

    schema = "shard int, n_rows bigint, content_xor bigint, n_bytes bigint"
    a = spark.createDataFrame(
        [(0, 5, 111, 500), (1, 3, 222, 300), (2, 4, 333, 400), (3, 2, 444, 200)],
        schema,
    )
    assert manifest_diff(a, a).count() == 0
    b = spark.createDataFrame(
        [(0, 6, 111, 500),   # count changed
         (1, 3, 999, 300),   # checksum flipped
         (2, 4, 333, 401),   # bytes changed
         # shard 3 absent (lost), shard 4 new
         (4, 1, 555, 100)],
        schema,
    )
    got = {r["shard"]: r for r in manifest_diff(a, b).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[3]["b_rows"] is None and got[3]["a_rows"] == 2
    assert got[4]["a_rows"] is None and got[4]["b_rows"] == 1


def test_corpus_receipt_diff_localizes_and_classifies(spark):
    """r18: the composed audit — deltas are exactly the from-scratch
    full-outer field diff (added/removed/mutated), every delta lands in
    a shard manifest_diff flagged, untouched shards are pruned, and the
    injected-receipt production path returns byte-identical results to
    the recompute path."""
    from re_data_pipeline_spark.operators.maintenance import (
        corpus_receipt_diff,
        shard_manifest,
    )

    rows = [(i, f"audit corpus doc {i} body", "en") for i in range(1, 21)]
    a = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    # B: drop 3 and 17, mutate 5 (text) and 9 (lang), add 100 and 101
    changed = {3: None, 17: None,
               5: (5, "audit corpus doc 5 body TAMPERED", "en"),
               9: (9, "audit corpus doc 9 body", "fr")}
    b_rows = [changed.get(i, r) for i, r in zip(range(1, 21), rows) if changed.get(i, r)]
    b_rows += [(100, "brand new doc", "en"), (101, "another new doc", "de")]
    b = spark.createDataFrame(b_rows, "doc_id bigint, text string, lang string")

    r = corpus_receipt_diff(a, b, num_shards=8)
    deltas = {row["doc_id"]: (row["shard"], row["delta"]) for row in r["deltas"].collect()}
    assert {k: v[1] for k, v in deltas.items()} == {
        3: "removed", 17: "removed", 5: "mutated", 9: "mutated",
        100: "added", 101: "added",
    }
    # localization: every delta's shard is one manifest_diff flagged
    flagged = {row["shard"] for row in r["shards"].collect()}
    assert {v[0] for v in deltas.values()} <= flagged
    # pruning: shards flagged are exactly the shards of changed rows
    # (an untouched shard must never be flagged — XOR/count unchanged)
    m_a = {row["shard"]: row for row in
           shard_manifest(a, "doc_id", ["text", "lang"], num_shards=8).collect()}
    m_b = {row["shard"]: row for row in
           shard_manifest(b, "doc_id", ["text", "lang"], num_shards=8).collect()}
    untouched = {s for s in m_a if s in m_b and tuple(m_a[s]) == tuple(m_b[s])}
    assert not (flagged & untouched)

    # production path: receipts loaded from storage → identical output
    r2 = corpus_receipt_diff(
        a, b, num_shards=8,
        manifest_a=shard_manifest(a, "doc_id", ["text", "lang"], num_shards=8),
        manifest_b=shard_manifest(b, "doc_id", ["text", "lang"], num_shards=8),
    )
    assert {tuple(x) for x in r2["deltas"].collect()} == {
        tuple(x) for x in r["deltas"].collect()
    }

    # identical corpora: zero divergent shards, zero deltas (the empty
    # IN-list branch must not degenerate into a full-corpus diff)
    r3 = corpus_receipt_diff(a, a, num_shards=8)
    assert r3["shards"].count() == 0 and r3["deltas"].count() == 0


def test_corpus_receipt_diff_stored_shard_col_prunes(spark, tmp_path):
    """r18 (probe finding): recomputing the shard from the id is opaque
    to the file index — on shard-partitioned storage the operator must
    filter the MATERIALIZED partition column (stored_shard_col) so the
    divergent-shard IN predicate becomes real partition pruning.  The
    stored-column path must return exactly the computed-path deltas, and
    the pruned scan must carry a PartitionFilter."""
    from re_data_pipeline_spark.functions.text import md5_60
    from re_data_pipeline_spark.operators.maintenance import (
        _nullsafe_str,
        corpus_receipt_diff,
    )

    shard = F.pmod(md5_60(_nullsafe_str(F.col("doc_id"))), F.lit(8)).cast("int")
    rows = [(i, f"stored shard corpus doc {i}", "en") for i in range(1, 31)]
    a = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    b = a.where(F.col("doc_id") != 7).select(
        "doc_id",
        F.when(F.col("doc_id") == 12, F.lit("mutated body")).otherwise(
            F.col("text")
        ).alias("text"),
        "lang",
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    a.withColumn("shard", shard).write.partitionBy("shard").parquet(pa)
    b.withColumn("shard", shard).write.partitionBy("shard").parquet(pb)
    la, lb = spark.read.parquet(pa), spark.read.parquet(pb)

    computed = corpus_receipt_diff(
        la.drop("shard"), lb.drop("shard"), num_shards=8
    )["deltas"]
    stored = corpus_receipt_diff(
        la, lb, num_shards=8, stored_shard_col="shard"
    )["deltas"]
    got_c = {tuple(r) for r in computed.collect()}
    got_s = {tuple(r) for r in stored.collect()}
    assert got_s == got_c
    assert {r[2] for r in got_s} == {"removed", "mutated"}
    # the stored path's scans must prune at the file index
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("shard" in f and " IN " in f for f in pf), pf


def test_corpus_receipt_diff_rejects_mismatched_receipt_modulus(spark):
    """r18 review: receipts injected from a build with a LARGER
    num_shards than the call surface divergent shard ids the computed
    key could never match — the prune would silently drop those rows.
    The operator must fail loud instead."""
    import pytest

    from re_data_pipeline_spark.operators.maintenance import (
        corpus_receipt_diff,
        shard_manifest,
    )

    rows = [(i, f"modulus guard doc {i}", "en") for i in range(1, 60)]
    a = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    b = a.where(F.col("doc_id") % 2 == 0)
    with pytest.raises(ValueError, match="num_shards"):
        corpus_receipt_diff(
            a, b, num_shards=4,
            manifest_a=shard_manifest(a, "doc_id", ["text", "lang"], num_shards=32),
            manifest_b=shard_manifest(b, "doc_id", ["text", "lang"], num_shards=32),
        )


def test_ngram_lm_injected_model_broadcast_mode(spark, tmp_path):
    """The CCNet-faithful PRODUCTION pairing: frozen reference model
    loaded from parquet AND broadcast-hinted scoring (map-only position
    joins).  Scores must equal equi-join mode and the plan must carry
    broadcast joins."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.lm import ngram_lm_train

    train = spark.createDataFrame(
        [(1, "small clean reference corpus text"),
         (2, "reference corpus text continues here")],
        "doc_id bigint, text string",
    )
    score = spark.createDataFrame(
        [(10, "reference corpus text appears again"), (11, "wholly novel words")],
        "doc_id bigint, text string",
    )
    m = ngram_lm_train(train)
    for name, df in m.items():
        df.write.parquet(str(tmp_path / name))
        release_spines(df)
    loaded = {
        n: spark.read.parquet(str(tmp_path / n))
        for n in ("tri", "bi", "uni", "stats")
    }
    plain = {tuple(r) for r in ngram_lm_nll(None, score, model=loaded).collect()}
    bcast_df = ngram_lm_nll(None, score, model=loaded, broadcast_model=True)
    bcast = {tuple(r) for r in bcast_df.collect()}
    assert bcast == plain
    plan = bcast_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ngram_lm_injected_model_degenerate_empty_corpus(spark, tmp_path):
    """The zero-token degenerate survives the parquet round-trip: a model
    trained on an empty-token corpus scores every document NULL (no
    evidence is not a perfect score) in the injected path exactly as
    in-place."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.lm import ngram_lm_train

    train = spark.createDataFrame([(1, "   "), (2, None)], "doc_id bigint, text string")
    score = spark.createDataFrame(
        [(10, "some words to score here")], "doc_id bigint, text string"
    )
    inplace = {tuple(r) for r in ngram_lm_nll(train, score).collect()}
    m = ngram_lm_train(train)
    for name, df in m.items():
        df.write.parquet(str(tmp_path / name))
        release_spines(df)
    loaded = {
        n: spark.read.parquet(str(tmp_path / n))
        for n in ("tri", "bi", "uni", "stats")
    }
    injected = {tuple(r) for r in ngram_lm_nll(None, score, model=loaded).collect()}
    assert injected == inplace
    assert next(iter(injected))[3] is None


def test_manifest_diff_localizes_a_retraction(spark):
    """Cross-operator law tying q221 to q222: diffing a corpus receipt
    against its retract_shard_manifest un-fold flags EXACTLY the shards
    the retracted rows lived in — an auditor can localize a retraction
    from receipts alone."""
    from re_data_pipeline_spark.operators.maintenance import (
        manifest_diff,
        retract_shard_manifest,
        shard_manifest,
    )

    rows = [(i, f"retraction audit doc {i}", "en") for i in range(1, 25)]
    a = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    d = a.where(F.col("doc_id").isin(3, 11, 19))
    m_a = shard_manifest(a, "doc_id", ["text", "lang"], num_shards=8)
    m_d = shard_manifest(d, "doc_id", ["text", "lang"], num_shards=8)
    after = retract_shard_manifest(m_a, m_d)
    flagged = {
        r["shard"]
        for r in manifest_diff(
            m_a.select("shard", "n_rows", "content_xor", "n_bytes"), after
        ).collect()
    }
    want = {r["shard"] for r in m_d.collect()}
    assert flagged == want
