"""Text expression library + vector math."""

import math

from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.text import (
    char_ngrams,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from re_data_pipeline_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    literal_vector,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("single",)], ["t"])
    assert [r.n for r in df.select(token_count("t").alias("n")).collect()] == [3, 1]


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcd",)], ["t"])
    got = df.select(char_ngrams("t", 3).alias("g")).collect()[0].g
    assert got == ["abc", "bcd"]


def test_word_shingles_short_text(spark):
    # shorter than n → single whole-text shingle
    df = spark.createDataFrame([("one two",)], ["t"])
    got = df.select(word_shingles("t", 3).alias("g")).collect()[0].g
    assert got == ["one two"]


def test_lang_id_scripts(spark):
    df = spark.createDataFrame(
        [("the cat is in the hat",), ("el perro y la casa en un lugar",),
         ("der hund ist mit einem ball",), ("你好 世界",), ("привет мир",)],
        ["t"],
    )
    got = [r.l for r in df.select(lang_id("t").alias("l")).collect()]
    assert got == ["en", "es", "de", "zh", "ru"]


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mm = docs.select(
        F.min(quality_score("text")).alias("lo"), F.max(quality_score("text")).alias("hi")
    ).collect()[0]
    assert 0.0 <= mm.lo <= mm.hi <= 1.0


def test_fingerprint_stable(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], ["t"])
    got = [r.f for r in df.select(doc_fingerprint("t").alias("f")).collect()]
    assert got[0] == got[1]


def test_vector_math(spark):
    a = literal_vector([1.0, 2.0, 2.0])
    b = literal_vector([2.0, 0.0, 0.0])
    assert one(spark, dot(a, b)) == 2.0
    assert one(spark, l2_norm(a)) == 3.0
    assert abs(one(spark, cosine_similarity(a, b)) - (2.0 / (3.0 * 2.0))) < 1e-12


def test_cosine_null_on_zero_norm(spark):
    a = literal_vector([0.0, 0.0])
    b = literal_vector([1.0, 0.0])
    assert one(spark, cosine_similarity(a, b)) is None


def test_rolling_hash_known_value(spark):
    from re_data_pipeline_spark.functions.text import rolling_hash

    df = spark.createDataFrame([("ab",), ("",)], ["t"]).select(
        rolling_hash("t").alias("h")
    )
    got = [r.h for r in df.collect()]
    # h("ab") = (0*31+97)*31 + 98 = 3105  (mod 2^61-1)
    assert got[0] == 97 * 31 + 98
    assert got[1] == 0  # empty → ascii('')→null→... bound clamps to 1 char


def test_bpe_ish_token_count(spark):
    from re_data_pipeline_spark.functions.text import bpe_ish_token_count

    df = spark.createDataFrame([("Hello world, 42 tokens!",)], ["t"]).select(
        bpe_ish_token_count("t").alias("n")
    )
    # Hello, world, ',', '4', '2', tokens, '!' → 7
    assert df.collect()[0].n == 7


def test_ivf_topk_contains_true_neighbors(spark, sf_dir):
    from re_data_pipeline_spark.operators.similarity import cosine_topk, ivf_topk
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(v) for v in e.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    rest = e.where(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_topk(rest, q, 10).collect()]
    approx = [r.vec_id for r in ivf_topk(rest, q, 10, n_lists=8, n_probe=4).collect()]
    # approximate, but probing half the lists must recover a solid fraction
    assert len(set(exact) & set(approx)) >= 4
    # deterministic
    approx2 = [r.vec_id for r in ivf_topk(rest, q, 10, n_lists=8, n_probe=4).collect()]
    assert approx == approx2


def test_kmeans_assignments_are_argmin(spark):
    """Every vector's final list must be the argmin distance to the FINAL
    centroids (self-consistency of the last Lloyd assignment)."""
    import numpy as np

    from re_data_pipeline_spark.catalog import load_table
    from re_data_pipeline_spark.operators.similarity import kmeans_lists

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, centroids = kmeans_lists(e, k=4, iters=2)
    pdf = assigned.select("vec_id", "embedding", "list_id").toPandas()
    C = np.asarray(centroids, dtype=np.float64)
    X = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    best = d.min(axis=1)
    got = d[np.arange(len(pdf)), pdf["list_id"].to_numpy()]
    assert (got <= best + 1e-9).all()
    assert pdf["list_id"].nunique() > 1


def test_pq_adc_recall_on_clustered_data(spark):
    """PQ/ADC top-10 must recover most of the exact L2 top-10 on data with
    cluster structure (uniform-random vectors concentrate distances and no
    quantizer can rank them — real embeddings cluster, so that's what we
    model: 10 centers + small noise, deterministic)."""
    import numpy as np

    from re_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(10, 16))
    X = np.repeat(centers, 50, axis=0) + 0.15 * rng.normal(size=(500, 16))
    rows = [(i, [float(v) for v in X[i]]) for i in range(500)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    X = np.asarray(
        e.orderBy("vec_id").select("embedding").toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )  # float32 round-trip so the numpy oracle sees exactly what Spark sees

    books = pq_train(e, m=4, k=16, iters=3)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 4

    enc = pq_encode(e, books).select("vec_id", "pq_codes").cache()
    codes = enc.toPandas()
    assert codes["pq_codes"].map(lambda c: all(0 <= x < 16 for x in c)).all()

    q = X[0]
    exact = set(np.argsort(((X - q) ** 2).sum(axis=1))[:10].tolist())
    got = {r["vec_id"] for r in pq_adc_topk(enc, books, q.tolist(), 10).collect()}
    assert len(got & exact) >= 5
    # every ADC hit must at least come from the query's true cluster (ids 0-49)
    assert all(v < 50 for v in got)


def test_quality_score_null_text_is_worst(spark):
    from re_data_pipeline_spark.functions.text import quality_score

    df = spark.createDataFrame([("the and is a good text here",), (None,)], "text string")
    got = [r[0] for r in df.select(quality_score("text")).collect()]
    assert got[1] == 0.0
    assert got[0] > 0.0


def test_repetition_metrics_known_values(spark):
    """Gopher repetition metrics on hand-computable docs: 'a b a b a b c'
    has 6 bigrams {ab,ba,ab,ba,ab,bc} → dup 3/6; top gram 'a b' covers
    3 occurrences x 3 chars = 9 of 13 chars."""
    from re_data_pipeline_spark.functions.text import (
        duplicate_ngram_fraction,
        top_ngram_char_fraction,
    )

    df = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "all words here are unique tokens")],
        ["id", "text"],
    )
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            duplicate_ngram_fraction("text", 2).alias("dup2"),
            top_ngram_char_fraction("text", 2).alias("top2"),
        ).collect()
    }
    assert abs(got[1]["dup2"] - 3 / 6) < 1e-12
    assert abs(got[1]["top2"] - 9 / 13) < 1e-12
    assert got[2]["dup2"] == 0.0


def test_pmi_collocations_matches_python(spark):
    """PMI ranks and fixed-point scores replay exactly in plain Python; the
    min-count gate drops rare pairs; top-k per left word holds."""
    import math
    from collections import Counter

    from re_data_pipeline_spark.operators.indexing import pmi_collocations

    docs = [
        "new york new york city hall",
        "new york is a city",
        "city hall of new york",
        "a b a b a b",
    ]
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    got = {(r.w1, r.w2): (r.n_12, r.pmi_micro, r.rnk)
           for r in pmi_collocations(df, "text", min_count=2, top_k=2).collect()}

    pairs = Counter()
    for t in docs:
        ws = t.split()
        pairs.update(zip(ws, ws[1:]))
    left, right = Counter(), Counter()
    for (w1, w2), c in pairs.items():
        left[w1] += c
        right[w2] += c
    n = sum(pairs.values())
    exp = {}
    for (w1, w2), c in pairs.items():
        if c >= 2:
            exp[(w1, w2)] = (c, round(math.log(c * n / (left[w1] * right[w2])) * 1e6))
    # every expected pair with rank<=2 appears with the exact micro score
    by_w1 = {}
    for (w1, w2), (c, micro) in exp.items():
        by_w1.setdefault(w1, []).append((-micro, w2, c))
    for w1, lst in by_w1.items():
        for rk, (neg, w2, c) in enumerate(sorted(lst)[:2], 1):
            assert got[(w1, w2)] == (c, -neg, rk), (w1, w2)
    assert ("york", "is") not in got  # count 1 < min_count


def test_rrf_fuse_exact_and_union_semantics(spark):
    """Fusion score = Σ round(1e9/(k+rank)) over lists containing the doc;
    docs in one list only still rank; ties break on id; empty input raises."""
    import pytest
    from re_data_pipeline_spark.operators.similarity import rrf_fuse

    l1 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    l2 = spark.createDataFrame([(2, 1), (9, 2)], "doc_id long, rank int")
    out = {r.doc_id: r for r in rrf_fuse([l1, l2], k=60, top_n=10).collect()}

    def c(rank):
        return round(1e9 / (60 + rank))

    assert out[2].rrf_nano == c(2) + c(1) and out[2].n_lists == 2
    assert out[1].rrf_nano == c(1) and out[1].n_lists == 1
    assert out[9].rrf_nano == c(2)
    # doc 2 (in both lists) outranks everything
    assert out[2].rnk == 1
    # tie: docs 1 and 9 have different scores; check total ordering is dense
    assert sorted(r.rnk for r in out.values()) == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])


def test_ann_recall_report_semantics(spark):
    """Recall@k bounds and self-exclusion: with ONE plane set of zeros
    every vector lands in one bucket, so approx == exact and recall is
    1.0 for every query; n_approx never exceeds k; the query itself is
    never its own neighbor."""
    from re_data_pipeline_spark.operators.similarity import ann_recall_report

    dim = 8
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(dim)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.where(F.col("vec_id") % 13 == 0)
    # all-positive plane -> d >= 0 everywhere is NOT guaranteed; use the
    # degenerate zero plane: d == 0 -> every vector in bucket 1
    planes = [[0.0] * dim]
    got = {r.query_id: r for r in ann_recall_report(df, queries, planes, k=5).collect()}
    assert set(got) == {0, 13, 26, 39}
    for qid, r in got.items():
        assert r.recall == 1.0 and r.n_hit == 5 and r.n_approx == 5
        assert r.k == 5


def test_rrf_fuse_dedups_within_list_and_rejects_bad_ranks(spark):
    """ADVICE r7: a doc_id repeated WITHIN one list counts once at its best
    rank (no rrf_nano/n_lists inflation), and rank < 1 fails loudly at
    materialization instead of silently outscoring legal ranks."""
    import pytest

    from re_data_pipeline_spark.operators.similarity import rrf_fuse

    dup = spark.createDataFrame(
        [(1, 1), (1, 3), (2, 2)], "doc_id long, rank int"
    )
    other = spark.createDataFrame([(1, 2)], "doc_id long, rank int")
    out = {r.doc_id: r for r in rrf_fuse([dup, other], k=60, top_n=10).collect()}

    def c(rank):
        return round(1e9 / (60 + rank))

    assert out[1].rrf_nano == c(1) + c(2)  # min rank 1 from the dup list
    assert out[1].n_lists == 2             # NOT 3
    assert out[2].rrf_nano == c(2) and out[2].n_lists == 1

    bad = spark.createDataFrame([(5, 0)], "doc_id long, rank int")
    with pytest.raises(Exception, match="rank must be"):
        rrf_fuse([bad], k=60, top_n=5).collect()
