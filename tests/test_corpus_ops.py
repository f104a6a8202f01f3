"""Corpus-analytics extension operators: packing, TF-IDF, PII, sweep-line.

These back the q96-q100 conformance queries; the DuckDB oracle proves
cross-engine value parity, these tests prove the *semantic invariants*.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def packed(spark):
    from re_data_pipeline_spark.plans.queries import QUERIES

    return QUERIES["q97_sequence_packing"](spark, SF_DIR).toPandas()


def test_packing_respects_budget(packed):
    from re_data_pipeline_spark.plans.queries import _Q97_BUDGET

    sums = packed.groupby(["shard", "pack_id"]).agg(
        total=("n_tokens", "sum"), n_docs=("doc_id", "count")
    )
    # a pack may exceed the budget only when it holds a single oversized doc
    over = sums[sums["total"] > _Q97_BUDGET]
    assert (over["n_docs"] == 1).all()


def test_packing_is_sequential_and_complete(packed):
    # every doc appears exactly once, and pack ids are a non-decreasing
    # sequence in doc_id order within each shard (greedy = order-preserving)
    assert packed["doc_id"].is_unique
    for _, g in packed.groupby("shard"):
        ordered = g.sort_values("doc_id")["pack_id"].tolist()
        assert ordered == sorted(ordered)
        assert ordered[0] == 0


def test_packing_greedy_is_maximal(packed):
    from re_data_pipeline_spark.plans.queries import _Q97_BUDGET

    # greedy: a new pack opens ONLY because adding the doc would overflow
    for _, g in packed.groupby("shard"):
        g = g.sort_values("doc_id")
        cum = 0
        prev_pack = None
        for _, row in g.iterrows():
            if prev_pack is not None and row["pack_id"] != prev_pack:
                assert cum + row["n_tokens"] > _Q97_BUDGET
                cum = 0
            cum += row["n_tokens"]
            prev_pack = row["pack_id"]


def test_tfidf_rare_term_beats_common(spark):
    # a term present in every doc gets idf ln((N+1)/(N+1)) = 0 → never top-3
    # unless nothing else exists; verify scores are >= 0 and rnk ∈ {1,2,3}
    from re_data_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["q96_tfidf_top_terms"](spark, SF_DIR)
    pdf = out.toPandas()
    assert set(pdf["rnk"].unique()) <= {1, 2, 3}
    assert (pdf["tfidf"] >= 0).all()
    assert pdf.groupby("doc_id").size().max() <= 3


def test_pii_redaction_removes_all_matches(spark):
    from re_data_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["q98_pii_redaction"](spark, SF_DIR)
    pdf = out.toPandas()
    # every augmented doc had exactly one synthetic email and one phone
    assert (pdf["n_emails"] >= 1).all()
    assert (pdf["n_phones"] >= 1).all()


def test_sweep_line_matches_bruteforce(spark):
    # peak concurrency from the sweep-line == brute-force pairwise count on
    # a small slice
    from re_data_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["q99_interval_concurrency"](spark, SF_DIR).toPandas()
    import pandas as pd

    from re_data_pipeline_spark.catalog import load_table

    raw = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value"
    ).toPandas()
    raw["end"] = raw["ts"] + pd.to_timedelta((raw["value"] * 10).astype("int64"), unit="s")
    for etype, g in raw.groupby("event_type"):
        starts = g["ts"].to_numpy()
        ends = g["end"].to_numpy()
        # brute force: for each start, count intervals covering it (half-open)
        peak = max(((starts <= s) & (ends > s)).sum() for s in starts)
        got = int(out.loc[out["event_type"] == etype, "max_concurrent"].iloc[0])
        assert got == peak, etype


def test_contamination_only_flags_shared_grams(spark):
    from re_data_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["q100_contamination"](spark, SF_DIR)
    pdf = out.toPandas()
    assert (pdf["n_contaminated_grams"] >= 1).all()


def test_contamination_handles_short_docs(spark):
    """Docs shorter than the gram width must yield zero grams, not a
    slice(toks, 0, n) runtime error (sequence(1,0) is DESCENDING in Spark)."""
    from re_data_pipeline_spark.plans.queries import _Q100_N

    d = spark.createDataFrame(
        [(1, "a b c", "src0"), (2, "a b c", "srcX"), (3, " ".join("w%d" % i for i in range(20)), "srcX")],
        "doc_id long, text string, source string",
    )
    from re_data_pipeline_spark.functions.text import tokens

    toks = d.select("doc_id", "source", tokens("text").alias("toks"))
    n_pos = F.least(F.greatest(F.size("toks") - _Q100_N + 1, F.lit(0)), F.lit(2000))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                n_pos > 0,
                F.transform(
                    F.sequence(F.lit(1), n_pos),
                    lambda i: F.array_join(F.slice("toks", i, _Q100_N), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    got = grams.groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in got}
    assert 1 not in counts and 2 not in counts  # 3-token docs: no grams, no crash
    assert counts[3] == 20 - _Q100_N + 1


def test_bpe_pair_counts_hand_example(spark):
    from re_data_pipeline_spark.functions.text import bpe_pair_counts

    df = spark.createDataFrame(
        [("low low lower",), ("new newest",)], "text string"
    )
    got = {r.pair: r.n for r in bpe_pair_counts(df, "text").collect()}
    # low x2 -> lo,ow each 2; lower -> lo,ow,we,er; new -> ne,ew;
    # newest -> ne,ew,we,es,st
    assert got["lo"] == 3 and got["ow"] == 3
    assert got["ne"] == 2 and got["ew"] == 2
    assert got["we"] == 2 and got["er"] == 1 and got["es"] == 1 and got["st"] == 1


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.joins import salted_join

    left = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("rid")
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    got = salted_join(left, right.hint("shuffle_hash"), ["k"], "rid", num_salts=4)
    want = left.join(right, "k")
    assert got.count() == want.count() == 1000
    assert sorted((r.rid, r.v) for r in got.collect()) == sorted(
        (r.rid, r.v) for r in want.collect()
    )
    # the join must key on the salt too (shuffle spread over num_salts
    # sub-keys, not 3 monolithic partitions)
    assert "__salt" in got._jdf.queryExecution().optimizedPlan().toString()


def test_salted_join_null_salt_source_keeps_matches(spark):
    """A NULL salt_source must not NULL the salt (which would silently drop
    the row from inner joins / lose its match in left joins)."""
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(0, 1), (0, None), (1, None)], "k long, rid long"
    )
    right = spark.createDataFrame([(0, "a"), (1, "b")], "k long, v string")
    got = sorted(
        (r.k, r.v)
        for r in salted_join(left, right, ["k"], "rid", num_salts=4).collect()
    )
    assert got == [(0, "a"), (0, "a"), (1, "b")]
    # left join: NULL-rid row keeps its match rather than getting NULL v
    left_got = salted_join(left, right, ["k"], "rid", num_salts=4, how="left")
    assert sorted(r.v for r in left_got.collect()) == ["a", "a", "b"]


def test_salted_join_rejects_right_preserving(spark):
    """right/full joins would emit unmatched right rows num_salts times —
    must raise, not silently multiply."""
    import pytest

    from re_data_pipeline_spark.operators.joins import salted_join

    left = spark.createDataFrame([(0, 1)], "k long, rid long")
    right = spark.createDataFrame([(0, "a"), (9, "orphan")], "k long, v string")
    for how in ("right", "full", "full_outer", "rightouter", "outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(left, right, ["k"], "rid", how=how)


def test_inverted_index_postings_and_caps(spark):
    from re_data_pipeline_spark.operators.indexing import inverted_index

    rows = [(1, "apple banana"), (2, "apple cherry"), (3, "apple banana date"),
            (4, "everywhere everywhere")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = {r.term: (r.df, list(r.postings))
           for r in inverted_index(df, min_df=2, max_df_fraction=0.6,
                                   max_postings=2).collect()}
    # apple df=3 > 0.6*4=2.4 -> stop-banded out; banana df=2 kept, capped
    assert "apple" not in idx
    assert idx["banana"] == (2, [1, 3])
    # df below min_df drops
    assert "cherry" not in idx and "date" not in idx
    # duplicate tokens inside one doc count once
    assert "everywhere" not in idx  # df=1 < min_df


def test_inverted_index_cap_truncates_but_df_exact(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.indexing import inverted_index

    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("shared unique").alias("text")
    )
    idx = {r.term: r for r in inverted_index(df, min_df=1, max_df_fraction=1.0,
                                             max_postings=3).collect()}
    assert idx["shared"].df == 10            # df counts ALL docs
    assert list(idx["shared"].postings) == [0, 1, 2]  # postings capped


def test_index_merge_equals_rebuild(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.indexing import (
        inverted_index,
        merge_inverted_indexes,
    )

    rows = [(i, f"common w{i % 4} x{i % 3} tail{i}") for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a, b = d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
    ix_a = inverted_index(a, min_df=1, max_df_fraction=1.0, max_postings=5)
    ix_b = inverted_index(b, min_df=1, max_df_fraction=1.0, max_postings=5)
    total = d.agg(F.count_distinct("doc_id").alias("__n"))
    merged = {
        r.term: (r.df, list(r.postings))
        for r in merge_inverted_indexes(
            ix_a, ix_b, total, min_df=2, max_df_fraction=0.9, max_postings=5
        ).collect()
    }
    rebuilt = {
        r.term: (r.df, list(r.postings))
        for r in inverted_index(
            d, min_df=2, max_df_fraction=0.9, max_postings=5
        ).collect()
    }
    assert merged == rebuilt


def test_triangle_count_hand_graphs(spark):
    from re_data_pipeline_spark.operators.graph import triangle_count

    # K4 = 4 triangles; edge list given unordered/duplicated/reversed to
    # prove canonicalization
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (2, 1), (3, 1)]
    df = spark.createDataFrame(k4, "src long, dst long")
    assert triangle_count(df).collect()[0].n_triangles == 4
    # path graph: no triangles
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(path).collect()[0].n_triangles == 0
    # self-loops must not create triangles
    loops = spark.createDataFrame([(1, 1), (1, 2), (2, 3), (1, 3)], "src long, dst long")
    assert triangle_count(loops).collect()[0].n_triangles == 1


def test_bpe_train_learns_classic_merges(spark):
    """Sennrich-style hand corpus: the first rules must be the highest-
    count pairs under the (count desc, left asc, right asc) order."""
    from re_data_pipeline_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [("low low low lower lowest newer newest",), ("wider wide new new new",)],
        "text string",
    )
    rules = [(r.left, r.right, r.pair_count) for r in
             bpe_train(df, num_merges=4).orderBy("merge_rank").collect()]
    # (e,w)=5 ties (l,o)/(o,w)/(n,e) but wins lexicographically; after
    # e+w, (l,o) wins; then lo+w; then (n,ew)
    assert rules[0] == ("e", "w", 5)
    assert rules[1] == ("l", "o", 5)
    assert rules[2] == ("lo", "w", 5)
    assert rules[3] == ("n", "ew", 5)


def test_bpe_train_checkpoints_once_per_read_word_table(spark, monkeypatch):
    """One eager localCheckpoint for the initial word table and one per
    merge whose result a later round reads: the last rule's merged table
    would be freed unread, so it is never built."""
    from re_data_pipeline_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [("low low low lower lowest newer newest",), ("wider wide new new new",)],
        "text string",
    )
    calls = []
    real = type(df).localCheckpoint  # the session's concrete DataFrame class

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", counting)
    rules = bpe_train(df, num_merges=3).orderBy("merge_rank").collect()
    assert [(r.left, r.right) for r in rules] == [("e", "w"), ("l", "o"), ("lo", "w")]
    assert len(calls) == 3


def test_bpe_merge_fold_is_greedy_nonoverlapping(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] — the fold must not
    re-merge the freshly merged tail ('aaa' stays [aa, a])."""
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.bpe import _apply_merge

    df = spark.createDataFrame(
        [(1, ["a", "a", "a", "a"]), (2, ["a", "a", "a"]), (3, ["b", "a", "a"])],
        "id long, toks array<string>",
    )
    out = {r.id: r.m for r in df.select(
        "id", _apply_merge(F.col("toks"), "a", "a").alias("m")).collect()}
    assert out[1] == ["aa", "aa"]
    assert out[2] == ["aa", "a"]
    assert out[3] == ["b", "aa"]


def test_bpe_encode_counts_hand_example(spark):
    """Token counts under explicit merges: 'lower' with merges (l,o),(lo,w)
    -> [low, e, r] = 3 tokens; unmergeable words keep char counts."""
    from re_data_pipeline_spark.operators.bpe import bpe_encode_counts

    df = spark.createDataFrame(
        [(1, "lower lower ab"), (2, "xyz")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in bpe_encode_counts(
        df, "text", [("l", "o"), ("lo", "w")]).collect()}
    # doc1: lower(5 chars -> lo w e r -> low e r = 3) x2, ab (2)
    assert out[1] == (3, 3 + 3 + 2)
    assert out[2] == (1, 3)


def test_record_linkage_blocks_and_scores(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.linkage import record_linkage

    a = spark.createDataFrame(
        [(1, "east", "alice", 100), (2, "east", "bob", 200), (3, "west", "carol", 300)],
        "id_a long, a_region string, a_name string, a_bal long",
    )
    b = spark.createDataFrame(
        [
            (11, "east", "alice", 100),   # full match -> 5
            (12, "east", "alice", 999),   # name only -> 3
            (13, "west", "alice", 100),   # wrong block vs 1 -> never compared
            (14, "east", "dave", 200),    # balance only vs 2 -> 2, below threshold
        ],
        "id_b long, b_region string, b_name string, b_bal long",
    )
    got = {(r.id_a, r.id_b): r.score for r in record_linkage(
        a, b,
        block_on=[("a_region", "b_region")],
        rules=[(F.col("a_name") == F.col("b_name"), 3),
               (F.col("a_bal") == F.col("b_bal"), 2)],
        threshold=3,
    ).collect()}
    assert got == {(1, 11): 5, (1, 12): 3}
    # blocking means (1, 13) was never even a candidate despite full
    # name+balance agreement — recall is governed by the blocking key
    assert (1, 13) not in got


def test_record_linkage_null_rule_contributes_zero(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.linkage import record_linkage

    a = spark.createDataFrame([(1, "k", None)], "id_a long, ka string, va string")
    b = spark.createDataFrame([(2, "k", "x")], "id_b long, kb string, vb string")
    got = record_linkage(
        a, b, [("ka", "kb")],
        [(F.col("va") == F.col("vb"), 3), (F.lit(True), 3)], threshold=3,
    ).collect()
    # NULL comparison -> 0, the always-true rule -> 3: exactly threshold
    assert [(r.id_a, r.id_b, r.score) for r in got] == [(1, 2, 3)]


def test_bfs_distances_hand_graph(spark):
    from re_data_pipeline_spark.operators.graph import bfs_distances

    # path 1-2-3-4 with a shortcut 1-4; source {1}: dist(4) must be 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (9, 10)], "src long, dst long"
    )
    und = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(und, srcs).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2}  # 9,10 unreachable -> absent


def test_bfs_multi_source_takes_min(spark):
    from re_data_pipeline_spark.operators.graph import bfs_distances

    # chain 1-2-3-4-5, sources {1, 5}: 3 is 2 hops from either side
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 5)], "src long, dst long")
    und = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
    srcs = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(und, srcs).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_record_linkage_rejects_empty_inputs(spark):
    """Empty block_on would silently cross-join (forbidden by contract);
    empty rules has no score — both must raise loudly, not misbehave."""
    import pytest
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.linkage import record_linkage

    a = spark.createDataFrame([(1, "east")], "id_a long, a_region string")
    b = spark.createDataFrame([(9, "east")], "id_b long, b_region string")
    with pytest.raises(ValueError, match="block_on"):
        record_linkage(a, b, block_on=[], rules=[(F.lit(True), 1)], threshold=1)
    with pytest.raises(ValueError, match="rules"):
        record_linkage(
            a, b, block_on=[("a_region", "b_region")], rules=[], threshold=1
        )


def test_boilerplate_ngrams_finds_shared_template(spark):
    """A 5-word template shared by 3 docs tops the leaderboard; spans in a
    single doc never appear (min_docs=2)."""
    from re_data_pipeline_spark.operators.indexing import boilerplate_ngrams

    tpl = "all rights reserved cookie banner"
    rows = [
        (1, tpl + " unique one content here"),
        (2, tpl + " other page body text"),
        (3, tpl + " third page entirely"),
        (4, "no template at all in this doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = boilerplate_ngrams(df, span_words=5, top_n=5).collect()
    assert got[0].span == tpl and got[0].n_docs == 3 and got[0].rnk == 1
    assert all(r.n_docs >= 2 for r in got)
    solo = "no template at all in"
    assert all(r.span != solo for r in got)


def test_gopher_rules_hand_crafted(spark):
    """Each rule fires on a fixture built to violate exactly it; a clean
    prose-like doc passes all seven."""
    from re_data_pipeline_spark.operators.quality import gopher_quality_flags

    good = (
        "the quick brown fox jumps over and over that lazy dog have with "
        + " ".join(f"word{i} still prose here" for i in range(20))
    )
    rows = [
        (1, good),                                           # keep
        (2, "too few words the of"),                         # word count
        (3, good + " " + "#" * 1 + " ".join("#" for _ in range(30))),  # symbols
        (4, " ".join("12345" for _ in range(60)) + " the of"),  # alpha words
        (5, " ".join(f"w{i}" for i in range(60))),           # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert got[1].keep and all(
        got[1][c] for c in got[1].asDict() if c.startswith("ok_")
    )
    assert not got[2].ok_word_count and not got[2].keep
    assert not got[3].ok_symbol_ratio and not got[3].keep
    assert not got[4].ok_alpha_words and not got[4].keep
    assert not got[5].ok_stopwords and not got[5].keep
