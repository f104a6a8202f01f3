"""Data-selection, span-dedup, and compaction-planning operator tests."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from re_data_pipeline_spark.operators.dedup import span_dup_stats
from re_data_pipeline_spark.operators.maintenance import plan_compaction
from re_data_pipeline_spark.operators.selection import (
    classifier_score,
    dsir_log_weights,
    hash_bucket,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_dsir_prefers_target_like_docs(spark):
    # target = lang 'en' docs full of 'alpha'; a raw doc repeating 'alpha'
    # must outscore a raw doc of never-seen-in-target words
    rows = [
        (1, "alpha alpha beta alpha", "en"),
        (2, "alpha beta alpha alpha", "en"),
        (3, "alpha alpha alpha alpha", "xx"),
        (4, "zork quux gnarl zork", "xx"),
    ]
    out = dsir_log_weights(
        _docs(spark, rows), "doc_id", "text", F.col("lang") == "en", n_buckets=64
    ).collect()
    w = {r.doc_id: r.dsir_logweight for r in out}
    assert w[3] > w[4]
    assert all(r.n_tokens == 4 for r in out)


def test_dsir_weight_matches_plain_python(spark):
    # exact replay of the smoothed log-ratio on a tiny corpus
    rows = [(1, "a b", "en"), (2, "b c", "xx")]
    B = 16
    out = {
        r.doc_id: r.dsir_logweight
        for r in dsir_log_weights(
            _docs(spark, rows), "doc_id", "text", F.col("lang") == "en", n_buckets=B
        ).collect()
    }
    import hashlib

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    toks = {1: ["a", "b"], 2: ["b", "c"]}
    raw, tgt = {}, {}
    for d, ts in toks.items():
        for t in ts:
            b = bucket(t)
            raw[b] = raw.get(b, 0) + 1
            if d == 1:
                tgt[b] = tgt.get(b, 0) + 1
    rt, tt = sum(raw.values()), sum(tgt.values())
    for d, ts in toks.items():
        s = 0
        for t in ts:
            b = bucket(t)
            lw = math.log((tgt.get(b, 0) + 1) / (tt + B)) - math.log(
                (raw[b] + 1) / (rt + B)
            )
            s += round(lw * 1_000_000)
        assert out[d] == pytest.approx(round(s / 1_000_000, 6), abs=1e-9)


def test_classifier_score_is_deterministic_and_bounded(spark):
    df = _docs(
        spark,
        [(1, "the quick brown fox", "en"), (2, "jumps over the lazy dog", "en")],
    )
    a = df.select("doc_id", F.round(classifier_score("text"), 6).alias("p")).collect()
    b = df.select("doc_id", F.round(classifier_score("text"), 6).alias("p")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(0.0 < r.p < 1.0 for r in a)


def test_classifier_score_no_shuffle(spark):
    # the whole model must inline into the scan: no Exchange in the plan
    df = _docs(spark, [(1, "x y z", "en")])
    plan = df.select(classifier_score("text").alias("p"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hash_bucket_range(spark):
    df = spark.range(200).select(hash_bucket(F.col("id").cast("string"), 7).alias("b"))
    vals = {r.b for r in df.collect()}
    assert vals <= set(range(7)) and len(vals) > 1


def test_span_dup_stats_flags_shared_boilerplate(spark):
    header = "one two three four five six"
    rows = [
        (1, header + " unique tail alpha beta gamma delta", "en"),
        (2, header + " other ending words entirely different here", "en"),
        (3, "completely unrelated document with its own words only", "en"),
    ]
    out = {r.doc_id: r for r in span_dup_stats(_docs(spark, rows), span_words=5).collect()}
    # 6-word header → spans at pos 1,2 are fully inside it and shared
    assert out[1].dup_spans == 2 and out[2].dup_spans == 2
    assert out[3].dup_spans == 0 and out[3].keep
    # n_spans = n_tokens - 4 for docs longer than the span (doc 3: 8 words)
    assert out[3].n_spans == 8 - 4


def test_span_dup_short_doc_single_span(spark):
    rows = [(1, "a b c", "en"), (2, "a b c", "en")]
    out = {r.doc_id: r for r in span_dup_stats(_docs(spark, rows), span_words=5).collect()}
    assert out[1].n_spans == 1 and out[1].dup_spans == 1
    assert not out[1].keep  # 100% duplicated > default 0.5


def test_plan_compaction_first_fit_bins(spark):
    files = spark.createDataFrame(
        [("p1", i, 40) for i in range(5)] + [("p2", 0, 250), ("p2", 1, 10)],
        "part string, file_id bigint, size_bytes bigint",
    )
    out = plan_compaction(files, ["part"], target_bytes=100).collect()
    bins = {(r.part, r.file_id): r.bin for r in out}
    # p1: cum-start offsets 0,40,80,120,160 → bins 0,0,0,1,1
    assert [bins[("p1", i)] for i in range(5)] == [0, 0, 0, 1, 1]
    # oversized file occupies its own bin; next file starts in bin 2
    assert bins[("p2", 0)] == 0 and bins[("p2", 1)] == 2


def test_mixture_allocation_sums_to_budget_exactly(spark):
    from re_data_pipeline_spark.operators.selection import mixture_allocation

    rows = [("web", 7), ("code", 2), ("books", 1), ("web", 3)]
    df = spark.createDataFrame(rows, "domain string, n bigint")
    out = {r.domain: r.quota for r in mixture_allocation(df, "domain", "n", 100).collect()}
    # sizes: web 10, code 2, books 1; total 13
    # floors: 76, 15, 7 (sum 98); remainders 12/13, 5/13, 9/13
    # leftover 2 -> web (12) and books (9) get +1
    assert out == {"web": 77, "code": 15, "books": 8}
    assert sum(out.values()) == 100


def test_mixture_allocation_overflow_safe(spark):
    """Domain sizes at 10^14 tokens x 10^9 budget would overflow int64
    multiplication; the decimal(38,0) path must stay exact."""
    from re_data_pipeline_spark.operators.selection import mixture_allocation

    rows = [("a", 10**14), ("b", 2 * 10**14), ("c", 3 * 10**14)]
    df = spark.createDataFrame(rows, "domain string, n bigint")
    budget = 10**9
    out = {r.domain: r.quota for r in mixture_allocation(df, "domain", "n", budget).collect()}
    assert sum(out.values()) == budget
    # 1:2:3 of 1e9 = 166666666.67 / 333333333.33 / 500000000; the two
    # fractional domains floor and a's larger remainder (2/3 vs 1/3) takes
    # the single leftover unit
    assert out == {"a": 166_666_667, "b": 333_333_333, "c": 500_000_000}


def test_mixture_allocation_division_boundary_exact(spark):
    """Fractional part within 5e-7 of 1: Spark's decimal(38,6) HALF_UP
    division would round 0.9999995 up to 1.000000, overshooting the true
    floor and producing a negative remainder.  The pmod-first form must
    match exact integer Hamilton apportionment."""
    from fractions import Fraction

    from re_data_pipeline_spark.operators.selection import mixture_allocation

    # total = 2_000_000; domain b's prod/total = 1_999_999/2_000_000
    #       = 0.9999995 exactly — the HALF_UP boundary
    rows = [("a", 1_999_999), ("b", 1)]
    budget = 1_999_999
    df = spark.createDataFrame(rows, "domain string, n bigint")
    out = {r.domain: r.quota for r in mixture_allocation(df, "domain", "n", budget).collect()}

    # exact Hamilton in Python integers
    sizes = dict(rows)
    t = sum(sizes.values())
    base = {d: (n * budget) // t for d, n in sizes.items()}
    rem = {d: Fraction(n * budget, t) - base[d] for d, n in sizes.items()}
    left = budget - sum(base.values())
    for d in sorted(sizes, key=lambda d: (-rem[d], d))[:left]:
        base[d] += 1
    assert out == base
    assert sum(out.values()) == budget


def test_grouped_split_no_leakage_and_deterministic(spark):
    """grouped_split keeps every group on one side of the split and is
    bit-stable across reruns (hash-of-group assignment, no RNG)."""
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.selection import grouped_split

    # two rows per group: both must land on the same side, across reruns
    df = spark.range(2000).select(
        (F.col("id") % 500).cast("string").alias("grp"), F.col("id").alias("rid")
    )
    a = grouped_split(df, "grp", test_permille=200)
    sides = a.groupBy("grp").agg(F.countDistinct("split").alias("k")).collect()
    assert all(r.k == 1 for r in sides)
    b = grouped_split(df, "grp", test_permille=200)
    assert sorted((r.rid, r.split) for r in a.collect()) == sorted(
        (r.rid, r.split) for r in b.collect()
    )
    # the test fraction lands near 20% of groups
    frac = a.select("grp", "split").distinct().where(F.col("split") == "test").count() / 500
    assert 0.12 < frac < 0.28


def test_pagerank_fixed_deterministic_and_sane(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.graph import pagerank_fixed

    # star graph: everyone links to node 0 -> node 0's rank dominates
    edges = spark.range(1, 50).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    r = {row.node: row.rank_fixed for row in pagerank_fixed(edges, iterations=3).collect()}
    assert r[0] == max(r.values())
    # leaves keep exactly the teleport mass after round 1 (no in-edges)
    assert all(v == 150_000 for n, v in r.items() if n != 0)
    # bit-exact across reruns (integer arithmetic)
    r2 = {row.node: row.rank_fixed for row in pagerank_fixed(edges, iterations=3).collect()}
    assert r == r2


def test_grouped_kfold_partitions_groups(spark):
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.selection import grouped_kfold

    df = spark.range(1500).select(
        (F.col("id") % 300).cast("string").alias("grp"), F.col("id").alias("rid")
    )
    out = grouped_kfold(df, "grp", k=5)
    # each group maps to exactly one fold, folds cover [0, 5)
    per_group = out.groupBy("grp").agg(F.countDistinct("fold").alias("nf")).collect()
    assert all(r.nf == 1 for r in per_group)
    folds = {r.fold for r in out.select("fold").distinct().collect()}
    assert folds <= set(range(5)) and len(folds) == 5
    # reasonably balanced: every fold holds 10-30% of the 300 groups
    sizes = {r.fold: r.n for r in
             out.select("grp", "fold").distinct().groupBy("fold").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(30 <= n <= 90 for n in sizes.values())


def test_stratified_sample_exact_counts_and_determinism(spark):
    from re_data_pipeline_spark.operators.selection import stratified_sample_exact

    rows = [(i, "a" if i < 50 else ("b" if i < 58 else "c")) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out1 = stratified_sample_exact(df, "lang", 10, "doc_id").collect()
    out2 = stratified_sample_exact(df, "lang", 10, "doc_id").collect()
    by_lang = {}
    for r in out1:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    # exact: min(k, |stratum|) per stratum — a (50), b (8), c (2)
    assert {k: len(v) for k, v in by_lang.items()} == {"a": 10, "b": 8, "c": 2}
    assert {(r.doc_id, r.lang) for r in out1} == {(r.doc_id, r.lang) for r in out2}
    # different salt -> different permutation of the big stratum
    alt = stratified_sample_exact(df, "lang", 10, "doc_id", salt="other").collect()
    assert {r.doc_id for r in alt if r.lang == "a"} != by_lang["a"]


def test_stratified_sample_stable_under_growth(spark):
    """Adding rows to a stratum must only evict by outranking — the md5
    priority is per-row, so previously-sampled ids with winning priorities
    stay sampled."""
    from re_data_pipeline_spark.operators.selection import stratified_sample_exact

    small = spark.createDataFrame([(i, "x") for i in range(30)], "doc_id long, lang string")
    big = spark.createDataFrame([(i, "x") for i in range(60)], "doc_id long, lang string")
    s_small = {r.doc_id for r in stratified_sample_exact(small, "lang", 10, "doc_id").collect()}
    s_big = {r.doc_id for r in stratified_sample_exact(big, "lang", 10, "doc_id").collect()}
    # survivors of the grown corpus that existed before were already sampled
    assert s_big & set(range(30)) <= s_small


def test_quota_sample_exact_budget_and_proportions(spark):
    from re_data_pipeline_spark.operators.selection import quota_sample

    rows = ([(i, "a") for i in range(70)] + [(100 + i, "b") for i in range(20)]
            + [(200 + i, "c") for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = quota_sample(df, "lang", 10, "doc_id").collect()
    by = {}
    for r in out:
        by[r.lang] = by.get(r.lang, 0) + 1
    # 70/20/10 of 100 at budget 10 -> exact 7/2/1
    assert by == {"a": 7, "b": 2, "c": 1}
    assert len(out) == 10
    # deterministic
    out2 = quota_sample(df, "lang", 10, "doc_id").collect()
    assert {r.doc_id for r in out} == {r.doc_id for r in out2}


def test_temperature_quotas_exact_and_flattened(spark):
    """Σ quota == budget exactly; √-scaling moves budget from the largest
    domain toward the smallest versus T=1 proportional allocation; weights
    match Python's math.isqrt-derived floor(sqrt(n)*1e6)."""
    import math

    from re_data_pipeline_spark.operators.selection import (
        mixture_allocation,
        temperature_quotas,
    )

    rows = [("big", 1_000_000), ("mid", 40_000), ("small", 2_500)]
    df = spark.createDataFrame(rows, "domain string, n bigint")
    budget = 9_999
    out = {r.domain: r for r in temperature_quotas(df, "domain", "n", budget).collect()}
    assert sum(r.quota for r in out.values()) == budget
    for d, n in rows:
        assert out[d].weight == math.floor(math.sqrt(n) * 1e6)
        assert out[d].domain_size == n
    t1 = {r.domain: r.quota for r in mixture_allocation(df, "domain", "n", budget).collect()}
    assert out["big"].quota < t1["big"]       # largest domain gives up budget
    assert out["small"].quota > t1["small"]   # smallest domain gains


def test_snake_shards_balance_and_determinism(spark):
    """Every row gets exactly one shard 0..S-1; shard token totals are
    within one max-item of each other; assignment is bit-stable."""
    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.selection import snake_shards

    import pytest

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.pmod(F.col("id") * 37, F.lit(400)) + 1).alias("n")
    )
    S = 6
    out = snake_shards(df, "n", S, order_tiebreak=["doc_id"])
    rows = out.collect()
    assert len(rows) == 1000 and {r.shard for r in rows} <= set(range(S))
    totals = {}
    for r in rows:
        totals[r.shard] = totals.get(r.shard, 0) + r.n
    assert len(totals) == S
    assert max(totals.values()) - min(totals.values()) <= 400  # ≤ one max item
    rows2 = snake_shards(df, "n", S, order_tiebreak=["doc_id"]).collect()
    assert sorted((r.doc_id, r.shard) for r in rows) == sorted(
        (r.doc_id, r.shard) for r in rows2
    )
    with pytest.raises(ValueError, match="num_shards"):
        snake_shards(df, "n", 0)


def test_char_bigram_nll_ranks_gibberish_above_clean(spark):
    """Docs made of the corpus's common bigrams score lower NLL than a doc
    of rare character transitions; n_bigrams = len(text) − 1."""
    from re_data_pipeline_spark.operators.selection import char_bigram_nll

    common = "the cat sat on the mat and the rat ate the hat "
    rows = [(i, common * 3) for i in range(8)] + [(99, "zqxj kvwq zzqx jxqv pzkq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in char_bigram_nll(df).collect()}
    assert out[99].nll > out[0].nll * 1.5
    for i, text in rows:
        assert out[i].n_bigrams == len(text) - 1


def test_char_bigram_nll_scores_unseen_text(spark):
    """Scoring a different corpus: unseen bigram with a seen context takes
    the smoothed floor ln(cc+V); a wholly unseen context takes ln V — the
    worst plausible surprise, never 0 (a 0 would rank out-of-alphabet
    gibberish as perfect text)."""
    from re_data_pipeline_spark.operators.selection import char_bigram_nll

    train = spark.createDataFrame([(1, "abab")], "doc_id long, text string")
    # train bigrams: ab(2), ba(1); contexts a->2, b->1; V (2nd chars) = {a,b} -> 2
    score = spark.createDataFrame([(7, "aXq")], "doc_id long, text string")
    out = char_bigram_nll(train, score).collect()
    assert len(out) == 1 and out[0].n_bigrams == 2
    import math
    # "aX": context 'a' seen (cc=2), bigram unseen -> floor ln(2+2)
    # "Xq": context 'X' unseen -> ln V = ln 2
    expected = round(
        (round(math.log(4) * 1e6) + round(math.log(2) * 1e6)) / (2 * 1e6), 6
    )
    assert out[0].nll == expected

    # pure out-of-alphabet gibberish must score WORSE than in-distribution
    # text, not better
    both = spark.createDataFrame(
        [(1, "abababab"), (2, "XYZW QRST")], "doc_id long, text string"
    )
    scores = {r.doc_id: r.nll for r in char_bigram_nll(train, both).collect()}
    assert scores[2] > scores[1]


def test_train_quality_classifier_planted_separation(spark):
    """Train on a corpus where positives carry marker tokens and negatives
    carry disjoint ones: after 3 iterations the trained model
    (classifier_score_trained) separates held-in positives from negatives,
    closing the train→score loop."""
    from re_data_pipeline_spark.operators.selection import (
        classifier_score_trained,
        train_quality_classifier,
    )

    pos_v = ["good", "clean", "prose", "quality", "coherent"]
    neg_v = ["spam", "junk", "noise", "garbage", "boiler"]
    rows = []
    for i in range(40):
        v = pos_v if i % 2 == 0 else neg_v
        rows.append((i, i % 2 == 0, " ".join(v[(i + j) % 5] for j in range(12))))
    df = spark.createDataFrame(rows, "doc_id long, label boolean, text string")
    wdf = train_quality_classifier(
        df, label_col="label", n_buckets=32, iters=3, lr_num=1, lr_den=2, scale=4
    )
    w = [r["weight_fixed"] for r in wdf.orderBy("bucket").collect()]
    assert len(w) == 32 and any(v != 0 for v in w)
    scored = df.select(
        "label", classifier_score_trained("text", w, scale=4.0).alias("p")
    ).collect()
    pos = [r["p"] for r in scored if r["label"]]
    neg = [r["p"] for r in scored if not r["label"]]
    assert min(pos) > max(neg)  # disjoint vocab → clean separation
    assert all(p > 0.5 for p in pos) and all(p < 0.5 for p in neg)


def test_train_quality_classifier_matches_python_replay(spark):
    """Bit-exact replay: the distributed 2-aggregate loop equals a plain
    Python reimplementation of the same fixed-point arithmetic (the q198
    oracle's semantics) on a small corpus."""
    import hashlib
    import math as _math

    from re_data_pipeline_spark.operators.selection import train_quality_classifier

    rows = [
        (1, 1, "aa bb cc aa"),
        (2, 0, "dd ee ff"),
        (3, 1, "aa cc cc gg hh"),
        (4, 0, "ff ff ii"),
        (5, 1, None),  # NULL text: excluded from N, no gradient
    ]
    B, iters, scale, lr_num, lr_den = 16, 3, 4, 1, 2
    df = spark.createDataFrame(rows, "doc_id long, label int, text string")
    got = {
        r["bucket"]: r["weight_fixed"]
        for r in train_quality_classifier(
            df, label_col="label", n_buckets=B, iters=iters,
            lr_num=lr_num, lr_den=lr_den, scale=scale,
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    feats = {}  # doc -> (y, {b: f_fixed})
    for doc, y, text in rows:
        if text is None:
            continue
        toks = text.strip().split()
        cnt = {}
        for t in toks:
            cnt[bucket(t)] = cnt.get(bucket(t), 0) + 1
        n = sum(cnt.values())
        feats[doc] = (y, {b: (c * 10**9) // n for b, c in cnt.items()})
    N = len(feats)
    w = [0] * B
    for _ in range(iters):
        grad = [0] * B
        for doc, (y, f) in feats.items():
            zr = sum(w[b] * fv for b, fv in f.items())
            p = 1.0 / (1.0 + _math.exp(-scale * (zr / 1e15)))
            rf = int(_math.floor((p - y) * 1_000_000 + 0.5)) if (p - y) >= 0 else -int(
                _math.floor((y - p) * 1_000_000 + 0.5)
            )
            for b, fv in f.items():
                grad[b] += rf * fv
        den = lr_den * N * 10**9
        for b in range(B):
            mag = (lr_num * scale * abs(grad[b])) // den
            w[b] -= mag if grad[b] > 0 else -mag
    assert got == {b: w[b] for b in range(B)}


def test_train_quality_classifier_validation(spark):
    """Parameter guards: non-positive knobs and the literal-array bucket
    cap raise before any job runs."""
    import pytest as _pytest

    from re_data_pipeline_spark.operators.selection import train_quality_classifier

    df = spark.createDataFrame([(1, 1, "a b")], "doc_id long, label int, text string")
    with _pytest.raises(ValueError, match="≥ 1"):
        train_quality_classifier(df, label_col="label", iters=0)
    with _pytest.raises(ValueError, match="literal-array"):
        train_quality_classifier(df, label_col="label", n_buckets=(1 << 17) + 1)


def test_kcenter_select_matches_bruteforce_reference(spark):
    """Greedy max-min over a hand-set 2-D-ish vector table vs a direct
    Python transcription (integer micro-distances, id tie-break)."""
    from decimal import ROUND_HALF_UP, Decimal

    from re_data_pipeline_spark.operators.selection import kcenter_select

    vecs = {
        1: [0.0, 0.0], 2: [1.0, 0.0], 3: [0.0, 1.0],
        4: [10.0, 10.0], 5: [10.0, 10.5], 6: [-5.0, 0.0],
    }
    d = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id bigint, embedding array<float>",
    )

    def micro(a, b):
        s = sum((x - y) * (x - y) for x, y in zip(a, b))
        return int(Decimal(repr(s * 1e6)).quantize(Decimal("1"), ROUND_HALF_UP))

    chosen = [min(vecs)]
    expect = [(0, chosen[0], None)]
    for r in range(1, 4):
        best = max(
            ((min(micro(vecs[i], vecs[c]) for c in chosen), -i), i)
            for i in vecs if i not in chosen
        )
        expect.append((r, best[1], best[0][0]))
        chosen.append(best[1])
    got = [tuple(r) for r in kcenter_select(d, 4).collect()]
    assert got == expect
    # farthest-first: the selection-time radius is non-increasing
    radii = [t[2] for t in got[1:]]
    assert radii == sorted(radii, reverse=True)
    # a vector column named after a SQL keyword selects the same centers
    od = d.withColumnRenamed("embedding", "order")
    assert [tuple(r) for r in kcenter_select(od, 4, vec_col="order").collect()] == expect


def test_kcenter_select_degenerate_cases(spark):
    from re_data_pipeline_spark.operators.selection import kcenter_select

    d = spark.createDataFrame(
        [(7, [1.0, 2.0]), (9, [3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    # k larger than the table: returns every row, ranked
    got = kcenter_select(d, 10).collect()
    assert [r["vec_id"] for r in got] == [7, 9]
    # k=1: just the seed
    assert [tuple(r) for r in kcenter_select(d, 1).collect()] == [(0, 7, None)]
    # empty input
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert kcenter_select(empty, 3).count() == 0


def test_kcenter_select_property_matches_bruteforce(spark):
    """Arbitrary small integer-valued vector sets (exactly representable
    in float32, so the array<float> round-trip is lossless): the greedy
    selection must match the direct transcription exactly."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings, strategies as st

    from re_data_pipeline_spark.operators.selection import kcenter_select

    @settings(max_examples=5, deadline=None)
    @given(
        st.dictionaries(
            st.integers(0, 40),
            st.lists(st.integers(-8, 8).map(float), min_size=3, max_size=3),
            min_size=2,
            max_size=12,
        ),
        st.integers(2, 5),
    )
    def check(vecs, k):
        d = spark.createDataFrame(
            sorted(vecs.items()), "vec_id bigint, embedding array<float>"
        )

        def micro(a, b):
            s = 0.0
            for x, y in zip(a, b):
                s = s + (x - y) * (x - y)  # left-to-right, like the fold
            return int(Decimal(repr(s * 1e6)).quantize(Decimal("1"), ROUND_HALF_UP))

        chosen = [min(vecs)]
        expect = [(0, chosen[0], None)]
        for r in range(1, k):
            rest = [i for i in vecs if i not in chosen]
            if not rest:
                break
            best = max(
                ((min(micro(vecs[i], vecs[c]) for c in chosen), -i), i)
                for i in rest
            )
            expect.append((r, best[1], best[0][0]))
            chosen.append(best[1])
        got = [tuple(r) for r in kcenter_select(d, k).collect()]
        assert got == expect, (vecs, k)

    check()


def test_kcenter_incremental_matches_greedy(spark, monkeypatch):
    """The persisted-min-dist route must be bit-identical to the
    literal-inlining greedy route: least() over per-center HALF_UP
    integers is associative, so folding one center at a time cannot
    change any argmax.  Includes duplicate vectors (md=0 ties) so the
    id-ascending tie-break is exercised on both routes."""
    from re_data_pipeline_spark.operators import selection
    from re_data_pipeline_spark.operators.selection import kcenter_select

    rows = [
        (i, [float((i * 7) % 13 - 6), float((i * 3) % 11 - 5), float(i % 4)])
        for i in range(24)
    ] + [(100, [1.0, 6.0, 0.0]), (101, [1.0, 6.0, 0.0])]  # exact duplicates
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    g = [tuple(r) for r in kcenter_select(d, 12).collect()]
    monkeypatch.setattr(selection, "_KCENTER_GREEDY_MAX_K", 0)  # incremental
    i = [tuple(r) for r in kcenter_select(d, 12).collect()]
    assert g == i


def test_kcenter_null_rows_and_id_type(spark, monkeypatch):
    """r12 advice: NULL ids must not seed the selection (ascending
    orderBy puts NULLs first) and NULL vectors have no distance — both
    are excluded up front; and the returned id column keeps the input's
    type instead of hardcoded bigint."""
    from re_data_pipeline_spark.operators import selection
    from re_data_pipeline_spark.operators.selection import kcenter_select

    d = spark.createDataFrame(
        [(None, [0.0, 0.0]), ("b", None), ("c", [0.0, 0.0]), ("a", [9.0, 9.0])],
        "vec_id string, embedding array<float>",
    )
    for greedy_max_k in (64, 0):  # greedy route, then incremental
        monkeypatch.setattr(selection, "_KCENTER_GREEDY_MAX_K", greedy_max_k)
        got = kcenter_select(d, 5)
        assert got.schema["vec_id"].dataType.simpleString() == "string"
        assert [r["vec_id"] for r in got.collect()] == ["a", "c"]


def test_kcenter_incremental_plan_growth_is_bounded(spark):
    """The O(dim)-literals-per-round contract (r12 verdict, What's wrong
    §1): checkpointing every 8 rounds, the analyzed plan grows only within an
    8-round window and resets at each localCheckpoint — its size is
    bounded by the WINDOW, independent of k.  The greedy route's plan at
    round r would instead carry r·dim literals forever."""
    from re_data_pipeline_spark.operators.selection import kcenter_select

    rows = [
        (i, [float((i * 5) % 17 - 8), float((i * 11) % 7 - 3)]) for i in range(30)
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    lens: dict[int, int] = {}

    def probe(r, frame):
        lens[r] = len(frame._jdf.queryExecution().analyzed().toString())

    got = kcenter_select(d, 70, _plan_probe=probe).collect()
    assert len(got) == 30  # k > n: every row selected, then clean break
    # crossed at least three checkpoint boundaries (rounds 8, 16, 24)
    assert max(lens) >= 25
    # plan shrinks right after each checkpoint...
    for cp in (8, 16, 24):
        assert lens[cp + 1] < lens[cp]
    # ...and never exceeds the first window's peak by more than slack
    # (post-checkpoint windows sit on a LogicalRDD base, so they are
    # SMALLER than window one, which still carries the parquet scan)
    first_window_peak = max(lens[r] for r in range(1, 9))
    assert max(lens.values()) <= first_window_peak * 1.5


def test_kcenter_auto_switches_to_incremental(spark):
    """kcenter_select must take the incremental route above k=64 — probed
    via _plan_probe, which only the incremental route calls."""
    from re_data_pipeline_spark.operators.selection import kcenter_select

    d = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    seen: list[int] = []
    kcenter_select(d, 65, _plan_probe=lambda r, f: seen.append(r)).collect()
    assert seen  # incremental path ran
    seen.clear()
    kcenter_select(d, 5, _plan_probe=lambda r, f: seen.append(r)).collect()
    assert not seen  # small k stays on the greedy route


def test_cluster_safe_split_colocates_near_dups(spark):
    """The q216 composition's leakage invariant: every LSH candidate pair
    (hence every transitively-connected near-dup cluster) lands on ONE
    side of the split — the failure mode it exists to prevent is a
    tail-edited copy of a test doc sitting in train."""
    from re_data_pipeline_spark.operators.dedup import (
        connected_components_bss,
        lsh_candidate_pairs,
    )
    from re_data_pipeline_spark.operators.selection import grouped_split

    base = [
        (i, " ".join(f"w{(i * 31 + j * 7) % 97}" for j in range(40)))
        for i in range(20)
    ]
    # plant near-dups: docs 100+i copy doc i except the last 3 tokens
    dups = [
        (100 + i, t.rsplit(" ", 3)[0] + f" x{i} y{i} z{i}") for i, t in base[:8]
    ]
    d = spark.createDataFrame(base + dups, "doc_id bigint, text string")
    pairs = lsh_candidate_pairs(d, "doc_id", "text", 16, 3, 4)
    assert pairs.count() > 0  # the fixture actually produced candidates
    comp = connected_components_bss(pairs)
    lab = (
        d.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )
    out = grouped_split(lab, "cluster_id")
    by_doc = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(by_doc) == len(base) + len(dups)  # no doc lost or duplicated
    for pa, pb in [(r["id_a"], r["id_b"]) for r in pairs.collect()]:
        assert by_doc[pa] == by_doc[pb], (pa, pb)
    # both sides are non-degenerate under a 100-permille cut only by luck
    # at this size; the invariant above is the contract, not the balance


def test_kcenter_incremental_releases_checkpoint_storage(spark, monkeypatch):
    """localCheckpoint pins RDD-level storage blocks that neither
    DataFrame.unpersist() nor catalog.clearCache() can see — the operator
    must release them itself (via the LogicalRDD rdd handle) or every
    checkpointed round's full frame stays pinned until driver GC."""
    from re_data_pipeline_spark.operators import selection
    from re_data_pipeline_spark.operators.selection import kcenter_select

    sc = spark.sparkContext
    spark.catalog.clearCache()

    from tests.conftest import persistent_ids

    before = persistent_ids(spark)
    rows = [
        (i, [float((i * 5) % 17 - 8), float((i * 11) % 7 - 3)]) for i in range(40)
    ]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # 9 checkpoint boundaries (rounds 4, 8, ..., 36) — incl. the k>n
    # early-exhaustion path, where the last checkpoint is also `prev`
    monkeypatch.setattr(selection, "_KCENTER_CHECKPOINT_EVERY", 4)
    got = kcenter_select(d, 70).collect()
    assert len(got) == 40
    leaked = persistent_ids(spark) - before
    assert not leaked, f"checkpointed frames leaked RDD storage: {leaked}"

