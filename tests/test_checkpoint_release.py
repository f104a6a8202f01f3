"""Storage-release contracts of the ``ids.pinning`` boundary.

``DataFrame.unpersist()`` and ``spark.catalog.clearCache()`` only walk the
CacheManager, which does NOT hold localCheckpoint blocks — so every
checkpointed round of an iterative operator would stay pinned in executor
storage until nondeterministic driver GC.  Operators register what they
persist or checkpoint with ``pin`` (the result reads it) or ``hold`` (only
the operator does) and retire superseded rounds with ``ids.release``; the
boundary frees held frames on return and every registered frame on a
raise.  These tests pin the persistent-RDD count back to baseline (+ the
final checkpoint where the returned frame derives from it, until
``release_spines``).
"""

from __future__ import annotations

import pyspark.sql.functions as F


from tests.conftest import persistent_ids


def test_release_local_checkpoint_helper(spark):
    from re_data_pipeline_spark.operators.ids import release_local_checkpoint

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    ck = spark.range(100).localCheckpoint(eager=True)
    assert len(persistent_ids(spark) - before) == 1
    ck.unpersist()
    spark.catalog.clearCache()
    # the block is invisible to both CacheManager paths...
    assert len(persistent_ids(spark) - before) == 1
    assert release_local_checkpoint(ck) is True
    assert not (persistent_ids(spark) - before)
    # no-op on non-checkpoint frames and on None
    assert release_local_checkpoint(spark.range(3)) is False
    assert release_local_checkpoint(None) is False


def test_connected_components_releases_rounds(spark):
    """A chain graph forces ~diameter rounds of min-label propagation; only
    the FINAL label checkpoint (backing the returned frame) may remain —
    intermediate rounds and the edge list must be released."""
    from re_data_pipeline_spark.operators.dedup import connected_components

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    comps = connected_components(pairs)
    assert comps.where(F.col("component") != 0).count() == 0
    assert comps.count() == 11
    assert len(persistent_ids(spark) - before) <= 1  # final labels only


def test_connected_components_bss_releases_rounds(spark):
    from re_data_pipeline_spark.operators.dedup import connected_components_bss

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    comps = connected_components_bss(pairs)
    assert comps.count() == 13
    assert len(persistent_ids(spark) - before) <= 1  # final star-forest edges only


def test_bfs_releases_rounds_and_final_is_releasable(spark):
    from re_data_pipeline_spark.operators.graph import bfs_distances
    from re_data_pipeline_spark.operators.ids import release_spines

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    sources = spark.createDataFrame([(0,)], "node bigint")
    out = bfs_distances(edges, sources)
    assert out.count() == 9
    assert len(persistent_ids(spark) - before) <= 1  # final visited only
    # the returned frame IS the final checkpoint, pinned on itself
    assert release_spines(out) == 1
    assert not (persistent_ids(spark) - before)


def test_sssp_releases_rounds(spark):
    from re_data_pipeline_spark.operators.graph import sssp_distances

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    edges = spark.createDataFrame(
        [(i, i + 1, 2) for i in range(8)], "src bigint, dst bigint, w bigint"
    )
    sources = spark.createDataFrame([(0,)], "node bigint")
    out = sssp_distances(edges, sources)
    assert {r["node"]: r["dist"] for r in out.collect()}[8] == 16
    assert len(persistent_ids(spark) - before) <= 1  # final dist only


def test_sssp_plan_probe_round_invariant(spark):
    """_plan_probe (plan audits — the kcenter_select precedent) must see
    each round's PRE-checkpoint relaxation frame: the join + min-combine
    shape is in the analyzed plan, both inputs root at checkpoints, and —
    because every round's inputs are (re-)checkpointed — the plan size is
    round-INDEPENDENT, the O(1)-per-round contract q217's audit asserts."""
    from re_data_pipeline_spark.operators.graph import sssp_distances

    edges = spark.createDataFrame(
        [(i, i + 1, 3) for i in range(9)], "src bigint, dst bigint, w bigint"
    )
    sources = spark.createDataFrame([(0,)], "node bigint")
    lens: dict[int, int] = {}
    shapes: dict[int, str] = {}

    def probe(r, frame):
        analyzed = frame._jdf.queryExecution().analyzed().toString()
        lens[r] = len(analyzed)
        shapes[r] = analyzed

    out = sssp_distances(edges, sources, _plan_probe=probe)
    assert {r["node"]: r["dist"] for r in out.collect()}[9] == 27
    assert max(lens) >= 9  # one probe per relaxation round
    for r, text in shapes.items():
        assert "Join" in text and "Aggregate" in text, f"round {r}"
    # round-independent plan size: rounds ≥2 all root at checkpoints
    later = [lens[r] for r in lens if r >= 2]
    assert max(later) <= min(later) * 1.2


def test_bpe_train_releases_all(spark):
    """bpe_train returns driver rows — NO checkpoint may survive it."""
    from re_data_pipeline_spark.operators.bpe import bpe_train

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    d = spark.createDataFrame(
        [(i, "the quick brown fox " * 3) for i in range(20)],
        "doc_id bigint, text string",
    )
    rules = bpe_train(d, "text", num_merges=3)
    assert rules.count() == 3
    assert not (persistent_ids(spark) - before)


def test_classifier_train_releases_features(spark):
    """train_quality_classifier returns driver rows — the localCheckpointed
    feature table must be released before return."""
    from re_data_pipeline_spark.operators.selection import train_quality_classifier

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    d = spark.createDataFrame(
        [(i, "good clean prose here" if i % 2 else "zzz spam spam", i % 2)
         for i in range(30)],
        "doc_id bigint, text string, label int",
    )
    w = train_quality_classifier(d, "doc_id", "text", "label", n_buckets=16, iters=2)
    assert w.count() == 16
    assert not (persistent_ids(spark) - before)


def test_nonconvergence_raise_releases_everything(spark):
    """A raise hands the caller NO frame, so the error path must release
    every live checkpoint and cache — including the edge checkpoint
    (usually the big relation) and frames pinned for the result before a
    degradation guard fires.  Before round 13's fix only the happy path
    released; a catch-and-retry caller accumulated pinned copies per
    attempt."""
    import pytest

    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_bss,
        containment_best,
        exact_substring_decontaminate,
        exact_substring_dedup,
        simhash_radius_pairs,
    )
    from re_data_pipeline_spark.operators.graph import bfs_distances, sssp_distances
    from re_data_pipeline_spark.operators.multimodal import (
        media_phash_pairs,
        synthetic_media,
    )

    spark.catalog.clearCache()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    edges = spark.createDataFrame(
        [(i, i + 1, 2) for i in range(10)], "src bigint, dst bigint, w bigint"
    )
    sources = spark.createDataFrame([(0,)], "node bigint")
    # every doc repeats one text: each guard's candidate volume is ~n²/2,
    # far over cap_pairs_per_doc=1 per doc
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog near the river bank")
         for i in range(12)],
        "doc_id bigint, text string",
    )
    guarded = dict(df=docs, on_degradation="error", cap_pairs_per_doc=1)
    # every image plus a byte copy: each pair shares all radius+1 bands
    media = synthetic_media(spark, 12)
    media = media.unionByName(
        media.where(F.col("kind") == "image").withColumn(
            "media_id", F.col("media_id") + F.lit(100)
        )
    )

    for fn, kwargs in (
        (connected_components, dict(pairs=chain, max_iterations=2)),
        (connected_components_bss, dict(pairs=chain, max_iterations=1)),
        (bfs_distances, dict(edges=edges, sources=sources, max_iterations=2)),
        (sssp_distances, dict(edges=edges, sources=sources, max_iterations=2)),
        (simhash_radius_pairs, guarded),
        (containment_best, guarded),
        (exact_substring_dedup, dict(guarded, min_len=5, k=3)),
        (
            exact_substring_decontaminate,
            dict(guarded, bench=docs, bench_id_col="doc_id", min_len=5, k=3),
        ),
        (media_phash_pairs, dict(guarded, df=media)),
    ):
        before = persistent_ids(spark)
        with pytest.raises(RuntimeError, match="did not|degradation"):
            fn(**kwargs)
        leaked = persistent_ids(spark) - before
        assert not leaked, f"{fn.__name__} leaked checkpoints: {leaked}"
        if "on_degradation" in kwargs:
            # an unknown mode is rejected before the guard persists anything
            with pytest.raises(ValueError, match="on_degradation"):
                fn(**dict(kwargs, on_degradation="explode"))
            assert not (persistent_ids(spark) - before), fn.__name__


def test_connected_components_carries_releasable_final_handle(spark):
    """r15: both CC variants pin the final checkpoint on the returned
    frame, so release_spines after materialization drops storage
    back to baseline — before, the final block survived clearCache for the
    session (the q136/cluster_dedup leak class the r14 advice named)."""
    from re_data_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_bss,
    )
    from re_data_pipeline_spark.operators.ids import release_spines

    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    for fn in (connected_components, connected_components_bss):
        before = persistent_ids(spark)
        comps = fn(pairs, max_iterations=64)
        assert comps.count() == 11
        assert len(comps._pins) == 1, f"{fn.__name__} pins no final checkpoint"
        release_spines(comps)
        leaked = persistent_ids(spark) - before
        assert not leaked, f"{fn.__name__} final checkpoint not releasable: {leaked}"


def test_pagerank_iterations0_releases_edges_and_carries_seed(spark):
    """r15: at iterations=0 the edge checkpoint is provably dead (released
    in-call) and the seed checkpoint — which the returned uniform ranks
    recompute through — is pinned on the result instead of leaking."""
    from re_data_pipeline_spark.operators.graph import pagerank_fixed
    from re_data_pipeline_spark.operators.ids import release_spines

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src bigint, dst bigint"
    )
    before = persistent_ids(spark)
    out = pagerank_fixed(edges, iterations=0)
    rows = out.collect()
    assert len(rows) == 5 and all(r.rank_fixed == 1_000_000 for r in rows)
    assert len(persistent_ids(spark) - before) <= 1  # seed only, edges released
    release_spines(out)
    assert not (persistent_ids(spark) - before)


def test_cluster_dedup_pipelines_release_to_baseline(spark):
    """r15: cluster_dedup_pipeline / keep_best release the dead pair-list
    checkpoint in-call and pin the CC label checkpoint, so one
    materialize + release_spines returns storage to baseline."""
    from re_data_pipeline_spark.operators.dedup import (
        cluster_dedup_keep_best,
        cluster_dedup_pipeline,
    )
    from re_data_pipeline_spark.operators.ids import release_spines

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text about spark shuffle plans"),
        ],
        "doc_id bigint, text string",
    ).withColumn("quality", F.length("text").cast("bigint"))
    for fn in (
        lambda d: cluster_dedup_pipeline(d, threshold=0.5),
        lambda d: cluster_dedup_keep_best(d, "quality", threshold=0.5),
    ):
        before = persistent_ids(spark)
        kept = fn(df)
        assert kept.count() >= 1
        release_spines(kept)
        leaked = persistent_ids(spark) - before
        assert not leaked, f"cluster dedup leaked storage: {leaked}"


def test_cluster_dedup_releases_pair_list_on_cc_raise(spark, monkeypatch):
    """r15 review finding: the pair-list checkpoint release sat on the
    success path only — a connected-components convergence raise left the
    corpus-scale block pinned with no handle.  The pipelines' ``@pinning``
    boundary now frees it when CC raises."""
    import pytest

    import re_data_pipeline_spark.operators.dedup as dd

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id bigint, text string",
    ).withColumn("quality", F.length("text").cast("bigint"))

    def boom(*a, **k):
        raise RuntimeError("did not converge (forced)")

    monkeypatch.setattr(dd, "connected_components", boom)
    for fn in (
        lambda: dd.cluster_dedup_pipeline(df, threshold=0.5),
        lambda: dd.cluster_dedup_keep_best(df, "quality", threshold=0.5),
    ):
        spark.catalog.clearCache()
        before = persistent_ids(spark)
        with pytest.raises(RuntimeError, match="forced"):
            fn()
        leaked = persistent_ids(spark) - before
        assert not leaked, f"pair-list checkpoint leaked on CC raise: {leaked}"


def test_q216_releases_pair_list_on_cc_raise(spark, sf_dir, monkeypatch):
    """r16 ADVICE: q216_cluster_safe_split released its pair-list
    checkpoint on the success path only — a connected_components_bss
    non-convergence raise leaked the corpus-scale block with no handle.
    The query boundary now frees it when CC raises, as for q82/q121."""
    import pytest

    import re_data_pipeline_spark.operators.dedup as dd
    from re_data_pipeline_spark.plans.queries import QUERIES

    def boom(*a, **k):
        raise RuntimeError("did not converge (forced)")

    monkeypatch.setattr(dd, "connected_components_bss", boom)
    spark.catalog.clearCache()
    before = persistent_ids(spark)
    with pytest.raises(RuntimeError, match="forced"):
        QUERIES["q216_cluster_safe_split"](spark, sf_dir)
    leaked = persistent_ids(spark) - before
    assert not leaked, f"pair-list checkpoint leaked on CC raise: {leaked}"


def test_curation_releases_survivor_frame_on_lm_raise(spark, sf_dir, monkeypatch):
    """q219 and q220 persist the shared curation survivor frame
    (``_curation_s1``) before the LM tier; it was persisted outside the
    pin protocol, so an LM raise left it cached with no handle.  It is
    held now, and the query boundary frees it."""
    import pytest

    import re_data_pipeline_spark.operators.lm as lm
    from re_data_pipeline_spark.plans.queries import QUERIES

    seen = []

    def boom(df, *a, **k):
        seen.append(df.count())  # materialize the survivor cache first
        raise RuntimeError("LM tier failed (forced)")

    monkeypatch.setattr(lm, "ngram_lm_nll", boom)
    for name in ("q219_fineweb_trace", "q220_incremental_crawl_update"):
        spark.catalog.clearCache()
        before = persistent_ids(spark)
        with pytest.raises(RuntimeError, match="forced"):
            QUERIES[name](spark, sf_dir)
        leaked = persistent_ids(spark) - before
        assert not leaked, f"{name} left the survivor frame cached: {leaked}"
    assert len(seen) == 2 and all(seen), "the LM stub saw no rows: vacuous check"


def test_bench_run_cold_releases_checkpointing_queries(spark, sf_dir):
    """``bench.run_cold`` releases the result's pins after the noop write:
    a clearCache-only loop (the old shuffle_audit / sf1_anchor body) left
    the final checkpoint of q82 and of q136 pinned, one RDD per run."""
    import bench
    from re_data_pipeline_spark.plans.queries import QUERIES

    for name in ("q82_connected_components", "q136_pagerank"):
        spark.catalog.clearCache()
        before = persistent_ids(spark)
        assert bench.run_cold(spark, QUERIES[name], sf_dir) > 0
        leaked = persistent_ids(spark) - before
        assert not leaked, f"{name} left persistent RDDs after run_cold: {leaked}"


def test_bench_probe_plan_hash_releases_pins_when_hashing_raises(
    spark, sf_dir, monkeypatch
):
    """``bench.probe_plan_hash`` reports "n/a" when hashing raises and
    still frees the probe's pins."""
    import bench
    from re_data_pipeline_spark.plans.queries import QUERIES

    built = []

    def q82(spark, sf_dir):
        built.append(QUERIES["q82_connected_components"](spark, sf_dir))
        return built[-1]

    def boom(df):
        raise RuntimeError("hashing failed (forced)")

    monkeypatch.setattr(bench, "plan_hash", boom)
    spark.catalog.clearCache()
    before = persistent_ids(spark)
    assert bench.probe_plan_hash(spark, q82, sf_dir) == "n/a"
    assert built and built[0]._pins, "the probe pinned nothing: vacuous check"
    leaked = persistent_ids(spark) - before
    assert not leaked, f"probe pins leaked when hashing raised: {leaked}"
