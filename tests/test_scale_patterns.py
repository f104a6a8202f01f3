"""Scale-pattern tests: partition pruning, streaming foreachBatch upsert,
watermark late-data handling."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from re_data_pipeline_spark.catalog import load_table
from re_data_pipeline_spark.streaming.stream_ops import (
    read_stream,
    run_available_now_memory,
    run_foreach_batch_upsert,
)


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Hive-partitioned writes let a filter prune whole directories: the
    scan must list only the matching partition."""
    ev = load_table(spark, sf_dir, "events")
    p = str(tmp_path / "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(p)

    scan = spark.read.parquet(p).where(F.col("event_type") == "click")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    assert scan.count() == ev.where(F.col("event_type") == "click").count()


def test_foreach_batch_streaming_upsert(spark, sf_dir, tmp_path):
    """Stream → foreachBatch upsert must be idempotent on the natural key:
    replaying the same source into the same sink inserts nothing new."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value", "ts")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ev.repartition(3).write.mode("overwrite").parquet(src)

    stream = read_stream(spark, src, ev.schema, max_files_per_trigger=1)
    run_foreach_batch_upsert(stream, sink, ["event_id"], str(tmp_path / "ckpt1"))
    n1 = spark.read.parquet(sink).count()
    assert n1 == ev.count()

    # replay with a fresh checkpoint (simulates a full re-run) → no dups
    stream2 = read_stream(spark, src, ev.schema, max_files_per_trigger=1)
    run_foreach_batch_upsert(stream2, sink, ["event_id"], str(tmp_path / "ckpt2"))
    assert spark.read.parquet(sink).count() == n1
    assert spark.read.parquet(sink).select("event_id").distinct().count() == n1


def test_watermark_drops_late_rows(spark, tmp_path):
    """An aggregation behind a watermark must drop rows older than the
    watermark horizon advanced by an EARLIER run — watermark state lives in
    the checkpoint, so two AvailableNow runs sharing one checkpoint give a
    deterministic on-time-then-late ordering."""
    schema = "event_id long, ts timestamp, value double"
    src = str(tmp_path / "late_src")
    sink = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "late_ckpt")
    base = dt.datetime(2024, 1, 1)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("ws"), "n")
        )
        (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
            .awaitTermination()
        )

    # run 1: on-time events up to 10:00 → watermark ends at 08:00; the
    # hour-1 and hour-2 windows close and emit
    b0 = [(i, base + dt.timedelta(hours=h), 1.0) for i, h in enumerate([1, 2, 9, 10])]
    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()

    # run 2 (same checkpoint): a very late hour-1 event + an on-time one
    b1 = [(100, base + dt.timedelta(hours=1), 1.0), (101, base + dt.timedelta(hours=11), 1.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()

    out = spark.read.parquet(sink).collect()
    counts = {}
    for r in out:
        counts[r.ws] = counts.get(r.ws, 0) + r.n
    # the late hour-1 event was dropped: the closed window was emitted once
    # with only the on-time count
    assert counts[base + dt.timedelta(hours=1)] == 1


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew-join handling: a join where one key holds most rows must be
    split at runtime (skew=true in the final adaptive plan) once the skew
    thresholds are reachable at test scale — the mechanism that saves
    hot-key joins at 100 TB."""
    # repartition first: skew splitting works by assigning RANGES OF MAP
    # OUTPUTS to extra reducers, so the map stage needs >1 task (a tiny
    # single-file scan has exactly one)
    ev = load_table(spark, sf_dir, "events").repartition(8)
    # manufacture skew: ~90% of rows share key 0
    skewed = ev.withColumn(
        "k", F.when(F.col("event_id") % 10 < 9, F.lit(0)).otherwise(F.col("event_id"))
    )
    dim = spark.range(0, 20000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    old = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = skewed.join(dim, "k")
        rows = j.collect()  # execute THIS frame so its adaptive plan finalizes
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert len(rows) == ev.count()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_ivf_lists_enable_partition_pruning(spark, sf_dir, tmp_path):
    """The production ANN layout: corpus written partitioned by inverted-list
    id → probing a list is directory pruning, not a scan."""
    from re_data_pipeline_spark.operators.similarity import srp_bucket

    e = load_table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    planes = [
        [1.0 if ((i * 11 + j * 17) % 7) < 3 else -1.0 for j in range(dim)]
        for i in range(3)
    ]
    p = str(tmp_path / "corpus_by_list")
    (
        e.withColumn("list_id", srp_bucket("embedding", planes))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(p)
    )
    probe = spark.read.parquet(p).where(F.col("list_id") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    # correctness: pruned read equals filtered full read
    full = (
        e.withColumn("list_id", srp_bucket("embedding", planes))
        .where(F.col("list_id") == 3)
        .count()
    )
    assert probe.count() == full


def test_json_quarantine_is_total_and_lossless(spark, tmp_path):
    """Malformed JSON lines land in the quarantine frame; good rows parse;
    nothing is dropped and nothing throws."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from re_data_pipeline_spark.sources.registry import read_json_quarantine

    p = tmp_path / "feed.json"
    p.write_text(
        '{"id": 1, "city": "Edmonton"}\n'
        "{broken json!!\n"
        '{"id": 2, "city": "Calgary"}\n'
        '{"id": "notanint", "city": "Leduc"}\n'
    )
    schema = StructType([StructField("id", LongType()), StructField("city", StringType())])
    good, bad = read_json_quarantine(spark, str(p), schema)
    assert sorted(r["id"] for r in good.collect()) == [1, 2]
    raws = [r["raw"] for r in bad.collect()]
    assert len(raws) == 2 and any("broken" in r for r in raws)
    assert good.count() + bad.count() == 4
    # good and bad share ONE pin list holding the shared scan cache
    from re_data_pipeline_spark.operators.ids import release_spines

    assert good._pins is bad._pins
    assert release_spines(good) == 1
    assert release_spines(bad) == 1  # no-op unpersist of the same cache


def test_quality_gate_enforce_and_split(spark):
    import pytest as _pytest

    from re_data_pipeline_spark.operators.quality import check, enforce, split_valid

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], "id long, bal double"
    )
    rules = {"bal_nonneg": F.col("bal") >= 0}
    rep = {r["rule"]: r for r in check(df, rules).collect()}
    # -5 violates; NULL counts as a violation (null-hostile)
    assert rep["bal_nonneg"]["n_violations"] == 2

    good, bad = split_valid(df, rules)
    assert sorted(r["id"] for r in good.collect()) == [1]
    assert sorted(r["id"] for r in bad.collect()) == [2, 3]

    with _pytest.raises(ValueError, match="quality gate failed"):
        enforce(df, rules)
    assert enforce(df, rules, max_violation_rate=0.7) is df


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Re-running one day replaces ONLY that partition (idempotent
    backfill), leaving the others byte-identical."""
    out = str(tmp_path / "by_day")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)], "day string, v int"
    )
    base.write.partitionBy("day").mode("overwrite").parquet(out)

    redo = spark.createDataFrame([("2024-01-02", 99)], "day string, v int")
    (
        redo.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    got = {
        (r["day"], r["v"])
        for r in spark.read.parquet(out)
        .select(F.col("day").cast("string").alias("day"), "v")
        .collect()
    }
    assert got == {("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 99)}


def test_assign_ordinals_dense_and_ordered(spark):
    from re_data_pipeline_spark.operators.ids import assign_ordinals

    df = spark.range(0, 997).select((F.col("id") * 37 % 1000).alias("k"), "id")
    out = assign_ordinals(df, [F.asc("k"), F.asc("id")], num_partitions=7).toPandas()
    assert sorted(out["ordinal"]) == list(range(997))  # dense, unique, 0-based
    ordered = out.sort_values("ordinal")
    assert ordered[["k", "id"]].values.tolist() == (
        out.sort_values(["k", "id"])[["k", "id"]].values.tolist()
    )


def test_partition_width_guard_raises_before_ordinal_wrap():
    """r8 advice: a range partition holding >= 2^33 rows would silently
    wrap the low-33-bit local ordinal; the counts are already on the
    driver, so assign_ordinals/assign_prefix_sums now raise there.  The
    check itself is unit-testable without 2^33 rows."""
    import pytest

    from re_data_pipeline_spark.operators.ids import (
        _LOCAL_BITS,
        _check_partition_widths,
    )

    _check_partition_widths({0: 10, 1: (1 << _LOCAL_BITS) - 1}, "op")  # at the edge: ok
    with pytest.raises(ValueError, match="num_partitions"):
        _check_partition_widths({0: 10, 1: 1 << _LOCAL_BITS}, "op")
    _check_partition_widths({}, "op")  # empty frame: no-op


def _persisted_nonckpt_ids(spark):
    """Ids of persisted RDDs that are not localCheckpoint marks (same
    technique as tests/test_dedup._leaked_persist_ids)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        rid for rid, jrdd in dict(jmap).items() if not jrdd.rdd().isLocallyCheckpointed()
    }


def test_assign_ordinals_plan_map_only_after_range_exchange(spark):
    """r7 verdict task 2: the spine must pay exactly ONE data-scale
    exchange (the range partition).  The ordinal is
    monotonically_increasing_id arithmetic over the persisted sorted frame
    — no row_number window, so no Exchange hashpartitioning(__pid) and no
    Window node anywhere in the output plan."""
    from re_data_pipeline_spark.operators.ids import assign_ordinals, release_spines

    df = spark.range(0, 500).select((F.col("id") * 13 % 97).alias("k"), "id")
    out = assign_ordinals(df, [F.asc("k"), F.asc("id")], num_partitions=5)
    plan = out._jdf.queryExecution().toString()
    assert "hashpartitioning" not in plan
    assert "Window" not in plan
    assert "rangepartitioning" in plan  # the one data-scale exchange
    release_spines(out)


def test_spine_caches_released_no_persisted_rdd_growth(spark):
    """r7 verdict task 7 + ADVICE: chained spine calls inside one boundary
    accumulate every spine on the result through the FINAL projection,
    and release_spines() leaves zero persisted-RDD growth in the
    session."""
    from re_data_pipeline_spark.operators.ids import exact_ntile, pinning, release_spines

    @pinning
    def three_quartiles(df):
        t = exact_ntile(df, [F.col("v").asc(), F.col("id").asc()], 4, "q1")
        t = exact_ntile(t, [F.col("v").desc(), F.col("id").asc()], 4, "q2")
        t = exact_ntile(t, [F.col("id").asc()], 4, "q3")
        return t.select("id", "q1", "q2", "q3")

    before = _persisted_nonckpt_ids(spark)
    df = spark.range(0, 300).select((F.col("id") * 7 % 50).alias("v"), "id")
    final = three_quartiles(df)
    final.count()  # materialize (pins the three spines)
    assert len(final._pins) == 3  # one pin per chained spine
    assert release_spines(final) == 3
    assert _persisted_nonckpt_ids(spark) <= before


def test_pin_boundary_keeps_pins_through_final_projection_union_join(spark):
    """The carry-strip class: a body that pins, then ends in a .select,
    unionByName or join, still hands every pin to its caller."""
    from re_data_pipeline_spark.operators.ids import pin, pinning

    @pinning
    def body(kind):
        a = pin(spark.range(10).persist())
        b = pin(spark.range(5).persist())
        if kind == "select":
            return a.select("id")
        if kind == "union":
            return a.unionByName(b)
        return a.join(b, "id")

    for kind in ("select", "union", "join"):
        out = body(kind)
        assert len(out._pins) == 2, kind
        assert all(p.is_cached for p in out._pins)
        _release_and_check(out)


def _release_and_check(out):
    from re_data_pipeline_spark.operators.ids import release_spines

    assert release_spines(out) == len(out._pins)
    assert not any(p.is_cached for p in out._pins)
    assert release_spines(out) == len(out._pins)  # a second release is a no-op


def test_pin_boundaries_nest_and_share(spark):
    """Inner boundaries hand their pins to the enclosing one; dict and
    tuple results share ONE list; a result does not inherit the pins of
    its DataFrame arguments; pin() with no open boundary raises."""
    from re_data_pipeline_spark.operators.ids import hold, pin, pinning

    @pinning
    def inner(df):
        return pin(df.select("id").persist()).withColumn("x", F.lit(1))

    @pinning
    def outer(df):
        a = inner(df)
        b = inner(df.where("id > 2"))
        return {"a": a.select("id"), "b": b, "n": 2}

    res = outer(spark.range(8))
    assert res["a"]._pins is res["b"]._pins
    assert len(res["a"]._pins) == 2

    @pinning
    def pair(df):
        return inner(df), df.select("id")

    x, y = pair(spark.range(4))
    assert x._pins is y._pins and len(x._pins) == 1

    # a result built OUTSIDE the argument's boundary carries only its own pins
    derived = inner(x)
    assert len(derived._pins) == 1 and derived._pins[0] is not x._pins[0]

    with pytest.raises(RuntimeError, match="outside a @pinning boundary"):
        pin(spark.range(3))
    with pytest.raises(RuntimeError, match="outside a @pinning boundary"):
        hold(spark.range(3))

    for r in (res["a"], x, derived):
        _release_and_check(r)


def test_pin_boundary_frees_holds_on_return_and_everything_on_raise(spark):
    """A held frame is freed when the boundary returns; a frame released
    early leaves the registry, so the exit neither frees it again nor
    hands it to the caller; on a raise every registered frame is freed,
    pinned or held, and the error propagates."""
    from re_data_pipeline_spark.operators.ids import hold, pin, pinning, release

    made = []

    @pinning
    def body(fail):
        kept = pin(spark.range(6).persist())
        made.extend((kept, hold(spark.range(7).persist())))
        early = pin(spark.range(8).persist())
        release(early)
        made.append(early)
        if fail:
            raise ValueError("boom")
        return kept.select("id")

    out = body(False)
    assert [p is made[0] for p in out._pins] == [True]
    assert [f.is_cached for f in made] == [True, False, False]
    _release_and_check(out)

    made.clear()
    with pytest.raises(ValueError, match="boom"):
        body(True)
    assert not any(f.is_cached for f in made)


def test_query_bodies_carry_spine_handles(spark, sf_dir):
    """One query per pin kind — ordinal spines (q87/q117/q118/q160/q168),
    final checkpoints (q82 CC, q136 PageRank, q165 BFS visited), the
    skyline frontier (q152), incremental LSH buckets (q107), a fingerprint
    cache (q169), the ExactSubstr anchor table (q197), and results that
    ARE a checkpoint (q59's staged scan, q217's SSSP dist).  Each body
    ends in a projection/union/join or returns the checkpoint itself, yet
    its result must carry every pin on ``_pins``, and release_spines
    alone must return the persistent RDDs to baseline with no
    clearCache."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.plans.queries import QUERIES
    from tests.conftest import persistent_ids

    expected = {
        "q87_rank_distribution": 1,
        "q117_rfm_segments": 3,
        "q118_global_ordinals": 1,
        "q160_epoch_shuffle": 2,
        "q168_snake_shards": 1,
        "q82_connected_components": 1,
        "q136_pagerank": 1,
        "q165_bfs_distances": 1,
        "q152_skyline": 1,
        "q107_incremental_dedup": 2,
        "q169_containment_best": 1,
        "q197_exact_substring_dedup": 1,
        "q59_json_glob_scan": 1,
        "q217_sssp_weighted": 1,
    }
    for name, n_pins in expected.items():
        before = persistent_ids(spark)
        df = QUERIES[name](spark, sf_dir)
        assert len(df._pins) == n_pins, name
        df.write.format("noop").mode("overwrite").save()
        assert release_spines(df) == n_pins, name
        assert not (persistent_ids(spark) - before), name


def test_assign_prefix_sums_matches_sequential_scan(spark):
    """Global running total must equal the sequential cumsum over the total
    order, across many range partitions, with NULLs counting 0, ordinals
    from the same pass, and a map-only plan after the range exchange."""
    from re_data_pipeline_spark.operators.ids import assign_prefix_sums, release_spines

    rows = [((i * 37) % 101, i, (i * 7) % 13 if i % 9 else None) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    out = assign_prefix_sums(
        df, [F.asc("k"), F.asc("id")], "v", out_col="cum", ordinal_col="ord",
        num_partitions=7,
    )
    got = sorted(out.collect(), key=lambda r: (r.k, r.id))
    expect, run = [], 0
    for k, i, v in sorted(rows):
        run += v or 0
        expect.append(run)
    assert [r.cum for r in got] == expect
    assert [r.ord for r in got] == list(range(400))
    assert out._prefix_total == expect[-1]
    plan = out._jdf.queryExecution().toString()
    assert "hashpartitioning" not in plan and "Window" not in plan
    release_spines(out)


def test_exact_quantiles_nearest_rank(spark):
    """exact_quantiles must reproduce the nearest-rank definition
    value[⌈q·n⌉−1] exactly, including the tiny-n edge where several
    quantiles land on the same element."""
    import math

    from re_data_pipeline_spark.operators.ids import exact_quantiles, release_spines

    vals = [((i * 31) % 97) * 10 for i in range(41)]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    qs = [(1, 100), (1, 4), (1, 2), (3, 4), (1, 1)]
    out = exact_quantiles(df, [F.asc("v"), F.asc("id")], "v", quantiles=qs)
    got = {(r.q_num, r.q_den): r.value for r in out.collect()}
    s = sorted(vals)
    for num, den in qs:
        assert got[(num, den)] == s[math.ceil(num * len(s) / den) - 1], (num, den)
    release_spines(out)

    tiny = spark.createDataFrame([(5, 0), (7, 1)], "v long, id long")
    t = exact_quantiles(tiny, [F.asc("v"), F.asc("id")], "v", quantiles=[(1, 100), (1, 1)])
    assert {(r.q_num, r.q_den): r.value for r in t.collect()} == {
        (1, 100): 5, (1, 1): 7,
    }
    release_spines(t)


def test_vocab_coverage_hand_computed(spark):
    """Coverage thresholds on a hand-countable corpus: 10 'a', 6 'b',
    3 'c', 1 'd' (total 20): 90% → top-3 (19/20=0.95... no: a+b=16 <18,
    a+b+c=19 ≥18 → k=3, cov 0.95), 95% → k=3 (19 ≥ 19), 99% → k=4."""
    from re_data_pipeline_spark.operators.indexing import vocab_coverage
    from re_data_pipeline_spark.operators.ids import release_spines

    text = " ".join(["a"] * 10 + ["b"] * 6 + ["c"] * 3 + ["d"])
    df = spark.createDataFrame([(text,)], "text string")
    out = vocab_coverage(df, "text", thresholds=(90, 95, 99))
    got = {r.threshold_pct: (r.vocab_size, r.coverage) for r in out.collect()}
    assert got[90] == (3, 0.95)
    assert got[95] == (3, 0.95)
    assert got[99] == (4, 1.0)
    release_spines(out)


def test_char_entropy_hand_values(spark):
    """Entropy micro-nats must match the Python truth; uniform text scores
    0; null and empty text yield NULL entropy with correct n_chars."""
    import math
    from collections import Counter

    from re_data_pipeline_spark.operators.quality import char_entropy

    rows = [(1, "aabb"), (2, "aaaa"), (3, "abcdefgh"), (4, None), (5, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in char_entropy(df).collect()}

    def truth(s):
        n = len(s)
        return sum(
            round(-(c / n) * math.log(c / n) * 1e6) for c in Counter(s).values()
        )

    for i, s in [(1, "aabb"), (2, "aaaa"), (3, "abcdefgh")]:
        assert got[i].entropy_micro == truth(s), i
        assert got[i].n_chars == len(s)
    assert got[2].entropy == 0.0                      # uniform -> zero
    assert got[4].entropy_micro is None and got[4].n_chars is None
    assert got[5].entropy_micro is None and got[5].n_chars == 0


def test_weighted_quantiles_diverge_from_row_quantiles(spark):
    """One huge-weight row must pull the weighted median to itself while
    the row median stays put — the exact scenario the operator exists for."""
    from re_data_pipeline_spark.operators.ids import (
        exact_quantiles,
        release_spines,
        weighted_quantiles,
    )

    # values 1..9 weight 1, value 100 weight 1000
    rows = [(v, 1, v) for v in range(1, 10)] + [(100, 1000, 10)]
    df = spark.createDataFrame(rows, "v long, w long, id long")
    wq = weighted_quantiles(
        df, [F.asc("v"), F.asc("id")], "w", "v", quantiles=[(1, 2)]
    )
    got = wq.collect()[0]
    assert got.value == 100          # the median unit of MASS lives at 100
    assert got.cum_weight == 1009    # all weight through value 100
    release_spines(wq)

    rq = exact_quantiles(df, [F.asc("v"), F.asc("id")], "v", quantiles=[(1, 2)])
    assert rq.collect()[0].value == 5  # row median unmoved
    release_spines(rq)


def test_length_bucketed_batches_homogeneous(spark):
    """Buckets from edges, size-desc order within bucket, fixed-count
    batches, deterministic — and no batch mixes buckets."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.selection import length_bucketed_batches

    rows = [(i, (i * 17) % 150) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, sz long")
    out = length_bucketed_batches(
        df, "sz", [50, 100], batch_rows=8, order_tiebreak=["id"]
    )
    got = out.collect()
    for r in got:
        assert r.bucket == (r.sz >= 50) + (r.sz >= 100)
    # within a (bucket, batch): ≤ 8 rows, and batches partition the
    # size-desc order (batch b's min size ≥ batch b+1's max size)
    from collections import defaultdict

    by_bb = defaultdict(list)
    for r in got:
        by_bb[(r.bucket, r.batch)].append((r.sz, r.id))
    assert all(len(v) <= 8 for v in by_bb.values())
    for bkt in {b for b, _ in by_bb}:
        batches = sorted(b for bb, b in by_bb if bb == bkt)
        for x, y in zip(batches, batches[1:]):
            assert min(s for s, _ in by_bb[(bkt, x)]) >= max(
                s for s, _ in by_bb[(bkt, y)]
            )
    release_spines(out)


def test_grouped_prefix_sums_matches_per_group_scan(spark):
    """Per-group running totals equal the sequential per-group cumsum —
    including NEGATIVE values (the min_by-ordinal base; a min(cum−v) base
    would pick a mid-group trough) and a 1-row group."""
    from re_data_pipeline_spark.operators.ids import (
        grouped_prefix_sums,
        release_spines,
    )

    rows = (
        [("a", i, (i * 7) % 11 - 5) for i in range(25)]
        + [("b", 100 + i, -(i % 4)) for i in range(12)]
        + [("solo", 999, -7)]
    )
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = grouped_prefix_sums(df, ["g"], [F.asc("id")], "v", out_col="cum",
                              num_partitions=5)
    got = {(r.g, r.id): r.cum for r in out.collect()}
    by_g = {}
    for g, i, v in sorted(rows, key=lambda x: (x[0], x[1])):
        by_g.setdefault(g, 0)
        by_g[g] += v
        assert got[(g, i)] == by_g[g], (g, i)
    release_spines(out)


def test_grouped_exact_quantiles_vs_python(spark):
    """Per-group nearest-rank quantiles equal sorted[⌈q·n⌉−1] per group,
    including a 1-row group where every quantile hits the same element."""
    import math

    from re_data_pipeline_spark.operators.ids import (
        grouped_exact_quantiles,
        release_spines,
    )

    rows = (
        [("a", (i * 13) % 40, i) for i in range(23)]
        + [("b", (i * 7) % 15, 100 + i) for i in range(9)]
        + [("solo", 42, 999)]
    )
    df = spark.createDataFrame(rows, "g string, v long, id long")
    qs = [(1, 4), (1, 2), (9, 10)]
    out = grouped_exact_quantiles(
        df, ["g"], [F.asc("v"), F.asc("id")], "v", quantiles=qs
    )
    got = {(r.g, r.q_num, r.q_den): r.value for r in out.collect()}
    by_g = {}
    for g, v, _ in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        s = sorted(vals)
        for num, den in qs:
            assert got[(g, num, den)] == s[math.ceil(num * len(s) / den) - 1], (g, num, den)
    release_spines(out)


def test_key_skew_report_hand_computed(spark):
    """Counts 6/3/1/1/1 over 5 keys (total 12, mean 2.4): the hot key's
    share, skew factor, and integer-ceil salt must come out exactly."""
    from re_data_pipeline_spark.operators.maintenance import key_skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("a",), ("b",), ("c",)]
    df = spark.createDataFrame(rows, "k string")
    got = {r.k: r for r in key_skew_report(df, ["k"], top_n=3).collect()}
    assert set(got) == {"hot", "warm", "a"}
    assert got["hot"].n_rows == 6 and got["hot"].rnk == 1
    assert got["hot"].share == 0.5
    assert got["hot"].skew_factor == 2.5          # 6 / (12/5)
    assert got["hot"].suggested_salt == 3         # ceil(6*5/12) = ceil(2.5)
    assert got["warm"].suggested_salt == 2        # ceil(3*5/12) = ceil(1.25)
    assert got["a"].suggested_salt == 1


def test_curriculum_interleave_rotates_tiers(spark):
    """Equal tiers: sorting by interleave_key must visit tiers in strict
    0,1,2 rotation; unequal tiers keep keys strictly ordered with dense
    within-tier ranks (gaps allowed, by contract)."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.operators.selection import curriculum_interleave

    rows = [(i, i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, tier int")
    out = curriculum_interleave(df, "tier", [F.asc("id")], num_tiers=3)
    got = sorted(out.collect(), key=lambda r: r.interleave_key)
    assert [r.tier for r in got] == [0, 1, 2] * 10  # strict rotation
    release_spines(out)

    uneq = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(100 + i, 1) for i in range(2)],
        "id long, tier int",
    )
    out2 = curriculum_interleave(uneq, "tier", [F.asc("id")], num_tiers=2)
    rows2 = sorted(out2.collect(), key=lambda r: r.interleave_key)
    keys = [r.interleave_key for r in rows2]
    assert len(set(keys)) == len(keys)  # strict total order
    for t in (0, 1):  # dense 0-based rank within each tier
        ranks = [r.tier_rank for r in rows2 if r.tier == t]
        assert sorted(ranks) == list(range(len(ranks)))
    # the first four positions alternate while both tiers have rows
    assert [r.tier for r in rows2[:4]] == [0, 1, 0, 1]
    release_spines(out2)


def test_quality_check_on_empty_table(spark):
    """An empty table is vacuously clean: rate 0.0, no ANSI divide-by-zero,
    and the enforce gate passes."""
    from re_data_pipeline_spark.operators.quality import check, enforce

    df = spark.createDataFrame([], "id long, bal double").where(F.lit(False))
    rules = {"bal_nonneg": F.col("bal") >= 0}
    rep = check(df, rules).collect()
    assert rep[0]["n_rows"] == 0
    assert rep[0]["n_violations"] == 0
    assert rep[0]["violation_rate"] == 0.0
    assert enforce(df, rules) is df


def test_pareto_frontier_matches_brute_force(spark):
    """Distributed skyline ≡ the O(n²) NOT-EXISTS definition on random
    points, across multiple range partitions (including the cross-partition
    prefix-min path and equal-cost groups)."""
    import random

    from re_data_pipeline_spark.operators.frontier import pareto_frontier_2d

    rng = random.Random(7)
    pts = [(i, float(rng.randrange(50)), float(rng.randrange(50))) for i in range(400)]
    # dedupe coincident (cost, delay) points — operator contract
    seen, uniq = set(), []
    for k, c, d in pts:
        if (c, d) not in seen:
            seen.add((c, d))
            uniq.append((k, c, d))
    df = spark.createDataFrame(uniq, "k long, cost double, delay double")
    got = sorted(
        r.k for r in pareto_frontier_2d(df, "cost", "delay", "k", num_partitions=7).collect()
    )
    want = sorted(
        k
        for k, c, d in uniq
        if not any(
            (c2 <= c and d2 <= d and (c2 < c or d2 < d)) for _, c2, d2 in uniq
        )
    )
    assert got == want and len(want) > 1


def test_pareto_frontier_no_row_scale_single_partition(spark):
    """The r5 advisory bug: Window.orderBy with no partitionBy plans
    Exchange SinglePartition over the FULL input.  The distributed form's
    only SinglePartition exchange is over the partition-count-sized min
    table (child plan contains the groupBy agg, not the raw points)."""
    from re_data_pipeline_spark.operators.frontier import pareto_frontier_2d

    df = spark.range(5000).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).cast("double").alias("cost"),
        (996 - F.col("id") % 997).cast("double").alias("delay"),
    )
    out = pareto_frontier_2d(df, "cost", "delay", "k", num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every SinglePartition exchange must sit above the per-partition agg
    # (partial_min / __m), never directly above the row-scale scan/sort
    import re as _re

    for m in _re.finditer(r"Exchange SinglePartition", plan):
        tail = plan[m.start() : m.start() + 2000]
        assert "partial_min" in tail or "__m" in tail, tail[:400]
    assert "rangepartitioning(cost" in plan


def test_exact_ntile_matches_sql_semantics(spark):
    """exact_ntile must reproduce SQL NTILE bucket sizes exactly: first
    n mod k buckets get ceil(n/k) rows; n < k gives one row per leading
    bucket — checked against Spark's own windowed NTILE on shuffled
    inputs, plus the single-row percent_rank edge."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from re_data_pipeline_spark.operators.ids import (
        exact_ntile,
        exact_percent_rank,
    )

    for n, k in [(10, 4), (12, 4), (3, 7), (1, 4), (8, 3)]:
        df = spark.range(n).select((F.col("id") * 37 % 101).alias("v"), F.col("id"))
        got = {
            (r.v, r.id): r.nt
            for r in exact_ntile(df, [F.col("v").asc(), F.col("id").asc()], k, "nt").collect()
        }
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        ref = {
            (r.v, r.id): r.nt
            for r in df.select("v", "id", F.ntile(k).over(w).alias("nt")).collect()
        }
        assert got == ref, (n, k)

    pr = exact_percent_rank(
        spark.range(1).select(F.col("id").alias("v")), [F.col("v").asc()], "pr"
    ).collect()
    assert pr[0].pr == 0.0

    df5 = spark.range(5).select(F.col("id").alias("v"))
    got5 = {r.v: r.pr for r in exact_percent_rank(df5, [F.col("v").asc()], "pr").collect()}
    assert got5 == {0: 0.0, 1: 0.25, 2: 0.5, 3: 0.75, 4: 1.0}


def test_pagerank_releases_checkpoints(spark):
    """r14: pagerank_fixed was the one iterative loop without the release
    discipline — nodes/edges seeds and every round's checkpoint stayed
    pinned (clearCache cannot see checkpoint storage).  Now superseded
    rounds are released in-loop, the seeds after the loop, and the final
    round is pinned on the result for release_spines."""
    import time as _t

    from re_data_pipeline_spark.operators.graph import pagerank_fixed
    from re_data_pipeline_spark.operators.ids import release_spines

    def pinned():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return set(dict(jmap).keys())

    before = pinned()
    edges = spark.range(200).select(
        (F.col("id") % 40).alias("src"), ((F.col("id") * 7) % 40).alias("dst")
    )
    out = pagerank_fixed(edges, iterations=4)
    assert out.count() > 0
    grew = pinned() - before
    assert len(grew) <= 1, f"pagerank left {len(grew)} pinned RDDs (want <=1: the pinned final round)"
    release_spines(out)
    _t.sleep(0.5)
    assert pinned() - before == set(), "release_spines must free the final checkpoint"
