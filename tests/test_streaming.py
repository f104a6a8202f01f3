"""Structured Streaming layer: file-source micro-batches over the events
table, watermarked windows, streaming dedup, stream-static anti-join.

Batch/streaming parity is the key assertion: the streaming windowed counts
must equal the batch ``operators.windows.tumbling`` result on the same data.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from re_data_pipeline_spark.catalog import load_table
from re_data_pipeline_spark.operators.windows import tumbling
from re_data_pipeline_spark.streaming.stream_ops import (
    anti_join_seen,
    dedup_stream,
    read_stream,
    run_available_now_memory,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Stage the events table as a 3-file directory (micro-batch source)."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(3).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_batch_window_parity(spark, sf_dir, events_dir):
    ev = load_table(spark, sf_dir, "events")
    schema = ev.schema
    stream = read_stream(spark, events_dir, schema, max_files_per_trigger=1)
    agg = windowed_counts(stream, "ts", "6 hours", "1 hour", ["event_type"])
    run_available_now_memory(agg, "win_counts", "complete")
    got = {
        (r.window_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = tumbling(
        ev, "ts", "6 hours", ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value")],
    )
    want = {
        (r.window_start, r.event_type): (r.n, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup(spark, events_dir, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    stream = read_stream(spark, events_dir, ev.schema)
    # duplicate key on purpose: user_id+event_type collapses heavily
    dd = dedup_stream(stream, ["user_id", "event_type"], "ts", "10 minutes")
    run_available_now_memory(dd.select("user_id", "event_type"), "dedup_out", "append")
    got = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0].n
    distinct = ev.select("user_id", "event_type").distinct().count()
    # watermarked streaming dedup can keep strictly more than the global
    # distinct (state expiry across micro-batches) but never fewer, and must
    # deduplicate within the watermark horizon
    assert distinct <= got < ev.count()


def test_stream_static_anti_join(spark, events_dir, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    seen = ev.where(F.col("event_id") % 2 == 0).select("event_id")
    stream = read_stream(spark, events_dir, ev.schema)
    out = anti_join_seen(stream, seen, ["event_id"])
    run_available_now_memory(out.select("event_id"), "anti_out", "append")
    got = spark.sql("SELECT count(*) AS n, min(event_id % 2) AS m FROM anti_out").collect()[0]
    assert got.n == ev.where(F.col("event_id") % 2 == 1).count()
    assert got.m == 1


def test_apply_in_pandas_with_state(spark, events_dir, sf_dir):
    """Custom stateful operator: per-user running totals accumulated across
    micro-batches must end at the batch groupBy result."""
    from re_data_pipeline_spark.streaming.stateful import running_totals_per_user

    ev = load_table(spark, sf_dir, "events")
    stream = read_stream(spark, events_dir, ev.schema, max_files_per_trigger=1)
    out = running_totals_per_user(stream)
    run_available_now_memory(out, "state_out", "update")
    # multiple snapshots per user (one per micro-batch that touched the key);
    # the LAST snapshot per user must equal the batch aggregate
    snaps = spark.sql(
        """SELECT user_id, n_events, total_value FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
             FROM state_out) WHERE rn = 1"""
    ).collect()
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in snaps}
    want = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stateful_sessions_match_builtin_session_window(spark):
    """sessionize_per_user (applyInPandasWithState + event-time timeout)
    must equal F.session_window batch sessions on the same events."""
    from re_data_pipeline_spark.operators.windows import session
    from re_data_pipeline_spark.plans.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    got = (
        QUERIES["q101_streaming_sessions"](spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )

    from re_data_pipeline_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    want = (
        session(
            e,
            "ts",
            "30 minutes",
            ["user_id"],
            [
                F.min("ts").alias("__min_ts"),
                F.max("ts").alias("__max_ts"),
                F.count(F.lit(1)).alias("n_events"),
            ],
        )
        .select(
            "user_id",
            F.date_format("__min_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("__max_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_event"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert got.equals(want)


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes in-window duplicates and keeps
    the first occurrence (bounded-state crawl-frontier dedup)."""
    from re_data_pipeline_spark.streaming.stream_ops import dedup_stream, read_stream

    e = load_table(spark, "/root/testdata/sf0.001", "events").select("user_id", "ts", "event_id")
    dup = e.unionByName(e)  # every row twice in the same window
    d = str(tmp_path / "dup")
    dup.coalesce(1).write.parquet(d)
    stream = read_stream(spark, d, e.schema)
    out = dedup_stream(stream, ["event_id"], "ts", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("ddw_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("ddw_out")
    assert got.count() == e.count()
    assert got.select("event_id").distinct().count() == e.count()


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched rows join; unmatched left rows
    emit with nulls once the watermark passes their join window (state is
    evicted, not leaked)."""
    from re_data_pipeline_spark.streaming.stream_ops import read_stream

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    views = e.where(F.col("event_type") == "view")
    clicks = e.where((F.col("event_type") == "click") & (F.col("user_id") % 2 == 0))
    vdir, cdir = str(tmp_path / "v"), str(tmp_path / "c")
    views.coalesce(1).write.parquet(vdir)
    clicks.coalesce(1).write.parquet(cdir)
    # sentinel files push the watermark far past every join window so all
    # unmatched left rows flush before the AvailableNow drain stops
    import datetime

    max_ts = e.agg(F.max("ts")).first()[0]
    for i, d in enumerate((vdir, cdir)):
        import time as _t

        _t.sleep(0.2)
        spark.createDataFrame(
            [(-1, max_ts + datetime.timedelta(days=1), "x", -1)], schema=views.schema
        ).coalesce(1).write.mode("append").parquet(d)

    vs = read_stream(spark, vdir, views.schema).selectExpr(
        "user_id", "ts AS v_ts", "event_id AS view_id"
    )
    cs = read_stream(spark, cdir, clicks.schema).selectExpr(
        "user_id", "ts AS c_ts", "event_id AS click_id"
    )
    joined = (
        vs.withWatermark("v_ts", "1 second")
        .alias("l")
        .join(
            cs.withWatermark("c_ts", "1 second").alias("r"),
            F.expr(
                "l.user_id = r.user_id AND r.c_ts >= l.v_ts "
                "AND r.c_ts <= l.v_ts + INTERVAL 30 MINUTES"
            ),
            "leftOuter",
        )
        .select("view_id", "click_id")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sslo_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [(r[0], r[1]) for r in spark.table("sslo_out").where(F.col("view_id") >= 0).collect()]

    want_matched = {
        (r[0], r[1])
        for r in views.alias("v")
        .join(
            clicks.alias("c"),
            (F.col("v.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("v.ts"))
            & (F.col("c.ts") <= F.col("v.ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(F.col("v.event_id"), F.col("c.event_id"))
        .collect()
    }
    got_matched = {p for p in got if p[1] is not None}
    got_unmatched_views = {p[0] for p in got if p[1] is None}
    assert got_matched == want_matched
    # every view appears (matched or flushed-with-null), exactly like batch LEFT JOIN
    matched_views = {p[0] for p in want_matched}
    all_views = {r[0] for r in views.select("event_id").collect()}
    assert got_unmatched_views == all_views - matched_views


def test_sessionize_merges_late_in_watermark_events(spark, tmp_path):
    """A late (still in-watermark) event BEFORE the open session's start
    must extend it backwards — or form its own earlier session when it is
    more than a gap away — exactly like F.session_window."""
    import datetime as dt
    import time as _t

    from re_data_pipeline_spark.streaming.stateful import sessionize_per_user
    from re_data_pipeline_spark.streaming.stream_ops import read_stream

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    schema = "user_id long, ts timestamp"
    d = str(tmp_path / "late_sess")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(0.2)

    write([(1, base), (1, base + dt.timedelta(minutes=5))])          # 10:00, 10:05
    write([(1, base - dt.timedelta(minutes=2)),                      # 09:58 (late, in-watermark)
           (1, base - dt.timedelta(hours=2))])                       # 08:00 (own session)
    write([(-1, base + dt.timedelta(days=1))])                       # sentinels advance watermark
    write([(-1, base + dt.timedelta(days=2))])

    stream = read_stream(spark, d, schema, max_files_per_trigger=1)
    sess = sessionize_per_user(stream.withWatermark("ts", "3 hours"), 30 * 60)
    q = (
        sess.writeStream.format("memory")
        .queryName("late_sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["session_start"], r["last_event"], r["n_events"])
        for r in spark.table("late_sess_out").where(F.col("user_id") == 1).collect()
    }
    assert got == {
        (base - dt.timedelta(hours=2), base - dt.timedelta(hours=2), 1),
        (base - dt.timedelta(minutes=2), base + dt.timedelta(minutes=5), 3),
    }


def test_sessionize_late_event_extends_batch_closed_session(spark, tmp_path):
    """A session 'closed' by a later event INSIDE a batch is not final: a
    late in-watermark event in a later batch may still merge into it, so
    it must stay in state until the watermark passes end + gap.  Before
    the r13 fix it was emitted at close time, and the late event produced
    a SPLIT second session where F.session_window outputs one."""
    import datetime as dt
    import time as _t

    from re_data_pipeline_spark.streaming.stateful import sessionize_per_user
    from re_data_pipeline_spark.streaming.stream_ops import read_stream

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    schema = "user_id long, ts timestamp"
    d = str(tmp_path / "closed_sess")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(0.2)

    # batch 1: 10:00 and 11:00 — with gap 30min the 10:00 session is
    # closed WITHIN the batch by the 11:00 event
    write([(1, base), (1, base + dt.timedelta(hours=1))])
    # batch 2: late in-watermark 10:10 — belongs to the closed session
    write([(1, base + dt.timedelta(minutes=10))])
    write([(-1, base + dt.timedelta(days=1))])   # sentinels advance watermark
    write([(-1, base + dt.timedelta(days=2))])

    stream = read_stream(spark, d, schema, max_files_per_trigger=1)
    sess = sessionize_per_user(stream.withWatermark("ts", "3 hours"), 30 * 60)
    q = (
        sess.writeStream.format("memory")
        .queryName("closed_sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["session_start"], r["last_event"], r["n_events"])
        for r in spark.table("closed_sess_out").where(F.col("user_id") == 1).collect()
    }
    assert got == {
        (base, base + dt.timedelta(minutes=10), 2),          # ONE merged session
        (base + dt.timedelta(hours=1), base + dt.timedelta(hours=1), 1),
    }


def test_streaming_incremental_dedup_equals_batch_fold(spark, tmp_path):
    """The AvailableNow foreachBatch fold must keep exactly the docs the
    batch incremental protocol keeps when files arrive in id order (mtimes
    force the order), and the index must block copies of DROPPED docs in
    later batches (the A≈B, B≈C chain)."""
    import os

    from re_data_pipeline_spark.streaming.stream_ops import (
        streaming_incremental_dedup,
    )

    base = " ".join(f"w{i}" for i in range(40))
    # batch 0: 1 (kept), 2 ≈ 1 (dropped).  batch 1: 3 ≈ 2 (must STILL be
    # dropped — blocked by the dropped doc's index entry), 4 unrelated.
    batches = [
        [(1, base), (2, base + " x")],
        [(3, base + " x y"), (4, "completely different words entirely")],
    ]
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tmp = str(tmp_path / f"w{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as g

        src = g.glob(tmp + "/part-*.parquet")[0]
        dst = os.path.join(inbox, f"b{i:02d}.parquet")
        import shutil

        shutil.copyfile(src, dst)
        os.utime(dst, (1_000_000_000 + i * 10,) * 2)
    kept = streaming_incremental_dedup(
        spark, inbox, "doc_id long, text string"
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4]


def test_streaming_manifest_order_independent(spark, tmp_path):
    """The drained streaming receipt must equal the one-shot batch
    manifest even when files arrive in REVERSE id order — the commutative-
    monoid property q187's dedup cannot claim (it needs id-ordered
    delivery)."""
    import os

    import pyspark.sql.functions as F

    from re_data_pipeline_spark.operators.maintenance import shard_manifest
    from re_data_pipeline_spark.streaming.stream_ops import streaming_manifest

    d = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(120)],
        "doc_id bigint, text string, lang string",
    )
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    # stage 3 id-range files with mtimes in REVERSE id order
    for j, (lo, hi) in enumerate([(80, 120), (40, 80), (0, 40)]):
        part = d.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        tmp = str(tmp_path / f"w{j}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil

        src = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        dst = inbox / f"batch_{j:02d}.parquet"
        shutil.copyfile(os.path.join(tmp, src), str(dst))
        os.utime(dst, (1_000_000_000 + j * 10, 1_000_000_000 + j * 10))
    got = streaming_manifest(spark, str(inbox), d.schema, num_shards=8)
    want = shard_manifest(d, "doc_id", ["text", "lang"], num_shards=8)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stage_inbox_and_manifest_handle_empty_corpus(spark, tmp_path):
    """Regression: the quantile-split staging used to index past the bounds
    list on an empty table (approxQuantile on 0 rows returns [])."""
    from re_data_pipeline_spark.plans.queries import _stage_id_range_inbox
    from re_data_pipeline_spark.streaming.stream_ops import streaming_manifest

    d = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    inbox = _stage_id_range_inbox(d, str(tmp_path), 4, ordered_mtimes=False)
    m = streaming_manifest(spark, inbox, d.schema, num_shards=8)
    assert m.count() == 0


def test_run_available_now_parquet_drain(spark):
    """The file-sink drain variant (I5's staging shape): everything
    available flows to the parquet sink exactly once under the
    checkpoint, then the query stops."""
    from re_data_pipeline_spark.streaming.stream_ops import run_available_now

    base = tempfile.mkdtemp(prefix="ran_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(25)], "id bigint, v string"
    ).write.parquet(src)
    stream = spark.readStream.schema("id bigint, v string").parquet(src)
    run_available_now(stream, ckpt, out)
    assert spark.read.parquet(out).count() == 25
    # idempotent drain: no new data -> no new rows
    run_available_now(
        spark.readStream.schema("id bigint, v string").parquet(src), ckpt, out
    )
    assert spark.read.parquet(out).count() == 25
    shutil.rmtree(base, ignore_errors=True)


def test_running_totals_last_type_across_arrow_chunks(spark, tmp_path):
    """r14: 'last_event_type' must be the max-(ts, event_id) row of the
    WHOLE batch even when the group's rows span multiple Arrow chunks —
    the pre-fix fold took the last row of each chunk after a per-chunk
    sort, so the answer depended on where the chunk boundary fell."""
    import datetime as dt

    from re_data_pipeline_spark.streaming.stateful import running_totals_per_user
    from re_data_pipeline_spark.streaming.stream_ops import read_stream

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    schema = "user_id long, event_id long, ts timestamp, event_type string, value double"
    # one user, 12 rows in DESCENDING ts file order: the true latest event
    # (type 'WINNER') is the FIRST row, so any fold that privileges a later
    # chunk returns a wrong type once chunks split
    rows = [
        (1, 100 - i, base - dt.timedelta(minutes=i),
         "WINNER" if i == 0 else f"t{i}", 1.0)
        for i in range(12)
    ]
    d = str(tmp_path / "chunked_events")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        stream = read_stream(spark, d, schema)
        out = running_totals_per_user(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("chunked_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows_out = spark.table("chunked_totals").collect()
        assert len(rows_out) == 1
        r = rows_out[0]
        assert (r.n_events, r.total_value, r.last_event_type) == (12, 12.0, "WINNER")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
