"""Parquet MERGE sink semantics: idempotent upsert, archival delete, and
a delete swap that never loses the table."""

import os
import shutil
import tempfile

import pytest

from re_data_pipeline_spark.sinks import ParquetAntiJoinSink

SCHEMA = "k bigint, v string"


@pytest.fixture()
def sink_path():
    d = tempfile.mkdtemp(prefix="sink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(sink):
    return {(r.k, r.v) for r in sink.read().collect()}


def test_parquet_sink_upsert_is_on_conflict_do_nothing(spark, sink_path):
    sink = ParquetAntiJoinSink(spark, sink_path, SCHEMA)
    sink.upsert(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA), ["k"])
    # conflicting key 1 keeps the FIRST version; key 3 inserts
    sink.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], SCHEMA), ["k"])
    assert _rows(sink) == {(1, "a"), (2, "b"), (3, "c")}
    # idempotent replay: same batch changes nothing
    sink.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], SCHEMA), ["k"])
    assert _rows(sink) == {(1, "a"), (2, "b"), (3, "c")}


def test_parquet_sink_delete_absent(spark, sink_path):
    sink = ParquetAntiJoinSink(spark, sink_path, SCHEMA)
    sink.upsert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA), ["k"])
    sink.delete_absent(spark.createDataFrame([(1, "x"), (3, "x")], SCHEMA), ["k"])
    assert _rows(sink) == {(1, "a"), (3, "c")}


def test_parquet_sink_delete_absent_failed_swap_keeps_table(spark, tmp_path, monkeypatch):
    """If renaming the survivors into place fails, the old table is renamed
    back: read() returns the original rows and no temp dir is left."""
    sink = ParquetAntiJoinSink(spark, str(tmp_path / "table"), SCHEMA)
    sink.upsert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA), ["k"])
    calls = []
    real_replace = os.replace

    def flaky_replace(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("injected rename failure")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", flaky_replace)
    with pytest.raises(OSError, match="injected"):
        sink.delete_absent(spark.createDataFrame([(1, "x")], SCHEMA), ["k"])
    monkeypatch.undo()
    assert len(calls) == 3  # aside, (failed) swap in, restore
    assert _rows(sink) == {(1, "a"), (2, "b"), (3, "c")}
    assert os.listdir(tmp_path) == ["table"]
