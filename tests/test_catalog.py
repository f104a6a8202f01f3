"""Table loads reuse memoized parquet schemas: a repeat load of an unchanged
table launches no Spark job, a change to its files or to an inference conf
re-infers, and a path the fingerprint cannot watch is read as before."""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
import time

import pytest
from pyspark.errors import AnalysisException

from re_data_pipeline_spark import catalog
from re_data_pipeline_spark.catalog import load_table, table_path
from tests.conftest import launched_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_table(spark, sf_dir, name, sql):
    spark.sql(sql).write.mode("overwrite").parquet(table_path(str(sf_dir), name))


def test_repeat_load_launches_no_job(spark, tmp_path):
    write_table(spark, tmp_path, "t", "SELECT id, CAST(id AS STRING) AS s FROM range(10)")
    first, n_first = launched_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again, n_again = launched_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert (n_first, n_again) == (1, 0)
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    # an added data file does: the next load re-infers
    spark.sql("SELECT 99L AS id, 'x' AS s").write.mode("append").parquet(
        table_path(str(tmp_path), "t")
    )
    added, n_added = launched_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_added == 1 and added.count() == 11


def test_rewrite_with_new_column_is_seen(spark, tmp_path):
    write_table(spark, tmp_path, "t", "SELECT id FROM range(5)")
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    write_table(spark, tmp_path, "t", "SELECT id, id * 2 AS twice FROM range(5)")
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "twice"]
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4, 6, 8]


def test_inference_conf_change_reinfers(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's schema in the footer, which binaryAsString
    # would defer to
    pq.write_table(
        pa.table({"id": [0, 1, 2], "b": pa.array([b"ab"] * 3, pa.binary())}),
        table_path(str(tmp_path), "t"),
    )
    key = "spark.sql.parquet.binaryAsString"
    assert spark.conf.get(key, None) is None
    assert dict(load_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"
    try:
        spark.conf.set(key, "true")
        df, n = launched_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert n == 1 and dict(df.dtypes)["b"] == "string"
    finally:
        spark.conf.unset(key)
    # one schema per table: switching back re-infers, then hits again
    df, n = launched_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n == 1 and dict(df.dtypes)["b"] == "binary"
    df, n = launched_jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n == 0 and dict(df.dtypes)["b"] == "binary"


def test_memo_outlives_session_restart(spark, tmp_path, sf_dir):
    """``spark.stop()`` + ``get_spark()`` in one process keeps the memo,
    also for a table loaded both before and after the first ``events``
    load (``get_spark`` pins ``nanosAsLong``, so that load changes no key).
    Runs in its own process: stopping the shared test session would break
    every later test."""
    write_table(spark, tmp_path, "t", "SELECT id, CAST(id AS STRING) AS s FROM range(20)")
    script = """
import json, sys
from re_data_pipeline_spark.catalog import load_table
from re_data_pipeline_spark.session import get_spark

def start():
    return get_spark(app_name="catalog-restart", master="local[1]")

spark = start()
before = load_table(spark, sys.argv[1], "t")
rows, schema = sorted(before.collect()), before.schema
load_table(spark, sys.argv[2], "events")
load_table(spark, sys.argv[1], "t")
spark.stop()
spark = start()
after = load_table(spark, sys.argv[1], "t")
sc = spark.sparkContext
sc._jsc.sc().listenerBus().waitUntilEmpty()
jobs = len(sc.statusTracker().getJobIdsForGroup())  # a fresh context: only the load's
print(json.dumps({"jobs": jobs, "schema": after.schema == schema,
                  "rows": sorted(after.collect()) == rows}))
spark.stop()
"""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path), sf_dir],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"jobs": 0, "schema": True, "rows": True}


def test_unwatchable_paths_read_as_before(spark, tmp_path, sf_dir):
    # a URI is not fingerprinted: every load infers and nothing is stored
    memo = copy.deepcopy(catalog._SCHEMAS)
    uri = f"file://{sf_dir}"
    plain = spark.read.parquet(table_path(uri, "nation"))
    for _ in range(2):
        df, n = launched_jobs(spark, lambda: load_table(spark, uri, "nation"))
        assert n == 1
    assert df.schema == plain.schema
    assert sorted(df.collect()) == sorted(plain.collect())

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "missing")
    assert catalog._SCHEMAS == memo


def test_fingerprint_fails_open(tmp_path):
    assert catalog._fingerprint(str(tmp_path / "missing")) is None
    assert catalog._fingerprint(str(tmp_path)) is None  # no file
    (tmp_path / "part-0.parquet").write_bytes(b"x")
    assert [f[:2] for f in catalog._fingerprint(str(tmp_path))] == [("part-0.parquet", 1)]
    os.symlink(tmp_path / "gone", tmp_path / "part-1.parquet")
    assert catalog._fingerprint(str(tmp_path)) is None  # stat raises


def test_fingerprint_sees_rewrite_keeping_name_size_and_mtime(tmp_path):
    part = tmp_path / "part-0.parquet"
    part.write_bytes(b"a")
    before = catalog._fingerprint(str(tmp_path))
    st = os.stat(part)

    # in place: same inode, mtime put back; ctime moves (past one tick of
    # the kernel's coarse clock, which stamps both)
    time.sleep(0.05)
    part.write_bytes(b"b")
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns))
    in_place = catalog._fingerprint(str(tmp_path))
    assert in_place[0][:3] == before[0][:3] and in_place != before

    # replaced under the same name: a new inode
    spare = tmp_path.parent / f"{tmp_path.name}-spare"
    spare.write_bytes(b"c")
    os.utime(spare, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(spare, part)
    replaced = catalog._fingerprint(str(tmp_path))
    assert replaced[0][:3] == before[0][:3]
    assert replaced[0][3] != in_place[0][3]


def test_events_ts_is_timestamp_with_equal_values(spark, sf_dir):
    # the file:// path is never memoized: the reference reading
    plain = load_table(spark, f"file://{sf_dir}", "events")
    load_table(spark, sf_dir, "events")
    df, n = launched_jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    assert n == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.schema == plain.schema
    assert sorted(df.collect(), key=str) == sorted(plain.collect(), key=str)


def test_warm_query_construction_launches_no_job(spark, sf_dir):
    """q04 loads five tables; once their schemas are memoized, building it
    again launches no job (each load used to read footers)."""
    from re_data_pipeline_spark.plans.queries import QUERIES

    build = QUERIES["q04_multi_join_revenue"]
    build(spark, sf_dir)
    _, n = launched_jobs(spark, lambda: build(spark, sf_dir))
    assert n == 0
