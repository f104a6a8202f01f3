"""The one-task fixpoint gate (``layout.fits_one_task``) and the two loops
behind it: ``dedup.connected_components`` and ``graph.pagerank_fixed``.

Below the gate a loop solves every round in one task; above it the
distributed loop runs.  Both must give the same rows, raise the same
errors and release the same storage.  A test forces the distributed path
by setting ``layout.ONE_TASK_BYTES`` below any measured size, and a spy on
each operator's ``fits_one_task`` proves which path ran.
"""

from __future__ import annotations

import random

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from re_data_pipeline_spark.operators import dedup, graph, layout
from re_data_pipeline_spark.operators.ids import hold, pinning, release, release_spines
from tests.conftest import launched_jobs, persistent_ids

PAIRS = "id_a long, id_b long"
EDGES = "src long, dst long"


def _graph_rows(seed: int, n: int = 60, m: int = 90) -> list[tuple]:
    """Random pairs over ``n`` ids with duplicates in both orientations,
    self-loops, isolated pairs and null ids."""
    rnd = random.Random(seed)
    rows = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
    rows += [(b, a) for a, b in rows[:10]] + rows[10:15]  # both orientations, repeats
    rows += [(v, v) for v in rnd.sample(range(n), 5)]  # self-loops
    rows += [(1000 + 2 * i, 1001 + 2 * i) for i in range(4)]  # isolated pairs
    rows += [(None, rnd.randrange(n)), (rnd.randrange(n), None), (None, None)]
    rnd.shuffle(rows)
    return rows


@pytest.fixture
def spy(monkeypatch):
    """Record every ``fits_one_task`` decision the two operators take."""
    seen: list[bool] = []

    def recorder(df):
        fits = layout.fits_one_task(df)
        seen.append(fits)
        return fits

    monkeypatch.setattr(dedup, "fits_one_task", recorder)
    monkeypatch.setattr(graph, "fits_one_task", recorder)
    return seen


def _run(fn, monkeypatch, *, one_task: bool):
    """Collect ``fn()``'s rows (sorted, nulls first) and schema on one
    path, releasing the result's pins afterwards."""
    with monkeypatch.context() as m:
        if not one_task:
            m.setattr(layout, "ONE_TASK_BYTES", -1)
        out = fn()
        try:
            rows = sorted(
                (tuple(r) for r in out.collect()),
                key=lambda t: tuple((v is not None, v) for v in t),
            )
        finally:
            release_spines(out)
    return rows, out.schema


def _both_paths(fn, monkeypatch, spy):
    one, one_schema = _run(fn, monkeypatch, one_task=True)
    dist, dist_schema = _run(fn, monkeypatch, one_task=False)
    assert spy == [True, False]
    spy.clear()
    assert one == dist
    assert one_schema == dist_schema
    return one


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_one_task_matches_distributed(spark, monkeypatch, spy, seed):
    pairs = spark.createDataFrame(_graph_rows(seed), PAIRS)
    rows = _both_paths(lambda: dedup.connected_components(pairs, max_iterations=64), monkeypatch, spy)
    assert rows[0] == (None, None)  # a null id is its own isolated component
    assert (1000, 1000) in rows and (1001, 1000) in rows


def test_cc_empty_edge_list(spark, monkeypatch, spy):
    pairs = spark.createDataFrame([], PAIRS)
    assert _both_paths(lambda: dedup.connected_components(pairs), monkeypatch, spy) == []


def test_pagerank_one_task_matches_distributed(spark, monkeypatch, spy):
    edges = spark.createDataFrame(_graph_rows(7), EDGES)
    for iterations in range(7):
        rows = _both_paths(lambda: graph.pagerank_fixed(edges, iterations=iterations), monkeypatch, spy)
        # the null node keeps the teleport mass only
        assert rows[0] == (None, 1_000_000 if iterations == 0 else 150_000)


def test_pagerank_empty_edge_list(spark, monkeypatch, spy):
    edges = spark.createDataFrame([], EDGES)
    assert _both_paths(lambda: graph.pagerank_fixed(edges, iterations=3), monkeypatch, spy) == []


def test_non_null_int_ids_keep_their_schema(spark, monkeypatch, spy):
    rows = [(a, b) for a, b in _graph_rows(9) if a is not None and b is not None]
    pairs = spark.createDataFrame(rows, "id_a int not null, id_b int not null")
    edges = spark.createDataFrame(rows, "src int not null, dst int not null")
    _both_paths(lambda: dedup.connected_components(pairs, max_iterations=64), monkeypatch, spy)
    _both_paths(lambda: graph.pagerank_fixed(edges, iterations=2), monkeypatch, spy)


def test_cc_exhaustion_same_on_both_paths(spark, monkeypatch, spy):
    """A 10-chain needs more than 2 rounds: both paths raise the same
    message and leave no persistent RDD behind."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], PAIRS)
    messages = []
    for one_task in (True, False):
        with monkeypatch.context() as m:
            if not one_task:
                m.setattr(layout, "ONE_TASK_BYTES", -1)
            before = persistent_ids(spark)
            with pytest.raises(RuntimeError) as err:
                dedup.connected_components(pairs, max_iterations=2)
            assert persistent_ids(spark) - before == set()
            messages.append(str(err.value))
    assert spy == [True, False]
    assert messages[0] == messages[1]
    assert "did not converge in 2 iterations" in messages[0]


@pinning
def _checkpoint_bytes(frame, fn):
    """``fn`` of a held, materialized checkpoint of ``frame``."""
    return fn(hold(frame.localCheckpoint()))


class _Forward:
    def __init__(self, target):
        self._target = target

    def __getattr__(self, name):
        return getattr(self._target, name)


class _RaisingSc(_Forward):
    def getRDDStorageInfo(self):
        raise Py4JError("storage info unavailable")


class _RaisingJsc(_Forward):
    """A ``JavaSparkContext`` stand-in whose ``sc().getRDDStorageInfo()``
    raises; every other call goes to the real one."""

    def sc(self):
        return _RaisingSc(self._target.sc())


def test_measured_bytes_fails_open(spark, monkeypatch):
    frame = spark.range(200).select((F.col("id") % 7).alias("a"), F.col("id").alias("b"))
    assert layout.measured_bytes(frame) is None  # not a checkpoint scan
    nb = _checkpoint_bytes(frame, layout.measured_bytes)
    assert nb is not None and 0 < nb <= layout.ONE_TASK_BYTES

    @pinning
    def released_and_lazy():
        ck = hold(frame.localCheckpoint())
        release(ck, blocking=True)
        return layout.measured_bytes(ck), layout.measured_bytes(hold(frame.localCheckpoint(eager=False)))

    assert released_and_lazy() == (None, None)

    with monkeypatch.context() as m:
        m.setattr(spark.sparkContext, "_jsc", _RaisingJsc(spark.sparkContext._jsc))
        assert _checkpoint_bytes(frame, layout.measured_bytes) is None


@pytest.mark.parametrize("fault", ["unknown", "raises"])
def test_unknown_size_takes_the_distributed_path(spark, monkeypatch, spy, fault):
    pairs = spark.createDataFrame(_graph_rows(4), PAIRS)
    edges = spark.createDataFrame(_graph_rows(5), EDGES)
    want_cc, _ = _run(lambda: dedup.connected_components(pairs, max_iterations=64), monkeypatch, one_task=False)
    want_pr, _ = _run(lambda: graph.pagerank_fixed(edges, iterations=3), monkeypatch, one_task=False)
    spy.clear()
    with monkeypatch.context() as m:
        if fault == "unknown":
            m.setattr(layout, "measured_bytes", lambda df: None)
        else:
            m.setattr(spark.sparkContext, "_jsc", _RaisingJsc(spark.sparkContext._jsc))
        got_cc, _ = _run(lambda: dedup.connected_components(pairs, max_iterations=64), monkeypatch, one_task=True)
        got_pr, _ = _run(lambda: graph.pagerank_fixed(edges, iterations=3), monkeypatch, one_task=True)
    assert spy == [False, False]
    assert (got_cc, got_pr) == (want_cc, want_pr)


@pytest.mark.parametrize("stats", [1, 10**15])
def test_gate_ignores_plan_stats(spark, monkeypatch, stats):
    """The optimizer's estimate, lying low or high, does not move the
    decision on a frame whose measured size is known: the first cells of
    ROADMAP item 8's gate matrix."""
    frame = spark.range(500).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    nb = _checkpoint_bytes(frame, layout.measured_bytes)

    def decisions():
        with monkeypatch.context() as m:
            got = [_checkpoint_bytes(frame, layout.fits_one_task)]
            m.setattr(layout, "ONE_TASK_BYTES", nb - 1)
            got.append(_checkpoint_bytes(frame, layout.fits_one_task))
        return got

    want = decisions()
    assert want == [True, False]
    monkeypatch.setattr(layout, "plan_stats_bytes", lambda df: stats)
    assert decisions() == want


@pytest.mark.parametrize(
    "name, max_jobs", [("q136_pagerank", 4), ("q82_connected_components", 12)]
)
def test_small_fixpoint_query_job_budget(spark, sf_dir, name, max_jobs):
    """Building and writing each loop query at sf0.001 stays inside its job
    budget; the per-round distributed loops launched 39 (q136) and 23
    (q82) jobs per call."""
    from re_data_pipeline_spark.plans.queries import QUERIES

    def build_and_write():
        df = QUERIES[name](spark, sf_dir)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            release_spines(df)

    build_and_write()  # schemas memoized, Python workers started
    _, jobs = launched_jobs(spark, build_and_write)
    assert jobs <= max_jobs
