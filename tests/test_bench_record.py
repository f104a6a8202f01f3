"""Tests for bench.py's plan-hash normalization, reference-record lookup,
plan-change warning and run-count and query-name validation.

Pure-Python tests — no SparkSession needed.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from re_data_pipeline_spark.plans.queries import DRIVER_WINDOW_ROUND  # noqa: E402


def _record(bdir, name, hashes, sf=0.1):
    (bdir / name).write_text(json.dumps({"plan_hashes": hashes, "sf": sf}))


def test_bench_runs_must_be_an_integer(monkeypatch):
    # validated before Spark is imported, so no session starts
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "x")
    with pytest.raises(SystemExit, match=">= 1; got x"):
        bench.main()


def test_unknown_query_name_rejected_before_spark(monkeypatch):
    monkeypatch.setattr(sys, "argv", ["bench.py", "q01_pricing_summary", "q_nope"])
    with pytest.raises(SystemExit, match="unknown queries: q_nope"):
        bench.main()


def test_normalize_plan_text_masks_rdd_callsite():
    """An RDD creation callsite must not leak session history into the
    hash: py4j reflection inflates NativeMethodAccessorImpl into
    GeneratedMethodAccessorNN after ~15 reflective calls, so the same
    LocalRelation plan reads differently early vs late in a session."""
    from bench import normalize_plan_text

    early = (
        "Arguments: [a#12L], MapPartitionsRDD[35] at applySchemaToPythonRDD "
        "at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)"
    )
    late = (
        "Arguments: [a#9912L], MapPartitionsRDD[4711] at applySchemaToPythonRDD "
        "at GeneratedMethodAccessor42.invoke:-1, ExistingRDD, UnknownPartitioning(0)"
    )
    assert normalize_plan_text(early) == normalize_plan_text(late)


def test_normalize_plan_text_masks_spine_offset_maps():
    """The ordinal spine embeds per-partition base offsets as a literal
    map; the offsets depend on the persisted frame's physical LAYOUT
    (cache/session state), not the plan — two builds of the same query in
    one session hashed differently until r13 masked them."""
    from bench import normalize_plan_text

    a = "Output: [(cast(element_at(map(keys: [0,1,2,3], values: [0,242,487,729]), __pid#4, None, true) as bigint) + __mid#5L) AS __ord#6L]"
    b = "Output: [(cast(element_at(map(keys: [0,1,2,3], values: [0,242,484,729]), __pid#4, None, true) as bigint) + __mid#5L) AS __ord#6L]"
    assert normalize_plan_text(a) == normalize_plan_text(b)
    assert "242" not in normalize_plan_text(a)


def test_normalize_plan_text_masks_query_stage_ids():
    """AQE assigns QueryStage ids in MATERIALIZATION order — parallel
    broadcast stages race, so identical plans number them differently run
    to run.  Only the Arguments line under a QueryStage header is masked;
    a bare-integer argument elsewhere (CollectLimit) must stay visible."""
    from bench import normalize_plan_text

    a = "(37) BroadcastQueryStage\nOutput [2]: [a#1, b#2]\nArguments: 19\n"
    b = "(37) BroadcastQueryStage\nOutput [2]: [a#1, b#2]\nArguments: 22\n"
    assert normalize_plan_text(a) == normalize_plan_text(b)
    lim = "(5) CollectLimit\nInput [1]: [a#1]\nArguments: 19\n"
    assert "Arguments: 19" in normalize_plan_text(lim)


def test_prior_plan_hashes_resolves_newest_parseable_record(tmp_path, capsys):
    """The highest-numbered parseable bench_rNN.json at the run's scale
    factor wins; an unparseable newest record and a newer record at another
    scale are skipped; session/latest records never count; with no record
    at the run's scale, one line says nothing was compared."""
    _record(tmp_path, "bench_r09.json", {"q01": "aaaa"})
    _record(tmp_path, "bench_r10.json", {"q01": "bbbb", "q02": "cccc"})
    _record(tmp_path, "bench_r11_end_session.json", {"q01": "ffff"})
    _record(tmp_path, "bench_latest.json", {"q01": "ffff"})
    assert bench.prior_plan_hashes(0.1, str(tmp_path)) == (
        "bench_r10.json",
        {"q01": "bbbb", "q02": "cccc"},
    )
    (tmp_path / "bench_r11.json").write_text('{"plan_hashes": {"q01": "dd')
    assert bench.prior_plan_hashes(0.1, str(tmp_path))[0] == "bench_r10.json"
    assert bench.prior_plan_hashes(0.1, str(tmp_path / "nowhere")) == ("", {})

    _record(tmp_path, "bench_r12.json", {"q01": "eeee"}, sf=0.01)
    assert bench.prior_plan_hashes(0.1, str(tmp_path))[0] == "bench_r10.json"
    assert bench.prior_plan_hashes(0.01, str(tmp_path))[0] == "bench_r12.json"
    assert bench.prior_plan_hashes(1.0, str(tmp_path)) == ("", {})
    bench.warn_plan_changes({"q01": "zzzz"}, 1.0, str(tmp_path))
    assert capsys.readouterr().err.splitlines() == [
        "plan-change: no bench_rNN.json record at sf=1.0; no plan hashes compared"
    ]


def test_plan_change_warned_only_on_differing_hash(tmp_path, capsys):
    _record(tmp_path, "bench_r05.json", {"q01": "aaaa", "q02": "n/a"})
    plans = {"q01": "bbbb", "q02": "cccc", "q03": "dddd"}
    bench.warn_plan_changes(plans, 0.1, str(tmp_path))
    err = capsys.readouterr().err.splitlines()
    assert err == [
        "plan-change: q01 aaaa -> bbbb (vs bench_r05.json) — "
        "verify intentional (new shuffle / lost broadcast / pushdown?)"
    ]
    bench.warn_plan_changes({"q01": "aaaa"}, 0.1, str(tmp_path))
    assert capsys.readouterr().err == ""


@pytest.mark.repo_gate
def test_repo_bench_records_fresh_gate():
    """REPO-STATE GATE (not a unit test): the committed bench records must
    carry parseable plan hashes no older than the round before the current
    DRIVER_WINDOW_ROUND — the r16 incident left the comparator silently
    reading r12.  Fails transiently on a checkout where DRIVER_WINDOW_ROUND
    was bumped before the round's bench run has landed, so it is OUT of the
    default unit run (r17 advice): deselected via pytest.ini's repo_gate
    marker, run explicitly at round close (`pytest -m repo_gate`) alongside
    the parity/leakaudit gates; run bench.py (or commit its .benchmarks
    record) to restore."""
    import re

    name, hashes = bench.prior_plan_hashes(0.1)  # the HEADLINE scale
    assert hashes and "q01_pricing_summary" in hashes
    m = re.search(r"r(\d+)\.json$", name.lower())
    assert m, name
    assert int(m.group(1)) >= DRIVER_WINDOW_ROUND - 1, (
        f"prior_plan_hashes resolved a stale record: {name}"
    )
