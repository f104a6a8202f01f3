"""Session defaults: the codegen cache holds the engine's working set, and
``$SPARK_GRAFT_CPUS`` fails open."""

from __future__ import annotations

import pytest

from re_data_pipeline_spark import session
from re_data_pipeline_spark.session import codegen_compiles, get_spark

# Three of the four curation perfbench queries: 115 generated classes per
# pass at sf0.001 (48 + 30 + 37), more than Spark's default cache (100
# entries) holds.  q82 is left out: its connected-components loop compiles
# a few new classes on some repeat passes even with an ample cache.
CURATION_MIX = ("q167_simhash_radius", "q136_pagerank", "q161_bpe_train")


def _run_mix(spark, sf_dir) -> int:
    """Run the mix into the noop sink as perfbench's steady pass does;
    return the number of classes compiled."""
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.plans.queries import QUERIES

    before = codegen_compiles(spark)
    for name in CURATION_MIX:
        spark.catalog.clearCache()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        release_spines(df)
    spark.catalog.clearCache()
    return codegen_compiles(spark) - before


def test_session_reports_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )


def test_repeat_pass_does_not_recompile(spark, sf_dir):
    # two passes warm the cache whatever ran before; with a cache smaller
    # than the mix, the third pass recompiles most of it
    _run_mix(spark, sf_dir)
    _run_mix(spark, sf_dir)
    third = _run_mix(spark, sf_dir)
    assert third <= 5, f"third pass compiled {third} classes"


@pytest.mark.parametrize("raw", ["x", "4x", "0", "-2", ""])
def test_env_cpus_malformed_falls_back(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CPUS"):
        assert session._env_cpus() == session.DEFAULT_CPUS


def test_env_cpus_valid_and_unset(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._env_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session._env_cpus() == session.DEFAULT_CPUS


def test_get_spark_with_malformed_cpus_returns_session(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "x")
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CPUS"):
        assert get_spark(app_name="tests") is spark
