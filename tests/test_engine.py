"""Engine facade: table registry, SQL, named queries, pipelines."""

import pytest

from re_data_pipeline_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


def test_tables_and_sql(engine):
    assert "lineitem" in engine.tables()
    assert engine.table("region").count() > 0
    n = engine.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n == engine.table("lineitem").count()


def test_named_query(engine):
    assert "q01_pricing_summary" in engine.queries()
    df = engine.query("q01_pricing_summary")
    assert df.count() > 0 and "sum_qty" in df.columns


def test_pipeline_dispatch(engine, spark):
    from re_data_pipeline_spark.plans import fixtures as fx

    out = engine.run_pipeline("rental_rates", raw_buildings=fx.raw_liv_buildings(spark))
    assert out["avg_rent_listings"].count() > 0
    with pytest.raises(KeyError):
        engine.run_pipeline("nope")


def test_profile_and_dedup(engine, spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "a b c"), (3, None)], ["doc_id", "text"])
    prof = engine.profile(df).collect()[0]
    assert prof.text == pytest.approx(200 / 3)
    survivors = engine.dedup(df.where("text IS NOT NULL"))
    assert sorted(r.doc_id for r in survivors.collect()) == [1]


def test_release_frees_anchor_pins(engine, spark):
    """r15: exact_substring_* pin their persisted anchor tables (one, or
    one per corpus side) — Engine.release must free every pin on the
    result, or long-lived sessions pin one anchor frame per span-dedup
    call."""
    from tests.conftest import persistent_ids

    from re_data_pipeline_spark.operators.ids import pin, pinning

    @pinning
    def span_pass():
        single = pin(spark.range(10).persist())
        listed = pin(spark.range(20).persist())
        single.count(); listed.count()
        return spark.range(3)

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    out = span_pass()
    assert len(persistent_ids(spark) - before) == 2
    assert engine.release(out) == 2
    assert not (persistent_ids(spark) - before)


def test_engine_release_and_leak_audit_share_one_path(engine, spark, monkeypatch):
    """r16 ADVICE: tools/leak_audit used to hand-copy Engine.release's
    attribute list, so the auditor could silently diverge from the
    release contract it asserts.  Both must route through the SAME
    `ids.release_spines` function: auditing one query calls it once."""
    import importlib.util
    import os

    import re_data_pipeline_spark.operators.ids as ids

    calls = []
    real = ids.release_spines

    def spy(df, blocking=False):
        calls.append(1)
        return real(df, blocking)

    monkeypatch.setattr(ids, "release_spines", spy)
    engine.release(spark.range(1))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "leak_audit_under_test", os.path.join(repo, "tools", "leak_audit.py")
    )
    la = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(la)
    assert not la.leaked_rdds(spark, lambda s, _: s.range(1), "unused")
    assert len(calls) == 2, "Engine.release and leak_audit must both delegate to ids.release_spines"
