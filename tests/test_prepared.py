"""Prepared-statement execution (registry.prepare_execute), the headline
bench mode (see bench.py run_once). These tests pin its contract:
  * a prepared plan returns the same results as a fresh build, and each
    call returns a fresh execution wrapper;
  * the analyzed plan is built once per (session, name, sf_dir);
  * NO_PREPARE builders (build-time Spark jobs) are re-invoked per call.
"""

from unittest import mock

from omnidata_etl_spark import registry
from omnidata_etl_spark.registry import NO_PREPARE, QuerySpec, all_specs, prepare_execute

SF = "/root/testdata/sf0.001"


def _counting(name, calls):
    real = all_specs()[name]

    def counting_fn(sp, sf_dir):
        calls.append(sf_dir)
        return sp.range(1)

    return QuerySpec(name=name, fn=counting_fn, oracle=real.oracle, tags=real.tags)


def test_prepare_matches_fresh_build(spark):
    spec = all_specs()["agg_having"]
    fresh = spec.fn(spark, SF).toPandas()
    prepped = prepare_execute(spark, "agg_having", SF).toPandas()
    assert fresh.equals(prepped)


def test_prepare_execute_fresh_wrapper_same_results(spark):
    spec = all_specs()["agg_having"]
    fresh = spec.fn(spark, SF).toPandas()
    a = prepare_execute(spark, "agg_having", SF)
    b = prepare_execute(spark, "agg_having", SF)
    # fresh execution wrapper per call: distinct DataFrames (no stage
    # reuse), same results as a from-scratch build
    assert a is not b
    assert a.toPandas().equals(fresh)
    assert b.toPandas().equals(fresh)


def test_prepare_execute_builds_once_per_sf_dir(spark, monkeypatch):
    calls = []
    name = "limit_preview"
    assert name not in NO_PREPARE
    # an empty session memo for the test: no prepared plan of the real
    # builder from an earlier test, and none of the fake's left behind
    monkeypatch.setattr(spark, "_omnidata_memo", {}, raising=False)
    with mock.patch.dict(registry._REGISTRY, {name: _counting(name, calls)}):
        prepare_execute(spark, name, SF)
        prepare_execute(spark, name, SF)
        prepare_execute(spark, name, "/root/testdata/sf0.01")
    assert calls == [SF, "/root/testdata/sf0.01"]


def test_no_prepare_rebuilds_every_call(spark):
    calls = []
    name = "dedup_cluster_canonical"
    assert name in NO_PREPARE
    with mock.patch.dict(registry._REGISTRY, {name: _counting(name, calls)}):
        prepare_execute(spark, name, SF)
        prepare_execute(spark, name, SF)
    assert len(calls) == 2


def test_no_prepare_members_exist():
    specs = all_specs()
    missing = [n for n in NO_PREPARE if n not in specs]
    assert not missing, f"stale NO_PREPARE entries: {missing}"
