"""Round-22 optimization pins: cache-pin registry generation release,
excludedRules append semantics, and the committed quiet-band gate in
tools/bench_compare.
"""

from __future__ import annotations

from hivekudu_handler_spark import pins
from hivekudu_handler_spark.registry import load_all
from hivekudu_handler_spark.tables import ensure_session_confs
from tools.bench_compare import compare

_EXCL = "spark.sql.optimizer.excludedRules"
_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def test_excluded_rules_appended_not_clobbered(spark):
    before = spark.conf.get(_EXCL, None)
    try:
        fake = "org.apache.spark.sql.catalyst.optimizer.CombineFilters"
        spark.conf.set(_EXCL, fake)
        ensure_session_confs(spark)
        rules = [r.strip() for r in spark.conf.get(_EXCL).split(",")]
        # the embedding application's exclusion survives AND the engine's
        # plan-shape pin is present — r21 ADVICE: the conf is ONE list
        assert fake in rules and _RULE in rules
        # idempotent: a second call does not duplicate the rule
        ensure_session_confs(spark)
        rules2 = [r.strip() for r in spark.conf.get(_EXCL).split(",")]
        assert rules2.count(_RULE) == 1
    finally:
        if before is None:
            spark.conf.unset(_EXCL)
        else:
            spark.conf.set(_EXCL, before)
        ensure_session_confs(spark)


def test_get_spark_merges_caller_excluded_rules():
    # get_spark and ensure_session_confs both merge through this helper;
    # a fresh session per test is too slow, and the merge is pure code
    from hivekudu_handler_spark.session import (
        _DEFAULT_CONF,
        merge_excluded_rules,
    )

    merged = merge_excluded_rules(_DEFAULT_CONF[_EXCL], "my.app.Rule")
    assert merged.split(",") == [_RULE, "my.app.Rule"]
    # the caller's own copy of the engine rule is not duplicated, blanks
    # and a missing list drop out
    assert merge_excluded_rules(_RULE, f" {_RULE} ,, my.app.Rule", None) == (
        f"{_RULE},my.app.Rule"
    )


def test_pin_registry_releases_previous_generation(spark):
    sf = "/root/testdata/sf0.001"
    fn = load_all()["dedup_simhash"].fn
    fn(spark, sf).count()
    first = pins._PINNED["dedup.simhash.sigs"]
    assert first.is_cached
    # second call under the same tag releases the first generation —
    # a long-lived session holds ONE pinned frame per site, not one per
    # call (r21 VERDICT "what's wrong" #2)
    fn(spark, sf).count()
    second = pins._PINNED["dedup.simhash.sigs"]
    assert second is not first
    assert not first.is_cached
    assert second.is_cached
    # the explicit drain releases everything it registered
    pins.release_all()
    assert not second.is_cached
    assert pins._PINNED == {}


def test_pin_registry_covers_kmeans_and_pq(spark):
    sf = "/root/testdata/sf0.001"
    load_all()["emb_kmeans_lloyd"].fn(spark, sf).count()
    assert pins._PINNED["clustering.kmeans_fit.e"].is_cached
    load_all()["sim_pq_adc"].fn(spark, sf).count()
    assert pins._PINNED["pq.fit_encode.norm"].is_cached
    n_before = len(pins._PINNED)
    # re-running the same keys must not grow the registry
    load_all()["emb_kmeans_lloyd"].fn(spark, sf).count()
    load_all()["sim_pq_adc"].fn(spark, sf).count()
    assert len(pins._PINNED) == n_before
    pins.release_all()
    assert pins._PINNED == {}


def test_quiet_band_raises_limit_to_observed_scatter():
    ref = {"a": 1.0, "b": 1.0}
    band = {"a": {"quiet_min": 1.0, "quiet_max": 4.0, "n_samples": 5}}
    # a at 3.9: over the 1.8 ratio band but INSIDE the observed quiet
    # scatter — never flagged (the hand-adjudication rule, mechanical)
    v = compare({"queries": {"a": 3.9, "b": 1.0}}, ref, quiet_band=band)
    assert v["flagged"] == [] and v["ok"] == 2
    # outside even the quiet scatter: flagged, with the band attached
    v = compare({"queries": {"a": 4.1, "b": 1.0}}, ref, quiet_band=band)
    assert [e["key"] for e in v["flagged"]] == ["a"]
    assert v["flagged"][0]["quiet_band"] == [1.0, 4.0]


def test_quiet_band_serves_as_reference_for_unknown_keys():
    band = {"nk": {"quiet_min": 2.0, "quiet_max": 2.5, "n_samples": 3}}
    v = compare({"queries": {"nk": 2.4}}, {}, quiet_band=band)
    assert v["new"] == [] and v["ok"] == 1
