"""Session defaults: the engine's ``excludedRules`` entry is merged into
any list the caller or the embedding application sets, never replacing
it."""

from __future__ import annotations

from hivekudu_handler_spark.tables import ensure_session_confs

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
