"""``queries.specs._aqe_cached_builds`` scopes the AQE-cache conf to one
query build and restores exactly what was there before."""

from __future__ import annotations

from updating_datasets_data_engineering_spark.queries.specs import (
    _AQE_CACHE_CONF,
    _aqe_cached_builds,
)


def _seen_during_build(spark):
    seen = []

    def build(spark, sf_dir):
        seen.append(spark.conf.get(_AQE_CACHE_CONF))
        return spark.range(1)

    _aqe_cached_builds(build)(spark, "")
    return seen


def test_aqe_cached_build_unsets_a_previously_unset_conf(spark):
    spark.conf.unset(_AQE_CACHE_CONF)
    try:
        assert _seen_during_build(spark) == ["true"]
        # unset again afterwards, not pinned to "false"
        assert spark.conf.get(_AQE_CACHE_CONF, None) is None
        spark.conf.set(_AQE_CACHE_CONF, "false")
        assert _seen_during_build(spark) == ["true"]
        assert spark.conf.get(_AQE_CACHE_CONF, None) == "false"
    finally:
        spark.conf.unset(_AQE_CACHE_CONF)
