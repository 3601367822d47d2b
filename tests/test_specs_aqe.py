"""``queries.specs._aqe_cached_builds`` scopes the AQE-cache conf to one
query build and restores exactly what was there before; a stream the
build runs keeps Spark's default in its ``foreachBatch``."""

from __future__ import annotations

import pathlib

from updating_datasets_data_engineering_spark import registry
from updating_datasets_data_engineering_spark.queries.specs import _aqe_cached_builds
from updating_datasets_data_engineering_spark.session import (
    AQE_CACHE_CONF as _AQE_CACHE_CONF,
)
from updating_datasets_data_engineering_spark.streaming import pipeline as SP


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


def test_stream_in_a_build_runs_foreach_batch_at_the_default(spark, tmp_path):
    """The stream's session is cloned at start: the runner unsets the
    conf for it, and the build has its "true" back once the stream
    ends."""
    src = str(tmp_path / "src")
    spark.range(3).coalesce(1).write.parquet(src)
    in_batch, after_stream = [], []

    def record(batch_df, batch_id):
        in_batch.append(batch_df.sparkSession.conf.get(_AQE_CACHE_CONF, None))

    def build(spark, sf_dir):
        stream = spark.readStream.schema("id long").parquet(src)
        SP.run_available_now(stream, record, str(tmp_path / "ckpt"))
        after_stream.append(spark.conf.get(_AQE_CACHE_CONF, None))
        return spark.range(1)

    spark.conf.unset(_AQE_CACHE_CONF)
    _aqe_cached_builds(build)(spark, "")
    assert in_batch == [None]
    assert after_stream == ["true"]
    assert spark.conf.get(_AQE_CACHE_CONF, None) is None


def test_registry_is_the_catalogue_and_streams_start_in_one_place():
    public = {n for n in dir(registry) if not n.startswith("_")}
    assert public == {"SPECS", "QuerySpec", "queries", "oracle_sql"}
    pkg = pathlib.Path(registry.__file__).parent
    starts = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "writeStream" in p.read_text()
    )
    assert starts == ["streaming/pipeline.py"]
