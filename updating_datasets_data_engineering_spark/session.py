"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default all cores), but
every conf below is chosen for a real multi-executor cluster at ~100 TB:

  * AQE on (runtime partition coalescing, skew-join splitting) — the
    single most important knob for shuffle-heavy plans at scale.
  * ``spark.sql.shuffle.partitions`` sized explicitly; AQE coalesces
    down, so err on the high side for big clusters.
  * Arrow execution for the few pandas-UDF paths (multimodal decode),
    so Python exchange is columnar batches, not pickled rows.
  * Session timezone pinned to UTC so date extraction is deterministic
    and matches the DuckDB oracle regardless of host TZ.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Whether cached plans compile with AQE.  Never set on the session:
# queries.specs._aqe_cached_builds sets it to true around each spec's
# build, and streaming.pipeline.run_available_now unsets it around a
# stream's start, so foreachBatch caches compile at Spark's default.
# The r13 isolated interleaved A/Bs (COVERAGE.md, "the AQE-cache
# config, isolated and reverted (round 13)") measured it
# neutral-to-harmful on the streaming tier (up to +3.0 s on
# users_triangles_streaming, where AQE-coalesced cache builds fight the
# explicit hour repartition pins), while the persisted-state batch rows
# need it (OPTIMIZATION_r14.md).
AQE_CACHE_CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str | None]) -> Iterator[None]:
    """Set runtime ``confs`` for the block (a ``None`` value unsets its
    key), then restore exactly what was there: a conf that was unset is
    unset again, not pinned to its default."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        _put(spark, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            _put(spark, k, v)


def _put(spark: SparkSession, key: str, value: str | None) -> None:
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def get_spark(
    app_name: str = "updating-datasets-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE_CACHE_CONF is not set here (see its comment).  The
        # 1.8-vs-7.2 s wedge-build quirk the config once addressed is
        # fixed in code (no single-consumer persists on that path).
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep_session(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs every query in this engine assumes.

    Safe to call on a session we did not build (the correctness driver
    hands us one): only runtime-settable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # AQE_CACHE_CONF deliberately NOT set (see its comment)
    return spark
