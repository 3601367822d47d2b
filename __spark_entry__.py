"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``updating_datasets_data_engineering_spark.registry`` — every
implemented operator from SURVEY.md §2 (plus the training-data-pipeline
extension tier) is registered there with a paired DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from updating_datasets_data_engineering_spark import registry  # noqa: E402
from updating_datasets_data_engineering_spark.queries.parity import (  # noqa: E402
    shot_team_summary_bucketed,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Full reference pipeline in one plan: Kafka-shaped records ->
    from_json parse -> native play-parser enrichment -> archive∪delta
    upsert-merge -> per-(team, quarter) aggregate.  Runs the BUCKETED
    merge (VERDICT r2 item 6): the archive side is a SHOT_KEY-bucketed
    table whose dedup window needs zero Exchange, survivors leave via a
    broadcast anti-join — the physical plan the daily merge would run
    at 100 TB.  ``shot_team_summary`` (same oracle) stays registered as
    the layout-free parity twin.
    """
    return shot_team_summary_bucketed(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
