"""Query registry: every engine operator exposed as a named query with
a matching DuckDB oracle (the driver's correctness gate).

Each spec pairs
  * ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation
  * ``oracle`` — independent ANSI SQL for DuckDB over the same parquet
    tables (views: region nation customer supplier part orders lineitem
    events documents embeddings)

Column names and types are aligned on both sides (the driver hashes
values under sorted column names).  Aggregates over doubles are rounded
identically on both sides; raw columns are never rounded.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None -> non-SQL-expressible, rows-only check


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _td(spark: SparkSession, sf_dir: str, name: str = "documents") -> DataFrame:
    """Fanned-out table load for CPU-heavy map chains (regex/HOF text
    ops): the fixture parquet is single-row-group, so without the
    spread the whole chain runs on one task (lang-ID measured 1.3s ->
    0.4s at sf0.1).  No-op on multi-file tables."""
    from ..tables import fan_out_if_narrow

    return fan_out_if_narrow(load_table(spark, sf_dir, name))


