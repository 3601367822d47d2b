"""Every oracle must run under a capped DuckDB memory limit.

Round-8 lesson: five oracles that passed locally OOM'd in the driver's
memory-starved sandbox (VERDICT r8 "What's wrong") — DuckDB inlines
multi-referenced CTEs, so LSH replays / recursive closures / iterative
pagerank steps re-ran once per reference and peak memory reached
>512 MB for 10k-row fixtures.  After the MATERIALIZED / norm-hoist
hardening, every registered oracle completes at sf0.01 under 128 MB.
This test pins that budget so a future oracle can't silently regress
into the driver-OOM class.

Pure DuckDB — no SparkSession needed.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from updating_datasets_data_engineering_spark.registry import SPECS
from updating_datasets_data_engineering_spark.tables import TABLE_NAMES

BUDGET = os.environ.get("SPARK_GRAFT_ORACLE_BUDGET", "128MB")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")

ORACLE_SPECS = [s for s in SPECS if s.oracle is not None]


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[s.name for s in ORACLE_SPECS])
def test_oracle_runs_under_memory_budget(spec, tmp_path):
    con = duckdb.connect()
    con.sql(f"SET memory_limit='{BUDGET}'")
    # a spill directory of its own, not a fixed path shared with other
    # tests and other runs on the host
    con.sql(f"SET temp_directory='{tmp_path / 'spill'}'")
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    try:
        df = con.sql(spec.oracle).df()
    finally:
        con.close()
    assert len(df.columns) > 0
