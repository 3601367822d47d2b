"""Output checks, run between ops outside the timed region.

* Registry specs are compared against their ``registry.oracle_sql()``
  query in DuckDB, with the comparison rules of the engine's own oracle
  harness (``tests/oracle_harness.compare_frames``).  DuckDB runs with
  pinned ``threads`` and ``memory_limit`` and spills into the run's own
  directory.
* The ``daily_cycle`` archive is compared against the upsert the
  generator computed: key set, key uniqueness, delta-wins payloads, and
  ``game_date`` equal to the date of ``year/month/day``.

A check returns ``None`` when the output is right and a one-line reason
when it is not.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import duckdb
import pyarrow.parquet as pq

from gen import PAYLOAD

ORACLE_THREADS = 2
ORACLE_MEMORY = "1GB"


class Oracle:
    """DuckDB over the run's generated tables; results cached per spec."""

    def __init__(self, tables_dir: str, spill_dir: str, table_names) -> None:
        self._con = duckdb.connect()
        self._con.sql(f"SET threads={ORACLE_THREADS}")
        self._con.sql(f"SET memory_limit='{ORACLE_MEMORY}'")
        self._con.sql(f"SET temp_directory='{spill_dir}'")
        for t in table_names:
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        self._cache: dict[str, object] = {}

    def result(self, name: str, sql: str):
        if name not in self._cache:
            self._cache[name] = self._con.sql(sql).df()
        return self._cache[name]

    def close(self) -> None:
        self._con.close()


def check_spec(oracle: Oracle, name: str, sql: str, spark_pdf) -> str | None:
    from tests.oracle_harness import compare_frames

    try:
        compare_frames(spark_pdf, oracle.result(name, sql), name)
    except AssertionError as e:
        return str(e).splitlines()[0][:300]
    return None


def _read_archive(path: str) -> list[dict]:
    """Rows of a ``game_date``-partitioned parquet archive, read without
    Spark; the ``__HIVE_DEFAULT_PARTITION__`` directory reads as NULL."""
    rows: list[dict] = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        part = None
        for seg in os.path.relpath(f, path).split(os.sep)[:-1]:
            if seg.startswith("game_date="):
                val = seg.split("=", 1)[1]
                part = None if val == "__HIVE_DEFAULT_PARTITION__" else val
        for r in pq.read_table(f).to_pylist():
            r["game_date"] = part
            rows.append(r)
    return rows


def check_archive(path: str, expected: dict[tuple[str, str, str], dict[str, str]]) -> str | None:
    rows = _read_archive(path)
    keys = [(r["game_id"], r["time_remaining"], r["quarter"]) for r in rows]
    if len(set(keys)) != len(keys):
        return f"archive keys not unique: {len(keys)} rows, {len(set(keys))} keys"
    if set(keys) != set(expected):
        return (
            f"archive key set differs: {len(set(keys) - set(expected))} unexpected, "
            f"{len(set(expected) - set(keys))} missing"
        )
    stale = sum(any(r[c] != expected[k][c] for c in PAYLOAD) for k, r in zip(keys, rows))
    if stale:
        return f"{stale} of {len(rows)} rows do not carry the latest scraped payload"
    bad_date = sum(
        r["game_date"] != dt.date(int(r["year"]), int(r["month"]), int(r["day"])).isoformat()
        for r in rows
    )
    if bad_date:
        nulls = sum(r["game_date"] is None for r in rows)
        return f"game_date wrong on {bad_date} of {len(rows)} rows ({nulls} NULL)"
    return None
