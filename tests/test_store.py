"""The state-store module (``store``): the ``_batch_id`` tier format every
streaming maintainer, the compaction operators and the in-place merge
share.  Fast unit tests on tiny frames — no stream — plus a structure
guard that keeps the store protocol in one module."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark import fs
from updating_datasets_data_engineering_spark import store as ST

PKG = pathlib.Path(__file__).resolve().parent.parent / "updating_datasets_data_engineering_spark"


def _frame(spark, keys, tag="x"):
    return spark.createDataFrame([(k, f"{tag}{k}") for k in keys], "k long, v string")


def _rows(df, cols=("k", "v")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(params=["bare", "file"])
def store_path(request, tmp_path):
    prefix = {"bare": "", "file": "file://"}[request.param]
    return prefix + str(tmp_path / "store")


def test_reappend_overwrites_only_its_own_tier(spark, store_path):
    ST.append(_frame(spark, [1, 2]), store_path, 0)
    ST.append(_frame(spark, [3]), store_path, 1)
    # a crash-replayed batch 1 with different content: tier 1 is
    # rewritten, tier 0 is untouched
    ST.append(_frame(spark, [4, 5], "y"), store_path, 1)
    assert ST.tiers(spark, store_path) == {0, 1}
    got = spark.read.parquet(store_path)
    assert _rows(got.where(F.col(ST.BATCH_COL) == 0)) == [(1, "x1"), (2, "x2")]
    assert _rows(got.where(F.col(ST.BATCH_COL) == 1)) == [(4, "y4"), (5, "y5")]


def test_committed_excludes_current_and_later_and_includes_fold(spark, store_path):
    ST.swap_tier(spark, _frame(spark, [0]), store_path, ST.COMPACTED)
    for batch_id in (1, 2, 3):
        ST.append(_frame(spark, [batch_id * 10]), store_path, batch_id)
    assert ST.tiers(spark, store_path) == {ST.COMPACTED, 1, 2, 3}
    got = ST.committed(spark, store_path, 2, "k long, v string")
    assert got.columns == ["k", "v"]
    assert _rows(got) == [(0, "x0"), (10, "x10")]
    # no store yet: an empty frame of the requested schema
    missing = ST.committed(spark, store_path + "_none", 2, "k long, v string")
    assert missing.columns == ["k", "v"] and missing.count() == 0


def test_latest_and_prune_from_the_listing(spark, store_path):
    for batch_id in range(4):
        ST.append(_frame(spark, [batch_id]), store_path, batch_id)
    assert ST.latest(spark, store_path, below=3) == 2
    assert ST.latest(spark, store_path, below=0) is None
    assert _rows(ST.read_tier(spark, store_path, 2)) == [(2, "x2")]
    ST.prune(spark, store_path, {2, 3})
    assert ST.tiers(spark, store_path) == {2, 3}
    assert _rows(spark.read.parquet(store_path)) == [(2, "x2"), (3, "x3")]


def test_empty_append_commits_an_empty_tier(spark, store_path):
    ST.append(_frame(spark, [1, 2]), store_path, 0)
    ST.append(_frame(spark, []), store_path, 1)
    # the empty batch is the newest tier, not the one before it
    assert ST.tiers(spark, store_path) == {0, 1}
    assert ST.latest(spark, store_path, below=2) == 1
    tier = ST.read_tier(spark, store_path, 1)
    assert tier.columns == ["k", "v"] and tier.count() == 0
    assert _rows(spark.read.parquet(store_path)) == [(1, "x1"), (2, "x2")]
    # a replay of the batch with rows replaces the empty tier, and back
    ST.append(_frame(spark, [3]), store_path, 1)
    assert _rows(ST.read_tier(spark, store_path, 1)) == [(3, "x3")]
    ST.append(_frame(spark, []), store_path, 1)
    assert ST.read_tier(spark, store_path, 1).count() == 0


def test_tiers_ignore_nested_stores(spark, tmp_path):
    root = str(tmp_path / "root")
    ST.append(_frame(spark, [1]), root, 5)
    ST.append(_frame(spark, [2]), os.path.join(root, "snap"), 7)
    assert ST.tiers(spark, root) == {5}
    assert _rows(ST.read_tier(spark, root, 5)) == [(1, "x1")]
    ST.prune(spark, root, set())
    assert ST.tiers(spark, root) == set()
    assert ST.tiers(spark, os.path.join(root, "snap")) == {7}


def test_swap_of_empty_frame_leaves_readable_store_with_schema(spark, store_path):
    ST.swap(spark, _frame(spark, [1, 2]), store_path)
    ST.swap(spark, _frame(spark, [1, 2]).where(F.lit(False)), store_path)
    got = spark.read.parquet(store_path)
    assert got.columns == ["k", "v"] and got.count() == 0
    assert not fs.exists(spark, fs.staging_path(store_path))
    assert not fs.exists(spark, fs.old_path(store_path))


def test_flat_store_moves_to_tiers_on_first_append(spark, store_path):
    # an empty first batch still leaves a readable, schema-bearing store
    ST.append(_frame(spark, []), store_path, 0)
    assert ST.tiers(spark, store_path) == set()
    flat = spark.read.parquet(store_path)
    assert sorted(flat.columns) == sorted(["k", "v", ST.BATCH_COL]) and flat.count() == 0
    ST.append(_frame(spark, [7]), store_path, 1)
    assert ST.tiers(spark, store_path) == {1}
    assert _rows(spark.read.parquet(store_path), ("k", "v", ST.BATCH_COL)) == [(7, "x7", 1)]
    ST.append(_frame(spark, [8]), store_path, 2)
    assert ST.tiers(spark, store_path) == {1, 2}


def test_store_protocol_lives_in_one_module():
    """Dynamic-overwrite writes, staging dirs and ``_batch_id=`` path
    parsing belong to ``store.py`` (and ``sinks.py``'s archive
    writers); ``queries/indexes.py`` keeps its per-process staging
    build, which promotes with ``fs.swap_directory``."""
    allowed = {"store.py", "sinks.py"}
    patterns = {
        "partitionOverwriteMode": re.compile(r"partitionOverwriteMode"),
        "fs.staging_path": re.compile(r"\bfs\.staging_path\b"),
        "_batch_id= parsing": re.compile(r"_batch_id="),
        "fs.swap_directory": re.compile(r"\bfs\.swap_directory\("),
    }
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in allowed:
            continue
        src = path.read_text()
        for name, pat in patterns.items():
            if name == "fs.swap_directory" and rel == "queries/indexes.py":
                continue
            if pat.search(src):
                offenders.append(f"{rel}: {name}")
    assert offenders == []
