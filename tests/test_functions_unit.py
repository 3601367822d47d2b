"""Unit tests for the text / vector column-function libraries."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.functions import text as TXT
from updating_datasets_data_engineering_spark.functions import vectors as V


@pytest.fixture(scope="module")
def one(spark):
    def run(col):
        return spark.range(1).select(col.alias("v")).collect()[0]["v"]

    return run


def test_shingles(spark):
    row = spark.createDataFrame([Row(t="a b c d")]).select(
        TXT.shingles(F.col("t"), 3).alias("s")
    ).collect()[0]
    assert row["s"] == ["a b c", "b c d"]


def test_shingles_short_text(spark):
    row = spark.createDataFrame([Row(t="a b")]).select(
        TXT.shingles(F.col("t"), 3).alias("s")
    ).collect()[0]
    assert row["s"] == []


def test_fingerprint_is_min_md5_prefix(spark):
    words = ["spark", "engine", "dedup"]
    want = min(hashlib.md5(w.encode()).hexdigest()[:8] for w in words)
    row = spark.createDataFrame([Row(t=" ".join(words))]).select(
        TXT.doc_fingerprint(F.col("t")).alias("f")
    ).collect()[0]
    assert row["f"] == want


def test_minhash_collides_for_identical_token_sets(spark):
    df = spark.createDataFrame([Row(t="b a c"), Row(t="a b c c")])
    sig = TXT.minhash_signature_of(TXT.distinct_words(F.col("t")), 4)
    sigs = df.select(*[s.alias(f"s{i}") for i, s in enumerate(sig)])
    rows = sigs.collect()
    assert rows[0] == rows[1]  # same token SET -> identical signature


def test_langid_obvious_sentences(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat is in the house and it was warm"),
            Row(t="el perro y la casa de los que en un por con"),
            Row(t="zzz qqq xxx"),
        ]
    )
    out = [r["l"] for r in df.select(TXT.lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "es", "und"]


def test_quality_score_bounds(spark, sf_dir):
    from updating_datasets_data_engineering_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(TXT.quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0, 2.0], b=[1.0, 0.0, 2.0], c=[0.0, 3.0, 0.0])]
    )
    row = df.select(
        V.cosine(F.col("a"), F.col("b")).alias("same"),
        V.cosine(F.col("a"), F.col("c")).alias("orth"),
        V.dot(F.col("a"), F.col("c")).alias("dot0"),
    ).collect()[0]
    assert row["same"] == pytest.approx(1.0)
    assert row["orth"] == pytest.approx(0.0)
    assert row["dot0"] == pytest.approx(0.0)


def test_srp_bucket_deterministic_and_bounded(spark, sf_dir):
    from updating_datasets_data_engineering_spark.operators.similarity import _deterministic_planes
    from updating_datasets_data_engineering_spark.tables import load_table

    planes = _deterministic_planes(4, 64)
    assert planes == _deterministic_planes(4, 64)  # reproducible
    for p in planes:
        assert math.isclose(sum(v * v for v in p), 1.0, rel_tol=1e-9)  # unit norm
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = emb.select(
        __import__(
            "updating_datasets_data_engineering_spark.functions.vectors", fromlist=["srp_bucket"]
        ).srp_bucket(F.col("embedding"), planes).alias("b")
    )
    lo, hi = buckets.agg(F.min("b"), F.max("b")).collect()[0]
    assert 0 <= lo and hi <= 15  # 2^4 buckets


def test_multimodal_feature_contract(spark):
    from updating_datasets_data_engineering_spark.operators.multimodal import multimodal_features

    docs = spark.createDataFrame([Row(doc_id=1, text="hello world")])
    row = multimodal_features(docs).collect()[0]
    assert row["n_bytes"] == 11
    assert row["sha256"] == hashlib.sha256(b"hello world").hexdigest()
    assert row["width"] == (11 % 640) + 1
    assert row["height"] == (11 % 480) + 1
    assert row["media_type"] == "image/fake"


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The 100 TB path for distinct counts is HLL; its error must stay
    within the configured rsd against the exact count."""
    from updating_datasets_data_engineering_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06  # 3x rsd
