"""Property-based lifecycle check for the repeated-span family: on
random block-structured corpora, the incremental probe and the delete
maintenance must each equal the full recompute restricted per their
output contracts (the same restrictions the DuckDB oracles encode,
re-derived here with independent DataFrame ops)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.operators import dedup as D

K = 5
BLOCKS = [" ".join(f"b{t}w{i}" for i in range(6)) for t in range(6)]

# a corpus is 4-8 docs, each 2-4 blocks drawn from 6 types — small
# alphabet so cross-doc gram sharing (and its flips) actually happens
corpus_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=5), min_size=2, max_size=4),
    min_size=4,
    max_size=8,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _build(spark, blocks_per_doc):
    rows = [
        (i, " ".join(BLOCKS[b] for b in blocks))
        for i, blocks in enumerate(blocks_per_doc)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@settings(max_examples=12, deadline=None)
@given(corpus_strategy)
def test_incremental_equals_restricted_recompute(spark, blocks_per_doc):
    docs = _build(spark, blocks_per_doc)
    archive = docs.where(F.col("doc_id") % 3 != 0)
    delta = docs.where(F.col("doc_id") % 3 == 0)
    posting = D.span_posting_index(archive, k=K)
    sketch = D.span_gram_df(posting)
    got = D.incremental_repeated_spans(delta, posting, sketch, k=K)

    # independent restriction: delta docs + archive docs holding a gram
    # the delta newly makes cross-document (archive df 1 -> total >= 2)
    all_post = D.span_posting_index(docs, k=K)
    agg = all_post.groupBy("gh").agg(
        F.countDistinct(F.when(F.col("doc_id") % 3 != 0, F.col("doc_id"))).alias("a"),
        F.countDistinct("doc_id").alias("n"),
    )
    flipped = agg.where((F.col("a") == 1) & (F.col("n") >= 2)).select("gh")
    out_docs = (
        delta.select("doc_id")
        .unionByName(
            all_post.join(flipped, "gh", "left_semi")
            .where(F.col("doc_id") % 3 != 0)
            .select("doc_id")
        )
        .distinct()
    )
    want = D.repeated_span_intervals(docs, k=K).join(out_docs, "doc_id", "left_semi")
    assert _rows(got) == _rows(want)


@settings(max_examples=12, deadline=None)
@given(corpus_strategy)
def test_retract_equals_restricted_survivor_recompute(spark, blocks_per_doc):
    docs = _build(spark, blocks_per_doc)
    posting = D.span_posting_index(docs, k=K)
    sketch = D.span_gram_df(posting)
    tombs = docs.where(F.col("doc_id") % 4 == 1).select("doc_id")
    survivors = docs.join(tombs, "doc_id", "left_anti")
    got = D._retract_span_parts(tombs, posting, sketch, K)[1]

    # independent restriction: survivors holding a revoked gram
    # (full df >= 2, surviving df < 2)
    agg = posting.groupBy("gh").agg(
        F.countDistinct("doc_id").alias("n"),
        F.countDistinct(F.when(F.col("doc_id") % 4 != 1, F.col("doc_id"))).alias("s"),
    )
    revoked = agg.where((F.col("n") >= 2) & (F.col("s") < 2)).select("gh")
    touched = (
        posting.join(revoked, "gh", "left_semi")
        .where(F.col("doc_id") % 4 != 1)
        .select("doc_id")
        .distinct()
    )
    want = D.repeated_span_intervals(survivors, k=K).join(
        touched, "doc_id", "left_semi"
    )
    assert _rows(got) == _rows(want)

    # and the report covers exactly the touched docs, zeros included
    report = D.retract_spans_summary(tombs, posting, sketch, k=K)
    assert _rows(report.select("doc_id")) == _rows(touched)
