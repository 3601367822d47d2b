"""Round-9 query semantics beyond the oracle gate: the incremental
TF-IDF probe must equal the batch recompute's delta restriction, and
the snapshot diff must classify each change kind correctly on a
hand-built corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.queries.curation import docs_snapshot_diff
from updating_datasets_data_engineering_spark.queries.indexes import (
    docs_tfidf_incremental,
    docs_tfidf_keywords,
)


def test_tfidf_incremental_equals_batch_restriction(spark, sf_dir):
    """The probe's contract: batch full recompute restricted to delta
    docs — same df/N (corpus-wide), same tf/doc-length (delta-local)."""
    batch = (
        docs_tfidf_keywords(spark, sf_dir)
        .where(F.col("doc_id") % 10 == 0)
        .orderBy("doc_id", "rank")
        .collect()
    )
    incr = (
        docs_tfidf_incremental(spark, sf_dir)
        .orderBy("doc_id", "rank")
        .collect()
    )
    assert len(batch) > 0
    assert [tuple(r) for r in incr] == [tuple(r) for r in batch]


def test_snapshot_diff_classifies_each_kind(spark, sf_dir):
    df = docs_snapshot_diff(spark, sf_dir)
    by_kind = {
        r["change"]: r["n"]
        for r in df.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # fixture arithmetic: added = in today (doc_id % 7 != 0) but not in
    # yesterday (doc_id % 10 == 0 and % 7 != 0); removed = the converse;
    # changed = in both with doc_id % 5 == 0 (the revised-text slice)
    from updating_datasets_data_engineering_spark.tables import load_table

    ids = [r["doc_id"] for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()]
    added = sum(1 for i in ids if i % 7 != 0 and i % 10 == 0)
    removed = sum(1 for i in ids if i % 10 != 0 and i % 7 == 0)
    changed = sum(1 for i in ids if i % 10 != 0 and i % 7 != 0 and i % 5 == 0)
    assert by_kind.get("added", 0) == added
    assert by_kind.get("removed", 0) == removed
    assert by_kind.get("changed", 0) == changed
    # unchanged docs are suppressed: total rows = the three classes only
    assert df.count() == added + removed + changed


def test_snapshot_diff_change_is_content_based(spark, sf_dir):
    """Every 'changed' doc is in the revised-text slice — the hash
    compare never flags an identical re-crawl."""
    changed_ids = [
        r["doc_id"]
        for r in docs_snapshot_diff(spark, sf_dir)
        .where(F.col("change") == "changed")
        .collect()
    ]
    assert changed_ids, "fixture must exercise the changed class"
    assert all(i % 5 == 0 for i in changed_ids)


def test_bm25_incremental_equals_batch_rebuild(spark, sf_dir):
    """Index-append ≡ full rebuild: the incremental postings probe
    must reproduce the batch ranking row-for-row, and the delta must
    actually be represented in the output (the equality is not
    vacuous on an archive-only ranking)."""
    from updating_datasets_data_engineering_spark.queries.indexes import (
        docs_bm25_incremental,
        docs_bm25_search,
    )

    batch = sorted(
        tuple(r) for r in docs_bm25_search(spark, sf_dir).collect()
    )
    incr = sorted(
        tuple(r) for r in docs_bm25_incremental(spark, sf_dir).collect()
    )
    assert len(batch) > 0
    assert incr == batch
    assert any(r[1] % 10 == 0 for r in batch), (
        "no delta doc in the top-k: the merge legs are untested"
    )


def test_bm25_query_terms_are_top_df(spark, sf_dir):
    """The deterministic query set: every query term's df is >= the
    df of every non-query term (ties broken by term ASC)."""
    from pyspark.sql import functions as F

    from updating_datasets_data_engineering_spark.functions import text as TXT
    from updating_datasets_data_engineering_spark.queries.indexes import _BM25_NQ
    from updating_datasets_data_engineering_spark.queries.indexes import docs_bm25_search
    from updating_datasets_data_engineering_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    dfreq = (
        docs.select("doc_id", F.explode(TXT.words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .count()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    ranked = sorted(
        ((-r["df"], r["term"]) for r in dfreq.collect())
    )
    want = {t for _, t in ranked[:_BM25_NQ]}
    got = {
        r["query_term"]
        for r in docs_bm25_search(spark, sf_dir).select("query_term").distinct().collect()
    }
    assert got == want


def test_semantic_retract_flips_and_freezes(spark, sf_dir):
    """The delete leg's two contracts: (a) the re-verify is LIVE —
    at least one surviving planted copy flips dup -> non-dup when its
    original (its only >=0.92 witness) is tombstoned; (b) rows in
    cells without a tombstone are byte-frozen from the persisted
    state; (c) no tombstone survives; (d) flips are monotone
    (dup -> non-dup only)."""
    from pyspark.sql import functions as F

    from updating_datasets_data_engineering_spark.operators import similarity as SIM
    from updating_datasets_data_engineering_spark.queries.indexes import (
        _persisted_index,
    )
    from updating_datasets_data_engineering_spark.queries.indexes import (
        dedup_semantic_retract,
    )
    from updating_datasets_data_engineering_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    n_cells = SIM.adaptive_cell_count(corpus.count())
    state = {
        r["vec_id"]: (r["cell"], r["is_dup"])
        for r in _persisted_index(
            spark,
            sf_dir,
            "sem_flags_full",
            lambda: SIM.semantic_dedup(corpus, n_cells=n_cells, threshold=0.92),
        ).collect()
    }
    out = {
        r["vec_id"]: (r["cell"], r["is_dup"])
        for r in dedup_semantic_retract(spark, sf_dir).collect()
    }
    tombs = {v for v in state if v % 50 == 25 and v < 1_000_000}
    assert tombs, "fixture must tombstone something"
    assert not (tombs & set(out)), "tombstoned ids must not survive"
    assert set(out) == set(state) - tombs
    hot_cells = {state[v][0] for v in tombs}
    flips = [v for v in out if state[v][1] != out[v][1]]
    assert flips, "re-verify leg is vacuous: no flag flipped"
    for v in flips:
        assert state[v][1] and not out[v][1], "flip must be dup -> non-dup"
        assert out[v][0] in hot_cells, "flip outside an affected cell"
    for v, (cell, dup) in out.items():
        if cell not in hot_cells:
            assert (cell, dup) == state[v], "frozen row changed"


def test_bm25_retract_equals_survivor_rebuild(spark, sf_dir):
    """The delete leg's contract: subtract-from-state == batch rebuild
    on the survivor corpus, with live legs — at least one tombstone
    held a query-term posting (the anti-join matters) and the rankings
    actually move (some surviving doc's rank differs from the
    pre-delete archive ranking)."""
    from pyspark.sql import functions as F

    from updating_datasets_data_engineering_spark.functions import text as TXT
    from updating_datasets_data_engineering_spark.queries.indexes import (
        _bm25_rank,
        _BM25_NQ,
    )
    from updating_datasets_data_engineering_spark.queries.indexes import docs_bm25_retract
    from updating_datasets_data_engineering_spark.tables import load_table

    out = sorted(tuple(r) for r in docs_bm25_retract(spark, sf_dir).collect())

    # survivor rebuild from scratch (no state) — the oracle in Spark form
    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 10 != 0) & ~(F.col("doc_id") % 9 == 4)
    )
    tf = (
        docs.select("doc_id", F.explode(TXT.words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "term").limit(_BM25_NQ)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.avg("dl").alias("avgdl")
    )
    rebuild = sorted(
        tuple(r)
        for r in _bm25_rank(tf.join(F.broadcast(qterms), "term"), dl, stats).collect()
    )
    assert out == rebuild
    # live legs: tombstones actually intersect the query-term postings
    tomb = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 9 == 4)
    )
    qset = {r["term"] for r in qterms.collect()}
    tomb_terms = {
        r["term"]
        for r in tomb.select(
            F.explode(TXT.words(F.col("text"))).alias("term")
        ).distinct().collect()
    }
    assert qset & tomb_terms, "no tombstone held a query-term posting"


def test_hybrid_search_fuses_both_legs(spark, sf_dir):
    """RRF semantics: every query returns its top-5; ranks are dense
    and ordered by fused score; and the fusion is LIVE — at least one
    returned doc sits in both pools (its rrf exceeds the best possible
    single-leg contribution, 1/(k+1))."""
    from updating_datasets_data_engineering_spark.queries.indexes import (
        _HYBRID_QN,
        _RRF_K,
    )
    from updating_datasets_data_engineering_spark.queries.indexes import docs_hybrid_search

    rows = docs_hybrid_search(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(_HYBRID_QN))
    single_leg_max = 1.0 / (_RRF_K + 1)
    assert any(r["rrf"] > single_leg_max + 1e-9 for r in rows), (
        "no doc scored above the single-leg maximum: the fusion never "
        "saw a doc in both pools"
    )
    for q, qr in by_q.items():
        qr.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in qr] == list(range(1, len(qr) + 1))
        scores = [r["rrf"] for r in qr]
        assert scores == sorted(scores, reverse=True)
