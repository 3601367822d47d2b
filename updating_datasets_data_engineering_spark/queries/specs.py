"""The ordered QuerySpec registry (driver grades SPECS[:50]).

Split from registry.py (VERDICT r6 item 7); see git history for
provenance.  Import the builders from here; ``registry`` is the catalogue.
"""

from __future__ import annotations

# noqa: F401 — shared prelude; not every module uses every import
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import caching
from .. import oracles_ext as OE
from ..operators import analytics as A
from ..operators import dedup as D
from ..operators import ingest as I
from ..operators import merge as M
from ..operators import multimodal as MM
from ..operators import similarity as SIM
from ..sources import shot_synth as SS
from ..session import AQE_CACHE_CONF, scoped_confs
from ..tables import load_table
from ._base import (
    Callable,
    DataFrame,
    OE,
    QuerySpec,
    SparkSession,
    caching,
)
from .parity import (
    _ORACLE_MERGE_CDC,
    _ORACLE_MERGE_DRIFT,
    _ORACLE_MERGE_REFERENCE,
    _ORACLE_MERGE_UPSERT,
    _ORACLE_SCD2,
    _ORACLE_SNAPSHOT_DIFF,
    _oracle_shot_ingest_sql,
    _oracle_shot_parse_sql,
    _oracle_shot_team_summary_sql,
    _oracle_shot_time_sql,
    _oracle_streaming_dedup_sql,
    merge_dedup_reference,
    merge_scd2_customers,
    merge_schema_drift,
    merge_upsert_anti_join,
    merge_upsert_delta_wins,
    merge_upsert_with_deletes,
    shot_ingest_json,
    shot_parse,
    shot_team_summary,
    shot_team_summary_bucketed,
    shot_time_typed,
    snapshot_diff_orders,
    streaming_dedup_archive,
)
from .analytics import (
    _ORACLE_ABOVE_AVG,
    _ORACLE_ANTI,
    _ORACLE_ASOF,
    _ORACLE_ASOF_FORWARD,
    _ORACLE_BY_MONTH,
    _ORACLE_CONCURRENCY,
    _ORACLE_CUBE,
    _ORACLE_DISTINCT,
    _ORACLE_EXISTS,
    _ORACLE_FULL_OUTER,
    _ORACLE_FUNNEL,
    _ORACLE_GAPS,
    _ORACLE_GROUPING_SETS,
    _ORACLE_HOURLY,
    _ORACLE_HOURLY_STREAMING,
    _ORACLE_SESSIONS_STREAMING,
    _ORACLE_INCREMENTAL,
    _ORACLE_INC_AVG_DISTINCT,
    _ORACLE_MOVING_AVG,
    _ORACLE_NATION_SEGMENTS,
    _ORACLE_PIVOT,
    _ORACLE_PROPS_JSON,
    _ORACLE_Q1,
    _ORACLE_Q10,
    _ORACLE_Q13,
    _ORACLE_Q14,
    _ORACLE_Q15,
    _ORACLE_Q17,
    _ORACLE_Q18,
    _ORACLE_Q19,
    _ORACLE_Q22,
    _ORACLE_Q3,
    _ORACLE_Q4,
    _ORACLE_Q5,
    _ORACLE_Q6,
    _ORACLE_Q7,
    _ORACLE_QUANTILES,
    _ORACLE_RANGE_FRAME,
    _ORACLE_RANGE_JOIN,
    _ORACLE_ROLLUP,
    _ORACLE_SALTED,
    _ORACLE_SCALAR_CENSUS,
    _ORACLE_SESSIONIZE,
    _ORACLE_SET_OPS,
    _ORACLE_TIME_ROLLUP,
    _ORACLE_TREND,
    _ORACLE_UNPIVOT,
    _ORACLE_WINDOW_RUNNING,
    _ORACLE_WINDOW_TOP,
    _ORACLE_WORD_COUNTS,
    _SQL_PASSTHROUGH,
    _oracle_deciles_sql,
    above_avg_customers,
    cube_order_stats,
    customers_without_orders,
    distinct_counts,
    docs_quality_deciles,
    events_asof_forward,
    events_asof_join,
    events_concurrency,
    events_funnel,
    events_gaps,
    events_hourly,
    events_hourly_streaming,
    events_sessions_streaming,
    events_moving_avg,
    events_pivot,
    events_props_json,
    events_range_frame,
    events_range_join,
    events_time_rollup,
    events_trend,
    events_type_stats_salted,
    events_unpivot,
    grouping_sets_revenue,
    incremental_avg_distinct,
    incremental_events_summary,
    nation_balance_full_outer,
    nation_key_set_ops,
    nation_segments,
    orders_by_month,
    orders_with_big_items,
    price_quantiles,
    q1,
    q10_returned,
    q13_custdist,
    q14_promo,
    q15_top,
    q17_small,
    q18_large,
    q19_bands,
    q22_idle,
    q3,
    q4_late,
    q5,
    q6_revenue_change,
    q7_volume,
    rollup_revenue,
    scalar_function_census,
    sessionize,
    sql_passthrough_revenue,
    window_running_total,
    window_top_customers,
    word_counts,
)
from .extension import (
    _oracle_clusters_sql,
    _oracle_dedup_corpus_sql,
    dedup_clusters,
    dedup_containment,
    dedup_exact_q,
    dedup_minhash_lsh_q,
    dedup_ngram_jaccard_q,
    dedup_simhash_q,
    doc_fingerprints,
    docs_deduplicated,
    text_langid,
    text_metrics,
)
from .indexes import (
    _ORACLE_BM25,
    _ORACLE_BM25_RETRACT,
    _ORACLE_CHUNKS,
    _ORACLE_FUZZY,
    _ORACLE_PARTS_BY_BRAND,
    _ORACLE_Q11,
    _ORACLE_Q12,
    _ORACLE_Q16,
    _ORACLE_Q2,
    _ORACLE_Q20,
    _ORACLE_Q21,
    _ORACLE_Q8,
    _ORACLE_Q9,
    _ORACLE_NOVELTY,
    _ORACLE_REPEATED_SPANS,
    _ORACLE_SPANS_RETRACT,
    _ORACLE_REPEATED_SPANS_INCREMENTAL,
    _ORACLE_REPEATED_SPANS_UNALIGNED,
    _ORACLE_SAMPLE,
    _ORACLE_TFIDF,
    _ORACLE_TFIDF_INCREMENTAL,
    _oracle_clusters_incremental_sql,
    _oracle_labels_after_delete_sql,
    _oracle_pack_sql,
    _oracle_quality_filter_sql,
    _oracle_sentiment_sql,
    dedup_clusters_incremental,
    dedup_containment_incremental,
    dedup_containment_retract,
    dedup_fuzzy_titles,
    dedup_incremental,
    dedup_incremental_simhash,
    dedup_labels_after_delete,
    dedup_minhash_lsh_salted,
    dedup_semantic,
    dedup_semantic_incremental,
    dedup_semantic_retract,
    dedup_semantic_streaming,
    doc_chunks,
    docs_contamination,
    docs_bm25_incremental,
    docs_bm25_retract,
    docs_bm25_search,
    docs_bm25_streaming,
    docs_hybrid_search,
    docs_hybrid_search_ann,
    _oracle_hybrid_sql,
    _oracle_hybrid_ann_sql,
    archive_roundtrip_orders,
    _ORACLE_ARCHIVE_ROUNDTRIP,
    docs_novelty_scored,
    docs_pack_sequences,
    docs_quality_filter,
    docs_repeated_spans,
    docs_repeated_spans_incremental,
    docs_repeated_spans_retract,
    docs_repeated_spans_unaligned,
    docs_repetition,
    docs_sample_stratified,
    docs_tfidf_incremental,
    docs_tfidf_keywords,
    docs_tfidf_retract,
    docs_tfidf_streaming,
    _ORACLE_TFIDF_RETRACT,
    embedding_near_dup,
    embedding_near_dup_ann,
    embedding_near_dup_t90,
    knn_ann_ivf,
    knn_ann_ivf_incremental,
    knn_ann_srp,
    knn_ann_streaming,
    _SURVIVOR_EMB_SQL,
    knn_bruteforce,
    multimodal_features_q,
    parts_by_brand,
    q11_important,
    q12_priority_q,
    q16_supplier_counts_q,
    q20_dominant,
    q21_waiting,
    q2_min_cost,
    q8_market_share_q,
    q9_product_profit_q,
    text_redact,
    text_sentiment,
)
from .cohorts import (
    _ORACLE_ANOMALY,
    _ORACLE_HISTOGRAM,
    _ORACLE_MARKOV,
    _ORACLE_MIXTURE,
    _ORACLE_QUANTIZE,
    _ORACLE_RETENTION,
    _ORACLE_SCD2_ASOF,
    _ORACLE_SHUFFLE_SHARDS,
    _ORACLE_SPLIT,
    _ORACLE_WINDOW_CENSUS,
    _oracle_norm_outliers_sql,
    _oracle_profile_sql,
    _oracle_split_safe_sql,
    docs_mixture_rebalance,
    docs_shuffle_shards,
    docs_split_assign,
    docs_split_leakage_safe,
    embedding_norm_outliers,
    embedding_quantize,
    events_anomaly_hours,
    events_markov_transitions,
    events_retention_cohorts,
    events_user_count_approx,
    _ORACLE_USER_COUNT_APPROX,
    events_value_histogram,
    merge_scd2_asof,
    orders_profile,
    window_function_census,
)
from .curation import (
    _ORACLE_BOILERPLATE,
    _ORACLE_BOILERPLATE_INCR,
    _ORACLE_DATASET_CARD,
    _ORACLE_DELTA_QUALITY,
    _ORACLE_DUP_RATE,
    _ORACLE_SNAPSHOT_DIFF_DOCS,
    _ORACLE_EPOCH_PLAN,
    _ORACLE_OVERLAP,
    _ORACLE_SLIDING_USERS,
    _ORACLE_SOURCE_CAP,
    _ORACLE_UNIGRAM,
    docs_boilerplate_incremental,
    docs_boilerplate_strip,
    docs_cross_doc_dup_rate,
    docs_dataset_card,
    docs_delta_quality_scored,
    docs_epoch_plan,
    docs_snapshot_diff,
    docs_source_cap,
    docs_unigram_logprob,
    events_sliding_active_users,
    sources_overlap_matrix,
)
from .layout import (
    _ORACLE_K_ANONYMITY,
    _ORACLE_ZONEMAP_RETRACT,
    _oracle_zorder_incr_sql,
    _oracle_zorder_sql,
    events_k_anonymity,
    events_zonemap_retract,
    events_zorder_incremental,
    events_zorder_layout,
)
from .graph import (
    _ORACLE_BIGRAM_LM,
    _ORACLE_BLOOM_PROBE,
    _ORACLE_CLASSIFIER,
    _ORACLE_COMMUNITIES,
    _ORACLE_COOCCURRENCE,
    _ORACLE_DSIR,
    _ORACLE_JSD,
    _ORACLE_JSD_HASHED,
    _ORACLE_PAGERANK,
    _ORACLE_PPR,
    _ORACLE_RFM,
    _ORACLE_SIG_EDGES_INCR,
    _ORACLE_SKYLINE,
    _ORACLE_TRIANGLES,
    _ORACLE_TYPE_QUANTILES,
    _ORACLE_VALUE_QUANTILES,
    _ORACLE_WEIGHTED_SAMPLE,
    _ORACLE_WEIGHTED_SAMPLE_SRC,
    dedup_delta_bloom_probe,
    docs_bigram_logprob,
    docs_classifier_score,
    docs_importance_resample,
    docs_weighted_sample,
    docs_weighted_sample_per_source,
    events_rfm_segments,
    incremental_type_quantiles,
    incremental_value_quantiles,
    orders_skyline,
    sources_jsd_divergence,
    sources_jsd_hashed,
    users_communities,
    users_cooccurrence,
    users_cooccurrence_salted,
    users_pagerank,
    users_pagerank_personalized,
    users_sig_edges_incremental,
    users_sig_edges_retract,
    _ORACLE_SIG_EDGES_RETRACT,
    users_sig_edges_streaming,
    users_triangles,
    users_triangles_incremental,
    users_triangles_retract,
    _ORACLE_TRIANGLES_RETRACT,
    users_triangles_streaming,
)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Ordering contract: the driver grades at most the FIRST 50 specs each round
# (CORRECTNESS_r{N}.json == SPECS[:50]). The LLM-pipeline extension tier and
# the time-series family lead so they always land inside the grading window;
# the reference-parity (§2) queries follow; TPC-H/analytics shapes — all
# driver-green in r1/r2 and locally pinned by tests/test_oracle_parity.py —
# rotate to the tail.
SPECS: list[QuerySpec] = [
    # --- r12 births (enter the window in their birth round) ---------------
    # the watermarked SESSION-window aggregation run end to end as a
    # stateful streaming plan — the last §2.9 window shape without a
    # driver row: dynamic-length windows, APPEND-mode emission when the
    # watermark passes a session's end, planted late wave dropped;
    # served upsert ≡ gaps-and-islands batch sessionization of the
    # non-late rows restricted to finalized sessions
    QuerySpec(
        "events_sessions_streaming",
        events_sessions_streaming,
        _ORACLE_SESSIONS_STREAMING,
    ),
    # users_cooccurrence with the pair aggregation as a salted
    # two-stage reduce (skew.salted_agg — VERDICT r11 item 7): a
    # celebrity pair can no longer concentrate one reducer; algebraic
    # counts re-combine exactly, so it shares the unsalted oracle
    QuerySpec(
        "users_cooccurrence_salted",
        users_cooccurrence_salted,
        _ORACLE_COOCCURRENCE,
    ),
    # --- r12 rotation block (ten-spec drain of the never-graded tail;
    # schedule pinned in test_registry_window.py — pending hits 0 at r13).
    # First-time graded this round: dedup_delta_bloom_probe,
    # docs_bigram_logprob, docs_boilerplate_incremental,
    # docs_classifier_score, docs_delta_quality_scored,
    # docs_importance_resample, incremental_type_quantiles,
    # incremental_value_quantiles, orders_skyline, sources_jsd_divergence.
    # Out (driver-green r10/r11, still oracle-gated every round by
    # tests/test_oracle_parity.py): the r10-graded graph tier
    # (users_cooccurrence/pagerank/triangles/communities/
    # sig_edges_incremental/pagerank_personalized), the r10/r11
    # streaming births (users_sig_edges_streaming, knn_ann_streaming,
    # docs_tfidf_streaming, users_triangles_incremental,
    # docs_tfidf_retract, archive_roundtrip_orders). ---------------------
    QuerySpec("dedup_delta_bloom_probe", dedup_delta_bloom_probe, _ORACLE_BLOOM_PROBE),
    QuerySpec("docs_bigram_logprob", docs_bigram_logprob, _ORACLE_BIGRAM_LM),
    QuerySpec(
        "docs_boilerplate_incremental",
        docs_boilerplate_incremental,
        _ORACLE_BOILERPLATE_INCR,
    ),
    QuerySpec("docs_classifier_score", docs_classifier_score, _ORACLE_CLASSIFIER),
    QuerySpec(
        "docs_delta_quality_scored", docs_delta_quality_scored, _ORACLE_DELTA_QUALITY
    ),
    QuerySpec("docs_importance_resample", docs_importance_resample, _ORACLE_DSIR),
    QuerySpec(
        "incremental_type_quantiles",
        incremental_type_quantiles,
        _ORACLE_TYPE_QUANTILES,
    ),
    QuerySpec(
        "incremental_value_quantiles",
        incremental_value_quantiles,
        _ORACLE_VALUE_QUANTILES,
    ),
    QuerySpec("orders_skyline", orders_skyline, _ORACLE_SKYLINE),
    QuerySpec("sources_jsd_divergence", sources_jsd_divergence, _ORACLE_JSD),
    # r13 drain (the FINAL two never-driver-graded specs — pending hits
    # 0; window_function_census / events_value_histogram evicted, both
    # driver-green r12, oracle-gated below)
    QuerySpec("docs_weighted_sample", docs_weighted_sample, _ORACLE_WEIGHTED_SAMPLE),
    QuerySpec(
        "docs_weighted_sample_per_source",
        docs_weighted_sample_per_source,
        _ORACLE_WEIGHTED_SAMPLE_SRC,
    ),
    # HLL register values differ across engines by construction, so the
    # spec grades the sketch's accuracy CONTRACT instead: exact anchor
    # columns + a Spark-evaluated within_5pct boolean the oracle pins to
    # TRUE (VERDICT r10 item 4 — no more guaranteed-err window slot)
    QuerySpec(
        "events_user_count_approx",
        events_user_count_approx,
        _ORACLE_USER_COUNT_APPROX,
    ),
    QuerySpec("merge_scd2_asof", merge_scd2_asof, _ORACLE_SCD2_ASOF),
    # --- r11 births (enter the window in their birth round) ---------------
    # streaming triangle maintenance: sig-edges count partials feed a
    # served edge view whose diff against the previous snapshot drives
    # the same delta-anchored wedge correction the incremental leg is
    # graded on; final table ≡ full recompute, so it shares the
    # users_triangles oracle
    QuerySpec(
        "users_triangles_streaming", users_triangles_streaming, _ORACLE_TRIANGLES
    ),
    # the watermarked tumbling-window aggregation run END TO END as a
    # stateful streaming plan: two checkpointed micro-batches, wave 2
    # entirely late (older than the advanced watermark) and DROPPED by
    # the state store; served upsert ≡ the batch aggregate minus the
    # late rows, which is what the oracle computes (VERDICT r10 item 8)
    QuerySpec(
        "events_hourly_streaming", events_hourly_streaming, _ORACLE_HOURLY_STREAMING
    ),
    # the graph family's DELETE leg: GDPR-style row retraction corrects
    # the persisted full-corpus counts by delta-anchored subtraction;
    # output == the full recompute on the survivor corpus (its oracle)
    QuerySpec(
        "users_sig_edges_retract", users_sig_edges_retract, _ORACLE_SIG_EDGES_RETRACT
    ),
    # triangle counts under the same retraction: the persisted triangle
    # table corrected across the survivor edge diff (delete-dominated
    # churn); completes the triangle family's four-leg lifecycle
    QuerySpec(
        "users_triangles_retract", users_triangles_retract, _ORACLE_TRIANGLES_RETRACT
    ),
    # --- r11 rotation block (ten-spec drain of the never-graded tail;
    # schedule pinned in test_registry_window.py).  First-time graded
    # this round: embedding_quantize, docs_split_assign, docs_source_cap,
    # docs_cross_doc_dup_rate, docs_epoch_plan, events_sliding_active_users,
    # docs_dataset_card, docs_unigram_logprob, sources_overlap_matrix,
    # events_rfm_segments.  Out (driver-green r9/r10, still oracle-gated
    # every round by tests/test_oracle_parity.py): events_trend,
    # dedup_fuzzy_titles, dedup_semantic, events_retention_cohorts,
    # events_markov_transitions, events_anomaly_hours,
    # embedding_norm_outliers, docs_mixture_rebalance, docs_shuffle_shards,
    # docs_bm25_streaming, docs_hybrid_search, dedup_semantic_streaming. ---
    QuerySpec("embedding_quantize", embedding_quantize, _ORACLE_QUANTIZE),
    QuerySpec("docs_split_assign", docs_split_assign, _ORACLE_SPLIT),
    QuerySpec("docs_source_cap", docs_source_cap, _ORACLE_SOURCE_CAP),
    QuerySpec("docs_cross_doc_dup_rate", docs_cross_doc_dup_rate, _ORACLE_DUP_RATE),
    QuerySpec("docs_epoch_plan", docs_epoch_plan, _ORACLE_EPOCH_PLAN),
    QuerySpec(
        "events_sliding_active_users", events_sliding_active_users, _ORACLE_SLIDING_USERS
    ),
    QuerySpec("docs_dataset_card", docs_dataset_card, _ORACLE_DATASET_CARD),
    QuerySpec("docs_unigram_logprob", docs_unigram_logprob, _ORACLE_UNIGRAM),
    QuerySpec("sources_overlap_matrix", sources_overlap_matrix, _ORACLE_OVERLAP),
    QuerySpec("events_rfm_segments", events_rfm_segments, _ORACLE_RFM),
    # (the whole r9 rotation block — events_trend, dedup_fuzzy_titles,
    # dedup_semantic, events_retention_cohorts, events_markov_transitions,
    # events_anomaly_hours, embedding_norm_outliers, docs_mixture_rebalance,
    # docs_shuffle_shards, orders_profile — went driver-green r9/r10 and
    # rotated to the pytest-pinned tail at r11.)
    # (r9 births docs_bm25_streaming, docs_hybrid_search,
    # dedup_semantic_streaming: driver-green r9/r10, rotated to the
    # pytest-pinned tail at r11.)
    # --- r7 rotation block, still resident --------------------------------
    # (the r8 rotation block — dedup_containment_retract, q8/q9/q12/q16,
    # dedup_minhash_lsh_salted, dedup_labels_after_delete,
    # merge_scd2_customers, snapshot_diff_orders, events_concurrency,
    # events_funnel — went driver-green in r8/r9 and rotated to the
    # pytest-pinned tail at r10.)
    # --- LLM-data-pipeline tier: dedup -----------------------------------
    QuerySpec(
        "dedup_incremental",
        dedup_incremental,
        OE.incremental_minhash_sql(16, 4, 0.4, ngram=3, delta_mod=10),
    ),
    # r5 window rotation (one slot per round, the r3/r4 convention):
    # docs_boilerplate_strip in — the flagship of the cross-document
    # curation block; events_moving_avg out to the pytest-pinned tail
    # (driver-green r1-r4).
    QuerySpec("docs_boilerplate_strip", docs_boilerplate_strip, _ORACLE_BOILERPLATE),
    # --- reference (§2) parity ------------------------------------------
    QuerySpec("shot_parse", shot_parse, _oracle_shot_parse_sql()),
    QuerySpec("shot_ingest_json", shot_ingest_json, _oracle_shot_ingest_sql()),
    QuerySpec("shot_time_typed", shot_time_typed, _oracle_shot_time_sql()),
    QuerySpec("merge_dedup_reference", merge_dedup_reference, _ORACLE_MERGE_REFERENCE),
    QuerySpec("merge_upsert_delta_wins", merge_upsert_delta_wins, _ORACLE_MERGE_UPSERT),
    QuerySpec("merge_upsert_anti_join", merge_upsert_anti_join, _ORACLE_MERGE_UPSERT),
    QuerySpec("merge_upsert_with_deletes", merge_upsert_with_deletes, _ORACLE_MERGE_CDC),
    QuerySpec("merge_schema_drift", merge_schema_drift, _ORACLE_MERGE_DRIFT),
    QuerySpec("shot_team_summary", shot_team_summary, _oracle_shot_team_summary_sql()),
    QuerySpec(
        "shot_team_summary_bucketed",
        shot_team_summary_bucketed,
        _oracle_shot_team_summary_sql(),
    ),
    QuerySpec("streaming_dedup_archive", streaming_dedup_archive, _oracle_streaming_dedup_sql()),
    # --- incremental / skew-aware maintenance ---------------------------
    QuerySpec("incremental_events_summary", incremental_events_summary, _ORACLE_INCREMENTAL),
    QuerySpec("incremental_avg_distinct", incremental_avg_distinct, _ORACLE_INC_AVG_DISTINCT),
    QuerySpec("events_type_stats_salted", events_type_stats_salted, _ORACLE_SALTED),
    # --- analytics tier (graded r1+r2; overflow pinned by pytest) -------
    QuerySpec("q1_pricing_summary", q1, _ORACLE_Q1),
    QuerySpec("q3_shipping_priority", q3, _ORACLE_Q3),
    QuerySpec("q5_regional_revenue", q5, _ORACLE_Q5),
    QuerySpec("events_hourly", events_hourly, _ORACLE_HOURLY),
    # --- r12 evictions (driver-green r10/r11; oracle-gated every round) ---
    # export ∘ tgz-repack ∘ distributed-rescan = identity on orders —
    # the K1/K2/S2/S3 archive surface, driver-hash-checked (r9 item 8)
    QuerySpec(
        "archive_roundtrip_orders",
        archive_roundtrip_orders,
        _ORACLE_ARCHIVE_ROUNDTRIP,
    ),
    # the delete leg of the TF-IDF corpus statistics: same persisted
    # df/N state as docs_tfidf_incremental, tombstones subtracted,
    # graded against the survivor ∪ delta recompute
    QuerySpec("docs_tfidf_retract", docs_tfidf_retract, _ORACLE_TFIDF_RETRACT),
    # streaming TF-IDF: delta-scoped served view under full-prefix
    # stats ≡ the incremental leg's output, so it shares that oracle
    QuerySpec(
        "docs_tfidf_streaming", docs_tfidf_streaming, _ORACLE_TFIDF_INCREMENTAL
    ),
    # streaming IVF/ANN maintenance with deletes, served from the
    # stored state; final probe ≡ batch IVF on the survivor corpus
    QuerySpec(
        "knn_ann_streaming",
        knn_ann_streaming,
        OE.ivf_ann_sql(corpus_sql=_SURVIVOR_EMB_SQL),
    ),
    QuerySpec("users_communities", users_communities, _ORACLE_COMMUNITIES),
    QuerySpec("users_cooccurrence", users_cooccurrence, _ORACLE_COOCCURRENCE),
    QuerySpec("users_pagerank", users_pagerank, _ORACLE_PAGERANK),
    QuerySpec(
        "users_pagerank_personalized", users_pagerank_personalized, _ORACLE_PPR
    ),
    QuerySpec(
        "users_sig_edges_incremental",
        users_sig_edges_incremental,
        _ORACLE_SIG_EDGES_INCR,
    ),
    # streaming replay of the significant-edge graph through real
    # checkpointed micro-batches (hour windows split across batches —
    # the no-disjoint-days path); final served view ≡ full recompute,
    # so it shares the incremental leg's oracle
    QuerySpec(
        "users_sig_edges_streaming", users_sig_edges_streaming, _ORACLE_SIG_EDGES_INCR
    ),
    QuerySpec("users_triangles", users_triangles, _ORACLE_TRIANGLES),
    # incremental triangle maintenance: persisted archive triangle
    # state corrected by delta-anchored wedge probes over the day's
    # edge inserts AND deletes; ≡ the full recompute, so it shares
    # users_triangles' oracle
    QuerySpec(
        "users_triangles_incremental", users_triangles_incremental, _ORACLE_TRIANGLES
    ),
    # ---- driver grading window ends here: SPECS[:50] -------------------
    # ROTATING since r6 (VERDICT r5 item 2): the first 50 names are pinned
    # per-round by tests/test_registry_window.py, which also pins the 20
    # forever-resident §2-parity specs and the deterministic 5-spec block
    # schedule.  Everything below is graded by tests/test_oracle_parity.py.
    # --- r11 evictions (driver-green r9/r10) ------------------------------
    QuerySpec(
        "docs_hybrid_search_ann", docs_hybrid_search_ann, _oracle_hybrid_ann_sql()
    ),
    QuerySpec("orders_profile", orders_profile, _oracle_profile_sql()),
    QuerySpec("events_trend", events_trend, _ORACLE_TREND),
    QuerySpec("dedup_fuzzy_titles", dedup_fuzzy_titles, _ORACLE_FUZZY),
    QuerySpec(
        "dedup_semantic",
        dedup_semantic,
        OE.semantic_dedup_sql(16, 0.92, planted_mod=25, adaptive_cells=True),
    ),
    QuerySpec("events_retention_cohorts", events_retention_cohorts, _ORACLE_RETENTION),
    QuerySpec("events_markov_transitions", events_markov_transitions, _ORACLE_MARKOV),
    QuerySpec("events_anomaly_hours", events_anomaly_hours, _ORACLE_ANOMALY),
    QuerySpec("embedding_norm_outliers", embedding_norm_outliers, _oracle_norm_outliers_sql()),
    QuerySpec("docs_mixture_rebalance", docs_mixture_rebalance, _ORACLE_MIXTURE),
    QuerySpec("docs_shuffle_shards", docs_shuffle_shards, _ORACLE_SHUFFLE_SHARDS),
    QuerySpec("docs_bm25_streaming", docs_bm25_streaming, _ORACLE_BM25),
    QuerySpec("docs_hybrid_search", docs_hybrid_search, _oracle_hybrid_sql()),
    QuerySpec(
        "dedup_semantic_streaming",
        dedup_semantic_streaming,
        OE.semantic_dedup_sql(16, 0.92, planted_mod=25, tomb_mod=50, tomb_val=25, adaptive_cells=True),
    ),
    # --- r8 evictions (driver-green in earlier rounds) -------------------
    QuerySpec(
        "embedding_near_dup_t90",
        embedding_near_dup_t90,
        OE.embedding_near_dup_ann_sql(0.9, 8, 8, 64),
    ),
    QuerySpec("q21_waiting_suppliers", q21_waiting, _ORACLE_Q21),
    QuerySpec("q20_dominant_suppliers", q20_dominant, _ORACLE_Q20),
    QuerySpec("q2_min_cost_supplier", q2_min_cost, _ORACLE_Q2),
    QuerySpec("docs_repetition", docs_repetition, OE.repetition_sql(0.05)),
    QuerySpec("docs_contamination", docs_contamination, OE.contamination_sql(17, 5, 3)),
    QuerySpec("events_asof_join", events_asof_join, _ORACLE_ASOF),
    QuerySpec("events_asof_forward", events_asof_forward, _ORACLE_ASOF_FORWARD),
    QuerySpec("events_range_join", events_range_join, _ORACLE_RANGE_JOIN),
    QuerySpec("events_time_rollup", events_time_rollup, _ORACLE_TIME_ROLLUP),
    QuerySpec("events_range_frame", events_range_frame, _ORACLE_RANGE_FRAME),
    QuerySpec("events_gaps", events_gaps, _ORACLE_GAPS),
    # ---------------------------------------------------------------------
    QuerySpec("dedup_exact", dedup_exact_q, OE.dedup_exact_sql()),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard_q, OE.ngram_jaccard_sql(0.5, 3)),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh_q, OE.minhash_lsh_sql(16, 4, 0.4, ngram=3)),
    QuerySpec("dedup_simhash", dedup_simhash_q, OE.simhash_sql()),
    QuerySpec("dedup_clusters", dedup_clusters, _oracle_clusters_sql()),
    QuerySpec("events_sessionize", sessionize, _ORACLE_SESSIONIZE),
    QuerySpec("events_props_json", events_props_json, _ORACLE_PROPS_JSON),
    QuerySpec("word_counts", word_counts, _ORACLE_WORD_COUNTS),
    QuerySpec("rollup_revenue", rollup_revenue, _ORACLE_ROLLUP),
    QuerySpec("q4_order_priority", q4_late, _ORACLE_Q4),
    QuerySpec("q7_volume_shipping", q7_volume, _ORACLE_Q7),
    QuerySpec("q10_returned_items", q10_returned, _ORACLE_Q10),
    QuerySpec("q13_custdist", q13_custdist, _ORACLE_Q13),
    QuerySpec("q14_promo_revenue", q14_promo, _ORACLE_Q14),
    QuerySpec("q15_top_supplier", q15_top, _ORACLE_Q15),
    QuerySpec("q17_small_quantity", q17_small, _ORACLE_Q17),
    QuerySpec("q19_disjunctive_bands", q19_bands, _ORACLE_Q19),
    QuerySpec("q22_idle_customers", q22_idle, _ORACLE_Q22),
    QuerySpec("q18_large_orders", q18_large, _ORACLE_Q18),
    QuerySpec("window_top_customers", window_top_customers, _ORACLE_WINDOW_TOP),
    QuerySpec("window_running_total", window_running_total, _ORACLE_WINDOW_RUNNING),
    QuerySpec("customers_without_orders", customers_without_orders, _ORACLE_ANTI),
    QuerySpec("nation_key_set_ops", nation_key_set_ops, _ORACLE_SET_OPS),
    QuerySpec("distinct_counts", distinct_counts, _ORACLE_DISTINCT),
    QuerySpec("parts_by_brand", parts_by_brand, _ORACLE_PARTS_BY_BRAND),
    QuerySpec("q6_revenue_change", q6_revenue_change, _ORACLE_Q6),
    QuerySpec("orders_with_big_items", orders_with_big_items, _ORACLE_EXISTS),
    QuerySpec("nation_balance_full_outer", nation_balance_full_outer, _ORACLE_FULL_OUTER),
    QuerySpec("cube_order_stats", cube_order_stats, _ORACLE_CUBE),
    QuerySpec("above_avg_customers", above_avg_customers, _ORACLE_ABOVE_AVG),
    QuerySpec("price_quantiles", price_quantiles, _ORACLE_QUANTILES),
    QuerySpec("nation_segments", nation_segments, _ORACLE_NATION_SEGMENTS),
    QuerySpec("orders_by_month", orders_by_month, _ORACLE_BY_MONTH),
    QuerySpec("scalar_function_census", scalar_function_census, _ORACLE_SCALAR_CENSUS),
    QuerySpec("events_pivot", events_pivot, _ORACLE_PIVOT),
    QuerySpec("events_unpivot", events_unpivot, _ORACLE_UNPIVOT),
    QuerySpec("grouping_sets_revenue", grouping_sets_revenue, _ORACLE_GROUPING_SETS),
    QuerySpec("sql_passthrough_revenue", sql_passthrough_revenue, _SQL_PASSTHROUGH),
    # --- r4 additions (pytest-pinned tail) --------------------------------
    # (embedding_near_dup_t90 / q21 / q20 / q2 / q11 rotated in as r6's
    # block; the r4 incremental-index block rotated in as part of r7's.)
    # Rotated OUT of the window at r7 (driver-green r1-r6):
    QuerySpec("text_redact", text_redact, OE.redact_sql()),
    QuerySpec("docs_sample_stratified", docs_sample_stratified, _ORACLE_SAMPLE),
    QuerySpec("docs_quality_filter", docs_quality_filter, _oracle_quality_filter_sql()),
    QuerySpec("docs_pack_sequences", docs_pack_sequences, _oracle_pack_sql(2048)),
    QuerySpec("docs_quality_deciles", docs_quality_deciles, _oracle_deciles_sql()),
    QuerySpec("doc_fingerprints", doc_fingerprints, OE.fingerprint_sql()),
    QuerySpec("doc_chunks", doc_chunks, _ORACLE_CHUNKS),
    QuerySpec("docs_deduplicated", docs_deduplicated, _oracle_dedup_corpus_sql()),
    QuerySpec("knn_bruteforce", knn_bruteforce, OE.knn_bruteforce_sql(5, 5, 64)),
    QuerySpec("knn_ann_ivf", knn_ann_ivf, OE.ivf_ann_sql(5, 5, 16, 4, 64)),
    QuerySpec("knn_ann_srp", knn_ann_srp, OE.knn_ann_srp_sql(5, 5, 4, 2, 64)),
    QuerySpec("embedding_near_dup", embedding_near_dup, OE.embedding_near_dup_sql(0.5, 64)),
    QuerySpec(
        "embedding_near_dup_ann",
        embedding_near_dup_ann,
        OE.embedding_near_dup_ann_sql(0.5, 24, 5, 64),
    ),
    QuerySpec("multimodal_features", multimodal_features_q, OE.multimodal_sql()),
    QuerySpec("text_metrics", text_metrics, OE.text_metrics_sql()),
    QuerySpec("text_langid", text_langid, OE.lang_id_sql()),
    QuerySpec("text_sentiment", text_sentiment, _oracle_sentiment_sql()),
    # (events_trend, dedup_fuzzy_titles, dedup_semantic,
    # events_retention_cohorts, events_markov_transitions,
    # events_anomaly_hours, embedding_norm_outliers, docs_mixture_rebalance,
    # docs_shuffle_shards, orders_profile drained INTO the window at r9 —
    # see the rotation block above.)
    # --- r9 evictions (driver-green r7/r8) -------------------------------
    QuerySpec("events_zorder_layout", events_zorder_layout, _oracle_zorder_sql()),
    QuerySpec(
        "events_zorder_incremental", events_zorder_incremental, _oracle_zorder_incr_sql()
    ),
    QuerySpec(
        "events_zonemap_retract", events_zonemap_retract, _ORACLE_ZONEMAP_RETRACT
    ),
    QuerySpec(
        "dedup_containment", dedup_containment, OE.containment_sql(0.8, 3, 100)
    ),
    # incremental ≡ batch, so the oracle is the batch full-recompute SQL
    QuerySpec(
        "dedup_semantic_incremental",
        dedup_semantic_incremental,
        OE.semantic_dedup_sql(16, 0.92, planted_mod=25, adaptive_cells=True),
    ),
    QuerySpec(
        "docs_repeated_spans_unaligned",
        docs_repeated_spans_unaligned,
        _ORACLE_REPEATED_SPANS_UNALIGNED,
    ),
    # probe ≡ full recompute restricted to delta-changeable docs, so the
    # oracle is the full-recompute SQL with the same restriction
    QuerySpec(
        "docs_repeated_spans_incremental",
        docs_repeated_spans_incremental,
        _ORACLE_REPEATED_SPANS_INCREMENTAL,
    ),
    # novelty probes the same persisted gram sketch the incremental
    # span detector maintains — one state build, two consumers
    QuerySpec("docs_novelty_scored", docs_novelty_scored, _ORACLE_NOVELTY),
    # the delete leg of the same persisted state
    QuerySpec(
        "docs_repeated_spans_retract",
        docs_repeated_spans_retract,
        _ORACLE_SPANS_RETRACT,
    ),
    QuerySpec("sources_jsd_hashed", sources_jsd_hashed, _ORACLE_JSD_HASHED),
    QuerySpec("events_k_anonymity", events_k_anonymity, _ORACLE_K_ANONYMITY),
    QuerySpec("q11_important_stock", q11_important, _ORACLE_Q11),
    # evicted mid-r9 by the three extension births (driver-green r7/r8):
    QuerySpec(
        "docs_split_leakage_safe", docs_split_leakage_safe, _oracle_split_safe_sql()
    ),
    QuerySpec(
        "dedup_incremental_simhash",
        dedup_incremental_simhash,
        OE.incremental_simhash_sql(10),
    ),
    # index-append ≡ full rebuild, so the oracle is the full-index SQL
    QuerySpec("knn_ann_ivf_incremental", knn_ann_ivf_incremental, OE.ivf_ann_sql()),
    QuerySpec("docs_repeated_spans", docs_repeated_spans, _ORACLE_REPEATED_SPANS),
    QuerySpec(
        "dedup_containment_incremental",
        dedup_containment_incremental,
        OE.containment_incremental_sql(0.8, 3, 100, delta_mod=10),
    ),
    QuerySpec("docs_tfidf_keywords", docs_tfidf_keywords, _ORACLE_TFIDF),
    QuerySpec(
        "dedup_clusters_incremental",
        dedup_clusters_incremental,
        _oracle_clusters_incremental_sql(10),
    ),
    # (window_function_census, events_value_histogram,
    # events_user_count_approx, merge_scd2_asof and the six users_*
    # graph specs drained INTO the window at r10 — see the rotation
    # block above.)
    # r5 block 4: cross-document curation (docs_boilerplate_strip holds
    # the r5 rotation slot inside the driver window above)
    QuerySpec("events_moving_avg", events_moving_avg, _ORACLE_MOVING_AVG),
    # --- r13 evictions (driver-green r12) --------------------------------
    QuerySpec("window_function_census", window_function_census, _ORACLE_WINDOW_CENSUS),
    QuerySpec("events_value_histogram", events_value_histogram, _ORACLE_HISTOGRAM),
    # --- r10 evictions (driver-green r8/r9) ------------------------------
    # incremental ≡ batch restricted to delta docs (df/N corpus-wide on
    # both sides), so the oracle is the batch SQL with the restriction
    QuerySpec(
        "docs_tfidf_incremental",
        docs_tfidf_incremental,
        _ORACLE_TFIDF_INCREMENTAL,
    ),
    QuerySpec(
        "docs_snapshot_diff", docs_snapshot_diff, _ORACLE_SNAPSHOT_DIFF_DOCS
    ),
    # BM25 batch + incremental share one oracle (index-append ≡ full
    # rebuild); both driver-green r9, evicted to the tail by the five
    # r10 births
    QuerySpec("docs_bm25_search", docs_bm25_search, _ORACLE_BM25),
    QuerySpec("docs_bm25_incremental", docs_bm25_incremental, _ORACLE_BM25),
    QuerySpec("docs_bm25_retract", docs_bm25_retract, _ORACLE_BM25_RETRACT),
    # semantic delete leg: graded r9 against the survivor full
    # recompute (tombstones = original uploads with id % 50 == 25)
    QuerySpec(
        "dedup_semantic_retract",
        dedup_semantic_retract,
        OE.semantic_dedup_sql(16, 0.92, planted_mod=25, tomb_mod=50, tomb_val=25, adaptive_cells=True),
    ),
    # retraction graded against the survivor full-recompute; max_df=4
    # keeps the df-window re-entry leg live at the graded SFs
    QuerySpec(
        "dedup_containment_retract",
        dedup_containment_retract,
        OE.containment_retract_sql(0.5, 3, 4, tomb_mod=7, tomb_val=3),
    ),
    QuerySpec("q8_market_share", q8_market_share_q, _ORACLE_Q8),
    QuerySpec("q9_product_profit", q9_product_profit_q, _ORACLE_Q9),
    QuerySpec("q12_priority_counts", q12_priority_q, _ORACLE_Q12),
    QuerySpec("q16_supplier_counts", q16_supplier_counts_q, _ORACLE_Q16),
    # r5: skew guard proved result-preserving by sharing the plain
    # join's oracle; retraction graded against the post-delete closure
    QuerySpec(
        "dedup_minhash_lsh_salted",
        dedup_minhash_lsh_salted,
        OE.minhash_lsh_sql(16, 4, 0.4, ngram=3),
    ),
    QuerySpec(
        "dedup_labels_after_delete",
        dedup_labels_after_delete,
        _oracle_labels_after_delete_sql(),
    ),
    # versioned-dimension maintenance and CDC recovery — the "updating
    # datasets" model as first-class history, not overwrite
    QuerySpec("merge_scd2_customers", merge_scd2_customers, _ORACLE_SCD2),
    QuerySpec("snapshot_diff_orders", snapshot_diff_orders, _ORACLE_SNAPSHOT_DIFF),
    QuerySpec("events_concurrency", events_concurrency, _ORACLE_CONCURRENCY),
    QuerySpec("events_funnel", events_funnel, _ORACLE_FUNNEL),
]


def _released(fn: Callable[[SparkSession, str], DataFrame]):
    """Release the PREVIOUS query's tracked caches before building the
    next one: by the time a new query is requested the caller has
    consumed the prior result, so its operator-internal persists are
    dead weight (ADVICE r2 — nothing ever unpersisted across an
    80-query session)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        caching.release_tracked()
        return fn(spark, sf_dir)

    return wrapped


# The AQE-cache conf is consulted at ``.persist()`` time (Spark's
# CacheManager compiles the InMemoryRelation's physical plan when the
# cache is REGISTERED, choosing then whether to keep AQE), and every
# operator-internal persist in this repo happens inside the query
# builder — so scoping the conf around the BUILD is sufficient and
# leaks nothing into the caller's session.  Evidence: the round-start
# table in OPTIMIZATION_r14.md records the conf-off shuffle bytes of
# the persisted-state rows (BENCH_R14_BASE.json) next to their r12
# bytes, and the scoped builds' full-registry run (BENCH_FULL.json)
# brought them back: users_pagerank 2.14→0.14 MB, docs_hybrid_search
# 5.19→3.10, dedup_containment 26.29→18.53.
def _aqe_cached_builds(fn: Callable[[SparkSession, str], DataFrame]):
    """Compile this query's cached plans WITH AQE (VERDICT r13 item 1).

    The r13 session-wide revert of the AQE-cache conf to Spark's
    default (false) was A/B'd on 12 streaming-side rows but taxed the
    persisted-state BATCH tier: cached subtrees lost their runtime
    broadcast/coalesce conversions and the downstream joins fell back
    to shuffles — plan-real regressions the load-independent shuffle
    counters pinned (users_pagerank 0.16→2.14 MB, docs_hybrid_search
    3.44→5.19, dedup_containment 20.3→26.3: the round-start table in
    OPTIMIZATION_r14.md; the module comment above cites the bytes
    after this wrapper).  The conf is runtime-settable, so it is scoped
    per query build.  A stream the build runs keeps Spark's default in
    its ``foreachBatch`` (``streaming.pipeline.run_available_now``
    unsets the conf around the stream's start), where the same A/B
    protocol measured it harmful."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        with scoped_confs(spark, {AQE_CACHE_CONF: "true"}):
            return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: _aqe_cached_builds(_released(s.fn)) for s in SPECS}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in SPECS if s.oracle is not None}
