#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full execution, no
driver-side result materialization).  A warmup pass of the first query
absorbs JVM/codegen startup so per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from updating_datasets_data_engineering_spark.registry import SPECS, queries  # noqa: E402
from updating_datasets_data_engineering_spark.session import get_spark  # noqa: E402

# Every registered spec is benched except the quarantine, in SPECS
# order.
BENCH_QUARANTINE = {"embedding_near_dup"}  # O(n^2) all-pairs recall oracle
HEADLINE = [s.name for s in SPECS if s.name not in BENCH_QUARANTINE]

# Deterministic compact-line subset (VERDICT r13 item 2): the final
# one-line JSON the driver captures used to carry each run's SLOWEST
# ~55 rows, so the round-over-round intersection systematically
# over-sampled regressions (a row that regressed enters the window, one
# that improved falls out) and booked improvements as "dropped".  The
# subset is now a FIXED name list — the r13 compact window, i.e. the
# registry's heaviest rows — so consecutive rounds compare like with
# like.  Contract: additions only (append new births that are heavy
# enough to matter); never remove or reorder existing names (order is
# the r13 cost order and doubles as the overflow-trim order — if the
# serialized line ever exceeds the driver's capture window, names are
# dropped from the TAIL, deterministically).  Full per-query detail is
# always in the BENCH_FULL.json sibling regardless.
COMPACT_SET = [
    "users_triangles_streaming",
    "dedup_semantic_streaming",
    "users_sig_edges_streaming",
    "docs_bm25_streaming",
    "users_triangles_incremental",
    "events_hourly_streaming",
    "docs_tfidf_streaming",
    "events_sessions_streaming",
    "knn_ann_streaming",
    "dedup_containment_retract",
    "dedup_containment_incremental",
    "streaming_dedup_archive",
    "shot_team_summary",
    "shot_team_summary_bucketed",
    "dedup_clusters_incremental",
    "docs_hybrid_search_ann",
    "dedup_containment",
    "price_quantiles",
    "docs_hybrid_search",
    "users_cooccurrence_salted",
    "docs_deduplicated",
    "users_sig_edges_incremental",
    "docs_bm25_incremental",
    "orders_profile",
    "dedup_minhash_lsh_salted",
    "docs_bm25_retract",
    "users_triangles_retract",
    "users_pagerank_personalized",
    "docs_tfidf_retract",
    "dedup_clusters",
    "dedup_semantic",
    "users_pagerank",
    "users_cooccurrence",
    "docs_tfidf_incremental",
    "q5_regional_revenue",
    "docs_repeated_spans_incremental",
    "shot_ingest_json",
    "dedup_labels_after_delete",
    "docs_bm25_search",
    "dedup_ngram_jaccard",
    "users_triangles",
    "dedup_simhash",
    "embedding_near_dup_ann",
    "docs_boilerplate_strip",
    "docs_boilerplate_incremental",
    "archive_roundtrip_orders",
    "docs_bigram_logprob",
    "sources_overlap_matrix",
    "docs_tfidf_keywords",
    "users_communities",
    "docs_novelty_scored",
    "dedup_minhash_lsh",
    "sources_jsd_divergence",
    "dedup_incremental",
    "q2_min_cost_supplier",
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def max_job_id(spark) -> int:
    """Highest job id the AppStatusStore currently holds (its jobsList
    view is descending by id), or -1 on an empty store."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return seq.apply(0).jobId() if seq.size() > 0 else -1


def job_stats_since(spark, min_id: int) -> tuple[int, int]:
    """(n_jobs, n_relation_build_jobs) for jobs with id > ``min_id``
    (VERDICT r13 item 5: broadcast-build inflation is invisible to
    ``shuffle_mb`` — a plan that re-plans a join as broadcast keeps its
    shuffle bytes flat while adding whole driver-side build jobs).  On
    Spark 4.1 a broadcast build's job is submitted through
    ``SQLExecution.withThreadLocalCaptured`` and the AppStatusStore
    records that callsite as the job NAME (the job-group description is
    unset in local mode) — the same future path also runs scalar/
    uncorrelated subqueries, so the counter reads "driver-side relation
    builds" (broadcast hash relations + subquery results); in this
    codebase subqueries are rare and fixed per plan, so deltas in the
    counter are broadcast-build deltas.  Counts are plan-determined,
    hence ambient-load-independent evidence like shuffle_mb.  The store
    retains ~1000 jobs; callers snapshot ``max_job_id`` per query, far
    inside that window."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    n = b = 0
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= min_id:
            break  # descending order: everything further is older
        n += 1
        desc = j.description()
        text = desc.get() if desc.isDefined() else j.name()
        if "withThreadLocalCaptured" in text or "broadcast exchange" in text:
            b += 1
    return n, b


def shuffle_totals(spark) -> tuple[int, int]:
    """Cumulative (shuffle_read_bytes, shuffle_write_bytes) across all
    executors, from the JVM AppStatusStore (VERDICT r5 item 8: wall
    time alone cannot distinguish a plan regression from ambient load —
    shuffle bytes are load-independent and deterministic per plan).
    Snapshot before/after a query; the delta is the query's shuffle."""
    store = spark.sparkContext._jsc.sc().statusStore()
    ex = store.executorList(True)
    r = w = 0
    for i in range(ex.size()):
        e = ex.apply(i)
        r += e.totalShuffleRead()
        w += e.totalShuffleWrite()
    return r, w


def compact_line(total, floor_probe_s, timings, out_file, sf) -> str:
    """The LAST stdout line, sized for the driver, which records only
    the last ~2000 chars of stdout and parses a JSON line out of it
    (with 130 queries the full line was ~3.9k chars, so BENCH_r03/r04
    recorded parsed=null): same metric/value/unit/sf, the query count,
    the full-detail pointer, and the COMPACT_SET timings (see the
    list's comment) at 2 decimals.  On a subset run
    (SPARK_GRAFT_BENCH_QUERIES) only the timed names can appear; on
    overflow of the 1800-char ceiling (10% under the capture) names
    are trimmed deterministically from the list's tail."""
    compact: dict = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "floor_probe_s": floor_probe_s,
        "queries": {},
        "n_queries": len(timings),
        "detail": out_file,
        "sf": sf,
    }
    for name in COMPACT_SET:
        if name not in timings:
            continue
        compact["queries"][name] = round(timings[name], 2)
        if len(json.dumps(compact, separators=(",", ":"))) > 1800:
            del compact["queries"][name]
            break
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("updating-datasets-bench")
    qs = queries()
    # SPARK_GRAFT_BENCH_QUERIES: comma-separated subset override (the
    # sf1.0 top-20 run, VERDICT r5 item 3); SPARK_GRAFT_BENCH_OUT:
    # detail-file override so BENCH_SF1.json can live beside
    # BENCH_FULL.json without clobbering it.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset == "@sf1":
        headline = HEADLINE  # full registry at scale (VERDICT r7 item 3)
    else:
        headline = subset.split(",") if subset else HEADLINE
    out_file = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")

    force(qs[headline[0]](spark, sf_dir))  # warmup: JVM + codegen + IO path
    force(qs["multimodal_features"](spark, sf_dir))  # warmup: Python workers (Arrow path)
    # warmup: first driver-local createDataFrame in a session pays ~4s
    # of Py4J/serialization init; absorb it so the first lexicon/plane
    # broadcast query doesn't carry session-init cost
    spark.createDataFrame([(1,)], "x INT").count()
    # warmup: one-time bucketed-archive layout (the query reuses the
    # table; bench then times the merge the layout exists to serve)
    force(qs["shot_team_summary_bucketed"](spark, sf_dir))

    # min-of-2 per query (VERDICT r3 item 3): single-shot timings moved
    # ±0.2-0.4 s round-over-round on a 0.5 s median query, hiding real
    # regressions; the min of two timed runs is stable because the
    # registry wrapper releases the previous run's caches, so both runs
    # do the full work and the min strips scheduler/GC jitter only.
    # Even min-of-2 is not fully load-proof (VERDICT r4 item 5): the r4
    # +0.4 s on docs_contamination / text_sentiment did not reproduce
    # solo OR with the bench neighborhood replayed on an idle machine
    # (0.98 / 0.80 s steady state, r3-level; plans unchanged) — a
    # loaded driver machine shifts the whole-session floor, so compare
    # common-subset TOTALS across rounds, not single queries.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # State pre-build pass (VERDICT r6 item 4): every query runs ONCE
    # untimed before the timed region, so (a) `_persisted_index` state —
    # "yesterday's state" in the production framing — is materialized
    # outside the measurement, and (b) per-query codegen/broadcast
    # warmup never leaks into min-of-N even at RUNS=1 (the r6 sf1
    # artifact recorded users_triangles at 73.6 s where the steady-state
    # probe plan runs 0.8 s — the difference was the one-time state
    # build).  The pass total is reported as `state_build_s`, a real
    # number worth tracking (it is the nightly index-build cost), just
    # not part of any query's steady-state figure.
    # Machine-floor calibration probe: a FIXED-size CPU+shuffle job
    # independent of SF and of the registry, min-of-2.  Session-to-
    # session ambient floor shifted 20-40% within round 7 with plans
    # and code identical (single-core probes normal — host-level
    # variance), so cross-round total comparisons need a denominator:
    # divide headline totals by floor_probe_s before judging a
    # regression real.
    def _floor_probe() -> float:
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        force(
            spark.range(50_000_000)
            .withColumn("k", F.pmod(F.hash(F.md5(F.col("id").cast("string"))), F.lit(1024)))
            .groupBy("k")
            .count()
        )
        return time.perf_counter() - t0

    # Second probe SHAPE (r13 "not yet optimized" item 5): the
    # CPU+shuffle probe misses disk contention — the r13 session saw a
    # ~50 s same-code full-bench swing at near-equal CPU floors, and
    # the streaming rows (the bench's heaviest) are write-dominated.
    # A fixed-size parquet write+read round-trip through a temp dir
    # measures the I/O floor the maintainer store writes actually run
    # on.  Reported as `floor_io_probe_s` NEXT TO the headline numbers
    # (cross-session triage only — never a divisor of the metric; the
    # judged convention stays floor_probe_s).
    def _floor_io_probe() -> float:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="graft_bench_iofloor_")
        try:
            t0 = time.perf_counter()
            (
                spark.range(10_000_000)
                .withColumn("v", F.md5(F.col("id").cast("string")))
                .write.mode("overwrite")
                .parquet(d)
            )
            spark.read.parquet(d).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # The probe runs TWICE per session (r9, VERDICT r8 item 4): once
    # BEFORE the state-build pass and once after it, immediately ahead
    # of the timed region.  The r8 bench regression investigation needs
    # the split: pre-state vs historical floors isolates AMBIENT
    # machine load; post-state vs pre-state isolates SESSION-INTERNAL
    # degradation (accumulated executor state / GC pressure from the
    # ~200 s state build).  floor_probe_s stays the post-state value —
    # it is the floor the timed queries actually run on.
    floor_probe_pre_s = round(min(_floor_probe(), _floor_probe()), 3)

    t_pre = time.perf_counter()
    for name in headline:
        force(qs[name](spark, sf_dir))
    state_build_s = round(time.perf_counter() - t_pre, 3)

    floor_probe_s = round(min(_floor_probe(), _floor_probe()), 3)
    floor_io_probe_s = round(min(_floor_io_probe(), _floor_io_probe()), 3)

    timings: dict[str, float] = {}
    shuffle_mb: dict[str, float] = {}
    n_jobs: dict[str, float] = {}
    bcast_builds: dict[str, float] = {}
    for name in headline:
        # Drive the ContextCleaner BEFORE each query's timed region:
        # localCheckpoint block cleanup is reference-triggered (the JVM
        # frees a checkpoint's blocks only after driver GC collects the
        # RDD handle), so a long bench session accumulates dead blocks
        # until ambient GC happens to run — measured at sf1 over a
        # 42-query session the late queries degraded ~2× from the
        # resulting memory pressure.  An explicit System.gc() between
        # queries (never inside the timed region) makes per-query
        # numbers session-order-independent.
        spark.sparkContext._jvm.System.gc()
        best = float("inf")
        r0, w0 = shuffle_totals(spark)
        jid0 = max_job_id(spark)
        for _ in range(runs):
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        r1, w1 = shuffle_totals(spark)
        nj, nb = job_stats_since(spark, jid0)
        timings[name] = round(best, 3)
        # runs are identical work (caches released between them), so
        # per-run shuffle write = delta / runs; write, not read, is the
        # canonical "bytes exchanged" (read double-counts local reads)
        shuffle_mb[name] = round((w1 - w0) / runs / 1e6, 2)
        # per-run job / broadcast-build counts, same delta/runs
        # convention (r14, VERDICT r13 item 5) — all counting happens
        # OUTSIDE the timed region
        n_jobs[name] = round(nj / runs, 1)
        bcast_builds[name] = round(nb / runs, 1)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "shuffle_mb": shuffle_mb,
        "n_jobs": n_jobs,
        "bcast_builds": bcast_builds,
        "state_build_s": state_build_s,
        "floor_probe_s": floor_probe_s,
        "floor_probe_pre_s": floor_probe_pre_s,
        "floor_io_probe_s": floor_io_probe_s,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full per-query detail: one JSON line (the documented contract) plus
    # a repo-root file so per-query numbers survive any log truncation.
    print(json.dumps(payload, separators=(",", ":")))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), out_file), "w") as f:
        json.dump(payload, f, indent=1)
    print(compact_line(total, floor_probe_s, timings, out_file, payload["sf"]))


if __name__ == "__main__":
    main()
