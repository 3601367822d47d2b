"""Measure compaction for the round-11 partial stores (VERDICT r10
item 6): the sig-edges streaming maintainer's active/pairs/occ stores
and the TF-IDF keyword maintainer's df/stats stores all append one
``_batch_id`` partition per micro-batch; consumers SUM (or union)
across partitions.  This probe streams the sf1 fixture through each
maintainer as N direct foreachBatch calls (daily-cadence simulation,
minus the availableNow scheduler), then measures — before and after
the between-runs compaction pass — each state's file count / bytes and
the reader's per-probe cost (sig-edges: the full ``serve_sig_edges``
lift view over the aggregated counts; TF-IDF: the df-partial fold +
stats fold every batch pays), plus the compaction runs themselves and
one more batch on compacted state (per-batch cost must stay flat).

Usage: python compaction_probe_graph.py [sf_dir] [n_batches]
Prints one JSON line per store family; numbers land in COVERAGE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_sf1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from updating_datasets_data_engineering_spark.operators import maintenance as MNT
    from updating_datasets_data_engineering_spark.session import get_spark
    from updating_datasets_data_engineering_spark.streaming import pipeline as SP
    from updating_datasets_data_engineering_spark.tables import load_table

    spark = get_spark("compaction-probe-graph")

    def stats_of(path):
        files, bytes_ = MNT.parquet_file_stats(spark, path)
        return {"files": files, "mb": round(bytes_ / 1e6, 2)}

    # ---------------- sig-edges partial stores ----------------
    base = tempfile.mkdtemp(prefix="compaction_probe_se_")
    paths = {k: os.path.join(base, k) for k in ("active", "pairs", "occ")}
    fn = SP.maintain_sig_edges_each_batch(
        paths["active"], paths["pairs"], paths["occ"]
    )
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    ).persist()
    n_events = events.count()

    def serve_probe(reps=3):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            SP.serve_sig_edges(spark, paths["pairs"], paths["occ"]).count()
            best = min(best, time.time() - t0)
        return round(best, 3)

    t0 = time.time()
    for i in range(n_batches):
        fn(events.where(F.col("event_id") % n_batches == i), i)
    stream_s = round(time.time() - t0, 1)

    before = {k: stats_of(p) for k, p in paths.items()}
    probe_before = serve_probe()
    t0 = time.time()
    MNT.compact_batch_index(spark, paths["active"])
    t_batchidx = round(time.time() - t0, 2)
    t0 = time.time()
    MNT.compact_additive_partials(
        spark, paths["pairs"], ["month", "user_a", "user_b"], ["sh"]
    )
    MNT.compact_additive_partials(
        spark, paths["occ"], ["month", "user_id"], ["nu_d", "wm_d"]
    )
    t_additive = round(time.time() - t0, 2)
    after = {k: stats_of(p) for k, p in paths.items()}
    probe_after = serve_probe()
    extra = events.where(F.col("event_id") % n_batches == 0).select(
        (F.col("event_id") + F.lit(10_000_000)).alias("event_id"), "ts", "user_id"
    )
    t0 = time.time()
    fn(extra.select("ts", "user_id", "event_id"), n_batches)
    post_compact_batch_s = round(time.time() - t0, 2)
    print(json.dumps({
        "family": "sig_edges", "sf_dir": sf_dir, "n_events": n_events,
        "n_batches": n_batches, "stream_total_s": stream_s,
        "state_before": before, "state_after": after,
        "serve_probe_before_s": probe_before,
        "serve_probe_after_s": probe_after,
        "compact_additive_s": t_additive,
        "compact_batch_index_s": t_batchidx,
        "post_compact_batch_s": post_compact_batch_s,
    }), flush=True)
    events.unpersist()
    shutil.rmtree(base, ignore_errors=True)

    # ---------------- TF-IDF df/stats partial stores ----------------
    n_tf = max(n_batches, 50)
    base = tempfile.mkdtemp(prefix="compaction_probe_tf_")
    paths = {k: os.path.join(base, k) for k in ("df", "stats", "keywords")}
    fn = SP.maintain_tfidf_keywords_each_batch(
        paths["df"], paths["stats"], paths["keywords"]
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").persist()
    n_docs = docs.count()

    def tfidf_probe(reps=3):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            (
                spark.read.parquet(paths["df"])
                .groupBy("term")
                .agg(F.sum("df").cast("long").alias("df"))
                .count()
            )
            spark.read.parquet(paths["stats"]).agg(
                F.sum("n").cast("long")
            ).collect()
            best = min(best, time.time() - t0)
        return round(best, 3)

    t0 = time.time()
    for i in range(n_tf):
        fn(docs.where(F.col("doc_id") % n_tf == i), i)
    stream_s = round(time.time() - t0, 1)
    before = {k: stats_of(paths[k]) for k in ("df", "stats")}
    probe_before = tfidf_probe()
    t0 = time.time()
    MNT.compact_additive_partials(spark, paths["df"], ["term"], ["df"])
    MNT.compact_additive_partials(spark, paths["stats"], [], ["n"])
    t_additive = round(time.time() - t0, 2)
    after = {k: stats_of(paths[k]) for k in ("df", "stats")}
    probe_after = tfidf_probe()
    extra = docs.where(F.col("doc_id") % n_tf == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    t0 = time.time()
    fn(extra, n_tf)
    post_compact_batch_s = round(time.time() - t0, 2)
    print(json.dumps({
        "family": "tfidf", "sf_dir": sf_dir, "n_docs": n_docs,
        "n_batches": n_tf, "stream_total_s": stream_s,
        "state_before": before, "state_after": after,
        "reader_probe_before_s": probe_before,
        "reader_probe_after_s": probe_after,
        "compact_additive_s": t_additive,
        "post_compact_batch_s": post_compact_batch_s,
    }), flush=True)
    shutil.rmtree(base, ignore_errors=True)

    # ---------------- triangle snapshot tiers (VERDICT r11 item 6) --------
    # The tri/snap stores are REPLACE tiers (one full table per batch,
    # latest wins), pruned in-batch best-effort.  To put numbers on the
    # prune: stream with the prune DISABLED (fs.delete no-op), measure
    # tier count / bytes / serve cost on the accumulated state, then
    # apply the same top-2 retention the maintainer enforces and
    # re-measure.  Fewer batches than the additive families — each
    # triangle batch pays a full serve + correction by design.
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark import fs as FSYS

    n_tri = max(6, n_batches // 5)
    base = tempfile.mkdtemp(prefix="compaction_probe_tri_")
    paths = {k: os.path.join(base, k) for k in ("active", "pairs", "occ", "es", "tri")}
    fn = SP.maintain_triangles_each_batch(
        paths["active"], paths["pairs"], paths["occ"], paths["es"], paths["tri"],
    )
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    ).persist()

    def tri_probe(reps=3):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            SP.serve_triangles(
                spark, paths["tri"], paths["pairs"], paths["occ"]
            ).count()
            best = min(best, time.time() - t0)
        return round(best, 3)

    real_delete = FSYS.delete
    t0 = time.time()
    with mock.patch.object(FSYS, "delete", lambda *a, **k: False):
        for i in range(n_tri):
            fn(events.where(F.col("event_id") % n_tri == i).select("ts", "user_id"), i)
    stream_s = round(time.time() - t0, 1)
    tier_stores = ("es", "tri")
    before = {k: stats_of(paths[k]) for k in tier_stores}
    probe_before = tri_probe()
    # the maintainer's own retention: keep the newest tier plus the one
    # it read from (top-2 by _batch_id)
    t0 = time.time()
    for k in tier_stores:
        tiers = set()
        for name, _sz in FSYS.list_files(spark, paths[k], suffix=".parquet"):
            for comp in name.split("/"):
                if comp.startswith("_batch_id="):
                    tiers.add(int(comp.split("=", 1)[1]))
        for tier in sorted(tiers)[:-2]:
            real_delete(spark, f"{paths[k]}/_batch_id={tier}")
    t_prune = round(time.time() - t0, 2)
    after = {k: stats_of(paths[k]) for k in tier_stores}
    probe_after = tri_probe()
    print(json.dumps({
        "family": "triangle_tiers", "sf_dir": sf_dir, "n_events": n_events,
        "n_batches": n_tri, "stream_total_s": stream_s,
        "state_before": before, "state_after": after,
        "serve_probe_before_s": probe_before,
        "serve_probe_after_s": probe_after,
        "prune_s": t_prune,
    }), flush=True)
    events.unpersist()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
