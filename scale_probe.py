"""Scale probe: measure how the flagship corpus operators scale as the
input grows k× (k = 1, 2, 4, 8 over the sf0.1 fixtures).

The per-round bench answers "how fast at sf0.1"; this answers the
100 TB question directly: does runtime grow ~linearly with corpus size,
or is there a quadratic term hiding in a self-join?  Replicas get a
unique suffix token (docs) / a deterministic first-component nudge
(embeddings) so copies are NOT near-duplicates of each other — the
pair structure stays linear and the probe measures throughput, not an
artificially inflated candidate explosion.

Usage: python scale_probe.py [max_k]            (writes nothing to the repo)
Output: one JSON line per (op, k) with seconds and output rows, then a
per-op linearity summary (time_k / (k * time_1)).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/graft_scale_probe"


def replicate(spark, k: int) -> str:
    """k× corpus under /tmp: doc_id/vec_id offset per replica; text gets
    a per-replica suffix token, embeddings a deterministic nudge."""
    from pyspark.sql import functions as F

    from updating_datasets_data_engineering_spark.tables import load_table

    out = os.path.join(WORK, f"k{k}")
    if os.path.isdir(os.path.join(out, "documents.parquet")):
        return out
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    n_docs = docs.count()
    n_vecs = emb.count()
    # replica i rewrites EVERY word (prefix "r{i}-") and circular-shifts
    # the embedding by 7*i — replicas share no shingles and sit far
    # apart in cosine, so true pair structure stays linear in k and the
    # probe measures throughput, not an artificial dup explosion
    d_parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
            (
                F.col("text") if i == 0 else F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(F.lit(f"r{i}-"), w),
                    ),
                    " ",
                )
            ).alias("text"),
            "lang", "source", "n_chars",
        )
        for i in range(k)
    ]
    e_parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * n_vecs)).alias("vec_id"),
            (
                F.col("embedding") if (7 * i) % 64 == 0 else F.concat(
                    F.slice("embedding", (7 * i) % 64 + 1, 64 - (7 * i) % 64),
                    F.slice("embedding", 1, (7 * i) % 64),
                )
            ).alias("embedding"),
            "label",
        )
        for i in range(k)
    ]
    d = d_parts[0]
    for p in d_parts[1:]:
        d = d.unionByName(p)
    e = e_parts[0]
    for p in e_parts[1:]:
        e = e.unionByName(p)
    d.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    e.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return out


def clusters_crossover(max_k: int = 8) -> None:
    """VERDICT r5 item 1: measure the batch-vs-incremental CLUSTER
    crossover with the PRODUCTION shape — a churned delta held at FIXED
    absolute size (the base fixture's doc_id % 10 == 0 slice, ~N/10
    docs = "one day") against an archive that grows k×.  The registry's
    graded pair uses delta ∝ corpus, where at 5k docs probe + star
    closure ≈ the local per-job floor; this probe holds the delta fixed
    so the avoided work (full re-band + full re-closure) grows with k
    while the incremental plan's work does not.

    Batch  = full minhash_lsh_pairs + connected_components on
             archive ∪ delta (what a nightly full recompute pays).
    Incr   = probe the PERSISTED band index + label fixpoint (built
             outside the timer — it is yesterday's state) with the
             delta: incremental_minhash_pairs + incremental_components.

    Output: one JSON line per (variant, k), then the crossover summary.
    """
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    from updating_datasets_data_engineering_spark.operators import dedup as D
    from updating_datasets_data_engineering_spark.session import get_spark
    from updating_datasets_data_engineering_spark.tables import load_table

    from pyspark.sql import functions as F

    spark = get_spark("scale-probe-clusters", shuffle_partitions=32)
    n_base = load_table(spark, SF_DIR, "documents").count()
    ks = [k for k in (1, 2, 4, 8, 16) if k <= max_k]
    out: dict[int, dict[str, float]] = {}
    for k in ks:
        path = replicate(spark, k)
        docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
        is_delta = (F.col("doc_id") < n_base) & (F.col("doc_id") % 10 == 0)
        delta = docs.where(is_delta)
        archive = docs.where(~is_delta)
        # yesterday's state: built once, OUTSIDE the timers
        idx_dir = os.path.join(path, "probe_band_index")
        lbl_dir = os.path.join(path, "probe_labels")
        if not os.path.isfile(os.path.join(idx_dir, "_SUCCESS")):
            D.minhash_band_index(
                D.minhash_features(archive, "doc_id", "text", 3), 16, 4
            ).write.mode("overwrite").parquet(idx_dir)
        if not os.path.isfile(os.path.join(lbl_dir, "_SUCCESS")):
            D.connected_components(
                D.minhash_lsh_pairs(
                    archive, num_hashes=16, band_size=4, threshold=0.4, ngram=3
                )
            ).write.mode("overwrite").parquet(lbl_dir)

        def run_batch():
            return D.connected_components(
                D.minhash_lsh_pairs(
                    docs, num_hashes=16, band_size=4, threshold=0.4, ngram=3
                )
            ).count()

        def run_incremental():
            band_index = spark.read.parquet(idx_dir)
            labels = spark.read.parquet(lbl_dir)
            new_pairs = D.incremental_minhash_pairs(
                archive, delta, num_hashes=16, band_size=4,
                threshold=0.4, ngram=3, archive_index=band_index,
            )
            return D.incremental_components(labels, new_pairs).count()

        res = {}
        for name, fn in (("clusters_batch", run_batch),
                         ("clusters_incremental", run_incremental)):
            best, rows = None, None
            for _ in range(2):
                t0 = time.time()
                rows = fn()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            res[name] = best
            print(json.dumps({"op": name, "k": k, "sec": round(best, 2),
                              "rows": rows, "delta_docs": "fixed n/10"}),
                  flush=True)
        out[k] = res
    summary = {
        f"x{k}": {
            "batch_s": round(v["clusters_batch"], 2),
            "incremental_s": round(v["clusters_incremental"], 2),
            "incremental_wins": v["clusters_incremental"] < v["clusters_batch"],
        }
        for k, v in out.items()
    }
    print(json.dumps({"clusters_crossover": summary}))
    shutil.rmtree(WORK, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "clusters":
        clusters_crossover(int(sys.argv[2]) if len(sys.argv) > 2 else 8)
        return
    max_k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    from updating_datasets_data_engineering_spark.operators import dedup as D
    from updating_datasets_data_engineering_spark.operators import similarity as S
    from updating_datasets_data_engineering_spark.session import get_spark
    from updating_datasets_data_engineering_spark.tables import load_table

    spark = get_spark("scale-probe", shuffle_partitions=32)

    from updating_datasets_data_engineering_spark.queries import curation as QC
    from updating_datasets_data_engineering_spark.queries import graph as QG

    def _reg(fn, docs):
        """Run a registry documents-query against the replicated frame
        (the patch only matters during lazy plan construction; it goes
        on the defining module, whose globals the builder reads)."""
        import unittest.mock as mock

        with mock.patch.object(sys.modules[fn.__module__], "_td", lambda s, d: docs):
            return fn(spark, "")

    ops = {
        "dedup_exact": lambda docs, emb: D.dedup_exact(docs, "doc_id", "text"),
        "dedup_minhash_lsh": lambda docs, emb: D.minhash_lsh_pairs(
            docs, num_hashes=16, band_size=4, threshold=0.4, ngram=3
        ),
        "embedding_near_dup_ann": lambda docs, emb: S.embedding_near_dup_pairs(emb, 0.5),
        "dedup_simhash": lambda docs, emb: D.simhash_groups(docs),
        # r5 blocks 4-5: the chunk-explode family (span aggregate + anti
        # join + per-doc reassembly) and the term-explode LM scorer —
        # per-replica word rewriting keeps span/vocab structure linear
        "docs_boilerplate_strip": lambda docs, emb: _reg(QC.docs_boilerplate_strip, docs),
        "docs_unigram_logprob": lambda docs, emb: _reg(QC.docs_unigram_logprob, docs),
        # r5 block 9: the model-based curation pair — classifier is the
        # map-only floor (explode + one aggregate, zero joins); DSIR
        # adds the vocab term-key join, the heaviest LM-scoring shape
        "docs_classifier_score": lambda docs, emb: _reg(QG.docs_classifier_score, docs),
        "docs_importance_resample": lambda docs, emb: _reg(
            QG.docs_importance_resample, docs
        ),
        # r5 block 10: order-2 LM (bigram + prefix joins) and the
        # sources×vocab JSD grid — both should track vocab growth
        "docs_bigram_logprob": lambda docs, emb: _reg(QG.docs_bigram_logprob, docs),
        "sources_jsd_divergence": lambda docs, emb: _reg(
            QG.sources_jsd_divergence, docs
        ),
    }

    results: dict[str, dict[int, float]] = {n: {} for n in ops}
    ks = [k for k in (1, 2, 4, 8) if k <= max_k]
    for k in ks:
        path = replicate(spark, k)
        docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
        emb = spark.read.parquet(os.path.join(path, "embeddings.parquet"))
        for name, fn in ops.items():
            best, rows = None, None
            for _ in range(2):  # min-of-2, same discipline as bench.py
                t0 = time.time()
                rows = fn(docs, emb).count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            results[name][k] = best
            print(json.dumps({"op": name, "k": k, "sec": round(best, 2), "rows": rows}),
                  flush=True)

    summary = {
        name: {
            f"x{k}": round(ts[k] / (k * ts[1]), 2) for k in ks if k > 1
        }
        for name, ts in results.items()
    }
    print(json.dumps({"linearity_time_over_k_times_t1": summary}))
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
