"""Streaming-variant tests (SURVEY.md §5.2 item 5): file-source
availableNow runs with checkpointing must equal the batch path, and a
second run must be a no-op (exactly-once-equivalent)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark import fs
from updating_datasets_data_engineering_spark import store as ST
from updating_datasets_data_engineering_spark.queries import _base as QB
from updating_datasets_data_engineering_spark.operators import ingest as I
from updating_datasets_data_engineering_spark.operators import merge as M
from updating_datasets_data_engineering_spark.sources import shot_synth as SS
from updating_datasets_data_engineering_spark.streaming import pipeline as SP
from updating_datasets_data_engineering_spark.tables import load_table


@pytest.fixture(scope="module")
def record_files(spark, sf_dir, tmp_path_factory):
    """Kafka-shaped JSON values written as text files (one per line)."""
    src = str(tmp_path_factory.mktemp("records"))
    records = SS.synth_kafka_records(load_table(spark, sf_dir, "events"))
    records.select("value").coalesce(2).write.mode("overwrite").text(src)
    return src


def _sorted_rows(df, cols):
    return sorted(
        (tuple((x is None, str(x)) for x in (r[c] for c in cols)) for r in df.collect())
    )


def test_streaming_matches_batch(spark, sf_dir, record_files, tmp_path):
    archive = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")

    stream = SP.read_json_record_stream(spark, record_files)
    enriched = SP.streaming_enriched_shots(stream)
    SP.run_available_now(enriched, SP.upsert_each_batch(archive), ckpt)

    got = spark.read.parquet(archive)
    # batch twin: same combinators, batch source.  dropDuplicates keeps
    # an ARBITRARY row per key (reference semantics,
    # scripts/spark_merge_dfs.py:83), so the contract to assert is not
    # row-identical output but: (1) exactly one row per key, (2) the
    # same key set as the batch input, (3) every archived row is a
    # genuine input row — not that both engines picked the same winner.
    batch = I.typed_shot_events(
        I.ingest_pipeline(SS.synth_kafka_records(load_table(spark, sf_dir, "events")))
    )
    candidates = batch.withColumn("event_time", F.col("game_date").cast("timestamp")).drop(
        "event_time"
    )
    key = list(M.SHOT_KEY)

    assert got.count() == candidates.dropDuplicates(key).count()
    assert set(got.columns) == set(candidates.columns)
    assert got.select(*key).distinct().count() == got.count()  # one row per key
    assert (
        _sorted_rows(got.select(*key).distinct(), key)
        == _sorted_rows(candidates.select(*key).distinct(), key)
    )
    cols = sorted(candidates.columns)
    # every archived row is one of the input rows (full-width semi join)
    assert got.join(candidates, on=cols, how="left_anti").count() == 0


def test_second_run_is_noop(spark, record_files, tmp_path):
    archive = str(tmp_path / "archive2")
    ckpt = str(tmp_path / "ckpt2")
    for _ in range(2):  # second run: checkpoint says nothing new
        stream = SP.read_json_record_stream(spark, record_files)
        SP.run_available_now(
            SP.streaming_enriched_shots(stream), SP.upsert_each_batch(archive), ckpt
        )
        count = spark.read.parquet(archive).count()
    assert spark.read.parquet(archive).count() == count


def test_streaming_hourly_window(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_json")
    events.select("ts", "event_type", "value").coalesce(2).write.mode("overwrite").json(src)
    schema = "ts TIMESTAMP, event_type STRING, value DOUBLE"
    stream = spark.readStream.schema(schema).json(src)
    agg = SP.streaming_hourly_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM hourly_test")
    expected = (
        events.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    cols = sorted(expected.columns)
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(expected.select(*cols), cols)


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    """applyInPandasWithState custom operator: final per-user state must
    equal the batch aggregate."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "state_src")
    events.select("user_id", "value").coalesce(2).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("user_id LONG, value DOUBLE").json(src)
    totals = SP.running_user_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last emitted row per user is the final state
    got = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) AS n_events,"
        " max_by(total_value, n_events) AS total_value"
        " FROM state_test GROUP BY user_id"
    )
    expected = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )
    cols = sorted(expected.columns)
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(expected.select(*cols), cols)


def test_stream_static_join(spark, sf_dir, tmp_path):
    """Stream-static join: the streaming side enriches against a static
    dimension (broadcast per micro-batch) — must equal the batch join."""
    events = load_table(spark, sf_dir, "events")
    dim = events.select("user_id").distinct().withColumn(
        "user_bucket", F.pmod("user_id", F.lit(4))
    )
    src = str(tmp_path / "join_src")
    events.select("event_id", "user_id", "value").coalesce(2).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("event_id LONG, user_id LONG, value DOUBLE").json(src)
    joined = stream.join(dim, "user_id").groupBy("user_bucket").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ss_join_test")
    expected = events.join(dim, "user_id").groupBy("user_bucket").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    cols = sorted(expected.columns)
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(expected.select(*cols), cols)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join (bounded state) must
    produce exactly the batch inequality join's pairs on bounded
    input."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    purchases.coalesce(2).write.mode("overwrite").json(lsrc)
    clicks.coalesce(2).write.mode("overwrite").json(rsrc)
    lstream = spark.readStream.schema("user_id LONG, l_ts TIMESTAMP").json(lsrc)
    rstream = (
        spark.readStream.schema("r_user LONG, r_ts TIMESTAMP").json(rsrc)
        .withColumnRenamed("r_user", "user_id")
    )
    joined = SP.streaming_interval_join(lstream, rstream)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ssj_test")
    # batch twin over the SAME json files (json serialization truncates
    # timestamps to millis; both sides must share that precision)
    lbatch = spark.read.schema("user_id LONG, l_ts TIMESTAMP").json(lsrc)
    rbatch = (
        spark.read.schema("r_user LONG, r_ts TIMESTAMP").json(rsrc)
        .withColumnRenamed("r_user", "ruid")
    )
    expected = lbatch.join(
        rbatch,
        (lbatch["user_id"] == rbatch["ruid"])
        & (rbatch["r_ts"] <= lbatch["l_ts"])
        & (rbatch["r_ts"] > lbatch["l_ts"] - F.expr("INTERVAL 3600 SECONDS")),
    ).select("user_id", "l_ts", "r_ts")
    cols = ["user_id", "l_ts", "r_ts"]
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(expected.select(*cols), cols)


def test_streaming_session_window(spark, sf_dir, tmp_path):
    """Streaming session_window == batch session_window on bounded
    input (complete mode flushes every closed session)."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_sess_json")
    events.select("ts", "user_id", "value").coalesce(2).write.mode("overwrite").json(src)
    schema = "ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    stream = spark.readStream.schema(schema).json(src)
    q = (
        SP.streaming_session_counts(stream)
        .writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM session_test")
    expected = SP.streaming_session_counts(events.select("ts", "user_id", "value"))
    cols = sorted(expected.columns)
    assert set(got.columns) == set(expected.columns)
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(expected.select(*cols), cols)
    # sessions are genuinely multi-event (the gap actually merges rows)
    assert got.where(F.col("n_events") > 1).count() > 0


def test_streaming_cdc_tombstones_match_batch(spark, tmp_path):
    """VERDICT r3 item 6 done-criterion: a streamed delete retracts a
    key from the checkpointed archive, and the final archive equals the
    batch merge_cdc applied to the same deltas (crash-safety inherited
    from the same fs.py swap protocol every batch uses)."""
    from pyspark.sql import Row

    src = str(tmp_path / "cdc_src")
    archive = str(tmp_path / "cdc_archive")
    ckpt = str(tmp_path / "cdc_ckpt")
    os.makedirs(src, exist_ok=True)

    delta1 = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", ts=1, op="upsert") for i in range(1, 11)]
    )
    delta2 = spark.createDataFrame(
        [
            Row(k=5, v="v5-new", ts=2, op="upsert"),   # update existing
            Row(k=3, v=None, ts=2, op="delete"),       # tombstone existing
            Row(k=11, v="v11", ts=2, op="upsert"),     # brand-new key
            Row(k=99, v=None, ts=2, op="delete"),      # tombstone absent key
        ]
    )

    def run_increment(batch_df):
        # append one more "day" of CDC records; the checkpoint makes the
        # stream pick up only the new files
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        SP.run_available_now(
            stream,
            SP.upsert_each_batch(archive, key=("k",), op_col="op", tiebreak=("ts",)),
            ckpt,
        )

    run_increment(delta1)
    day1 = spark.read.parquet(archive)
    assert day1.count() == 10 and "op" not in day1.columns

    run_increment(delta2)
    got = spark.read.parquet(archive)

    # batch twin: sequential merge_cdc over the same deltas
    empty = spark.createDataFrame([], delta1.drop("op").schema)
    after1 = M.merge_cdc(empty, delta1, key=("k",), tiebreak=("ts",))
    expected = M.merge_cdc(after1, delta2, key=("k",), tiebreak=("ts",))

    cols = ["k", "v", "ts"]
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
        expected.select(*cols), cols
    )
    keys = {r["k"] for r in got.select("k").collect()}
    assert 3 not in keys, "streamed tombstone must retract k=3"
    assert keys == {1, 2, 4, 5, 6, 7, 8, 9, 10, 11}
    assert got.where("k = 5").collect()[0]["v"] == "v5-new"


def test_streaming_progress_recorder(spark, record_files, tmp_path):
    """The StreamingQueryListener-based recorder captures per-batch
    progress: total input rows equal the source, batch durations are
    recorded, and the watermarked dedup's state store is visible."""
    from updating_datasets_data_engineering_spark.streaming import metrics as SM

    rec, listener = SM.attach_progress_recorder(spark)
    try:
        stream = SP.read_json_record_stream(spark, record_files)
        enriched = SP.streaming_enriched_shots(stream)
        SP.run_available_now(
            enriched, SP.upsert_each_batch(str(tmp_path / "archive")), str(tmp_path / "ckpt")
        )
        n_source = spark.read.text(record_files).count()
        rec.wait_for_rows(n_source)
        assert rec.total_input_rows == n_source
        assert len(rec.batches) >= 1
        assert all(b.duration_ms >= 0 for b in rec.batches)
        # the dropDuplicates state store reports its key rows
        assert any(b.state_rows > 0 for b in rec.batches)
    finally:
        spark.streams.removeListener(listener)


def test_streaming_sliding_active_users_equals_batch(spark, sf_dir, tmp_path):
    """The watermarked sliding-window distinct (collect_set state) on a
    file stream must equal the batch registry query on the same rows —
    exact equality, not HLL closeness."""
    from updating_datasets_data_engineering_spark.queries.curation import (
        events_sliding_active_users,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "sliding_src")
    events.select("ts", "user_id").coalesce(2).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("ts TIMESTAMP, user_id LONG").json(src)
    agg = SP.streaming_sliding_active_users(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM sliding_test")
    expected = events_sliding_active_users(spark, sf_dir)
    cols = ["win_start_sec", "active_users"]
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
        expected.select(*cols), cols
    )


def test_streaming_sig_edges_maintenance(spark, tmp_path):
    """Streaming twin of users_sig_edges_incremental, WITHOUT the
    disjoint-days assumption: batches split by event_id (so hours span
    batches arbitrarily).  After every prefix the edge view must equal
    the batch _significant_edges recomputed from scratch on everything
    streamed so far — each (hour, pair) instance counted exactly once
    across the new-x-state / new-x-new joins and the re-arrival
    anti-join."""
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark.queries import graph as R

    src = str(tmp_path / "se_src")
    active_path = str(tmp_path / "se_active")
    pairs_path = str(tmp_path / "se_pairs")
    occ_path = str(tmp_path / "se_occ")
    ckpt = str(tmp_path / "se_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_sig_edges_each_batch(active_path, pairs_path, occ_path)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    streamed = None
    cols = ["user_a", "user_b", "shared_windows", "lift"]
    for b in batches:
        run_increment(b)
        streamed = b if streamed is None else streamed.unionByName(b)
        got = SP.serve_sig_edges(spark, pairs_path, occ_path)
        with mock.patch.object(QB, "load_table", lambda s, d, name: streamed):
            want = R._significant_edges(spark, "")
        assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        )
    assert SP.serve_sig_edges(spark, pairs_path, occ_path).count() > 0


def test_streaming_triangles_maintenance(spark, tmp_path):
    """Streaming triangle maintenance (VERDICT r10 item 5): after every
    prefix the persisted triangle/degree table must equal
    triangle_stats recomputed from scratch on the significant graph of
    everything streamed so far — batch 1 via the full wedge build,
    later batches via the delta-anchored apply_triangle_delta
    correction over the served-edge diff."""
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark.queries import graph as R
    from updating_datasets_data_engineering_spark.operators import graph as G

    src = str(tmp_path / "ts_src")
    paths = {
        k: str(tmp_path / f"ts_{k}")
        for k in ("active", "pairs", "occ", "edges_snap", "tri")
    }
    ckpt = str(tmp_path / "ts_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_triangles_each_batch(
                    paths["active"], paths["pairs"], paths["occ"],
                    paths["edges_snap"], paths["tri"],
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    streamed = None
    cols = ["node", "degree", "triangles", "clustering"]
    for b in batches:
        run_increment(b)
        streamed = b if streamed is None else streamed.unionByName(b)
        got = SP.serve_triangles(
            spark, paths["tri"], paths["pairs"], paths["occ"]
        )
        with mock.patch.object(QB, "load_table", lambda s, d, name: streamed):
            edges = R._significant_edges(spark, "")
        want = G.triangle_stats(edges, "user_a", "user_b")
        assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        )


def test_streaming_triangles_when_every_edge_drops_out(spark, tmp_path):
    """A batch whose served edge view is empty must still commit its
    (empty) triangle tier, or the previous tier stays the newest and
    the stream serves a triangle table for edges that no longer pass
    the lift.  Batch 0 makes (1, 2) significant (shared
    2 of 6 hours, lift 3); batch 1 adds solo hours for both users, so
    the lift falls to 0.78 and no edge is left."""
    import datetime as dt
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark.queries import graph as R
    from updating_datasets_data_engineering_spark.operators import graph as G

    paths = {k: str(tmp_path / k) for k in ("active", "pairs", "occ", "edges_snap", "tri")}
    fn = SP.maintain_triangles_each_batch(
        paths["active"], paths["pairs"], paths["occ"], paths["edges_snap"], paths["tri"]
    )

    def events(rows, first_id):
        return spark.createDataFrame(
            [
                (first_id + i, dt.datetime(2024, 1, 15, hour, 10), user)
                for i, (hour, user) in enumerate(rows)
            ],
            "event_id long, ts timestamp, user_id long",
        )

    batches = [
        # users 1 and 2 share hours 0-1; user 3 is alone in hours 2-5
        events([(0, 1), (0, 2), (1, 1), (1, 2)] + [(h, 3) for h in range(2, 6)], 0),
        # user 1 alone in hours 6-9, user 2 alone in hours 10-13
        events([(h, 1) for h in range(6, 10)] + [(h, 2) for h in range(10, 14)], 100),
    ]
    cols = ["node", "degree", "triangles", "clustering"]
    streamed = None
    sizes = []
    for batch_id, b in enumerate(batches):
        fn(b, batch_id)
        streamed = b if streamed is None else streamed.unionByName(b)
        got = SP.serve_triangles(spark, paths["tri"], paths["pairs"], paths["occ"])
        with mock.patch.object(QB, "load_table", lambda s, d, name: streamed):
            edges = R._significant_edges(spark, "")
        want = G.triangle_stats(edges, "user_a", "user_b")
        assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        ), f"prefix {batch_id}"
        sizes.append(got.count())
    assert sizes == [2, 0]
    assert ST.latest(spark, paths["tri"], below=2) == 1


def test_streaming_triangles_multimonth(spark, tmp_path):
    """The triangle maintainer on a genuinely MULTI-MONTH stream (the
    graded fixture is single-month):

    * prefix equivalence — after every month's wave the served
      triangle table equals the from-scratch recompute on everything
      streamed so far;
    * cross-epoch expectation terms — users 9001/9002 are heavily
      active in DISJOINT January hours (n=40 each, ex_Jan ≈ 2.2) and
      first co-occur in February (sh=2, ex_Feb ≈ 0.006): with the
      January term their lift ≈ 0.9 < 1.5 (edge excluded); a
      maintainer that served only touched-month terms would compute
      lift ≈ 336 and wrongly include the edge, so equality here
      proves the untouched-month expectation terms are served (they
      come from the occupancy store's per-month n_u/W partials inside
      ``lift_from_counts`` — every month a pair is both-active in
      contributes, co-occurrence or not);
    * crash replay — re-applying the last batch directly (the exact
      call a checkpointed foreachBatch replay makes after a crash)
      leaves the served table byte-identical."""
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark.queries import graph as R
    from updating_datasets_data_engineering_spark.operators import graph as G

    src = str(tmp_path / "te_src")
    paths = {
        k: str(tmp_path / f"te_{k}")
        for k in ("active", "pairs", "occ", "edges_snap", "tri")
    }
    ckpt = str(tmp_path / "te_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    jan = load_table(spark, sf_dir, "events").select("ts", "user_id")
    feb = jan.select(
        (F.col("ts") + F.expr("INTERVAL 31 DAYS")).alias("ts"),
        ((F.col("user_id") * 7 + 3) % 50).alias("user_id"),
    )
    mar = jan.select(
        (F.col("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
        ((F.col("user_id") * 11 + 5) % 50).alias("user_id"),
    )
    pair_jan = spark.createDataFrame(
        [(f"2024-01-{d:02d} {h:02d}:15:00", u)
         for u, h0 in ((9001, 0), (9002, 12))
         for i in range(40)
         for d, h in [(1 + i // 8, h0 + i % 8)]],
        "ts string, user_id long",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
    pair_feb = spark.createDataFrame(
        [("2024-02-03 10:05:00", 9001), ("2024-02-03 10:40:00", 9002),
         ("2024-02-14 17:05:00", 9001), ("2024-02-14 17:40:00", 9002)],
        "ts string, user_id long",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
    waves = [
        jan.unionByName(pair_jan),
        feb.unionByName(pair_feb),
        mar,
    ]

    def maintainer():
        return SP.maintain_triangles_each_batch(
            paths["active"], paths["pairs"], paths["occ"],
            paths["edges_snap"], paths["tri"],
        )

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(maintainer())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    def served():
        return SP.serve_triangles(
            spark, paths["tri"], paths["pairs"], paths["occ"]
        )

    streamed = None
    cols = ["node", "degree", "triangles", "clustering"]
    for b in waves:
        run_increment(b)
        streamed = b if streamed is None else streamed.unionByName(b)
        with mock.patch.object(QB, "load_table", lambda s, d, name: streamed):
            edges = R._significant_edges(spark, "")
        want = G.triangle_stats(edges, "user_a", "user_b")
        assert _sorted_rows(served().select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        )
    # the cross-month pair must be kept OUT of the graph (lift ~0.9)
    snap = spark.read.parquet(paths["edges_snap"])
    assert (
        snap.where((F.col("user_a") == 9001) & (F.col("user_b") == 9002)).count()
        == 0
    )
    # crash replay of the last batch: the < batch_id reads and the
    # per-tier writes replay to the same state
    before = _sorted_rows(served(), cols)
    maintainer()(waves[-1], len(waves) - 1)
    assert _sorted_rows(served(), cols) == before


def test_hourly_streaming_watermark_drop(spark, tmp_path):
    """ADVICE r11 item 2 / r12 item 1: the late wave of the
    events_hourly_streaming construction is ACTUALLY dropped by the
    watermark (numRowsDroppedByWatermark == |late wave|) — pinned so
    the max(ts)-anchored splits can never silently degenerate to an
    empty late wave on a fixture whose time span drifts.  Uses the
    query's own ``_late_tail_waves`` helper so the test pins the
    production split, not a copy."""
    import json

    from updating_datasets_data_engineering_spark.queries.analytics import (
        _late_tail_waves,
    )
    from updating_datasets_data_engineering_spark.queries.indexes import (
        _stream_waves_available_now,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    waves = _late_tail_waves(ev)
    n_late = waves[2].count()
    assert n_late > 0, "late wave degenerated to empty — split broke"
    src = str(tmp_path / "wd_src")
    os.makedirs(src, exist_ok=True)
    served = str(tmp_path / "wd_served")
    fn = SP.upsert_each_batch(served, key=("hour", "event_type"))
    q = _stream_waves_available_now(
        spark, waves, src, str(tmp_path / "wd_ckpt"), fn,
        transform=lambda s: SP.streaming_hourly_counts(
            s, "2 hours", with_users=True
        ),
        output_mode="append",
    )
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in json.loads(p.json)["stateOperators"]
    )
    assert dropped == n_late, (dropped, n_late)


def test_sig_edges_state_compaction(spark, tmp_path):
    """The edge-maintenance states grow one partition per micro-batch;
    compaction must collapse them without changing the SERVED edge
    view, and the stream must continue correctly over the compacted
    state (same lifecycle the LSH band index got).  The pair and
    occupancy stores are ADDITIVE partials (consumers only ever SUM),
    so they fold via compact_additive_partials — one row per key at
    the reserved ``_batch_id = -1`` — while the active store compacts
    row-preserving via compact_batch_index."""
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark.queries import graph as R
    from updating_datasets_data_engineering_spark.operators import maintenance as MNT

    src = str(tmp_path / "sec_src")
    active_path = str(tmp_path / "sec_active")
    pairs_path = str(tmp_path / "sec_pairs")
    occ_path = str(tmp_path / "sec_occ")
    ckpt = str(tmp_path / "sec_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_sig_edges_each_batch(active_path, pairs_path, occ_path)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    cols = ["user_a", "user_b", "shared_windows", "lift"]
    run_increment(batches[0])
    run_increment(batches[1])
    before = _sorted_rows(
        SP.serve_sig_edges(spark, pairs_path, occ_path).select(*cols), cols
    )
    nb, na = MNT.compact_batch_index(spark, active_path)
    assert na <= nb
    nb, na = MNT.compact_additive_partials(
        spark, pairs_path, keys=["month", "user_a", "user_b"], sums=["sh"]
    )
    assert na <= nb
    nb, na = MNT.compact_additive_partials(
        spark, occ_path, keys=["month", "user_id"], sums=["nu_d", "wm_d"]
    )
    assert na <= nb
    # compaction must not change the state the readers see
    assert (
        _sorted_rows(
            SP.serve_sig_edges(spark, pairs_path, occ_path).select(*cols), cols
        )
        == before
    )
    # the stream continues over compacted state; final view still equals
    # the from-scratch recompute on everything streamed
    run_increment(batches[2])
    got = SP.serve_sig_edges(spark, pairs_path, occ_path)
    streamed = batches[0].unionByName(batches[1]).unionByName(batches[2])
    with mock.patch.object(QB, "load_table", lambda s, d, name: streamed):
        want = R._significant_edges(spark, "")
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
        want.select(*cols), cols
    )


def test_sig_edges_resume_after_crashed_compaction_swap(spark, tmp_path):
    """A compaction pass swaps a store by rename-aside; a crash right
    after ``pairs -> pairs.old`` leaves the only copy of the pair
    history in ``.old``.  The next batch must restore it before its
    committed reads: without that it reads an empty pair state, and
    its first append (a swap into the now tierless store) deletes
    ``.old`` for good."""
    import unittest.mock as mock

    from updating_datasets_data_engineering_spark.queries import graph as R
    from updating_datasets_data_engineering_spark.operators import maintenance as MNT

    src = str(tmp_path / "scs_src")
    active_path = str(tmp_path / "scs_active")
    pairs_path = str(tmp_path / "scs_pairs")
    occ_path = str(tmp_path / "scs_occ")
    ckpt = str(tmp_path / "scs_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_sig_edges_each_batch(active_path, pairs_path, occ_path)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    run_increment(batches[0])
    run_increment(batches[1])
    MNT.compact_additive_partials(
        spark, pairs_path, keys=["month", "user_a", "user_b"], sums=["sh"]
    )
    # the crash: the committed store is renamed aside, the staged fold
    # never moved in
    assert fs.rename(spark, pairs_path, fs.old_path(pairs_path))
    run_increment(batches[2])
    assert not fs.exists(spark, fs.old_path(pairs_path))
    cols = ["user_a", "user_b", "shared_windows", "lift"]
    got = SP.serve_sig_edges(spark, pairs_path, occ_path)
    streamed = batches[0].unionByName(batches[1]).unionByName(batches[2])
    with mock.patch.object(QB, "load_table", lambda s, d, name: streamed):
        want = R._significant_edges(spark, "")
    assert want.count() > 0
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
        want.select(*cols), cols
    )


def test_streaming_ann_index_maintenance(spark, tmp_path):
    """VERDICT r5 item 6 — streaming twin of knn_ann_ivf_incremental:
    three embedding micro-batches maintain the frozen-centroid IVF cell
    index; after EVERY prefix, top-k over the stored index equals the
    full-index recompute on the streamed prefix (per-vector assignment
    is deterministic given the frozen quantizer, so append == rebuild
    bit-identically).  Then a tombstone batch retracts a vector from
    both stores, and compaction preserves the result."""
    from updating_datasets_data_engineering_spark.operators import (
        maintenance as MNT,
        similarity as SIM,
    )

    src = str(tmp_path / "ann_src")
    vectors_path = str(tmp_path / "ann_vectors")
    cells_path = str(tmp_path / "ann_cells")
    cents_path = str(tmp_path / "ann_centroids")
    ckpt = str(tmp_path / "ann_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # batch 0 must hold the 16 smallest ids so the frozen quantizer
    # matches the batch query's deterministic id < 16 seeding
    batches = [
        emb.where(F.col("vec_id") < 16).unionByName(
            emb.where((F.col("vec_id") >= 16) & (F.col("vec_id") % 3 == 0))
        ),
        emb.where((F.col("vec_id") >= 16) & (F.col("vec_id") % 3 == 1)),
        emb.where((F.col("vec_id") >= 16) & (F.col("vec_id") % 3 == 2)),
    ]
    queries = emb.where(F.col("vec_id") < 5)
    topk_cols = ["query_id", "neighbor_id", "cos_sim", "rank"]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_ann_index_each_batch(vectors_path, cells_path, cents_path)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    def stored_topk():
        cents = spark.read.parquet(cents_path)
        cells = spark.read.parquet(cells_path).select("vec_id", "embedding", "cell")
        corpus = spark.read.parquet(vectors_path).select("vec_id", "embedding")
        return SIM.ivf_ann_topk(
            corpus, queries, k=5, n_cells=16, n_probe=4,
            centroids=cents, cells=cells,
        )

    # store writes use per-write options only; the session conf is
    # never changed under the caller
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    streamed = None
    for b in batches:
        run_increment(b)
        streamed = b if streamed is None else streamed.unionByName(b)
        assert spark.conf.get(conf_key) == conf_before
        cents = spark.read.parquet(cents_path)
        want = SIM.ivf_ann_topk(
            streamed, queries, k=5, n_cells=16, n_probe=4, centroids=cents
        )
        assert _sorted_rows(stored_topk(), topk_cols) == _sorted_rows(
            want.select(*topk_cols), topk_cols
        )

    # frozen quantizer == the batch query's deterministic seeding
    cents = spark.read.parquet(cents_path)
    assert sorted(r.cid for r in cents.collect()) == list(range(16))

    # tombstone: delete one archived vector via a CDC batch
    victim = 17
    tomb = spark.createDataFrame([(victim, [0.0] * 64, "delete")],
                                 "vec_id long, embedding array<double>, op string")
    tomb.write.mode("append").parquet(src + "_cdc")
    stream = spark.readStream.schema(tomb.schema).parquet(src + "_cdc")
    q = (
        stream.writeStream.foreachBatch(
            SP.maintain_ann_index_each_batch(
                vectors_path, cells_path, cents_path, op_col="op"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ann_ckpt_cdc"))
        .trigger(availableNow=True)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()
    assert (
        spark.read.parquet(cells_path).where(F.col("vec_id") == victim).count() == 0
    )
    assert (
        spark.read.parquet(vectors_path).where(F.col("vec_id") == victim).count() == 0
    )
    post_delete = _sorted_rows(stored_topk(), topk_cols)
    survivors = streamed.where(F.col("vec_id") != victim)
    want = SIM.ivf_ann_topk(
        survivors, queries, k=5, n_cells=16, n_probe=4, centroids=cents
    )
    assert post_delete == _sorted_rows(want.select(*topk_cols), topk_cols)

    # compaction folds the per-batch partitions into the one reserved
    # tier, through the swap (no staging or rename-aside residue);
    # result unchanged
    before, after = MNT.compact_batch_index(spark, cells_path)
    assert after <= before
    assert ST.tiers(spark, cells_path) == {ST.COMPACTED}
    assert not fs.exists(spark, fs.staging_path(cells_path))
    assert not fs.exists(spark, fs.old_path(cells_path))
    assert _sorted_rows(stored_topk(), topk_cols) == post_delete


def test_streaming_bm25_index_maintenance(spark, tmp_path):
    """Streaming twin of docs_bm25_search: three document micro-batches
    maintain the postings / doclen / df-partial / stats-partial state
    and the served top-k ranking view; after each prefix the view must
    equal the batch BM25 recomputed from scratch on everything streamed
    so far (global idf/avgdl shift with every batch, so the equality
    exercises the additive stat merges, not just the postings append)."""
    from updating_datasets_data_engineering_spark.functions import text as TXT
    from updating_datasets_data_engineering_spark.queries.indexes import (
        _BM25_NQ,
        _bm25_rank,
    )
    from updating_datasets_data_engineering_spark.tables import load_table

    src = str(tmp_path / "bm_src")
    paths = {k: str(tmp_path / f"bm_{k}") for k in
             ("postings", "doclen", "df", "stats", "ranking")}
    ckpt = str(tmp_path / "bm_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [all_docs.where(F.col("doc_id") % 3 == i) for i in range(3)]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_bm25_index_each_batch(
                    paths["postings"], paths["doclen"], paths["df"],
                    paths["stats"], paths["ranking"],
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    def batch_bm25(docs):
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
        return _bm25_rank(tf.join(F.broadcast(qterms), "term"), dl, stats)

    cols = ["query_term", "doc_id", "score", "rank"]
    streamed = None
    for b in batches:
        run_increment(b)
        streamed = b if streamed is None else streamed.unionByName(b)
        got = spark.read.parquet(paths["ranking"])
        want = batch_bm25(streamed)
        assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        )
    # replaying the last batch (crash recovery) leaves the view unchanged
    before = _sorted_rows(spark.read.parquet(paths["ranking"]).select(*cols), cols)
    SP.maintain_bm25_index_each_batch(
        paths["postings"], paths["doclen"], paths["df"],
        paths["stats"], paths["ranking"],
    )(batches[-1], 2)
    after = _sorted_rows(spark.read.parquet(paths["ranking"]).select(*cols), cols)
    assert after == before


def test_streaming_semantic_index_maintenance(spark, tmp_path):
    """Streaming twin of the semantic-dedup lifecycle: three id-ordered
    embedding micro-batches (the insert-monotonicity precondition)
    maintain the cell archive and the served flags view; batch 3 mixes
    INSERTS (planted exact re-crawls of earlier vectors) with DELETES
    of three of those originals, so the same micro-batch exercises the
    retract re-verify (absorber loss flips a surviving copy) and the
    delta probe.  After each prefix the flags view must equal the
    batch semantic_dedup recomputed on the surviving streamed prefix
    (same frozen first-batch centroids: ids < n_cells)."""
    from updating_datasets_data_engineering_spark.operators import similarity as SIM
    from updating_datasets_data_engineering_spark.tables import load_table

    src = str(tmp_path / "sem_src")
    cells_path = str(tmp_path / "sem_cells")
    flags_path = str(tmp_path / "sem_flags")
    cents_path = str(tmp_path / "sem_cents")
    ckpt = str(tmp_path / "sem_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    ins = F.lit("insert").alias("op")
    b1 = emb.where(F.col("vec_id") < 170).select("vec_id", "embedding", ins)
    b2 = emb.where((F.col("vec_id") >= 170) & (F.col("vec_id") < 400)).select(
        "vec_id", "embedding", ins
    )
    b3 = (
        emb.where(F.col("vec_id") >= 400)
        .select("vec_id", "embedding", ins)
        .unionByName(planted.select("vec_id", "embedding", ins))
        .unionByName(
            # tombstones target EARLIER batches' originals only — the
            # maintainer applies deletes before inserts, so deleting an
            # id inserted in the same batch would be order-ambiguous
            emb.where((F.col("vec_id") % 50 == 25) & (F.col("vec_id") < 400)).select(
                "vec_id", "embedding", F.lit("delete").alias("op")
            )
        )
    )

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_semantic_index_each_batch(
                    cells_path, flags_path, cents_path,
                    n_cells=16, threshold=0.92, op_col="op",
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    cols = ["vec_id", "cell", "is_dup"]
    survivors = None
    for i, b in enumerate((b1, b2, b3)):
        run_increment(b)
        inserted = b.where(F.col("op") != "delete").select("vec_id", "embedding")
        deleted = b.where(F.col("op") == "delete").select("vec_id")
        survivors = (
            inserted
            if survivors is None
            else survivors.unionByName(inserted)
        ).join(deleted, "vec_id", "left_anti")
        got = spark.read.parquet(flags_path)
        want = SIM.semantic_dedup(survivors, n_cells=16, threshold=0.92)
        assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        )
        # crash-replay of the just-committed LAST batch (ADVICE r9
        # item 1, the BM25 replay assertion mirrored): a replayed
        # insert-only batch rewrites its own flags partition
        # byte-identically; the replayed MIXED batch must not union
        # already-swapped flags with the recomputed delta — the
        # cells-archive semi-join guard keeps the retract state clean
        before = _sorted_rows(spark.read.parquet(flags_path).select(*cols), cols)
        SP.maintain_semantic_index_each_batch(
            cells_path, flags_path, cents_path,
            n_cells=16, threshold=0.92, op_col="op",
        )(b, i)
        after = _sorted_rows(spark.read.parquet(flags_path).select(*cols), cols)
        assert after == before, f"replay of batch {i} changed the served view"
    # the mixed batch exercised both legs: some planted copy survives
    # non-dup (its only witness was deleted) and some is absorbed
    final = {r["vec_id"]: r["is_dup"] for r in spark.read.parquet(flags_path).collect()}
    planted_flags = {v: d for v, d in final.items() if v >= 1_000_000}
    assert planted_flags, "planted re-crawls missing from the view"
    assert any(d for d in planted_flags.values()), "no planted copy absorbed"
    assert any(
        not planted_flags[1_000_000 + t] for t in (25, 75, 125)
        if 1_000_000 + t in planted_flags
    ), "deleting the original absorber should leave its copy non-dup"


def test_bm25_state_compaction(spark, tmp_path):
    """The BM25 df/stat stores are ADDITIVE partials (one partition per
    micro-batch; consumers sum) — compact_additive_partials folds them
    to one row per key group mid-stream, and compact_batch_index
    collapses the row-preserving postings/doclen stores; a further
    micro-batch appended on top of the compacted state must leave the
    served ranking equal to the batch recompute on everything streamed
    (compaction is invisible to the readers' _batch_id < N filters)."""
    from updating_datasets_data_engineering_spark.functions import text as TXT
    from updating_datasets_data_engineering_spark.operators import maintenance as MNT
    from updating_datasets_data_engineering_spark.queries.indexes import (
        _BM25_NQ,
        _bm25_rank,
    )
    from updating_datasets_data_engineering_spark.tables import load_table

    src = str(tmp_path / "bmc_src")
    paths = {k: str(tmp_path / f"bmc_{k}") for k in
             ("postings", "doclen", "df", "stats", "ranking")}
    ckpt = str(tmp_path / "bmc_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [all_docs.where(F.col("doc_id") % 3 == i) for i in range(3)]

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                SP.maintain_bm25_index_each_batch(
                    paths["postings"], paths["doclen"], paths["df"],
                    paths["stats"], paths["ranking"],
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    run_increment(batches[0])
    run_increment(batches[1])
    # between-runs maintenance: fold the additive partials, collapse the
    # row-preserving stores
    b_df, a_df = MNT.compact_additive_partials(spark, paths["df"], ["term"], ["df"])
    MNT.compact_additive_partials(spark, paths["stats"], [], ["n", "sumdl"])
    MNT.compact_batch_index(spark, paths["postings"])
    MNT.compact_batch_index(spark, paths["doclen"])
    assert a_df <= b_df
    # the df store now holds ONE row per term
    dfreq = spark.read.parquet(paths["df"])
    assert dfreq.groupBy("term").count().agg(F.max("count")).collect()[0][0] == 1
    # a compacted fold is idempotent
    MNT.compact_additive_partials(spark, paths["df"], ["term"], ["df"])
    run_increment(batches[2])

    tf = (
        all_docs.select("doc_id", F.explode(TXT.words(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "term").limit(_BM25_NQ)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.avg("dl").alias("avgdl")
    )
    want = _bm25_rank(tf.join(F.broadcast(qterms), "term"), dl, stats)
    cols = ["query_term", "doc_id", "score", "rank"]
    got = spark.read.parquet(paths["ranking"])
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
        want.select(*cols), cols
    )


def test_compaction_survives_batch_replay(spark, tmp_path):
    """ADVICE r9 item 3: the compactors fold history into the RESERVED
    partition _batch_id = -1, which no micro-batch can dynamic-
    overwrite.  A crash-replayed batch after compaction therefore
    re-appends its own partition (a bounded DOUBLE-COUNT, the
    compact_batch_index degraded mode the docstrings advertise) — it
    can no longer ERASE the folded contributions of earlier batches,
    which is exactly what the previous watermark-id retag allowed."""
    from updating_datasets_data_engineering_spark.operators import maintenance as MNT
    from updating_datasets_data_engineering_spark.tables import load_table

    src = str(tmp_path / "rp_src")
    paths = {k: str(tmp_path / f"rp_{k}") for k in
             ("postings", "doclen", "df", "stats", "ranking")}
    ckpt = str(tmp_path / "rp_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [all_docs.where(F.col("doc_id") % 2 == i) for i in range(2)]
    n0, n1 = batches[0].count(), batches[1].count()

    fn = SP.maintain_bm25_index_each_batch(
        paths["postings"], paths["doclen"], paths["df"],
        paths["stats"], paths["ranking"],
    )
    for b in batches:
        b.write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(b.schema).parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    MNT.compact_additive_partials(spark, paths["stats"], [], ["n", "sumdl"])
    stats = spark.read.parquet(paths["stats"])
    # the fold lives in the reserved partition, visible to < N readers
    assert stats.select("_batch_id").distinct().collect()[0][0] == -1
    assert stats.agg(F.sum("n")).collect()[0][0] == n0 + n1
    # crash-replay of the last committed batch (id 1) AFTER compaction:
    # its dynamic partition overwrite rewrites _batch_id=1 only
    fn(batches[1], 1)
    n_after = spark.read.parquet(paths["stats"]).agg(F.sum("n")).collect()[0][0]
    assert n_after != n1, "replay erased the folded history (the r9 bug)"
    assert n_after == n0 + 2 * n1, "degraded mode must be a bounded double-count"


def test_streaming_tfidf_keywords_maintenance(spark, tmp_path):
    """Streaming twin of docs_tfidf_incremental: three document
    micro-batches maintain the additive df/N partial state and the
    DELTA-SCOPED served keywords view; after each prefix the view must
    equal the batch TF-IDF recomputed from scratch on everything
    streamed so far, RESTRICTED to the latest batch's docs (the
    maintainer's documented serving contract — ln(N/df) shifts for
    every doc on every insert, so a whole-corpus serve would be
    O(corpus) writes per batch).  Replaying the last batch (crash
    recovery) must leave the view unchanged."""
    from pyspark.sql import Window

    from updating_datasets_data_engineering_spark.functions import text as TXT
    from updating_datasets_data_engineering_spark.tables import load_table

    src = str(tmp_path / "tk_src")
    paths = {k: str(tmp_path / f"tk_{k}") for k in ("df", "stats", "keywords")}
    ckpt = str(tmp_path / "tk_ckpt")
    os.makedirs(src, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    all_docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [all_docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    fn = SP.maintain_tfidf_keywords_each_batch(
        paths["df"], paths["stats"], paths["keywords"]
    )

    def run_increment(batch_df):
        batch_df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("update")
            .start()
        )
        q.awaitTermination()

    def batch_tfidf(prefix, latest):
        tf = (
            prefix.select("doc_id", F.explode(TXT.words(F.col("text"))).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        n = prefix.agg(F.countDistinct("doc_id").alias("n"))
        dl = Window.partitionBy("doc_id")
        w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
        return (
            tf.join(latest.select("doc_id"), "doc_id", "left_semi")
            .withColumn("dl", F.sum("tf").over(dl))
            .join(dfreq, "term")
            .crossJoin(F.broadcast(n))
            .select(
                "doc_id",
                "term",
                F.round(
                    (F.col("tf") / F.col("dl")) * F.log(F.col("n") / F.col("df")), 6
                ).alias("tfidf"),
            )
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
        )

    cols = ["doc_id", "term", "tfidf", "rank"]
    streamed = None
    for i, b in enumerate(batches):
        run_increment(b)
        streamed = b if streamed is None else streamed.unionByName(b)
        got = spark.read.parquet(paths["keywords"])
        want = batch_tfidf(streamed, b)
        assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
            want.select(*cols), cols
        ), f"prefix {i} diverged"
    # crash replay of the final committed batch: view unchanged
    before = _sorted_rows(spark.read.parquet(paths["keywords"]).select(*cols), cols)
    fn(batches[-1], 2)
    after = _sorted_rows(spark.read.parquet(paths["keywords"]).select(*cols), cols)
    assert after == before


def test_append_finalized_matches_upsert_and_replays(spark, tmp_path):
    """The r13 append-only served store for APPEND-mode stateful
    streams (append_finalized_each_batch): same final rows as the
    merge-and-swap upsert path on the same batch sequence, idempotent
    under crash replay, and the all-empty bootstrap leaves a readable
    schema-bearing store that upgrades cleanly to the partitioned
    layout on the first non-empty batch."""
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # finalized-window stand-ins: disjoint key slices per batch (the
    # exactly-once-per-key guarantee APPEND mode provides)
    batches = [
        ev.where(F.col("event_id") % 3 == i)
        .groupBy("event_type", (F.col("event_id") % 3).alias("slot"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        for i in range(3)
    ]
    cols = ["event_type", "slot", "n"]

    app_path = str(tmp_path / "served_app")
    ups_path = str(tmp_path / "served_ups")
    app = SP.append_finalized_each_batch(app_path)
    ups = SP.upsert_each_batch(ups_path, key=("event_type", "slot"))

    # all-empty bootstrap: batch 0 emits nothing, store must still read
    empty = batches[0].limit(0)
    app(empty, 0)
    assert spark.read.parquet(app_path).drop("_batch_id").count() == 0
    for i, b in enumerate(batches):
        app(b, i + 1)
        ups(b, i + 1)
    got = spark.read.parquet(app_path).drop("_batch_id")
    want = spark.read.parquet(ups_path)
    assert _sorted_rows(got.select(*cols), cols) == _sorted_rows(
        want.select(*cols), cols
    )
    # crash replay of the last committed batch: byte-identical row set
    before = _sorted_rows(spark.read.parquet(app_path).drop("_batch_id"), cols)
    app(batches[-1], len(batches))
    after = _sorted_rows(spark.read.parquet(app_path).drop("_batch_id"), cols)
    assert after == before
    # an empty non-bootstrap batch appends nothing
    app(batches[0].limit(0), 99)
    assert _sorted_rows(
        spark.read.parquet(app_path).drop("_batch_id"), cols
    ) == before


def test_every_stream_maintainer_is_graded():
    """A ``maintain_*_each_batch`` maintainer earns its place through a
    registered query under ``queries/`` (which its oracle grades); one
    that only tests reach is dead weight.  Every maintainer defined in
    ``streaming/pipeline.py`` must be called from a ``queries`` module."""
    import ast
    import pathlib

    pkg = pathlib.Path(SP.__file__).resolve().parent.parent
    tree = ast.parse((pkg / "streaming" / "pipeline.py").read_text())
    maintainers = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith("maintain_")
        and node.name.endswith("_each_batch")
    }
    assert maintainers
    called = {
        getattr(node.func, "attr", None) or getattr(node.func, "id", None)
        for path in (pkg / "queries").rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
    }
    assert sorted(maintainers - called) == []
