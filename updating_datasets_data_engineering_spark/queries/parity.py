"""Shot-pipeline reference parity (§2): ingest, parse, merge, streaming flagship.

Split from registry.py (VERDICT r6 item 7); see git history for
provenance.  Import the builders from here; ``registry`` is the catalogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ingest as I
from ..operators import merge as M
from ..sources import shot_synth as SS
from ._base import _t


# ---------------------------------------------------------------------------
# Shot pipeline (reference parity)
# ---------------------------------------------------------------------------

def shot_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F10 play parsing as native expressions over synthesized plays."""
    shots = SS.synth_shot_events(_t(spark, sf_dir, "events"))
    from ..functions import play_parser as P

    enriched = P.enrich(shots)
    return enriched.select(
        "event_id",
        "quarter",
        "time_remaining",
        "shots_by",
        "outcome",
        "attempt",
        "distance",
        "team",
        "winner_score",
        "loser_score",
    )


# DuckDB-side independent play parser (1-based list indexing).
_ORACLE_PARSE_CTES = """
s1 AS (
    SELECT event_id, game_id, winner, loser, x, y, play,
           string_split(play, ' ') AS toks,
           string_split(play, '<br>') AS segs
    FROM shots
),
s2 AS (
    SELECT *, string_split(segs[2], ' ') AS t2, string_split(segs[3], ' ') AS d,
           CASE WHEN string_split(segs[3], ' ')[1] IN ('LA','New','San','Golden')
                THEN 2 ELSE 1 END AS base
    FROM s1
),
s3 AS (
    SELECT *,
           CASE WHEN d[base+1] IN ('leads','trails') THEN d[base+2]
                WHEN d[base+2] IN ('leads','trails') THEN d[base+3]
                WHEN d[base+1] = 'tied' THEN d[base+2]
                ELSE d[base+3] END AS pair,
           NOT (d[base+1] IN ('leads','trails') OR d[base+2] IN ('leads','trails')) AS is_tied
    FROM s2
),
parsed AS (
    SELECT event_id, game_id, winner, loser, x, y, play,
           substr(toks[1], 1, 1) AS quarter,
           toks[3] AS time_remaining,
           t2[1] || ' ' || t2[2] AS shots_by,
           regexp_extract(segs[2], 'made|missed') AS outcome,
           regexp_extract(segs[2], '[0-9]-pointer?') AS attempt,
           t2[-2] || t2[-1] AS distance,
           CASE WHEN base = 2 THEN d[1] || ' ' || d[2] ELSE d[1] END AS team,
           CASE WHEN is_tied THEN string_split(pair, '-')[1]
                WHEN winner = (CASE WHEN base = 2 THEN d[1] || ' ' || d[2] ELSE d[1] END)
                THEN string_split(pair, '-')[1]
                ELSE string_split(pair, '-')[2] END AS winner_score,
           CASE WHEN is_tied THEN string_split(pair, '-')[1]
                WHEN loser = (CASE WHEN base = 2 THEN d[1] || ' ' || d[2] ELSE d[1] END)
                THEN string_split(pair, '-')[1]
                ELSE string_split(pair, '-')[2] END AS loser_score
    FROM s3
)
"""


def _oracle_shot_parse_sql() -> str:
    return f"""
WITH shots AS (
    {SS.duckdb_shot_cte()}
),
{_ORACLE_PARSE_CTES}
SELECT event_id, quarter, time_remaining, shots_by, outcome, attempt, distance, team,
       winner_score, loser_score
FROM parsed
"""


def shot_time_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 parity: the reference's (dead) timestamp parse of
    time_remaining with '%H:%M.%S' — where the tenths digit lands in
    the seconds slot ('0:07.9' -> 00:07:09), preserved bug-for-bug
    (reference: scripts/spark_processing.py:137-138)."""
    from ..functions import play_parser as P

    shots = SS.synth_shot_events(_t(spark, sf_dir, "events"))
    return shots.select(
        "event_id",
        F.date_format(P.time_remaining_ts(F.col("play")), "HH:mm:ss").alias("time_parsed"),
        F.round(P.seconds_remaining(F.col("play")), 1).alias("seconds_remaining"),
    )


def _oracle_shot_time_sql() -> str:
    return f"""
WITH shots AS (
    {SS.duckdb_shot_cte()}
)
SELECT event_id,
       strftime(strptime(string_split(play, ' ')[3], '%H:%M.%S'), '%H:%M:%S') AS time_parsed,
       round(CAST(string_split(string_split(play, ' ')[3], ':')[1] AS DOUBLE) * 60
             + CAST(string_split(string_split(play, ' ')[3], ':')[2] AS DOUBLE), 1) AS seconds_remaining
FROM shots
"""


def shot_ingest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3: Kafka-shaped records -> from_json parse -> flatten, with
    malformed-row guard (truncated values dropped)."""
    records = SS.synth_kafka_records(_t(spark, sf_dir, "events"))
    return I.parse_shot_events(records)


def _oracle_shot_ingest_sql() -> str:
    # the malformed-row guard must be a CASE (conditional evaluation),
    # not a WHERE conjunct: DuckDB's vectorized executor may evaluate
    # json_extract_string on rows a sibling json_valid() conjunct would
    # filter, and extraction on malformed JSON is an ERROR there, not
    # NULL (surfaced at sf0.1 where the chunk layout differs)
    return f"""
WITH raw AS (
    SELECT CASE WHEN event_id % 25 = 24 THEN substring(({SS.JSON_VALUE_EXPR}), 1, 20)
                ELSE ({SS.JSON_VALUE_EXPR}) END AS value
    FROM events
),
recs AS (
    SELECT CASE WHEN json_valid(value) THEN value END AS value FROM raw
)
SELECT json_extract_string(value, '$.game_id') AS game_id,
       json_extract_string(value, '$.year') AS year,
       json_extract_string(value, '$.month') AS month,
       json_extract_string(value, '$.day') AS day,
       json_extract_string(value, '$.winner') AS winner,
       json_extract_string(value, '$.loser') AS loser,
       json_extract_string(value, '$.x') AS x,
       json_extract_string(value, '$.y') AS y,
       json_extract_string(value, '$.play') AS play
FROM recs
WHERE value IS NOT NULL AND json_extract_string(value, '$.play') IS NOT NULL
"""


_MERGE_COLS = "event_id, user_id, event_type, value"


def merge_dedup_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful unionByName+dropDuplicates merge (M1+M2).
    Overlap rows are byte-identical on both sides so the arbitrary
    winner is still content-deterministic."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    archive = ev.where(F.col("event_id") % 10 < 8)
    delta = ev.where(F.col("event_id") % 10 >= 5)
    return M.merge_reference(archive, delta, key=["event_id"])


_ORACLE_MERGE_REFERENCE = f"""
SELECT {_MERGE_COLS} FROM events WHERE event_id % 10 < 8
UNION
SELECT {_MERGE_COLS} FROM events WHERE event_id % 10 >= 5
"""


def merge_upsert_delta_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic delta-wins upsert: delta carries conflicting values
    (value*2); merged result must show delta values on the overlap."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    archive = ev.where(F.col("event_id") % 10 < 8)
    delta = ev.where(F.col("event_id") % 10 >= 5).withColumn("value", F.col("value") * 2)
    return M.merge_deterministic(archive, delta, key=["event_id"], delta_wins=True)


_ORACLE_MERGE_UPSERT = f"""
SELECT {_MERGE_COLS} FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY src DESC) AS rn FROM (
        SELECT event_id, user_id, event_type, value, 0 AS src
        FROM events WHERE event_id % 10 < 8
        UNION ALL
        SELECT event_id, user_id, event_type, value * 2, 1 AS src
        FROM events WHERE event_id % 10 >= 5
    )
) WHERE rn = 1
"""


def merge_upsert_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same delta-wins semantics via broadcast anti-join (the 100 TB
    plan: archive never shuffles)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    archive = ev.where(F.col("event_id") % 10 < 8)
    delta = ev.where(F.col("event_id") % 10 >= 5).withColumn("value", F.col("value") * 2)
    return M.merge_anti_join(archive, delta, key=["event_id"])


def merge_upsert_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (VERDICT r2 item 7): the delta op-tags every 7th key
    as a tombstone; deleted keys leave the archive, upsert keys win
    with the delta's value.  Deletes of keys the archive never held
    (event_id % 10 in {8,9}) are no-ops — both conventions covered."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    archive = ev.where(F.col("event_id") % 10 < 8)
    delta = (
        ev.where(F.col("event_id") % 10 >= 5)
        .withColumn("value", F.col("value") * 2)
        .withColumn(
            "op", F.when(F.col("event_id") % 7 == 0, F.lit("delete")).otherwise(F.lit("upsert"))
        )
    )
    return M.merge_cdc(archive, delta, key=["event_id"])


_ORACLE_MERGE_CDC = f"""
SELECT {_MERGE_COLS} FROM events WHERE event_id % 10 < 5
UNION ALL
SELECT event_id, user_id, event_type, value * 2 AS value
FROM events WHERE event_id % 10 >= 5 AND event_id % 7 <> 0
"""


def merge_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution merge (VERDICT r2 item 9): the archive was
    written before two schema changes — it lacks the ``props`` column
    the delta now carries, and stores ``user_ref`` at the old INT
    width while the delta widened it to BIGINT.  The reference
    tolerates exactly this drift via ``unionByName(allowMissingColumns
    =True)`` (scripts/spark_merge_dfs.py:83); here the same tolerance
    runs through the deterministic delta-wins merge: archive-only rows
    surface NULL props, and the union coerces INT -> BIGINT."""
    ev = _t(spark, sf_dir, "events")
    archive = ev.where(F.col("event_id") % 10 < 8).select(
        "event_id", F.col("user_id").cast("int").alias("user_ref"), "event_type"
    )
    delta = ev.where(F.col("event_id") % 10 >= 5).select(
        "event_id", F.col("user_id").alias("user_ref"), "event_type", "props"
    )
    return M.merge_deterministic(archive, delta, key=["event_id"], delta_wins=True)


_ORACLE_MERGE_DRIFT = """
SELECT event_id, user_ref, event_type, props FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY src DESC) AS rn FROM (
        SELECT event_id, CAST(user_id AS INT) AS user_ref, event_type,
               CAST(NULL AS STRING) AS props, 0 AS src
        FROM events WHERE event_id % 10 < 8
        UNION ALL
        SELECT event_id, user_id AS user_ref, event_type, props, 1 AS src
        FROM events WHERE event_id % 10 >= 5
    )
) WHERE rn = 1
"""


def merge_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance: the customer dimension carries
    its version history (every key %5==0 already has one closed 2019
    version), and a daily snapshot arrives effective 2024-06-01 —
    changed balances (%3==0, +100) close the open row and append a new
    version; byte-identical snapshots (%7==1 and not %3==0) are
    no-ops.  The history partition passes through without a join."""
    cust = _t(spark, sf_dir, "customer")
    ROUND = lambda c: F.round(c, 2)  # noqa: E731
    open_rows = cust.select(
        "c_custkey",
        ROUND(F.col("c_acctbal")).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = cust.where(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        ROUND(F.col("c_acctbal") - 50).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("2019-01-01").cast("date").alias("valid_from"),
        F.lit("2020-01-01").cast("date").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    current = hist.unionByName(open_rows)
    delta = cust.where((F.col("c_custkey") % 3 == 0) | (F.col("c_custkey") % 7 == 1)).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0, ROUND(F.col("c_acctbal") + 100)
        ).otherwise(ROUND(F.col("c_acctbal"))).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("2024-06-01").cast("date").alias("eff_date"),
    )
    return M.merge_scd2(
        current, delta, key=["c_custkey"], attrs=["acctbal", "segment"],
        open_end="9999-12-31",
    )


# the oracle exploits what the fixture guarantees (+100 always changes a
# balance, so the changed set is exactly %3==0); the OPERATOR does the
# real null-safe attr comparison — the value hash checks they agree
_ORACLE_SCD2 = """
SELECT c_custkey, round(c_acctbal - 50, 2) AS acctbal, c_mktsegment AS segment,
       DATE '2019-01-01' AS valid_from, DATE '2020-01-01' AS valid_to, FALSE AS is_current
FROM customer WHERE c_custkey % 5 = 0
UNION ALL      -- open rows of unchanged keys pass through
SELECT c_custkey, round(c_acctbal, 2), c_mktsegment,
       DATE '2020-01-01', DATE '9999-12-31', TRUE
FROM customer WHERE c_custkey % 3 <> 0
UNION ALL      -- changed keys: the 2020 version closes at the effective date
SELECT c_custkey, round(c_acctbal, 2), c_mktsegment,
       DATE '2020-01-01', DATE '2024-06-01', FALSE
FROM customer WHERE c_custkey % 3 = 0
UNION ALL      -- ... and the delta snapshot becomes the open version
SELECT c_custkey, round(c_acctbal + 100, 2), c_mktsegment,
       DATE '2024-06-01', DATE '9999-12-31', TRUE
FROM customer WHERE c_custkey % 3 = 0
"""


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed generation: recover the insert/update/delete
    delta connecting two order snapshots (keys %13==3 appear, %13==5
    vanish, %7==0 reprice by 10%).  The inverse of merge_cdc: what a
    CDC-less upstream forces a 100 TB pipeline to compute itself."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price"), "o_orderstatus"
    )
    old = base.where(F.col("o_orderkey") % 13 != 3)
    # +10.0, not round(×1.1): a repriced row must differ from the old one
    # by an expression both engines compute bit-identically — round after
    # ×1.1 lands on decimal-tie boundaries where Spark (HALF_UP) and an
    # ANSI engine (HALF_EVEN) disagree by a cent (2 rows at sf0.01)
    new = base.where(F.col("o_orderkey") % 13 != 5).withColumn(
        "price",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("price") + 10.0
        ).otherwise(F.col("price")),
    )
    return M.snapshot_diff(old, new, key=["o_orderkey"])


_ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
    SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderstatus
    FROM orders WHERE o_orderkey % 13 <> 3
), new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice, 2) + 10.0
                ELSE round(o_totalprice, 2) END AS price,
           o_orderstatus
    FROM orders WHERE o_orderkey % 13 <> 5
)
SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
       COALESCE(n.price, o.price) AS price,
       COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS op
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.price IS DISTINCT FROM n.price
   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
"""


def shot_team_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the realistic pipeline shape — the archive side comes
    from storage already parsed (it was ingested on previous runs),
    only the delta flows through the Kafka-JSON parse path; then
    deterministic upsert-merge -> per-(team, quarter) aggregate.
    Exercises every reference semantic (S1 P1-P3 F2-F10 M1 M2 +
    aggregation) in one plan without re-parsing the archive."""
    ev = _t(spark, sf_dir, "events")
    archive_raw = SS.synth_shot_events(
        # %25 filter: the archive holds only records that survived the
        # malformed-JSON guard when they were originally ingested
        ev.where((F.col("event_id") % 10 < 8) & (F.col("event_id") % 25 != 24))
    ).drop("event_id")
    archive = I.enrich_shot_events(archive_raw)
    delta_recs = SS.synth_kafka_records(ev.where(F.col("event_id") % 10 >= 5))
    delta = I.ingest_pipeline(delta_recs)
    merged = M.merge_deterministic(
        archive, delta, key=M.SHOT_KEY, tiebreak=["play", "winner", "x", "y"]
    )
    return _team_quarter_agg(merged)


def _team_quarter_agg(merged: DataFrame) -> DataFrame:
    return (
        merged.groupBy("team", "quarter")
        .agg(
            F.count(F.lit(1)).alias("n_shots"),
            F.count(F.when(F.col("outcome") == "made", 1)).alias("n_made"),
            F.round(
                F.avg(F.regexp_extract("distance", "[0-9]+", 0).cast("int")), 6
            ).alias("avg_dist_ft"),
            F.max(
                F.abs(F.col("winner_score").cast("int") - F.col("loser_score").cast("int"))
            ).alias("max_margin"),
        )
        .orderBy("team", "quarter")
    )


def shot_team_summary_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship over a SHOT_KEY-bucketed archive (VERDICT r1 item
    5): the archive's dedup window runs directly on the bucketed scan
    — zero Exchange on the archive side (plan-asserted in
    tests/test_plans.py) — and archive survivors reach the union via a
    broadcast anti-join.  Same answer as shot_team_summary (same
    oracle): only the physical layout differs, which is exactly the
    100 TB point — the daily merge never reshuffles the archive."""
    import re

    from ..operators import bucketing as B

    ev = _t(spark, sf_dir, "events")
    # layout is a ONE-TIME cost by design: rebuild only when this
    # session hasn't laid the archive out yet (per-SF table name; the
    # synth archive is deterministic per sf_dir)
    tname = "shot_archive_bucketed_" + re.sub(
        r"[^0-9A-Za-z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1]
    )
    if not spark.catalog.tableExists(tname):
        archive_raw = SS.synth_shot_events(
            ev.where((F.col("event_id") % 10 < 8) & (F.col("event_id") % 25 != 24))
        ).drop("event_id")
        archive = I.enrich_shot_events(archive_raw)
        B.write_bucketed(
            archive,
            tname,
            bucket_cols=M.SHOT_KEY,
            n_buckets=8,
            sort_cols=M.SHOT_KEY,
        )
    delta_recs = SS.synth_kafka_records(ev.where(F.col("event_id") % 10 >= 5))
    delta = I.ingest_pipeline(delta_recs)
    merged = M.merge_bucketed_window(
        spark,
        tname,
        delta,
        key=M.SHOT_KEY,
        tiebreak=["play", "winner", "x", "y"],
    )
    return _team_quarter_agg(merged)


def streaming_dedup_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming parity (VERDICT r1 item 9): the
    full streaming path — file-source record stream, ingest combinators
    under readStream, watermarked streaming dedup, checkpointed
    availableNow foreachBatch upsert through the crash-safe archive
    swap — must land an archive whose KEY SET equals the batch parse's
    distinct keys.  The key set is the upsert's core invariant and is
    deterministic regardless of which colliding payload row wins (the
    winner itself is arrival-order-dependent, so payload columns are
    deliberately not part of this check; deterministic payload merging
    is oracle-covered by the batch merge queries)."""
    import os
    import tempfile

    from ..streaming import pipeline as SP

    records = SS.synth_kafka_records(_t(spark, sf_dir, "events"))
    base = tempfile.mkdtemp(prefix="stream_q_")
    src = os.path.join(base, "records")
    archive = os.path.join(base, "archive")
    ckpt = os.path.join(base, "ckpt")
    # 16 source files, not 2: the availableNow batch parses at source-file
    # parallelism (the regex-heavy play parse ran 2-wide on 32 cores);
    # state store sized to the key count, not the session shuffle width
    # (32 near-empty state partitions cost ~1.4 s/batch over 8, measured)
    records.select("value").repartition(16).write.mode("overwrite").text(src)
    stream = SP.read_json_record_stream(spark, src)
    SP.run_available_now(
        SP.streaming_enriched_shots(stream),
        SP.upsert_each_batch(archive),
        ckpt,
        state_partitions=8,
    )
    return spark.read.parquet(archive).select("game_id", "time_remaining", "quarter")


def _oracle_streaming_dedup_sql() -> str:
    return f"""
WITH shots AS (
    SELECT * FROM (
        {SS.duckdb_shot_cte()}
    ) WHERE event_id % 25 <> 24
),
{_ORACLE_PARSE_CTES}
SELECT DISTINCT game_id, time_remaining, quarter FROM parsed
"""


def _oracle_shot_team_summary_sql() -> str:
    return f"""
WITH shots AS (
    SELECT * FROM (
        {SS.duckdb_shot_cte()}
    ) WHERE event_id % 25 <> 24
),
{_ORACLE_PARSE_CTES},
expanded AS (
    -- rows in the overlap [5,8) appear on BOTH sides, like the Spark union
    SELECT p.*, 1 AS src FROM parsed p WHERE event_id % 10 >= 5
    UNION ALL
    SELECT p.*, 0 AS src FROM parsed p WHERE event_id % 10 < 8
),
merged AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY game_id, time_remaining, quarter
            ORDER BY src DESC, play, winner, x, y
        ) AS rn
        FROM expanded
    ) WHERE rn = 1
)
SELECT team, quarter,
       COUNT(*) AS n_shots,
       COUNT(CASE WHEN outcome = 'made' THEN 1 END) AS n_made,
       round(avg(CAST(regexp_extract(distance, '[0-9]+') AS INT)), 6) AS avg_dist_ft,
       MAX(abs(CAST(winner_score AS INT) - CAST(loser_score AS INT))) AS max_margin
FROM merged
GROUP BY team, quarter
"""


