"""Relational analytics tier: TPC-H shapes, windows, sessionization, time-series.

Split from registry.py (VERDICT r6 item 7); see git history for
provenance.  Import the builders from here; ``registry`` is the catalogue.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import oracles_ext as OE
from ..operators import analytics as A
from ._base import _t, _td


# ---------------------------------------------------------------------------
# Relational analytics (SURVEY.md §7 stage 8)
# ---------------------------------------------------------------------------

def q1(spark, sf_dir):
    return A.q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


_ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3(spark, sf_dir):
    return A.q3_shipping_priority(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


_ORACLE_Q3 = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5(spark, sf_dir):
    return A.q5_regional_revenue(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


_ORACLE_Q5 = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM region
JOIN nation ON r_regionkey = n_regionkey
JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
GROUP BY r_name, n_name
"""


def q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: order-count distribution with a LEFT OUTER join
    (zero-order customers must appear as c_count = 0)."""
    return A.q13_customer_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q4_late(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS semi-join, counted by priority."""
    return A.q4_late_orders(_t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


_ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_volume(spark, sf_dir):
    """TPC-H Q7 shape: nation in two roles, directional pair filter."""
    return A.q7_volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


_ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def q10_returned(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    return A.q10_returned_items(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


_ORACLE_Q10 = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio over a month."""
    return A.q14_promo_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


_ORACLE_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q15_top(spark, sf_dir):
    """TPC-H Q15 shape: scalar-subquery max over per-supplier revenue."""
    return A.q15_top_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


_ORACLE_Q15 = """
WITH rev AS (
    SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q17_small(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-part average threshold."""
    return A.q17_small_quantity(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


_ORACLE_Q17 = """
WITH bp AS (
    SELECT p_partkey FROM part WHERE p_brand = 'Brand#11' AND p_size < 15
),
li AS (
    SELECT l_partkey, l_quantity, l_extendedprice
    FROM lineitem JOIN bp ON l_partkey = p_partkey
),
aq AS (
    SELECT l_partkey AS ap, avg(l_quantity) AS avg_qty FROM li GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly, count(*) AS n_items
FROM li JOIN aq ON l_partkey = ap
WHERE l_quantity < 0.2 * avg_qty
"""


def q19_bands(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs predicate bands across the join."""
    return A.q19_disjunctive(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


_ORACLE_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_idle(spark, sf_dir):
    """TPC-H Q22 shape: anti-join + scalar-average subquery."""
    return A.q22_global_sales(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


_ORACLE_Q22 = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


_ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) GROUP BY c_count
"""


def q18_large(spark, sf_dir):
    """TPC-H Q18 shape: group-by-having key set semi-drives the big
    joins (the broadcast probe of a tiny HAVING result)."""
    return A.q18_large_orders(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        threshold=250,
    )


_ORACLE_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum_qty, 2) AS sum_qty
FROM (
    SELECT l_orderkey, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def docs_quality_deciles(spark, sf_dir):
    """NTILE decile assignment by quality per language — the binning
    step of curriculum/quality-mix pipelines (same rounded-quality +
    doc_id ordering as docs_quality_filter, so deciles are
    deterministic on both engines)."""
    from pyspark.sql import Window

    from ..functions.text import quality_score

    docs = _td(spark, sf_dir)
    q = F.round(quality_score(F.col("text")), 6)
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", q.alias("quality"))
        .withColumn("decile", F.ntile(10).over(w).cast("long"))
        .select("doc_id", "lang", "quality", "decile")
    )


def _oracle_deciles_sql() -> str:
    quality = """round((least(length(text) / 500.0, 1.0)
              + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / greatest(length(text), 1)) * 4, 1.0))
              + least((len(list_filter(w, x -> x IN ('the','and','of','to','in','is','that','it','for','was','a','an','on','at','by','with','as','be'))) / greatest(len(w), 1)) * 5, 1.0)) / 3, 6)"""
    return f"""
WITH scored AS (
    SELECT doc_id, lang, {quality} AS quality
    FROM (SELECT doc_id, lang, text, {OE.WORDS} AS w FROM documents)
)
SELECT doc_id, lang, quality,
       CAST(NTILE(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS BIGINT) AS decile
FROM scored
"""


def rollup_revenue(spark, sf_dir):
    return A.rollup_revenue(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
    )


_ORACLE_ROLLUP = """
SELECT r_name, n_name,
       round(sum(o_totalprice), 2) AS total_revenue,
       count(*) AS n_orders
FROM region
JOIN nation ON r_regionkey = n_regionkey
JOIN customer ON n_nationkey = c_nationkey
JOIN orders ON c_custkey = o_custkey
GROUP BY ROLLUP (r_name, n_name)
"""


def window_top_customers(spark, sf_dir):
    return A.window_top_customers(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"))


_ORACLE_WINDOW_TOP = """
SELECT n_name, c_custkey, c_name, c_acctbal, rank FROM (
    SELECT n_name, c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
           CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rank
    FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rank <= 3
"""


def window_running_total(spark, sf_dir):
    return A.window_running_total(_t(spark, sf_dir, "orders"))


_ORACLE_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
FROM orders
"""


def customers_without_orders(spark, sf_dir):
    return A.customers_without_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


_ORACLE_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers_no_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def nation_key_set_ops(spark, sf_dir):
    return A.nation_key_set_ops(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier"))


_ORACLE_SET_OPS = """
SELECT nationkey, 'both' AS tag FROM (
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT DISTINCT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'customer_only' AS tag FROM (
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT DISTINCT s_nationkey FROM supplier
)
"""


def distinct_counts(spark, sf_dir):
    return A.distinct_counts(_t(spark, sf_dir, "lineitem"))


_ORACLE_DISTINCT = """
SELECT count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(*) AS n_rows
FROM lineitem
"""


def events_hourly(spark, sf_dir):
    return A.events_hourly(_t(spark, sf_dir, "events"))


_ORACLE_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def _late_tail_waves(ev):
    """Three-wave split for the watermarked streaming constructions,
    anchored to the corpus max event time (ADVICE r12 item 1): the
    drop/finalize guarantees must hold on ANY month span, which the
    earlier dayofmonth splits did not (on a multi-month corpus,
    earlier months' day ≥ 29 rows trail the watermark set by wave 1's
    final-month maximum and get dropped while a dayofmonth oracle
    keeps them; a corpus ending before day 29 loses the drop margin
    entirely).

    tail = ts ≥ max(ts) − 2 days; late = ts < max(ts) − 6 days with
    event_id % 37 == 0.  Every late row is ≥ ~4 days older than wave
    1's maximum (wave 1 extends to just under max − 2 days on any
    fixture with continuous coverage) minus the 2 h delay, so the
    drop holds under either watermark-commit timing; the oracles
    mirror the split with a scalar ``max(ts)`` subquery.  The anchor
    is read with a single-row aggregate collect — the sanctioned
    watermark-read pattern, one cheap column-scan job."""
    mx = ev.agg(F.max("ts")).collect()[0][0]
    late = (F.col("ts") < F.lit(mx) - F.expr("INTERVAL 6 DAYS")) & (
        F.col("event_id") % 37 == 0
    )
    tail = F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 2 DAYS")
    return [ev.where(~late & ~tail), ev.where(~late & tail), ev.where(late)]


def events_hourly_streaming(spark, sf_dir):
    """End-to-end WATERMARKED windowed streaming aggregation — the
    last §2.9 surface ungraded through the driver (VERDICT r10 item 8):
    ``events_hourly``'s tumbling-window twin runs as a real stateful
    Structured Streaming plan (``withWatermark("ts", "2 hours")`` +
    ``window("ts", "1 hour")``, APPEND mode — windows emit exactly once
    when the watermark passes their end) over THREE ordered
    micro-batches of one checkpointed availableNow run, upserted into
    a served store keyed by (hour, event_type) in ``foreachBatch``.

    The late-data path is exercised FOR REAL.  Waves (anchored to the
    corpus max event time — truly epoch-agnostic on ANY month span;
    ADVICE r12 item 1 replaced the earlier dayofmonth splits, whose
    drop guarantee held only for a single-month corpus extending past
    day 28): (1) everything older than max(ts) − 2 days minus a
    planted late subset, (2) the ts ≥ max(ts) − 2 days tail, (3) the
    late subset — ts < max(ts) − 6 days rows with
    event_id % 37 == 0, at least ~4 days older than EITHER preceding
    wave's maximum event time minus the 2 h delay, so the stateful
    aggregation DROPS every wave-3 row (numRowsDroppedByWatermark ==
    |wave 3|, pinned in tests/test_streaming.py).
    Why three waves, with the drop margin valid against both prior
    maxima: Spark's late-input filter uses the watermark committed at
    the START of the batch — one batch behind the eviction watermark —
    so a late wave landing immediately after the watermark-advancing
    batch is NOT yet filtered; the construction stays correct under
    either timing and doesn't encode that implementation detail in the
    oracle.  The served table equals the batch aggregate over the
    non-late rows restricted to FINALIZED windows (window end ≤ final
    watermark = max live event time − 2 h) — exactly what the oracle
    computes with a scalar-subquery watermark.  Distinct users per
    window use the exact ``size(collect_set)`` state (streaming
    aggregation does not support countDistinct; state is bounded by
    active users per window and evicted with the window)."""
    import os

    from ..streaming import pipeline as SP
    from .indexes import _stream_state_dir, _stream_waves_available_now

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    waves = _late_tail_waves(ev)
    base = _stream_state_dir("hourly", sf_dir)
    src = os.path.join(base, "src")
    os.makedirs(src)
    served = os.path.join(base, "served")
    # APPEND-mode emission is exactly-once per (hour, event_type), so
    # the served store is maintained by delta-sized partition appends
    # (append_finalized_each_batch), not a per-batch merge-and-swap of
    # the whole store — same rows, O(|batch|) writes (r13)
    fn = SP.append_finalized_each_batch(served)
    _stream_waves_available_now(
        spark,
        waves,
        src,
        os.path.join(base, "ckpt"),
        fn,
        transform=lambda s: SP.streaming_hourly_counts(
            s, "2 hours", with_users=True
        ),
        output_mode="append",
    )
    return spark.read.parquet(served).drop("_batch_id")


_ORACLE_HOURLY_STREAMING = """
WITH live AS (
    SELECT * FROM events
    WHERE NOT (ts < (SELECT max(ts) - INTERVAL 6 DAY FROM events)
               AND event_id % 37 = 0)
),
-- Spark's event-time watermark is millisecond-truncated (micros/1000
-- in EventTimeWatermarkExec), so the oracle floors max(ts) to ms
-- before subtracting the delay (ADVICE r12 item 3)
wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w FROM live)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM live
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
GROUP BY 1, 2
"""


def events_sessions_streaming(spark, sf_dir):
    """End-to-end WATERMARKED SESSION-WINDOW streaming aggregation —
    the last §2.9 window shape without a driver-graded row (VERDICT
    r11 item 4; tumbling and sliding closed in r11 via
    ``events_hourly_streaming`` / ``events_sliding_active_users``).
    Dynamic-length windows are the kind tumbling/sliding cannot
    express: per user, events merge into one session while each
    arrives < 30 minutes after the session's current end
    (``F.session_window`` — end = last event + gap), evicted and
    emitted exactly once (APPEND mode) when the watermark passes the
    session end.

    Same three-wave, epoch-agnostic construction as
    ``events_hourly_streaming`` (max(ts)-anchored splits via
    ``_late_tail_waves``; the planted late wave is ≥ ~4 days older
    than either prior wave's max minus the 2 h delay, so it is
    dropped under either batch-start/-end watermark commit timing —
    the quirk that construction documents).  A
    session spanning the wave-1/wave-2 boundary cannot double-emit:
    it is only emitted once its end trails the watermark by 2 h, and
    no tail row can merge into a session that old (2 h ≫ 30 min
    gap).  The served table equals the gaps-and-islands batch
    sessionization of the non-late rows restricted to FINALIZED
    sessions (end ≤ max live event time − 2 h) — note the islands
    split at diff ≥ gap, matching ``session_window``'s strict
    overlap-merge ([t, t+gap) windows merge only when they overlap).
    Prefix equivalence and replay idempotency for the session
    maintainer stay pinned in tests/test_streaming.py."""
    import os

    from ..streaming import pipeline as SP
    from .indexes import _stream_state_dir, _stream_waves_available_now

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    waves = _late_tail_waves(ev)
    base = _stream_state_dir("sessions", sf_dir)
    src = os.path.join(base, "src")
    os.makedirs(src)
    served = os.path.join(base, "served")
    # exactly-once append-mode emission per (session_start, user_id) —
    # delta-sized partition appends replace the whole-store merge-and-
    # swap, as in events_hourly_streaming (r13)
    fn = SP.append_finalized_each_batch(served)
    _stream_waves_available_now(
        spark,
        waves,
        src,
        os.path.join(base, "ckpt"),
        fn,
        transform=lambda s: SP.streaming_session_counts(
            s, "30 minutes", "2 hours"
        ),
        output_mode="append",
    )
    return spark.read.parquet(served).drop("_batch_id")


_ORACLE_SESSIONS_STREAMING = """
WITH live AS (
    SELECT * FROM events
    WHERE NOT (ts < (SELECT max(ts) - INTERVAL 6 DAY FROM events)
               AND event_id % 37 = 0)
),
-- ms-truncated watermark: session ends carry microseconds (last event
-- + 30 min), and Spark's watermark is floor_ms(max event time) - delay,
-- so a sub-ms-precision oracle watermark could finalize a session Spark
-- still holds (ADVICE r12 item 3)
wm AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w FROM live),
flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                     >= 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS ns
    FROM live
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id,
           min(ts) AS s_start,
           max(ts) + INTERVAL 30 MINUTE AS s_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sess GROUP BY user_id, sid
)
SELECT strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id, n_events, sum_value
FROM agg WHERE s_end <= (SELECT w FROM wm)
"""


def sessionize(spark, sf_dir):
    return A.sessionize(_t(spark, sf_dir, "events"))


_ORACLE_SESSIONIZE = """
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
with_id AS (
    SELECT user_id, value,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM with_id
GROUP BY user_id, session_seq
"""


def q6_revenue_change(spark, sf_dir):
    """SQL-surface entry: the engine is equally drivable through
    ``spark.sql`` — register the table, run ANSI SQL, Catalyst plans
    it identically to the DataFrame build (filter-heavy scan: every
    predicate lands in PushedFilters)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem_v
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


_ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def orders_with_big_items(spark, sf_dir):
    """Correlated EXISTS subquery through the SQL surface — Catalyst
    decorrelates it into a semi-join (visible in the plan)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sub_v")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders_v
        WHERE EXISTS (
            SELECT 1 FROM lineitem_sub_v
            WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000
        )
        GROUP BY o_orderpriority
        """
    )


_ORACLE_EXISTS = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_extendedprice > 90000
)
GROUP BY o_orderpriority
"""


def nation_balance_full_outer(spark, sf_dir):
    """Full-outer join surface: per-nation customer vs supplier counts,
    keeping nations present on either side only."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_key"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, c.nationkey == s.s_key, "full_outer")
        .select(
            F.coalesce("nationkey", "s_key").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


_ORACLE_FULL_OUTER = """
SELECT coalesce(c.nationkey, s.s_key) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS s_key, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
  ON c.nationkey = s.s_key
"""


def events_props_json(spark, sf_dir):
    return A.events_props_json(_t(spark, sf_dir, "events"))


_ORACLE_PROPS_JSON = """
SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k, round(avg(k), 6) AS avg_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
GROUP BY event_type
"""


def cube_order_stats(spark, sf_dir):
    return A.cube_order_stats(_t(spark, sf_dir, "orders"))


_ORACLE_CUBE = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def above_avg_customers(spark, sf_dir):
    return A.above_avg_customers(_t(spark, sf_dir, "customer"))


_ORACLE_ABOVE_AVG = """
SELECT c_custkey, c_nationkey, c_acctbal, round(nation_avg, 6) AS nation_avg FROM (
    SELECT c_custkey, c_nationkey, c_acctbal,
           avg(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_avg
    FROM customer
) WHERE c_acctbal > nation_avg
"""


def price_quantiles(spark, sf_dir):
    return A.price_quantiles(_t(spark, sf_dir, "lineitem"))


_ORACLE_QUANTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
FROM lineitem GROUP BY l_returnflag
"""


def nation_segments(spark, sf_dir):
    return A.nation_segments(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"))


_ORACLE_NATION_SEGMENTS = """
SELECT n_name,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def orders_by_month(spark, sf_dir):
    return A.orders_by_month(_t(spark, sf_dir, "orders"))


_ORACLE_BY_MONTH = """
SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY 1, 2
"""


def scalar_function_census(spark, sf_dir):
    return A.scalar_function_census(_t(spark, sf_dir, "events"))


_ORACLE_SCALAR_CENSUS = """
SELECT event_id,
       substr(event_type, 1, 3) AS type_prefix,
       string_split(event_type, '')[-1] AS type_last_char,
       concat_ws('-', event_type, CAST(user_id AS STRING)) AS type_user,
       regexp_extract(props, '[0-9]+') AS first_num,
       CASE WHEN event_type IN ('click', 'view') THEN 'web' ELSE 'other' END AS type_class,
       md5(event_type) AS type_md5,
       CAST(('0x' || substr(md5(event_type), 1, 4))::BIGINT AS STRING) AS md5_prefix_dec,
       CAST(hour(ts) AS INT) AS hr
FROM events
"""


def events_pivot(spark, sf_dir):
    return A.events_pivot(_t(spark, sf_dir, "events"))


_ORACLE_PIVOT = """
SELECT CAST(hour(ts) AS INT) AS hr,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY 1
"""


_SQL_PASSTHROUGH = """
SELECT n_name,
       o_orderstatus,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_totalprice BETWEEN 1000 AND 200000
GROUP BY n_name, o_orderstatus
"""


def sql_passthrough_revenue(spark, sf_dir):
    """SQL-TEXT entry path: the exact same ANSI SQL string runs
    unmodified on Spark (this function registers the fixture views and
    executes it via ``spark.sql``) and on DuckDB (it IS the oracle,
    byte-identical) — the engine accepts literal SQL, not only the
    DataFrame API, and the two engines agree on the shared dialect
    (joins, BETWEEN, group-by, round/avg/count)."""
    for t in ("orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_PASSTHROUGH)


def grouping_sets_revenue(spark, sf_dir):
    """Arbitrary GROUPING SETS (the general form rollup/cube are
    special cases of): revenue by (status, priority), by (status),
    and by (year) — three independent slices in ONE aggregation pass
    (Spark plans an Expand + single hash aggregate, not three scans).
    grouping_id() disambiguates the null-vs-grouped encoding exactly
    as in the oracle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("o_year", F.year("o_orderdate"))
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], ["o_year"]],
            "o_orderstatus",
            "o_orderpriority",
            "o_year",
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.col("o_year").cast("int").alias("o_year"),
            "revenue",
            "n_orders",
            "gid",
        )
    )


_ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, CAST(o_year AS INT) AS o_year,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders,
       CAST(GROUPING(o_orderstatus, o_orderpriority, o_year) AS BIGINT) AS gid
FROM (SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS o_year,
             o_totalprice FROM orders)
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_year))
"""


def events_unpivot(spark, sf_dir):
    """UNPIVOT (wide -> long, the inverse of events_pivot): the hourly
    per-type count matrix melts back into (hr, event_type, n) rows via
    ``unpivot`` — a map-side Expand, no shuffle beyond the source
    aggregate."""
    wide = A.events_pivot(_t(spark, sf_dir, "events"))
    return (
        wide.unpivot(
            "hr",
            ["click", "error", "purchase", "signup", "view"],
            "event_type",
            "n",
        )
        .where(F.col("n") > 0)
    )


_ORACLE_UNPIVOT = f"""
WITH wide AS ({_ORACLE_PIVOT}),
long AS (
    SELECT hr, 'click' AS event_type, click AS n FROM wide
    UNION ALL SELECT hr, 'error', error FROM wide
    UNION ALL SELECT hr, 'purchase', purchase FROM wide
    UNION ALL SELECT hr, 'signup', signup FROM wide
    UNION ALL SELECT hr, 'view', view FROM wide
)
SELECT hr, event_type, n FROM long WHERE n > 0
"""


def word_counts(spark, sf_dir):
    return A.word_counts(_td(spark, sf_dir), k=50)


_ORACLE_WORD_COUNTS = f"""
SELECT word, count(*) AS n
FROM (SELECT unnest({OE.WORDS}) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word
LIMIT 50
"""


def events_type_stats_salted(spark, sf_dir):
    """Skew pattern: two-stage salted aggregation over a 5-value hot
    key; must equal the plain GROUP BY (the oracle)."""
    from ..operators import skew

    return skew.salted_agg(
        _t(spark, sf_dir, "events").select("event_type", "value"),
        key=["event_type"],
        aggs={
            "n": ("value", "count"),
            "sum_value": ("value", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        n_salts=16,
    ).select(
        "event_type", "n", F.round("sum_value", 2).alias("sum_value"), "min_value", "max_value"
    )


_ORACLE_SALTED = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type
"""


def incremental_events_summary(spark, sf_dir):
    """Incremental aggregate maintenance: day-1 state ⊕ day-2 delta.
    The oracle is the FULL recompute — proving state-combination gives
    byte-equal results without rescanning day-1."""
    from ..operators import incremental as INC

    aggs = {
        "n": ("value", "count"),
        "sum_value": ("value", "sum"),
        "min_value": ("value", "min"),
        "max_value": ("value", "max"),
    }
    events = _t(spark, sf_dir, "events")
    day1 = events.where(F.col("event_id") % 3 != 0)
    day2 = events.where(F.col("event_id") % 3 == 0)
    state = INC.partial_agg(day1, ["event_type"], aggs)
    updated = INC.incremental_update(state, day2, ["event_type"], aggs)
    return updated.select(
        "event_type", "n", F.round("sum_value", 2).alias("sum_value"), "min_value", "max_value"
    )


_ORACLE_INCREMENTAL = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY event_type
"""


def incremental_avg_distinct(spark, sf_dir):
    """Avg carried as (sum, count) state and EXACT distinct-users,
    both maintained across a two-day split without rescanning day 1;
    oracle = full recompute.

    Single-pass pair-state formulation (VERDICT r2 item 4): ONE state
    table at (event_type, user_id) grain carries the avg partials; pair
    existence IS the exact-distinct state, so no separate pair table,
    no anti-join, no final join.  Plan: two partial_aggs (one exchange
    each on the pair key), a full-outer combine that REUSES that
    partitioning (null_safe=False keeps the join keys identical to the
    grouping keys; the non-null user_id precondition is ENFORCED
    fail-fast inside combine_states — a NULL pair key would otherwise
    split into two unmatched full-outer rows and inflate
    distinct_users, ADVICE r3), and one rollup exchange to the group
    grain — 3 exchanges total, down from 8 in the three-state-table
    version.
    (The HLL sketch-union variant is pytest-verified against the exact
    count; its estimate is engine-specific so it has no SQL oracle.)"""
    from ..operators import incremental as INC

    pair_key = ["event_type", "user_id"]
    aggs = {"v": ("value", "avg")}  # state cols: v__sum, v__cnt per pair
    events = _t(spark, sf_dir, "events")
    day1 = events.where(F.col("event_id") % 3 != 0)
    day2 = events.where(F.col("event_id") % 3 == 0)
    state = INC.combine_states(
        INC.partial_agg(day1, pair_key, aggs),
        INC.partial_agg(day2, pair_key, aggs),
        pair_key,
        aggs,
        null_safe=False,
    )
    return (
        state.groupBy("event_type")
        .agg(
            F.round(F.sum("v__sum") / F.sum("v__cnt"), 6).alias("avg_value"),
            F.count(F.lit(1)).alias("distinct_users"),
        )
        .select("event_type", "avg_value", "distinct_users")
    )


_ORACLE_INC_AVG_DISTINCT = """
SELECT event_type,
       round(sum(value) / count(value), 6) AS avg_value,
       count(DISTINCT user_id) AS distinct_users
FROM events GROUP BY event_type
"""


def events_asof_join(spark, sf_dir):
    """As-of join (union+window formulation — one shuffle on the key,
    no range explosion): each purchase picks the latest click at or
    before it per user; equal-timestamp right rows resolve to the
    greatest event_id on both engines."""
    from ..operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = TS.asof_join(
        purchases,
        clicks,
        key=["user_id"],
        ts_col="ts",
        right_cols=["event_id", "value"],
        tie_col="event_id",
    )
    return out.select("event_id", "user_id", "asof_event_id", F.round("asof_value", 2).alias("asof_value"))


_ORACLE_ASOF = """
WITH tagged AS (
    SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS r_event_id,
           CAST(NULL AS DOUBLE) AS r_value, 1 AS side
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id, ts, NULL, event_id, value, 0
    FROM events WHERE event_type = 'click'
),
carried AS (
    SELECT *,
           last_value(r_event_id IGNORE NULLS) OVER w AS asof_event_id,
           last_value(r_value IGNORE NULLS) OVER w AS asof_value
    FROM tagged
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, r_event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, asof_event_id, round(asof_value, 2) AS asof_value
FROM carried WHERE side = 1
"""


def events_asof_forward(spark, sf_dir):
    """Forward as-of: each purchase picks the EARLIEST click at or
    after it per user (the other half of the as-of pair — e.g.
    next-touch attribution); same one-shuffle union+window plan with
    the sort reversed."""
    from ..operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = TS.asof_join(
        purchases,
        clicks,
        key=["user_id"],
        ts_col="ts",
        right_cols=["event_id", "value"],
        tie_col="event_id",
        direction="forward",
    )
    return out.select("event_id", "user_id", "asof_event_id", F.round("asof_value", 2).alias("asof_value"))


_ORACLE_ASOF_FORWARD = """
WITH tagged AS (
    SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS r_event_id,
           CAST(NULL AS DOUBLE) AS r_value, 1 AS side
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT user_id, ts, NULL, event_id, value, 0
    FROM events WHERE event_type = 'click'
),
carried AS (
    SELECT *,
           last_value(r_event_id IGNORE NULLS) OVER w AS asof_event_id,
           last_value(r_value IGNORE NULLS) OVER w AS asof_value
    FROM tagged
    WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, side, r_event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, asof_event_id, round(asof_value, 2) AS asof_value
FROM carried WHERE side = 1
"""


def events_range_join(spark, sf_dir):
    """Range (interval) join as a bucketed band join: clicks within the
    hour before each purchase, per user — equi-join on (user, bucket)
    with a 2-bucket probe, never a BroadcastNestedLoop."""
    from ..operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return TS.range_join_count(
        purchases, clicks, key=["user_id"], left_ts="ts", right_ts="ts",
        lookback_seconds=3600,
    )


_ORACLE_RANGE_JOIN = """
WITH purchases AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.user_id, p.event_id, count(c.ts) AS n_in_range
FROM purchases p LEFT JOIN clicks c
  ON c.user_id = p.user_id AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
GROUP BY p.user_id, p.event_id
"""


def events_time_rollup(spark, sf_dir):
    """Hypertable-style multi-granularity rollup: (type), (type, day),
    (type, day, hour) aggregates in ONE pass (map-side partials do the
    work; grouping_id labels the grain unambiguously)."""
    from ..operators import timeseries as TS

    return TS.hypertable_rollup(_t(spark, sf_dir, "events"))


_ORACLE_TIME_ROLLUP = """
SELECT grp, day, hour, GROUPING(grp, day, hour) AS grain_id,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM (
    SELECT event_type AS grp, strftime(ts, '%Y-%m-%d') AS day,
           strftime(ts, '%H') AS hour, value
    FROM events
)
GROUP BY ROLLUP (grp, day, hour)
"""


def events_moving_avg(spark, sf_dir):
    """Sliding-frame analytic window: 4-row moving average per user."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("moving_avg"),
    )


_ORACLE_MOVING_AVG = """
SELECT user_id, event_id,
       round(avg(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS moving_avg
FROM events
"""


def events_range_frame(spark, sf_dir):
    """Time-RANGE window frame (the frame kind ROWS can't express):
    trailing one-hour event count and value average per event type,
    keyed on epoch seconds so frame membership is integral and
    identical across engines.  Range frames are tie-safe by
    construction (all peers of a boundary value join the frame), so no
    physical-order dependence."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("sec"))
        .rangeBetween(-3600, 0)
    )
    return (
        ev.withColumn("sec", sec)
        .select(
            "event_id",
            "event_type",
            F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
            # SUM (2dp), not AVG: the fixture values carry 2 decimals,
            # so frame averages land EXACTLY on 6th-digit rounding
            # boundaries (sum/2^k), where a 1-ulp summation-order
            # difference between engines flips the rounded digit (675
            # flips at sf0.1).  The 2dp sum boundary is 0.005 — 11
            # orders of magnitude above double noise.  avg = sum/n is
            # derivable from the two exact columns.
            F.round(F.sum("value").over(w), 2).alias("sum_trailing_1h"),
        )
    )


_ORACLE_RANGE_FRAME = """
SELECT event_id, event_type,
       count(*) OVER w AS n_trailing_1h,
       round(sum(value) OVER w, 2) AS sum_trailing_1h
FROM (SELECT event_id, event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
WINDOW w AS (PARTITION BY event_type ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def events_gaps(spark, sf_dir):
    """lead/lag surface: microsecond gap to the previous event per user
    (exact integer arithmetic — no fp concerns)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (micros - F.lag(micros).over(w)).alias("gap_us"),
        (F.lead(micros).over(w) - micros).alias("next_gap_us"),
    )


_ORACLE_GAPS = """
SELECT user_id, event_id,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS next_gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def events_concurrency(spark, sf_dir):
    """Peak concurrent sessions per event type via sweep line (each
    event opens a 1-to-50-minute interval).  The join-free answer to
    'how many were open at once' — interval self-overlap as a sort,
    not an inequality join."""
    from ..operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "MINUTE", (F.col("event_id") % 50 + 1).cast("int"), F.col("ts")
        ).alias("e"),
    )
    return TS.interval_concurrency(ev, key=["event_type"], start_col="s", end_col="e")


_ORACLE_CONCURRENCY = """
WITH iv AS (
    SELECT event_type, ts AS s,
           ts + (event_id % 50 + 1) * INTERVAL 1 MINUTE AS e
    FROM events
), ev AS (
    SELECT event_type, s AS t, 1 AS delta FROM iv
    UNION ALL
    SELECT event_type, e AS t, -1 AS delta FROM iv
), run AS (
    SELECT event_type,
           sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                            ROWS UNBOUNDED PRECEDING) AS open_now
    FROM ev
)
SELECT event_type, CAST(max(open_now) AS BIGINT) AS max_concurrent,
       CAST(count(*) / 2 AS BIGINT) AS n_intervals
FROM run GROUP BY event_type
"""


def events_funnel(spark, sf_dir):
    """Ordered funnel per (user, day) (view -> click -> purchase):
    earliest
    in-order reach time of each step + depth reached, as chained
    conditional window minima (one exchange, no self-joins).  Times
    surface as epoch micros: BIGINT nulls cross engines cleanly."""
    from ..operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date(F.col("ts")))
    out = TS.funnel_stages(
        ev, key=["user_id", "day"], ts_col="ts", type_col="event_type",
        steps=["view", "click", "purchase"],
    )
    return out.select(
        "user_id",
        "day",
        F.unix_micros(F.col("t_view")).alias("t_view_us"),
        F.unix_micros(F.col("t_click")).alias("t_click_us"),
        F.unix_micros(F.col("t_purchase")).alias("t_purchase_us"),
        "funnel_stage",
    )


_ORACLE_FUNNEL = """
WITH s1 AS (
    SELECT user_id, CAST(ts AS DATE) AS day, ts, event_type,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS t_view
    FROM events
), s2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
              OVER (PARTITION BY user_id, day) AS t_click
    FROM s1
), s3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
              OVER (PARTITION BY user_id, day) AS t_purchase
    FROM s2
)
SELECT user_id, day,
       min(epoch_us(t_view)) AS t_view_us,
       min(epoch_us(t_click)) AS t_click_us,
       min(epoch_us(t_purchase)) AS t_purchase_us,
       max(CASE WHEN t_purchase IS NOT NULL THEN 3
                WHEN t_click IS NOT NULL THEN 2
                WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS funnel_stage
FROM s3 GROUP BY user_id, day
"""


def events_trend(spark, sf_dir):
    """Per-type least-squares trend of value over time (slope /
    intercept / R² / n) — the regression aggregates as one moment
    pass.  x is epoch-days as a double, identical arithmetic in both
    engines; ±0.0 normalized (a ~0 slope rounds to a signed zero on
    whichever side the last bit fell)."""
    from ..operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").withColumn(
        "x", F.unix_micros(F.col("ts")) / F.lit(86400000000.0)
    )
    t = TS.group_trend(ev, key=["event_type"], x="x", y="value")
    return t.select(
        "event_type",
        (F.col("slope") + 0.0).alias("slope"),
        (F.col("intercept") + 0.0).alias("intercept"),
        (F.col("r2") + 0.0).alias("r2"),
        "n",
    )


_ORACLE_TREND = """
SELECT event_type,
       round(regr_slope(value, x), 6) + 0.0 AS slope,
       round(regr_intercept(value, x), 6) + 0.0 AS intercept,
       round(regr_r2(value, x), 6) + 0.0 AS r2,
       regr_count(value, x) AS n
FROM (SELECT event_type, value, epoch_us(ts) / 86400000000.0 AS x FROM events)
GROUP BY event_type
"""


