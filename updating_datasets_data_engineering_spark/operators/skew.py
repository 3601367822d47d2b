"""Skew-mitigation patterns: salting for hot aggregation/join keys.

At 100 TB a groupBy on a low-cardinality or zipfian key (event_type
here: 5 values over billions of rows) concentrates whole key-groups on
single reducers.  Two-stage salted aggregation spreads each hot key
over ``n_salts`` partial groups, then combines — the partial stage is
uniform, the final stage sees only ``keys × n_salts`` rows.

(Spark's map-side partial aggregation already does this for algebraic
aggregates; the explicit salt stage is the pattern for the cases
partial agg can't cover — collect-style aggregates, skewed join keys —
and is written here so the equivalence is tested and the plan shape is
auditable.  For joins, AQE's skewJoin handles runtime splitting; salting
remains the static fallback.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_expr=None,
) -> DataFrame:
    """Two-stage aggregation over salted keys.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {count, sum, min, max}: the algebraic aggregates that re-combine
    exactly (count/sum re-sum; min/max re-min/max).

    ``salt_expr`` (optional Column): by default each ROW draws its own
    salt, which maximizes spread but defeats the map-side partial
    combine (a key's rows in one partition land in up to ``n_salts``
    partials — measured 2× on the sf1 co-occurrence pair counts).
    When the caller knows a co-occurring attribute that is ~unique per
    (key, row) — e.g. the hour column of a (pair, hour) stream, one
    row per hour — salting on ``hash(attr)`` spreads a hot key just as
    well while keeping the map-side combine intact (rows that would
    have combined still share a salt), so the first-stage shuffle
    never exceeds the unsalted volume.  Stage one is not the whole
    bill: the per-(key, salt) partials are reshuffled for the exact
    re-sum, so the plan's TOTAL exchanged bytes run up to ~2× the
    unsalted aggregation's (measured on the co-occurrence pair counts,
    COVERAGE.md) — the explicit price of capping any reducer's share
    of a hot key at 1/n_salts."""
    salt = (
        F.pmod(salt_expr, F.lit(n_salts))
        if salt_expr is not None
        else F.pmod(F.hash(F.monotonically_increasing_id()), n_salts)
    )
    salted = df.withColumn("_salt", salt)
    partial_exprs = []
    final_exprs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"_p_{out}"))
            final_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"_p_{out}"))
            final_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"_p_{out}"))
            final_exprs.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"_p_{out}"))
            final_exprs.append(F.max(f"_p_{out}").alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted this way")
    partial = salted.groupBy(*key, "_salt").agg(*partial_exprs)
    return partial.groupBy(*key).agg(*final_exprs)


def guarded_self_pairs(
    df: DataFrame,
    window_cols: Sequence[str],
    id_col: str,
    bucket_cap: int | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """All within-window (id_a < id_b) pairs of a (window, id) frame,
    with the result-preserving oversized-bucket salt grid (VERDICT r5
    item 4 — the generalization of ``dedup.banded_self_candidates``'s
    guard from LSH band buckets to ANY windowed self-join: the user
    co-occurrence hour buckets here).

    The output keeps the window columns and emits each (window, pair)
    EXACTLY once, so downstream pair-count aggregates are unchanged by
    any (bucket_cap, n_salts) setting — the guard redistributes work,
    never drops or double-counts pairs.

    Why: per-window fan-out is occupancy², which is the quadratic floor
    any pair counting pays — acceptable when occupancy is uniform, but
    a FLASH-EVENT window holding a large share of all ids concentrates
    that B² on the single task owning the window key.  Members of
    windows above ``bucket_cap`` join through an s × s salt grid
    instead: member a (salt u(a), md5-derived and deterministic) is
    emitted once per grid column (u(a), j) on the left and once per
    grid row (i, u(a)) on the right, so pair (a, b) matches in exactly
    one cell (u(a), u(b)) and the hot window's quadratic work spreads
    over s² independently-scheduled join partitions.  Normal windows
    keep the plain join; only oversized-window members (found with one
    aggregate, broadcast both ways) pay the s× replication.
    """
    wc = list(window_cols)
    out_a = f"{id_col}_a"
    out_b = f"{id_col}_b"
    # Pin the self-join's partitioning EXPLICITLY (measured at sf1.0,
    # BENCH_SF1): AQE sizes post-shuffle partitions from map-output
    # bytes, but a self-join's output is quadratic in per-window
    # occupancy, so AQE coalesced the (small) distinct output to 6
    # partitions and each task exploded to ~200M pair rows — 6 of 32
    # cores busy.  A user-specified repartition on the window key is
    # not coalescible by AQE, satisfies the join's distribution
    # requirement (no extra exchange), and restores full parallelism.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(n_part, *wc)

    def _project(a: DataFrame, b: DataFrame, pred) -> DataFrame:
        return a.join(b, pred).select(
            *[F.col(f"a.{c}").alias(c) for c in wc],
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
        )

    def _window_pred():
        pred = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for c in wc:
            pred = pred & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        return pred

    def _pairs(frame: DataFrame) -> DataFrame:
        return _project(frame.alias("a"), frame.alias("b"), _window_pred())

    if bucket_cap is None:
        return _pairs(df)

    hot_keys = (
        df.groupBy(*wc)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > bucket_cap)
        .select(*wc)
    )
    plain = df.join(F.broadcast(hot_keys), wc, "left_anti")
    hot = df.join(F.broadcast(hot_keys), wc, "left_semi")
    # md5-derived salt: deterministic and oracle-replayable, the same
    # discipline as banded_self_candidates' grid
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n_salts),
    ).cast("int")
    grid = F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    left = hot.withColumn("_u", salt).withColumn("_j", grid)
    right = hot.withColumn("_u", salt).withColumn("_i", grid)
    hot_pred = (
        _window_pred()
        & (F.col("a._u") == F.col("b._i"))
        & (F.col("a._j") == F.col("b._u"))
    )
    hot_out = _project(left.alias("a"), right.alias("b"), hot_pred)
    return _pairs(plain).unionByName(hot_out)
