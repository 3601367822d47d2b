"""Incremental aggregate maintenance for continuously-updating datasets.

The reference recomputes everything per run (full topic re-read + full
archive rewrite).  At 100 TB the daily delta is ~10^-5 of the archive,
so the summary tables users actually query must be maintained
*incrementally*: combine the previous aggregate state with the delta's
partial aggregate — never rescan the archive.

Supported aggregate states (insert-only deltas):

  * count / sum / min / max — directly algebraic, combined by +/least/
    greatest.
  * avg — carried as (sum, count) state columns; the reader divides
    sum/cnt (an avg is NOT directly combinable — the round-1 gap).
  * approx_distinct — an HLL sketch per group (`hll_sketch_agg`),
    combined with `hll_union`, read with `hll_sketch_estimate`.
    Sketch state is O(kB) per group regardless of cardinality — the
    100 TB answer for distinct-users dashboards.

The combine is a tiny outer join on the group key — broadcastable when
the delta touches few groups, so the big prev-state side never
shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMBINABLE = {"count", "sum", "min", "max", "avg", "approx_distinct"}


def _state_cols(out: str, fn: str) -> list[str]:
    if fn == "avg":
        return [f"{out}__sum", f"{out}__cnt"]
    if fn == "approx_distinct":
        return [f"{out}__hll"]
    return [out]


def partial_agg(df: DataFrame, key: Sequence[str], aggs: dict[str, tuple[str, str]]) -> DataFrame:
    """Aggregate state for a batch of rows.  ``aggs`` maps output col ->
    (input col, fn) with fn in COMBINABLE."""
    exprs = []
    for out, (col, fn) in aggs.items():
        if fn not in COMBINABLE:
            raise ValueError(f"{fn!r} is not algebraically combinable")
        if fn == "count":
            exprs.append(F.count(F.lit(1)).alias(out))
        elif fn == "avg":
            exprs.append(F.sum(col).alias(f"{out}__sum"))
            exprs.append(F.count(col).alias(f"{out}__cnt"))
        elif fn == "approx_distinct":
            exprs.append(F.hll_sketch_agg(col).alias(f"{out}__hll"))
        else:
            exprs.append(getattr(F, fn)(col).alias(out))
    return df.groupBy(*key).agg(*exprs)


def _guard_nonnull_keys(df: DataFrame, key: Sequence[str]) -> DataFrame:
    """Fail-fast guard for ``null_safe=False`` combines: raises on the
    first NULL join key instead of letting the equi-join silently split
    the group.  ``assert_true`` returns NULL when the condition holds,
    so the ``.isNull()`` filter passes every valid row untouched."""
    cond = F.lit(True)
    for k in key:
        cond = cond & F.col(k).isNotNull()
    return df.where(
        F.assert_true(
            cond, F.lit("combine_states(null_safe=False) requires non-null join keys")
        ).isNull()
    )


def combine_states(
    prev: DataFrame,
    delta_state: DataFrame,
    key: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    broadcast_delta: bool = True,
    null_safe: bool = True,
) -> DataFrame:
    """prev ⊕ delta: full-outer join on the key, re-combine each state
    column.

    Shuffle note: Spark cannot broadcast either side of a FULL OUTER
    join (a broadcast hint is silently unsupported), so the combine
    shuffles both inputs — but both are SUMMARY tables (one row per
    group), orders of magnitude smaller than the archive; the archive
    itself is never rescanned, which is the point.  If the group key is
    high-cardinality enough that the state table itself is big, store
    it bucketed on the key (operators.bucketing) and the SMJ needs no
    exchange at all.  ``broadcast_delta`` is kept for API stability and
    ignored.

    ``null_safe`` controls the join-key comparison.  Null-safe keys
    (``<=>``) tolerate NULL group values, but Spark rewrites them to
    ``(coalesce(k), isnull(k))`` composite join keys, which no longer
    match the HashPartitioning the upstream partial_agg produced — both
    sides re-exchange.  When the key is known non-null (the common
    case: group keys of a summary table), pass ``null_safe=False`` so
    the plain equi-join reuses the aggregates' partitioning and the
    combine adds ZERO exchanges.

    The non-null precondition is ENFORCED, not assumed (ADVICE r3): a
    NULL key under a plain equi-join never matches, so one group would
    silently split into two unmatched full-outer rows (inflating
    distinct counts, halving avg states).  Both inputs therefore carry
    an ``assert_true`` guard that fails the job on the first NULL key —
    a filter above the aggregate, so partitioning reuse is untouched."""
    if not null_safe:
        prev = _guard_nonnull_keys(prev, key)
        delta_state = _guard_nonnull_keys(delta_state, key)
    d = delta_state
    p = prev.alias("p")
    d = d.alias("d")
    if null_safe:
        cond = [F.col(f"p.{k}").eqNullSafe(F.col(f"d.{k}")) for k in key]
    else:
        cond = [F.col(f"p.{k}") == F.col(f"d.{k}") for k in key]
    joined = p.join(d, cond, "full_outer")
    out_cols = [
        F.coalesce(F.col(f"p.{k}"), F.col(f"d.{k}")).alias(k) for k in key
    ]
    for out, (_, fn) in aggs.items():
        for sc in _state_cols(out, fn):
            a, b = F.col(f"p.{sc}"), F.col(f"d.{sc}")
            if fn in ("count", "sum", "avg"):
                combined = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
            elif fn == "min":
                combined = F.least(F.coalesce(a, b), F.coalesce(b, a))
            elif fn == "max":
                combined = F.greatest(F.coalesce(a, b), F.coalesce(b, a))
            else:  # approx_distinct: union sketches, tolerate one side missing
                combined = (
                    F.when(a.isNull(), b)
                    .when(b.isNull(), a)
                    .otherwise(F.hll_union(a, b))
                )
            out_cols.append(combined.alias(sc))
    return joined.select(*out_cols)


def incremental_update(
    prev: DataFrame,
    delta_rows: DataFrame,
    key: Sequence[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """One maintenance step: aggregate the delta, combine with the
    previous state.  Cost is O(|delta| + |touched groups|), not
    O(|archive|)."""
    return combine_states(prev, partial_agg(delta_rows, key, aggs), key, aggs)


# ---------------------------------------------------------------------------
# Mergeable histogram sketch → quantile estimates
#
# The quantile analogue of the HLL path above: an equi-width histogram
# is a fully mergeable sketch (state ⊕ delta = elementwise bin-count
# sum), so archive quantile dashboards never rescan the archive — the
# same economics as combine_states, for an aggregate (percentile) that
# is NOT algebraic on raw values.  State size is range/width bins
# regardless of row count; estimates are deterministic linear
# interpolation inside the selected bin, so an engine-independent
# oracle can reproduce them exactly (unlike approx_percentile's
# implementation-defined sketch).
# ---------------------------------------------------------------------------


def histogram_state(
    df: DataFrame, value_col: str, width: float, keys: Sequence[str] = ()
) -> DataFrame:
    """(*keys, bin, cnt) equi-width histogram — ONE hash-aggregate on
    the (keys, bin) key (uniform, bounded by groups × range/width).
    With ``keys`` this is the GROUPED sketch: one independent
    histogram per dimension value (the per-event-type / per-tenant
    latency dashboard shape).

    NULL values are excluded up front (ADVICE r5 item 3): a NULL value
    would otherwise become its own NULL bin, and Spark's cumulative
    window orders NULL bins FIRST while the DuckDB oracles order NULLs
    LAST — a silent cross-engine divergence (plus NULL estimates) on
    nullable inputs.  A quantile over the non-null population is also
    the standard definition (ANSI percentile_cont ignores NULLs)."""
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *keys,
            F.floor(F.col(value_col) / F.lit(width)).cast("long").alias("bin"),
        )
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def combine_histograms(
    state: DataFrame, delta: DataFrame, keys: Sequence[str] = ()
) -> DataFrame:
    """state ⊕ delta: outer join on the (keys, bin) key, counts
    summed.  The delta side touches few bins, so the join broadcasts
    it and the big state never shuffles."""
    s = state.withColumnRenamed("cnt", "_cs")
    d = delta.withColumnRenamed("cnt", "_cd")
    return s.join(d, [*keys, "bin"], "full_outer").select(
        *keys,
        "bin",
        (F.coalesce("_cs", F.lit(0)) + F.coalesce("_cd", F.lit(0)))
        .cast("long")
        .alias("cnt"),
    )


def quantiles_from_histogram(
    hist: DataFrame,
    width: float,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    keys: Sequence[str] = (),
) -> DataFrame:
    """(*keys, q, n_events, estimate) per requested quantile:
    cumulative counts over the bin order (within each key group),
    first bin whose cumulative reaches q·n, linear interpolation
    inside it.

    The histogram frame is sketch-sized (groups × range/width rows),
    so the cumulative window and the tiny quantile cross join are
    driver-free but trivially small at ANY corpus size — the corpus
    itself was reduced by histogram_state's single aggregate.  With
    ``keys`` the cumulative window partitions by group, so the global
    sort the ungrouped form pays disappears."""
    from pyspark.sql import Window

    spark = hist.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    w = Window.partitionBy(*keys).orderBy("bin") if keys else Window.orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(w).cast("long"))
    tot = hist.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("n_events"))
    joined = qdf.crossJoin(F.broadcast(tot)).join(
        cum,
        [F.col("cum") >= F.col("q") * F.col("n_events")]
        + [cum[k] == tot[k] for k in keys],
    )
    hit = joined.groupBy(*[tot[k] for k in keys], "q", "n_events").agg(
        F.min(F.struct("bin", "cnt", "cum")).alias("_s")
    )
    return hit.select(
        *keys,
        "q",
        "n_events",
        F.round(
            F.col("_s.bin") * F.lit(width)
            + F.lit(width)
            * (F.col("q") * F.col("n_events") - (F.col("_s.cum") - F.col("_s.cnt")))
            / F.col("_s.cnt"),
            6,
        ).alias("estimate"),
    )
