#!/usr/bin/env python
"""Generate an sf1.0 fixture (10× sf0.1) for the scale benchmark
(VERDICT r5 item 3): /root/testdata is read-only and the driver's
generator is not in-container, so sf1 is built by REPLICATION of the
sf0.1 tables with consistent key offsets — referential integrity is
preserved exactly (lineitem→orders→customer, lineitem→part/supplier,
customer/supplier→nation→region), and the per-replica perturbations
keep the corpus structure linear:

  * documents: every word gets a per-replica prefix (replicas share no
    shingles — duplicate pairs/clusters scale 10×, never 100×);
  * embeddings: per-replica circular shift (replicas sit far apart in
    cosine);
  * events: user_id/event_id offsets AND a one-YEAR time shift per
    replica (the base spans 2024-01-01..01-30).  Without the shift,
    every user gets 9 CLONES active in exactly the same hours — the
    co-activity graph densifies quadratically from clone pairs, a
    replication ARTIFACT (measured: users_triangles 571 s at sf1, 372×
    sf0.1), not a workload property; 10× traffic in production grows
    users AND history together.  With each replica its own January,
    windows ×10, per-hour occupancy stays fixture-level, AND every
    replica is a whole calendar epoch — pair-counting work and the
    epoch-local significant-edge graph both scale exactly linearly,
    which is the honest shape (a 31-day shift straddled month
    boundaries and inflated boundary-pair lift 2×, see the events
    comment below).  (The flash-event density case is covered
    separately by the salt-grid guard's adversarial test.);
  * dims/facts: key offsets only — value distributions identical.

Row counts at sf1: lineitem 6M, orders 1.5M, events 1M, customer 150k,
part 200k, docs 50k, embeddings 20k.  Output (~170 MB parquet) goes to
/tmp/graft_sf1 — a regenerable scratch artifact, NOT repo state; the
benchmark result is committed as BENCH_SF1.json.

Usage: python make_sf1.py [out_dir] [k]
"""

from __future__ import annotations

import os
import sys

K = 10


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_sf1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else K
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out, exist_ok=True)

    from pyspark.sql import functions as F

    from updating_datasets_data_engineering_spark.session import get_spark
    from updating_datasets_data_engineering_spark.tables import load_table

    spark = get_spark("make-sf1", shuffle_partitions=32)

    def reps(tbl, builder):
        parts = [builder(load_table(spark, src, tbl), i) for i in range(k)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(os.path.join(out, f"{tbl}.parquet"))
        print(tbl, "done")

    # strides = exact sf0.1 key cardinalities (keys are 0..n-1 contiguous)
    N = dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
             events=100_000, users=1_500, docs=5_000, vecs=2_000)

    # dims copied as-is (region/nation are TPC-H-fixed at every SF)
    for tbl in ("region", "nation"):
        load_table(spark, src, tbl).write.mode("overwrite").parquet(
            os.path.join(out, f"{tbl}.parquet")
        )
        print(tbl, "done")

    reps("customer", lambda df, i: df.withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(i * N["customer"])))
    reps("supplier", lambda df, i: df.withColumn(
        "s_suppkey", F.col("s_suppkey") + F.lit(i * N["supplier"])))
    reps("part", lambda df, i: df.withColumn(
        "p_partkey", F.col("p_partkey") + F.lit(i * N["part"])))
    reps("orders", lambda df, i: df.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(i * N["orders"])
    ).withColumn("o_custkey", F.col("o_custkey") + F.lit(i * N["customer"])))
    reps("lineitem", lambda df, i: (
        df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * N["orders"]))
        .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * N["part"]))
        .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * N["supplier"]))
    ))
    # YEAR shift, not 31 days (r7): a 31-day shift straddles calendar
    # month boundaries, splitting each replica's windows across two
    # epochs — users anti-correlated across the artificial boundary get
    # INFLATED epoch-local lift, densifying the significant-edge graph
    # 19.6× instead of 10× (measured).  A whole-year shift makes every
    # replica a bit-identical calendar copy (base spans January only):
    # disjoint windows, month-aligned epochs, no day-of-month clamping
    # — per-month counts are identical per replica, so the sig graph is
    # EXACTLY 10× and scaling ratios measure the plans, not the fixture.
    reps("events", lambda df, i: (
        df.withColumn("event_id", F.col("event_id") + F.lit(i * N["events"]))
        .withColumn("user_id", F.col("user_id") + F.lit(i * N["users"]))
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i} YEARS"))
    ))
    reps("documents", lambda df, i: df.select(
        (F.col("doc_id") + F.lit(i * N["docs"])).alias("doc_id"),
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
    ))
    reps("embeddings", lambda df, i: df.select(
        (F.col("vec_id") + F.lit(i * N["vecs"])).alias("vec_id"),
        (
            F.col("embedding") if (7 * i) % 64 == 0 else F.concat(
                F.slice("embedding", (7 * i) % 64 + 1, 64 - (7 * i) % 64),
                F.slice("embedding", 1, (7 * i) % 64),
            )
        ).alias("embedding"),
        "label",
    ))
    print("sf1 fixture at", out)


if __name__ == "__main__":
    main()
