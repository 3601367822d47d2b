"""Graph-analytics tier: PageRank-style node ranking and a native
Bloom-filter membership probe.

Why this tier exists: web-scale corpus curation ranks *hosts* on the
link graph before deciding crawl/keep priority (Common Crawl publishes
host- and domain-level rank files computed this way; CCNet/RefinedWeb
consume them as quality priors).  The fixture has no hyperlink table,
so the rank runs on the user co-occurrence graph (same bipartite
projection `queries.graph.users_cooccurrence` gates) — the operator is the
graph-agnostic part; swap the edge list for a host graph at 100 TB.

Scale notes
-----------
* PageRank here is the classic synchronous iteration expressed as
  DataFrame joins: each round is ONE shuffle of the edge list against
  the current rank vector (edges >> nodes, so the edge side drives the
  cost) plus a hash-aggregate on the destination key.  Iterations are
  bounded (``iters``), each round's lineage is cut with
  ``localCheckpoint`` exactly like `dedup.label_propagation` — without
  it the plan doubles per round and the 10th iteration compiles a
  2^10-node tree.
* No driver-side state: ranks live in a DataFrame keyed by node;
  the only driver value is the loop counter.
* Determinism across engines: every per-node sum is rounded to 12
  decimals before the damping update, and the update itself is a
  fixed-shape arithmetic expression — the float error of a
  sum-order difference (~1e-17 on rank-scale values) vanishes at the
  12th decimal, so Spark and an ANSI engine iterate through
  bit-identical states (same discipline as q2/q11/q15's rounded
  HAVING comparisons).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..caching import tracked_persist

__all__ = ["symmetrize", "pagerank", "triangle_stats", "bloom_bits", "bloom_probe"]

# Ceiling (in edges) under which pinning ``F.broadcast`` on a full
# edge-list frame is safe.  An oriented edge row is two longs (~16 B
# payload, ~32 B with row overhead): 10M edges ≈ 160-320 MB — far past
# the 10 MB auto threshold the pin exists to defeat (see the flip-flop
# note in :func:`triangle_stats`), yet comfortably inside a 4-8 GB
# driver/executor.  Past the ceiling the hint would bypass Spark's
# broadcast-size guard with no fallback and risk driver OOM, so the
# triangle operators fall back to shuffle joins co-partitioned on the
# join keys; callers that know their edge count (e.g. a maintainer
# that just aggregated the edge view) pass it via ``edge_count`` —
# ``None`` means "caller asserts the small/medium regime" and keeps
# the pin, preserving the measured flip-flop fix without an extra
# count() job on every call.
_EDGE_BROADCAST_CEILING = 10_000_000


def symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list -> both-direction directed edges (u, v)."""
    return edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "user_a",
    dst: str = "user_b",
    damping: float = 0.85,
    iters: int = 3,
    checkpoint: bool = True,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank over an undirected edge list, ``iters`` synchronous
    rounds of r(v) <- tele(v) + d * sum_{u~v} r(u)/deg(u), where the
    teleport vector is uniform 1/N (``seeds=None``, the classic global
    rank) or concentrated on a seed set (personalized PageRank —
    ranks then measure proximity to the seeds, not global centrality).

    The node set is the edge endpoints (symmetric edges mean every
    node has degree >= 1, so there are no dangling nodes and the
    rank mass that teleports is exactly (1-d)).  Returns
    (node, degree, rank) with rank rounded to 6 decimals for output
    stability; internal states are rounded to 12 (see module note).

    Plan shape per round: broadcast-free join of the edge list with
    the (node, rank/deg) vector on the source key, one hash-aggregate
    on the destination key, then a join back onto the degree table.
    At 100 TB the edge list is the big side and is already hash-
    partitioned by ``u`` after the first round — AQE reuses that
    exchange; the rank vector (nodes << edges) is broadcast by AQE at
    small scale and shuffle-joined at extreme node cardinality, both
    correct.
    """
    sym = symmetrize(edges, src, dst)
    sym = tracked_persist(sym)  # reused every round: pay the scan once
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    deg = tracked_persist(deg)
    if seeds is None:
        # uniform teleport: the classic global rank
        n1 = deg.agg(F.count(F.lit(1)).alias("n"))  # one row
        base = deg.crossJoin(F.broadcast(n1)).select(
            "u",
            "deg",
            ((1.0 - damping) / F.col("n")).alias("tele"),
            F.round(F.lit(1.0) / F.col("n"), 12).alias("rank"),
        )
    else:
        # PERSONALIZED teleport (Haveliwala, WWW 2002, public): mass
        # returns only to the seed set, so ranks measure proximity to
        # the seeds, not global centrality.  Seeds outside the edge
        # set are ignored (no dangling teleport targets).
        sd = seeds.select(F.col(seeds.columns[0]).alias("u")).distinct()
        sd = sd.join(deg.select("u"), "u", "left_semi")
        # Guard the degenerate empty intersection (ADVICE r5 item 2):
        # ns = 0 would zero the teleport vector and every rank, silently.
        # The guard is applied to the one-row seed-count aggregate itself
        # — unconditionally evaluated, regardless of whether any row later
        # takes the seed branch — and raises lazily at execution with a
        # clear message instead of returning an all-zero/NULL rank vector.
        ns = sd.agg(F.count(F.lit(1)).alias("_ns_raw")).select(
            F.when(F.col("_ns_raw") > 0, F.col("_ns_raw"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "pagerank: no seed intersects the node set — "
                        "personalized teleport vector would be all-zero"
                    )
                )
            )
            .alias("ns")
        )
        base = (
            deg.join(sd.withColumn("_is_seed", F.lit(True)), "u", "left")
            .crossJoin(F.broadcast(ns))
            .select(
                "u",
                "deg",
                F.when(
                    F.col("_is_seed"), (1.0 - damping) / F.col("ns")
                )
                .otherwise(F.lit(0.0))
                .alias("tele"),
                # init = e_S/|S| (rank mass 1 concentrated on seeds)
                F.when(F.col("_is_seed"), F.round(F.lit(1.0) / F.col("ns"), 12))
                .otherwise(F.lit(0.0))
                .alias("rank"),
            )
        )
    base = tracked_persist(base)
    ranks = base
    for _ in range(iters):
        contrib = (
            sym.join(
                ranks.select("u", (F.col("rank") / F.col("deg")).alias("c")), "u"
            )
            .groupBy("v")
            .agg(F.round(F.sum("c"), 12).alias("s"))
        )
        # left join: with a personalized teleport, nodes whose
        # neighborhood holds no rank yet receive no contribution row
        ranks = (
            base.select("u", "deg", "tele")
            .join(contrib, F.col("u") == F.col("v"), "left")
            .select(
                "u",
                "deg",
                "tele",
                F.round(
                    F.col("tele") + damping * F.coalesce("s", F.lit(0.0)), 12
                ).alias("rank"),
            )
        )
        # bounded iterations, lineage cut per round (cf.
        # dedup.label_propagation); checkpoint=False keeps the full
        # lineage visible for plan tests (explain() shows a checkpoint
        # as an opaque "Scan ExistingRDD")
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        F.col("u").alias("node"),
        F.col("deg").alias("degree"),
        F.round("rank", 6).alias("rank"),
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "user_a",
    dst: str = "user_b",
    edge_count: int | None = None,
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    undirected edge list (each edge once, ``src`` < ``dst``).

    Degree-ordered orientation (Suri & Vassilvitskii, "Counting
    triangles and the curse of the last reducer", WWW 2011, public):
    every edge is directed from its (degree, id)-smaller endpoint to
    the larger, so a hub of degree d contributes wedges bounded by its
    OUT-degree — O(sqrt(|E|)) — not d², which is what makes the wedge
    join survive power-law graphs at 100 TB.  Triangles are wedges
    (u→v, u→w) closed by an oriented edge (v→w); each triangle is
    counted exactly once and the count is orientation-invariant, so
    the oracle can use the simple id-ordered formulation.

    Plan shape: two self-joins on uniform endpoint keys (wedge build,
    wedge close) + one explode-aggregate for per-node counts; the
    degree table is node-sized and broadcast by AQE at small scale.

    clustering(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2, else 0
    — exact integer inputs, rounded to 6 for output stability.

    ``edge_count``: known |edges|, used to gate the two edge-list
    broadcast pins against ``_EDGE_BROADCAST_CEILING`` (10M edges ≈
    160-320 MB).  ``None`` (default) keeps the pins — the caller
    asserts the small/medium regime; pass the real count when the
    corpus can plausibly exceed the ceiling and the plan falls back to
    shuffle joins co-partitioned on the join keys."""
    sym = symmetrize(edges, src, dst)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    pairs = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    with_deg = (
        pairs.join(deg.withColumnRenamed("u", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("u", "b").withColumnRenamed("deg", "db"), "b")
    )
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    oriented = with_deg.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(ka < kb, F.col("db")).otherwise(F.col("da")).alias("d_hi"),
    )
    o1 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("v"), F.col("d_hi").alias("dv")
    )
    o2 = oriented.select(
        F.col("lo").alias("u"), F.col("hi").alias("w"), F.col("d_hi").alias("dw")
    )
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    kw = F.struct(F.col("dw").alias("d"), F.col("w").alias("n"))
    # Pin the wedge self-join's partitioning explicitly (the same
    # AQE-uncoalescible repartition `skew.guarded_self_pairs` pins,
    # found at sf1.0): AQE sizes post-shuffle partitions from the
    # map-output bytes of o1/o2 — small edge frames — but the join's
    # OUTPUT is quadratic per endpoint (Σ outdeg² wedges), so AQE
    # coalesced wedge production to a handful of tasks.
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    o1 = o1.repartition(n_part, "u")
    # Broadcast the wedge join's probe side too (same safety argument
    # as the closing side below — it IS the same edge list): when the
    # input is a cached frame, AQE's in-memory size estimate sits near
    # the 10 MB auto-broadcast threshold and the plan flip-flopped
    # between broadcast-hash and shuffled join across identical runs
    # (measured 1.6 s vs 6.9 s for the same 127 k-edge build inside
    # the streaming maintainer).  Pinning the hint locks the
    # Suri-Vassilvitskii shape: the o1 side keeps its explicit
    # partitioning, wedge production streams map-side.  Both edge-list
    # hints are gated on ``edge_count`` vs ``_EDGE_BROADCAST_CEILING``
    # (ADVICE r12): past ~10M edges the pin would force a broadcast far
    # beyond driver memory, so the plan falls back to shuffle joins
    # co-partitioned on the join keys — the regime the closing-side
    # note below describes.
    pin = edge_count is None or edge_count <= _EDGE_BROADCAST_CEILING
    o2_side = F.broadcast(o2) if pin else o2.repartition(n_part, "u")
    wedges = o1.join(o2_side, "u").where(kv < kw).select(
        "u", F.col("v").alias("lo2"), F.col("w").alias("hi2")
    )
    closing = oriented.select(F.col("lo").alias("lo2"), F.col("hi").alias("hi2"))
    # Broadcast the closing-edge side: the wedge set is the quadratic
    # intermediate (Σ outdeg² rows), so shuffling IT into a sort-merge
    # join is the scale killer — measured at sf1.0 the 2.3M-edge
    # closing frame crossed the 10MB auto-broadcast threshold and the
    # plan flipped to SMJ, sorting ~170M wedge rows (~75 s vs ~8 s).
    # An edge list broadcasts far beyond that threshold safely (two
    # longs per row: 10M edges ≈ 160 MB), and keeping the wedge side
    # shuffle-free is exactly the Suri-Vassilvitskii MapReduce plan.
    # At edge counts past ``_EDGE_BROADCAST_CEILING`` the hint is
    # dropped and BOTH sides shuffle-partition on (lo2, hi2) — the
    # sort cost on the wedge side is the price of not holding a
    # >ceiling edge list on the driver.
    closing_side = F.broadcast(closing) if pin else closing
    tris = wedges.join(closing_side, ["lo2", "hi2"])
    per_node = (
        tris.select(
            F.explode(F.array(F.col("u"), F.col("lo2"), F.col("hi2"))).alias("u")
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.col("deg").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def delta_triangles(
    delta: DataFrame,
    edges: DataFrame,
    src: str,
    dst: str,
    edge_count: int | None = None,
) -> DataFrame:
    """Triangle instances ``(x < y < z)`` of ``edges`` that contain at
    least one ``delta`` edge, each EXACTLY once — the enumeration core
    of incremental triangle maintenance (Eppstein & Spiro's dynamic
    h-index scheme simplified to the batch-delta case: a triangle's
    count changes iff one of its edges changed).

    PRECONDITION: ``delta ⊆ edges`` (for an insert correction pass the
    post-insert edge set, for a delete correction the pre-delete one —
    both callers construct ``delta`` by ``left_anti`` against the other
    snapshot, which guarantees it).  A delta edge absent from ``edges``
    is never verified against them, so violating this emits (x, y, z)
    rows that are not triangles of ``edges`` instead of failing
    (ADVICE r10 item 2).

    Both inputs are id-ordered undirected edge lists (``src < dst``,
    each edge once).  A qualifying triangle has its delta edge in one
    of three slots — (x,y), (x,z), or (y,z) — covered by TWO joins,
    each ANCHORED on the delta side (cost ∝ |delta| × adjacency, never
    |edges|²): the (x,y)/(x,z) cases share one adjacency probe (see
    below), the (y,z) case gets its own.  Every qualifying triangle is
    enumerated at least once; the union's ``distinct`` collapses
    triangles holding 2 or 3 delta edges to one row, replacing the
    signed inclusion–exclusion with one delta-sized shuffle.  Orientation note: unlike the full-build
    wedge plan (``triangle_stats``, degree-ordered), the delta legs
    are bounded by the delta edge's endpoints' adjacency, so the
    simple id-ordered form is already hub-safe for batch deltas."""
    d = delta.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # delta in slot (x,y) or (x,z): BOTH cases share the same adjacency
    # probe d(a,·) ⋈ e(a,·) — one join (the dominant |Δ| × adjacency
    # term is paid once, not twice), with the wedge's open side closed
    # by e(least, greatest): for d=(a,b), e1=(a,c), c≠b the triangle is
    # (x=a, y=min(b,c), z=max(b,c)) and the delta edge sits in slot
    # (x,y) when c > b, slot (x,z) when c < b — same rows either way.
    lo = F.least(F.col("d.b"), F.col("e1.b"))
    hi = F.greatest(F.col("d.b"), F.col("e1.b"))
    # Join-strategy pins (the triangle_stats discipline): the DELTA
    # side is churn-sized — broadcast it into the adjacency probes so
    # the full edge list never shuffles; the close joins broadcast the
    # edge list itself, exactly the closing-side argument
    # triangle_stats documents (two longs per row — safe far past the
    # auto threshold, and the wedge-shaped probe output is the side
    # that must never be sorted into an SMJ).  The edge-list close
    # hints share triangle_stats' ``edge_count`` gate: past
    # ``_EDGE_BROADCAST_CEILING`` the close joins fall back to shuffle
    # (the delta-side broadcast stays — delta is churn-sized by
    # contract, never corpus-proportional).
    pin = edge_count is None or edge_count <= _EDGE_BROADCAST_CEILING

    def _close(frame: DataFrame) -> DataFrame:
        return F.broadcast(frame) if pin else frame

    j12 = (
        F.broadcast(d.alias("d"))
        .join(e.alias("e1"), F.col("d.a") == F.col("e1.a"))
        .where(F.col("e1.b") != F.col("d.b"))
        .select(F.col("d.a").alias("x"), lo.alias("y"), hi.alias("z"))
        .join(
            _close(e.alias("e2")),
            (F.col("e2.a") == F.col("y")) & (F.col("e2.b") == F.col("z")),
        )
        .select("x", "y", "z")
    )
    # delta in slot (y,z): close with e(x,y) and e(x,z)
    j3 = (
        F.broadcast(d.alias("d"))
        .join(e.alias("e1"), F.col("e1.b") == F.col("d.a"))
        .join(
            _close(e.alias("e2")),
            (F.col("e2.a") == F.col("e1.a")) & (F.col("e2.b") == F.col("d.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("d.a").alias("y"), F.col("d.b").alias("z")
        )
    )
    return j12.unionByName(j3).distinct()


def lift_from_counts(
    pairs: DataFrame, users: DataFrame, wm: DataFrame, min_lift: float
) -> DataFrame:
    """Apply the epoch-local lift threshold to ALREADY-AGGREGATED graph
    counts — the closed-form tail shared by the batch derivation
    (``queries.graph._significant_edges``), the incremental leg's
    state ⊕ delta merge, and the streaming maintainer's serve path
    (``streaming.pipeline.serve_sig_edges``).

    ``pairs`` = (user_a, user_b, shared_windows), already
    min-shared-filtered; ``users`` = (user_id, month, nu) per-month
    active-window counts; ``wm`` = (month, wm) per-month window totals.
    E[shared] = Σ_m n_a(m)·n_b(m) / W(m) over months where BOTH
    endpoints are active (the inner joins encode the both-active
    restriction); lift is rounded to 6dp BEFORE the threshold compare
    (q11 discipline).  wm is a calendar-bounded frame → broadcast; the
    users joins stay unhinted for AQE (per-user-month counts grow with
    the user base and must not be pinned to a broadcast at 100 TB)."""
    ex = (
        pairs.select("user_a", "user_b")
        .join(
            users.withColumnRenamed("user_id", "user_a").withColumnRenamed("nu", "na"),
            "user_a",
        )
        .join(
            users.withColumnRenamed("user_id", "user_b").withColumnRenamed("nu", "nb"),
            ["user_b", "month"],
        )
        .join(F.broadcast(wm), "month")
        .groupBy("user_a", "user_b")
        .agg(
            F.sum((F.col("na") * F.col("nb")).cast("double") / F.col("wm")).alias("ex")
        )
    )
    return (
        pairs.join(ex, ["user_a", "user_b"])
        .withColumn(
            "lift",
            F.round(F.col("shared_windows").cast("double") / F.col("ex"), 6),
        )
        .where(F.col("lift") >= min_lift)
        .select("user_a", "user_b", "shared_windows", "lift")
    )


def apply_triangle_delta(
    state_tri: DataFrame,
    e_old: DataFrame,
    e_new: DataFrame,
    src: str = "user_a",
    dst: str = "user_b",
    edge_count: int | None = None,
) -> DataFrame:
    """Correct a persisted per-node triangle/degree table from edge
    snapshot ``e_old`` to ``e_new`` — the dynamic-triangle identity
    T_new(v) = T_old(v) + |triangles of e_new with ≥1 inserted edge|(v)
                        − |triangles of e_old with ≥1 deleted edge|(v),
    shared by ``queries.graph.users_triangles_incremental`` (archive ∪
    daily delta) and the streaming maintainer
    (``streaming.pipeline.maintain_triangles_each_batch``).

    ``state_tri`` = (node, degree, triangles[, clustering]) on e_old.
    Inserts and deletes are derived by edge-keyed anti-joins (which
    also establishes ``delta_triangles``' delta ⊆ edges precondition:
    d_ins ⊆ e_new, d_del ⊆ e_old by construction); both corrections
    are delta-anchored (cost ∝ |Δ| × adjacency, never a full-graph
    wedge rebuild).  Output schema matches ``triangle_stats``."""
    keys = [src, dst]
    d_ins = tracked_persist(e_new.join(e_old, keys, "left_anti"))
    d_del = tracked_persist(e_old.join(e_new, keys, "left_anti"))

    # The node-keyed merge is ONE hash aggregate over a union of signed
    # additive contribution rows (r13, guide §2.4 — remove shuffles
    # outright).  The previous shape pre-aggregated each correction
    # term (4 groupBys) and folded them into the state with 4
    # full_outer joins — ≥8 node-keyed Exchanges for what is
    # algebraically a single signed sum per node; the union form pays
    # exactly one Exchange, with map-side partial aggregation doing the
    # combining the inner groupBys used to.  Per-node totals are
    # identical: full_outer + coalesce-to-0 arithmetic ≡ groupBy-sum
    # over the same signed terms.
    zero = F.lit(0).cast("long")

    def _tri_nodes(tris, sign):
        return tris.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node"),
            zero.alias("d_deg"),
            F.lit(sign).cast("long").alias("d_tri"),
        )

    def _deg_nodes(edges, sign):
        return symmetrize(edges, src, dst).select(
            F.col("u").alias("node"),
            F.lit(sign).cast("long").alias("d_deg"),
            zero.alias("d_tri"),
        )

    contrib = (
        state_tri.select(
            "node",
            F.col("degree").cast("long").alias("d_deg"),
            F.col("triangles").cast("long").alias("d_tri"),
        )
        .unionByName(_deg_nodes(d_ins, 1))
        .unionByName(_deg_nodes(d_del, -1))
        .unionByName(_tri_nodes(delta_triangles(d_ins, e_new, src, dst, edge_count), 1))
        .unionByName(_tri_nodes(delta_triangles(d_del, e_old, src, dst, edge_count), -1))
    )
    merged = (
        contrib.groupBy("node")
        .agg(
            F.sum("d_deg").cast("long").alias("degree"),
            F.sum("d_tri").cast("long").alias("triangles"),
        )
        .where(F.col("degree") >= 1)
    )
    return merged.select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def bloom_bits(
    keys: DataFrame, key: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """Build a Bloom filter NATIVELY as a DataFrame of set bit
    positions: each key sets ``k_hashes`` positions derived from
    seeded ``xxhash64`` mod ``m_bits``.  The result has at most
    ``m_bits`` rows — by construction a bounded, broadcastable
    frame REGARDLESS of key cardinality (that bound is the entire
    point of a Bloom filter; here the "bit array" is a distinct
    position set, which is the same information).

    Spark's ``DataFrame.stat.bloomFilter`` returns a driver-held
    object that can only be probed through a row-at-a-time Python
    UDF — banned by this repo's UDF policy — so the filter stays
    in the engine as data instead.
    """
    seeds = F.array(*[F.lit(i) for i in range(k_hashes)])
    return (
        keys.select(
            F.explode(
                F.transform(
                    seeds,
                    lambda s: F.pmod(F.xxhash64(F.col(key), s), F.lit(m_bits)),
                )
            ).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    candidates: DataFrame,
    key: str,
    bits: DataFrame,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Keep candidate rows the Bloom filter says MIGHT be members
    (all ``k_hashes`` positions set).  False positives possible —
    callers must exact-verify survivors; false negatives impossible,
    so the prune is safe.

    Plan shape: one broadcast LEFT-SEMI join per hash seed, each on the
    seed's position expression against the bounded bit table — k
    map-side joins, the candidate side never shuffles and never
    aggregates.  Semi joins preserve left-side multiplicity, so
    duplicate candidate rows survive with their multiplicity intact
    (the no-false-negative contract, ADVICE r5 item 1) WITHOUT any
    per-row handle: the previous explode→count formulation needed a
    ``monotonically_increasing_id`` grouping key whose values depend on
    partition layout — a latent fragility under nondeterministic
    upstreams with stage recomputation (ADVICE r6) — whereas the join
    chain is a pure function of the row's own key column.
    """
    bit_tbl = F.broadcast(bits.select(F.col("bit").alias("_bloom_bit")))
    probed = candidates
    for i in range(k_hashes):
        pos = F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m_bits))
        probed = probed.join(bit_tbl, pos == F.col("_bloom_bit"), "left_semi")
    return probed
