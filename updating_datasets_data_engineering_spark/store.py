"""Persisted-state stores: the on-disk format every ``foreachBatch``
maintainer (``streaming.pipeline``), the compaction operators
(``operators.maintenance``) and the in-place archive merge (``jobs``)
share.  It is the paper's archive ∪ delta → upsert → archive′ loop
made idempotent per micro-batch: *Structured Streaming* gives
``foreachBatch`` exactly-once output only when each batch's sink write
is idempotent by batch id, and this module is where that holds.

Layout.  A store is a parquet directory partitioned by ``_batch_id``.
Each micro-batch lands as its own tier ``_batch_id=N`` (:func:`append`),
replacing only that tier, so a crash-replayed batch rewrites exactly
its own tier and nothing else; an empty batch still commits its tier.
A store that has never held a row may be *flat*: one schema-bearing
empty file, so it stays readable; the first append over it moves the
store to the tiered layout.

Reads.  Maintenance reads take the committed state only —
``_batch_id < batch_id`` (:func:`committed`) — so a replay never sees
its own half-written tier.  :func:`tiers` lists the tier ids from the
directory names (no Spark job); :func:`latest` and :func:`prune` are
built on it for the snapshot-tier maintainers.

Compaction.  Between streaming runs, ``operators.maintenance`` folds a
store into the reserved tier :data:`COMPACTED` (``-1``).  No real batch
id is negative, so no replay can overwrite the fold, and every
``< batch_id`` read still sees it.

Swap.  Whole-store rewrites (views, tombstone retractions, compaction,
the in-place archive merge) go through :func:`swap`: stage next to the
target, then the crash-safe rename-aside of ``fs.swap_directory``.  An
empty result is written as one schema-bearing empty file.

Concurrency.  :func:`write_concurrently` runs a batch's store writes as
concurrent Spark jobs.  The rule that makes this safe: no Spark write
ever targets a store path.  Appends and swaps write a staging
directory beside the store and move it in by renames, because a
finished Spark write of a path re-plans every cached plan that reads
that path, under the feet of the sibling jobs (see
:func:`write_concurrently`).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import fs

BATCH_COL = "_batch_id"
# the reserved compaction tier: below every real micro-batch id
COMPACTED = -1


def _tier_dirs(spark: SparkSession, path: str) -> dict[int, str]:
    """``{tier id: tier dir}`` for the store at ``path``, from one glob
    of ``_batch_id=*``.  Named subdirectories (another store nested
    under this root, a staging dir) are not part of this store."""
    root = fs.qualified(spark, path).rstrip("/")
    return {
        int(d.rsplit("=", 1)[1]): d for d in fs.glob(spark, f"{root}/{BATCH_COL}=*")
    }


def tiers(spark: SparkSession, path: str) -> set[int]:
    """The ``_batch_id`` tier ids present in the store, from the
    directory listing alone."""
    return set(_tier_dirs(spark, path))


def latest(spark: SparkSession, path: str, below: int) -> int | None:
    """The newest tier id strictly below ``below``, or None."""
    ids = [t for t in tiers(spark, path) if t < below]
    return max(ids) if ids else None


def read_tier(spark: SparkSession, path: str, tier: int) -> DataFrame:
    """One tier's rows, without the tier column (empty, with the
    store's schema, when the tier does not exist).  Only the tier's own
    directory is read, so a root that also holds nested stores is
    never partition-discovered as a whole."""
    d = _tier_dirs(spark, path).get(tier)
    if d is None:
        return spark.read.parquet(path).limit(0).drop(BATCH_COL)
    return spark.read.option("basePath", path).parquet(d).drop(BATCH_COL)


def prune(spark: SparkSession, path: str, keep: set[int]) -> None:
    """Delete every tier whose id is not in ``keep``.  Best-effort by
    design — a crash before the prune only leaves extra tiers, which
    readers ignore."""
    for tier, d in _tier_dirs(spark, path).items():
        if tier not in keep:
            fs.delete(spark, d)


def committed(spark: SparkSession, path: str, batch_id: int, empty_schema) -> DataFrame:
    """The store's committed rows — tiers below ``batch_id``, the
    compaction fold included — projected to ``empty_schema``'s columns;
    an empty frame of that schema when no tier is committed yet (no
    store, a flat empty one, or only the replayed batch's own tier)."""
    if not any(tier < batch_id for tier in _tier_dirs(spark, path)):
        return spark.createDataFrame([], empty_schema)
    if isinstance(empty_schema, str):
        empty_schema = StructType.fromDDL(empty_schema)
    return (
        spark.read.parquet(path)
        .where(F.col(BATCH_COL) < batch_id)
        .select(*empty_schema.fieldNames())
    )


def append(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as tier ``batch_id`` of the store.

    The tier is written to a staging directory beside the store, then
    its directory is moved into place, replacing the same directory of
    an earlier attempt — the dynamic partition overwrite protocol, so a
    replay rewrites exactly its own tier.  No Spark write targets the
    store path itself, so no write of a store re-plans the cached plans
    that read it (see :func:`write_concurrently`).

    An empty ``df`` still commits its tier, as one schema-bearing empty
    file: otherwise :func:`tiers` and :func:`latest` would keep serving
    the previous tier as this batch's result.  The partitioned write
    creates no tier directory for an empty frame, so only then is the
    empty file written (one metadata job, as in :func:`swap`).

    A store with no tier yet (missing, or flat after an empty swap)
    takes this write through :func:`swap` instead, with any rows the
    flat store holds: an empty first batch then still leaves a
    readable, schema-bearing store, and a tier never lands on top of a
    flat file (mixed layouts break partition discovery)."""
    spark = df.sparkSession
    tagged = df.withColumn(BATCH_COL, F.lit(batch_id).cast("long"))
    if not _tier_dirs(spark, path):
        if fs.has_parquet(spark, path):
            tagged = spark.read.parquet(path).unionByName(tagged)
        swap(spark, tagged, path, partition_by=(BATCH_COL,))
        return
    # overwrite mode clears a staging dir a crashed attempt left
    staging = f"{path.rstrip('/')}.tier-{batch_id}"
    tagged.write.mode("overwrite").partitionBy(BATCH_COL).parquet(staging)
    tier = f"/{BATCH_COL}={batch_id}"
    src = fs.qualified(spark, staging).rstrip("/") + tier
    dst = fs.qualified(spark, path).rstrip("/") + tier
    if not fs.exists(spark, src):
        df.limit(0).coalesce(1).write.parquet(src)
    fs.delete(spark, dst)
    if not fs.rename(spark, src, dst):
        raise IOError(f"could not move tier {src} into {dst}")
    fs.delete(spark, staging)


def swap(
    spark: SparkSession, df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """Replace the store at ``path`` with ``df``: write a staging dir
    next to it, then promote it with the crash-safe rename-aside.

    The plan executes exactly once — the staging write.  Emptiness is
    detected after the write from the staging listing (an empty write
    leaves only ``_SUCCESS``), not with a pre-write ``isEmpty()``, which
    would run the whole upstream view plan a second time.  An empty
    result is rewritten as one schema-bearing empty file, so an
    emptied-out store stays readable; ``limit(0)`` folds to an empty
    local relation, a metadata-only job."""
    staging = fs.staging_path(path)
    fs.delete(spark, staging)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    if not fs.has_parquet(spark, staging):
        fs.delete(spark, staging)
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(staging)
    fs.swap_directory(spark, staging, path)


def swap_tier(spark: SparkSession, df: DataFrame, path: str, tier: int) -> None:
    """Replace the whole store with ``df`` as its single tier ``tier``
    (a view rewritten by a batch, a retraction, a compaction fold)."""
    swap(spark, df.withColumn(BATCH_COL, F.lit(tier).cast("long")), path, (BATCH_COL,))


def write_concurrently(*writes: Callable[[], None]) -> None:
    """Run a batch's independent store writes as concurrent Spark jobs.

    Overlapping the jobs lets one write's straggler tail back-fill with
    the next write's tasks; shared parents are ``tracked_persist``-ed,
    and concurrent jobs that need the same cached partition share one
    computation (the BlockManager's per-block lock), so parallelism
    never duplicates the maintenance compute.

    The rule.  The writes of a group target disjoint paths, but their
    PLANS read the paths a sibling writes: a view swapped over the
    committed state of stores whose new tiers are appended beside it
    (bm25, tf-idf), or appends over cached reads of the stores their
    siblings append to (sig-edges, triangles).  When a Spark write of a
    path P finishes, ``CacheManager.recacheByPath(P)`` drops every
    cached plan that reads P and registers it again unbuilt, while a
    sibling job may be planning over, or building, that very cache; a
    view swapped that way once lost its batch's new rows.  So no store
    write here is a Spark write to a store path: :func:`append` and
    :func:`swap` write a staging path no plan reads and move it in by
    renames.

    Crash semantics are unchanged: each write is idempotent on its own
    (a tier replacement or a swap) and every reader gates each store
    separately, so a crash that leaves any subset written replays like
    a sequential prefix.  Exceptions propagate after every write has
    settled; the batch fails and ``availableNow`` replays it."""
    if len(writes) == 1:
        writes[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(w) for w in writes]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as exc:  # settle all writes, then re-raise
                errs.append(exc)
        if errs:
            raise errs[0]
