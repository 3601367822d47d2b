"""Cross-document curation operators: fixed-alignment chunk frames,
boilerplate-span detection, and strip application.

The span-granular family (alignment-quantized exact-substring dedup,
Lee et al. 2021, public) shared by the batch queries
(``queries.curation.docs_boilerplate_strip`` / ``docs_cross_doc_dup_rate`` /
``docs_boilerplate_incremental``).

Scale notes (100 TB): every frame here keys on the SPAN text — a
uniform high-cardinality hash key — so aggregates and anti joins are
single skew-free shuffles; per-doc reassembly is bounded by document
length, never corpus size.  No UDFs, no driver participation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TXT


def chunk_frame(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 10
) -> DataFrame:
    """(id, i, span): every non-overlapping ``n``-word block with its
    in-document position.  Map-side explode — no shuffle."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(TXT.fixed_chunks(F.col(text_col), n)).alias("i", "span"),
    )


def strip_against(
    docs: DataFrame,
    boiler: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
) -> DataFrame:
    """Strip every block of ``docs`` whose text is in ``boiler``;
    reassemble survivors in original order plus the sub-block tail.

    The boilerplate set is NOT broadcast: at corpus scale it is
    corpus-sized, so the anti join shuffles on the same uniform span
    key the detection aggregate already used."""
    chunks = chunk_frame(docs, id_col, text_col, n)
    kept = chunks.join(boiler, "span", "left_anti")
    body = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("_body"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(TXT.fixed_chunks(F.col(text_col), n)).cast("long").alias("n_blocks"),
        TXT.chunk_tail(F.col(text_col), n).alias("_tail"),
    )
    return base.join(body, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        (F.col("n_blocks") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.array_join(
            F.filter(
                F.array(F.coalesce(F.col("_body"), F.lit("")), F.col("_tail")),
                lambda s: s != F.lit(""),
            ),
            " ",
        ).alias("clean_text"),
    )


def k_anonymity_levels(
    df: DataFrame,
    qi_exprs: list[tuple[str, Column]],
    k: int = 5,
) -> DataFrame:
    """k-anonymity via a GENERALIZATION LADDER (Sweeney, IJUFKS 2002,
    public): ``qi_exprs`` is an ordered list of (level_name, key expr)
    from finest to coarsest quasi-identifier granularity (e.g. hour →
    day → month).  Each row is assigned the FINEST level at which its
    equivalence class holds >= ``k`` rows; rows whose class is still
    < k at the coarsest level are marked for SUPPRESSION (level NULL)
    — the release discipline privacy-curated training corpora apply
    before events/logs enter a training mix.

    Plan shape — ONE corpus pass: the corpus is aggregated once at the
    finest granularity; every coarser level's class sizes are
    RE-AGGREGATED from the finest sketch (each coarser key must be a
    function of the finest key — the ladder property), so levels cost
    sketch-sized shuffles, not corpus passes.  The per-row pick is a
    broadcast join of the (finest key → level) decision table back
    onto the corpus: the corpus shuffles zero times.

    NULL quasi-identifier keys are first-class (ADVICE r6): groupBy
    already buckets NULL into its own equivalence class, and both join
    steps use ``eqNullSafe``, so a NULL-keyed row is counted, matched
    back, and surfaces with its class's decision (suppressed when the
    NULL class is < k) instead of silently vanishing through an inner
    join that NULL keys can never satisfy.
    """
    names = [n for n, _ in qi_exprs]
    keyed = df.select(
        "*",
        *[e.alias(f"_q_{n}") for n, e in qi_exprs],
    )
    # one corpus aggregate at the finest level, carrying the coarser
    # keys along (they are functions of the finest class by the ladder
    # property, so min() inside the class is exact)
    sketch = keyed.groupBy(f"_q_{names[0]}").agg(
        F.count(F.lit(1)).cast("long").alias("_n0"),
        *[F.min(f"_q_{n}").alias(f"_q_{n}") for n in names[1:]],
    )
    sizes = {names[0]: sketch.select(f"_q_{names[0]}", F.col("_n0").alias("_n"))}
    for n in names[1:]:
        sizes[n] = sketch.groupBy(f"_q_{n}").agg(
            F.sum("_n0").cast("long").alias("_n")
        )
    # decision table: finest key -> chosen level + class size
    dec = sketch.select(f"_q_{names[0]}", *[f"_q_{n}" for n in names[1:]], "_n0")
    for n in names[1:]:
        sz = (
            sizes[n]
            .withColumnRenamed(f"_q_{n}", f"_k_{n}")
            .withColumnRenamed("_n", f"_n_{n}")
        )
        dec = dec.join(
            sz, F.col(f"_q_{n}").eqNullSafe(F.col(f"_k_{n}"))
        ).drop(f"_k_{n}")
    level = F.lit(None).cast("string")
    size = F.lit(None).cast("long")
    # coarsest-first fold so the finest satisfying level wins last
    for n in reversed(names[1:]):
        level = F.when(F.col(f"_n_{n}") >= k, F.lit(n)).otherwise(level)
        size = F.when(F.col(f"_n_{n}") >= k, F.col(f"_n_{n}")).otherwise(size)
    level = F.when(F.col("_n0") >= k, F.lit(names[0])).otherwise(level)
    size = F.when(F.col("_n0") >= k, F.col("_n0")).otherwise(size)
    dec = dec.select(
        F.col(f"_q_{names[0]}").alias("_k0"),
        level.alias("anon_level"),
        size.alias("class_size"),
    )
    return keyed.join(
        F.broadcast(dec), F.col(f"_q_{names[0]}").eqNullSafe(F.col("_k0"))
    ).select(
        *df.columns,
        "anon_level",
        "class_size",
    )
