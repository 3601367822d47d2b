"""Cross-document curation: source caps, boilerplate, LM scoring, JSD.

Split from registry.py (VERDICT r6 item 7); see git history for
provenance.  Import the builders from here; ``registry`` is the catalogue.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import oracles_ext as OE
from ..operators import curation as CUR
from ._base import _t, _td
from .indexes import (
    _persisted_index,
)


# ---------------------------------------------------------------------------
# r5 block 4: cross-document curation — per-source caps, boilerplate
# stripping, duplication-rate scoring, epoch planning, sliding-window
# activity, dataset cards
# ---------------------------------------------------------------------------


def docs_source_cap(spark, sf_dir, cap: int = 20):
    """Per-source document cap (the RefinedWeb/CommonCrawl 'at most K
    pages per domain' rule), deterministic by md5(doc_id) order.

    Plan shape: a tiny per-source count aggregates first and broadcasts
    back; only documents from OVER-cap sources enter the rank window —
    under-cap sources pass through map-only.  At 100 TB this matters:
    the window shuffle carries just the heavy tail of the domain
    distribution (the sources that actually need trimming), not the
    whole corpus, and the md5 rank key is uniform within each source so
    no secondary skew appears inside the window partition."""
    from pyspark.sql import Window

    docs = _td(spark, sf_dir).select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    sized = docs.join(F.broadcast(counts), "source")
    under = sized.where(F.col("_n") <= cap)
    over = sized.where(F.col("_n") > cap)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    trimmed = (
        over.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )
    return under.unionByName(trimmed).select("doc_id", "source")


_ORACLE_SOURCE_CAP = """
WITH ranked AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn
    FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 20
"""

# DuckDB mirror of functions.text.fixed_chunks(text, 10): non-overlapping
# 10-word blocks, trailing remainder excluded.
_CHUNKS_10 = """
    SELECT doc_id, i, array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ') AS span
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
          FROM documents),
         UNNEST(CASE WHEN len(w) >= 10
                     THEN generate_series(0, CAST(len(w) // 10 AS INT) - 1)
                     ELSE [] END) AS t(i)
"""


def docs_boilerplate_strip(spark, sf_dir, min_docs: int = 2):
    """Cross-document boilerplate removal (the C4 'discard any line
    that appears elsewhere in the corpus' rule, at fixed 10-word block
    alignment): blocks whose text occurs in >= ``min_docs`` distinct
    documents are stripped; the cleaned text is the surviving blocks in
    original order plus the sub-block tail.

    Plan shape: one explode + one hash-aggregate builds the boilerplate
    set (uniform high-cardinality span key), which joins back as a
    LEFT ANTI on the same exploded frame; reassembly is one hash-
    aggregate on doc_id with an in-memory array sort (blocks per doc
    are bounded by doc length, never by corpus size).  The boilerplate
    set is NOT broadcast: at 100 TB it is corpus-sized, so the anti
    join shuffles on the same uniform span key the aggregate already
    used.  No driver participation, no UDFs."""
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    chunks = docs.select(
        "doc_id", F.posexplode(TXT.fixed_chunks(F.col("text"), 10)).alias("i", "span")
    )
    boiler = (
        chunks.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("span")
    )
    return CUR.strip_against(docs, boiler)


_ORACLE_BOILERPLATE = f"""
WITH chunks AS ({_CHUNKS_10}),
boiler AS (
    SELECT span FROM chunks GROUP BY span HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
    SELECT c.* FROM chunks c ANTI JOIN boiler b ON c.span = b.span
),
body AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(span, ' ' ORDER BY i) AS body
    FROM kept GROUP BY doc_id
),
base AS (
    SELECT doc_id,
           CAST(CASE WHEN len(w) >= 10 THEN len(w) // 10 ELSE 0 END AS BIGINT)
               AS n_blocks,
           array_to_string(
               w[(CASE WHEN len(w) >= 10 THEN len(w) // 10 ELSE 0 END) * 10 + 1 : ],
               ' ') AS tail
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
          FROM documents)
)
SELECT b.doc_id, b.n_blocks,
       b.n_blocks - COALESCE(y.n_kept, 0) AS n_removed,
       -- COALESCE: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
       COALESCE(array_to_string(
           list_filter([COALESCE(y.body, ''), b.tail], s -> s <> ''), ' '), '')
           AS clean_text
FROM base b LEFT JOIN body y ON b.doc_id = y.doc_id
"""


def docs_cross_doc_dup_rate(spark, sf_dir):
    """Per-document cross-corpus duplication rate: the fraction of a
    document's 10-word blocks whose text also appears in at least one
    OTHER document (the per-doc scoring view of the repeated-span
    family — the filter criterion real pipelines apply as 'drop docs
    that are mostly duplicated content').

    Plan shape: explode + one span aggregate counting distinct docs,
    join back on the uniform span key, one doc_id aggregate.  The
    'other document' test is (n_docs >= 2 OR n_occ_in_doc > 1)-free by
    construction: a block duplicated only WITHIN one doc does not
    count, matching the cross-doc semantics."""
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    chunks = docs.select(
        "doc_id", F.explode(TXT.fixed_chunks(F.col("text"), 10)).alias("span")
    )
    span_docs = chunks.groupBy("span").agg(F.countDistinct("doc_id").alias("_nd"))
    return (
        chunks.join(span_docs, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .withColumn(
            "dup_rate", F.round(F.col("n_shared") / F.col("n_blocks"), 6)
        )
        .withColumn("mostly_dup", (F.col("dup_rate") >= 0.5).cast("boolean"))
    )


_ORACLE_DUP_RATE = f"""
WITH chunks AS ({_CHUNKS_10}),
span_docs AS (
    SELECT span, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY span
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
           AS dup_rate,
       (round(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
           >= 0.5e0) AS mostly_dup
FROM chunks c JOIN span_docs s ON c.span = s.span
GROUP BY c.doc_id
"""


def docs_epoch_plan(spark, sf_dir):
    """Per-source epoch planning (the data-mixture repeat-factor
    computation behind published LLM data recipes: when a source's
    token count falls short of its target share of the training
    budget, it is repeated for multiple epochs, capped to bound
    memorization).  Budget = 2x total corpus tokens, uniform target
    share per source; epochs = ceil(target / actual), clamped to
    [1, 10] — integer arithmetic end-to-end, so the plan is
    engine-deterministic.

    Plan shape: one token aggregate per source (tiny at any corpus
    size), the corpus total as a one-row broadcast cross join, all
    downstream arithmetic on the 20-row frame."""
    from ..functions.text import words

    docs = _td(spark, sf_dir)
    toks = docs.select(
        "source", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    per_src = toks.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    total = per_src.agg(
        F.sum("src_tokens").alias("_total"),
        F.count(F.lit(1)).alias("_n_src"),
    )
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "src_tokens",
            # floor, not cast: a .5 target (odd total x 2 / 20 sources)
            # would truncate on Spark but round on an ANSI CAST
            F.floor(F.lit(2) * F.col("_total") / F.col("_n_src"))
            .cast("long")
            .alias("target_tokens"),
        )
        .withColumn(
            "epochs",
            F.least(
                F.lit(10),
                F.greatest(
                    F.lit(1),
                    F.ceil(F.col("target_tokens") / F.col("src_tokens")).cast("int"),
                ),
            ).cast("int"),
        )
        .withColumn(
            "planned_tokens", (F.col("epochs") * F.col("src_tokens")).cast("long")
        )
    )


_ORACLE_EPOCH_PLAN = f"""
WITH toks AS (
    SELECT source, CAST(len({OE.WORDS}) AS BIGINT) AS n_tokens FROM documents
), per_src AS (
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM toks GROUP BY source
), planned AS (
    SELECT source, src_tokens,
           CAST((2 * sum(src_tokens) OVER ()) // (count(*) OVER ()) AS BIGINT)
               AS target_tokens
    FROM per_src
)
SELECT source, src_tokens, target_tokens,
       CAST(least(10, greatest(1,
           CAST(ceil(target_tokens / CAST(src_tokens AS DOUBLE)) AS INT))) AS INT)
           AS epochs,
       CAST(least(10, greatest(1,
           CAST(ceil(target_tokens / CAST(src_tokens AS DOUBLE)) AS INT)))
           * src_tokens AS BIGINT) AS planned_tokens
FROM planned
"""


def events_sliding_active_users(spark, sf_dir):
    """Sliding-window distinct-user counts (1-hour window, 15-minute
    slide) via the NATIVE ``F.window`` generator — the same operator
    Structured Streaming uses, so this exact expression lifts to a
    watermarked stream unchanged.  Each event lands in 4 overlapping
    windows; the count is exact distinct.

    Output is keyed on integral epoch seconds (not timestamps) so
    cross-engine comparison is exact.  Plan shape: the window
    generator is a map-side 4x explode, then ONE distinct-aggregate
    shuffle on (window, user) — uniform keys, partial aggregation
    upstream.  At 100 TB the state is bounded by (windows x active
    users), not events."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("win_start_sec"),
            F.col("active_users"),
        )
        .orderBy("win_start_sec")
    )


_ORACLE_SLIDING_USERS = """
WITH hits AS (
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - k * 900 AS win_start_sec,
           user_id
    FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
)
SELECT win_start_sec, count(DISTINCT user_id) AS active_users
FROM hits GROUP BY win_start_sec ORDER BY win_start_sec
"""


def docs_dataset_card(spark, sf_dir):
    """Per-source dataset card (the datasheet summary a corpus release
    ships with): document/token/char totals, length extremes, distinct
    languages, and the share of substantial documents — all exact
    integer or 6dp-rounded aggregates in ONE scan of the corpus.

    Plan shape: a single hash-aggregate on the 20-value source key;
    everything is map-side partial-aggregable, so the shuffle carries
    20 rows of partials per task regardless of corpus size."""
    from ..functions.text import words

    docs = _td(spark, sf_dir)
    nt = F.size(words(F.col("text"))).cast("long")
    return (
        docs.select("source", "lang", "n_chars", nt.alias("_nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.min("_nt").alias("min_tokens"),
            F.max("_nt").alias("max_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                F.sum(F.when(F.col("_nt") >= 50, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("substantial_share"),
        )
    )


_ORACLE_DATASET_CARD = f"""
WITH base AS (
    SELECT source, lang, n_chars, CAST(len({OE.WORDS}) AS BIGINT) AS nt
    FROM documents
)
SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(nt) AS min_tokens, max(nt) AS max_tokens,
       count(DISTINCT lang) AS n_langs,
       round(sum(CASE WHEN nt >= 50 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
           AS substantial_share
FROM base GROUP BY source
"""


def docs_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality scoring (the CCNet/KenLM
    perplexity-filter primitive, at unigram order): build the corpus
    unigram distribution, score every document by its mean negative
    log-probability — low = in-distribution text, high = outliers.
    Real pipelines bucket on this score (CCNet keeps the head/middle).

    Plan shape: one (doc, term) tf aggregate, one vocab-sized term
    aggregate, a join back ON THE TERM KEY (at 100 TB the vocab table
    is GB-scale — joined, deliberately not broadcast; Spark's AQE may
    still choose broadcast when the measured size is small, which is
    the right call at THIS scale and exactly what AQE is for), the
    corpus total as a one-row broadcast, then a per-doc aggregate.
    Scores are tf-weighted sums over the (doc, term) frame — identical
    association on both engines — and rounded 6dp (log values are
    irrational, so boundary coincidence is measure-zero, unlike the
    dyadic-rational sums events_range_frame documents)."""
    from ..functions.text import words

    docs = _td(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_term"))
    total = vocab.agg(F.sum("n_term").cast("double").alias("_total"))
    scored = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.col("tf") * -F.log(F.col("n_term") / F.col("_total"))
            ).alias("_sum_neg"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_sum_neg") / F.col("n_tokens"), 6).alias("avg_neg_logprob"),
    )


_ORACLE_UNIGRAM = f"""
WITH toks AS (
    SELECT doc_id, unnest({OE.WORDS}) AS term FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), vocab AS (
    SELECT term, count(*) AS n_term FROM toks GROUP BY term
), total AS (
    SELECT CAST(sum(n_term) AS DOUBLE) AS total FROM vocab
)
SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_tokens,
       round(sum(f.tf * -ln(v.n_term / t.total)) / sum(f.tf), 6)
           AS avg_neg_logprob
FROM tf f JOIN vocab v ON f.term = v.term CROSS JOIN total t
GROUP BY f.doc_id
"""


def sources_overlap_matrix(spark, sf_dir):
    """Pairwise source-overlap matrix: for every pair of sources, how
    many distinct 10-word blocks they share, and the overlap
    coefficient (shared / min(|A|, |B|)) — the inter-source
    contamination measure a mixture designer reads before weighting
    sources (two 'different' crawls sharing half their blocks are one
    source wearing two hats).

    Plan shape: distinct (span, source) pairs — one aggregate on the
    uniform span key — then a self-join per span producing ordered
    source pairs (fan-out bounded by sources² per span, NOT corpus
    size), one aggregate on the tiny (srcA, srcB) key, and per-source
    distinct-block counts broadcast back for the coefficient."""
    from ..caching import tracked_persist
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    # persisted: the distinct (span, source) frame feeds BOTH sides of
    # the self-join and the per-source sizes — without it Catalyst
    # re-tokenizes the corpus three times
    spans = tracked_persist(
        docs.select(
            "source", F.explode(TXT.fixed_chunks(F.col("text"), 10)).alias("span")
        ).distinct()
    )
    a = spans.alias("a")
    b = spans.alias("b")
    pairs = (
        a.join(b, (F.col("a.span") == F.col("b.span")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_spans"))
    )
    sizes = spans.groupBy("source").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n_spans", "_na")),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n_spans", "_nb")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_spans",
            F.round(
                F.col("shared_spans") / F.least(F.col("_na"), F.col("_nb")), 6
            ).alias("overlap_coef"),
        )
    )


_ORACLE_OVERLAP = f"""
WITH chunks AS ({_CHUNKS_10}),
spans AS (
    SELECT DISTINCT d.source, c.span
    FROM chunks c JOIN documents d ON c.doc_id = d.doc_id
),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_spans
    FROM spans a JOIN spans b ON a.span = b.span AND a.source < b.source
    GROUP BY a.source, b.source
),
sizes AS (
    SELECT source, count(*) AS n_spans FROM spans GROUP BY source
)
SELECT p.source_a, p.source_b, p.shared_spans,
       round(p.shared_spans / CAST(least(sa.n_spans, sb.n_spans) AS DOUBLE), 6)
           AS overlap_coef
FROM pairs p
JOIN sizes sa ON p.source_a = sa.source
JOIN sizes sb ON p.source_b = sb.source
"""


def docs_boilerplate_incremental(spark, sf_dir):
    """Incremental boilerplate maintenance — the archive ∪ daily-delta
    loop (the reference's defining update model,
    scripts/spark_merge_dfs.py:82-83) applied to the curation tier:
    docs with doc_id % 10 == 0 are "today's delta"; the archive's
    (doc_id, i, span) chunk index is PERSISTED state (parquet,
    materialized once per session like the LSH band index), so the
    archive text is never re-tokenized.  The delta's chunks update the
    span counts; spans that CROSS the >= 2 threshold because of the
    delta mark which archive docs need re-stripping.  Output = the
    full-corpus strip restricted to touched docs (delta ∪ affected
    archive docs) — everything else is provably unchanged because the
    boilerplate set only grows under insertion (deletions go through
    the CDC retraction path, dedup_labels_after_delete's family).

    Plan shape: delta-only chunking (map-side explode of the small
    side), span counts as index-derived aggregates on the same uniform
    span key, threshold-crossing detection as one join of the tiny
    delta-count frame, affected-doc selection as a semi join on the
    persisted index, and the re-strip bounded by |delta| + |affected|
    — never |archive|."""
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    archive = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    index = _persisted_index(
        spark,
        sf_dir,
        "span_chunks",
        lambda: archive.select(
            "doc_id",
            F.posexplode(TXT.fixed_chunks(F.col("text"), 10)).alias("i", "span"),
        ),
    )
    arch_counts = index.groupBy("span").agg(
        F.countDistinct("doc_id").alias("_na")
    )
    delta_chunks = delta.select(
        "doc_id", F.explode(TXT.fixed_chunks(F.col("text"), 10)).alias("span")
    )
    delta_counts = delta_chunks.groupBy("span").agg(
        F.countDistinct("doc_id").alias("_ndl")
    )
    combined = (
        arch_counts.join(delta_counts, "span", "full_outer")
        .select(
            "span",
            F.coalesce(F.col("_na"), F.lit(0)).alias("_na"),
            F.coalesce(F.col("_ndl"), F.lit(0)).alias("_ndl"),
        )
    )
    boiler = combined.where(F.col("_na") + F.col("_ndl") >= 2).select("span")
    crossing = combined.where(
        (F.col("_na") < 2) & (F.col("_ndl") > 0) & (F.col("_na") + F.col("_ndl") >= 2)
    ).select("span")
    affected = (
        index.join(crossing, "span", "left_semi").select("doc_id").distinct()
    )
    touched = delta.unionByName(archive.join(affected, "doc_id", "left_semi"))
    return CUR.strip_against(touched, boiler)


_ORACLE_BOILERPLATE_INCR = f"""
WITH chunks AS ({_CHUNKS_10}),
arch_counts AS (
    SELECT span, count(DISTINCT doc_id) AS na FROM chunks
    WHERE doc_id % 10 <> 0 GROUP BY span
),
delta_counts AS (
    SELECT span, count(DISTINCT doc_id) AS ndl FROM chunks
    WHERE doc_id % 10 = 0 GROUP BY span
),
crossing AS (
    SELECT d.span FROM delta_counts d LEFT JOIN arch_counts a ON d.span = a.span
    WHERE COALESCE(a.na, 0) < 2 AND COALESCE(a.na, 0) + d.ndl >= 2
),
touched AS (
    SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0
    UNION
    SELECT DISTINCT c.doc_id FROM chunks c
    JOIN crossing x ON c.span = x.span WHERE c.doc_id % 10 <> 0
),
boiler AS (
    SELECT span FROM chunks GROUP BY span HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
    SELECT c.* FROM chunks c ANTI JOIN boiler b ON c.span = b.span
),
body AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(span, ' ' ORDER BY i) AS body
    FROM kept GROUP BY doc_id
),
base AS (
    SELECT doc_id,
           CAST(CASE WHEN len(w) >= 10 THEN len(w) // 10 ELSE 0 END AS BIGINT)
               AS n_blocks,
           array_to_string(
               w[(CASE WHEN len(w) >= 10 THEN len(w) // 10 ELSE 0 END) * 10 + 1 : ],
               ' ') AS tail
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
          FROM documents)
)
SELECT b.doc_id, b.n_blocks,
       b.n_blocks - COALESCE(y.n_kept, 0) AS n_removed,
       COALESCE(array_to_string(
           list_filter([COALESCE(y.body, ''), b.tail], s -> s <> ''), ' '), '')
           AS clean_text
FROM base b LEFT JOIN body y ON b.doc_id = y.doc_id
WHERE b.doc_id IN (SELECT doc_id FROM touched)
"""


def docs_delta_quality_scored(spark, sf_dir):
    """Score TODAY'S DELTA against the ARCHIVE's frozen unigram LM —
    the production form of LM quality filtering (CCNet scores incoming
    data against a fixed reference model, not against a distribution
    that shifts with every batch): the archive's (term, count) table is
    persisted index state; delta docs score by mean negative
    log-probability under it, with add-one smoothing over the archive
    vocab so unseen terms get a finite (high) surprise instead of -inf.

    Plan shape: the delta explodes (small side), term-joins the
    persisted vocab LEFT (unseen terms survive as smoothed mass), the
    archive total + vocab size ride a one-row broadcast.  The archive
    text is never re-tokenized — same persisted-state discipline as
    the LSH/span-chunk indexes."""
    from ..functions.text import words

    docs = _td(spark, sf_dir)
    archive = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    vocab = _persisted_index(
        spark,
        sf_dir,
        "unigram_vocab",
        lambda: archive.select(F.explode(words(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term")),
    )
    totals = vocab.agg(
        F.sum("n_term").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_vsize"),
    )
    toks = delta.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(vocab, "term", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.col("tf")
                * -F.log(
                    (F.coalesce(F.col("n_term"), F.lit(0)) + 1)
                    / (F.col("_total") + F.col("_vsize"))
                )
            ).alias("_sum_neg"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_sum_neg") / F.col("n_tokens"), 6).alias("avg_neg_logprob"),
    )


_ORACLE_DELTA_QUALITY = f"""
WITH vocab AS (
    SELECT term, count(*) AS n_term
    FROM (SELECT doc_id, unnest({OE.WORDS}) AS term FROM documents
          WHERE doc_id % 10 <> 0)
    GROUP BY term
), totals AS (
    SELECT CAST(sum(n_term) AS DOUBLE) AS total,
           CAST(count(*) AS DOUBLE) AS vsize FROM vocab
), tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest({OE.WORDS}) AS term FROM documents
          WHERE doc_id % 10 = 0)
    GROUP BY doc_id, term
)
SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_tokens,
       round(sum(f.tf * -ln((COALESCE(v.n_term, 0) + 1) / (t.total + t.vsize)))
             / sum(f.tf), 6) AS avg_neg_logprob
FROM tf f LEFT JOIN vocab v ON f.term = v.term CROSS JOIN totals t
GROUP BY f.doc_id
"""




def docs_snapshot_diff(spark, sf_dir):
    """Re-crawl CDC classification over two corpus snapshots — the
    "what changed since yesterday's crawl" diff every updating-dataset
    pipeline runs before deciding what to re-process (the documents
    twin of ``snapshot_diff_orders``; r9).  Yesterday = doc_id % 10
    != 0 (the archive slice the incremental family uses); today =
    doc_id % 7 != 0, with doc_id % 5 == 0 re-crawled under revised
    text.  Rows are classified added / removed / changed by CONTENT
    HASH; unchanged docs are suppressed (they are the overwhelming
    bulk at scale, and downstream re-processing keys off this diff).

    Plan shape: each snapshot scan projects (doc_id, md5(text)) map-
    side — the join carries 2×16-byte-hash rows, never document text;
    ONE full-outer sort-merge join on the uniform doc_id key (the
    canonical CDC shape; at 100 TB both sides bucket on doc_id and
    the join is zero-exchange against a bucketed archive).  The hash
    compare makes "changed" exact without shipping text."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5(F.col("text")).alias("_oh")
    )
    new = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text"))
        ).alias("_nh"),
    )
    j = old.join(new, "doc_id", "full_outer")
    change = (
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
    )
    return (
        j.select("doc_id", change.alias("change"))
        .where(F.col("change").isNotNull())
    )


_ORACLE_SNAPSHOT_DIFF_DOCS = """
WITH old AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
),
new AS (
    SELECT doc_id,
           md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h
    FROM documents WHERE doc_id % 7 <> 0
),
classified AS (
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed' END AS change
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT doc_id, change FROM classified WHERE change IS NOT NULL
"""
