"""Extension tier entry points: text metrics, dedup family, fingerprints.

Split from registry.py (VERDICT r6 item 7); see git history for
provenance.  Import the builders from here; ``registry`` is the catalogue.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import oracles_ext as OE
from ..operators import dedup as D
from ._base import _t, _td


# ---------------------------------------------------------------------------
# Extension tier: text analysis / dedup / similarity / multimodal
# (SURVEY.md §7 stage 9; oracles in oracles_ext.py mirror the md5-based
# hashing and double fold arithmetic bit-for-bit)
# ---------------------------------------------------------------------------

def text_metrics(spark, sf_dir):
    """Quality scoring: token counts (ws + BPE-ish), punctuation and
    stopword ratios, composite quality — all native expressions."""
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.token_count_ws(t).alias("n_tokens_ws"),
        TXT.token_count_bpe(t).alias("n_tokens_bpe"),
        F.round(TXT.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(TXT.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(TXT.mean_word_length(t), 6).alias("mean_word_len"),
        TXT.quality_score(t).alias("quality"),
    )


def text_langid(spark, sf_dir):
    """n-gram/stopword-marker language ID vs the labeled lang column."""
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    return (
        docs.select("lang", TXT.lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def doc_fingerprints(spark, sf_dir):
    """Rolling min-hash document fingerprint (md5-based, oracle-exact)."""
    from ..functions import text as TXT

    docs = _td(spark, sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.doc_fingerprint(t).alias("fingerprint"),
        F.size(TXT.distinct_words(t)).alias("n_distinct_tokens"),
    )


def dedup_exact_q(spark, sf_dir):
    return D.dedup_exact(_t(spark, sf_dir, "documents"))


def dedup_ngram_jaccard_q(spark, sf_dir):
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), ngram=3, threshold=0.5)


def dedup_containment(spark, sf_dir):
    """Asymmetric doc-in-doc dedup by shingle containment (r7 — the
    case every symmetric tier misses: a document quoted whole inside a
    much larger one has Jaccard ≈ |small|/|large| but containment ≈ 1).
    Posting-list plan with the df-window stop filter; see
    ``operators/dedup.containment_pairs`` for the scale argument."""
    return D.containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, ngram=3, max_df=100
    )


def dedup_minhash_lsh_q(spark, sf_dir):
    """Shingle-based MinHash+LSH (3-gram shingles → 16 md5 permutations
    → 4-hash bands → bucket join → exact-Jaccard verify ≥ 0.4)."""
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, band_size=4, threshold=0.4, ngram=3
    )


def dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> dedup GROUPS: connected components over the
    MinHash-LSH pair graph (min-label propagation; the label is the
    component's min doc_id).  Docs in no pair are their own cluster.
    The oracle replays the pair graph and closes it with a recursive
    CTE — identical fixpoint semantics."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, band_size=4, threshold=0.4, ngram=3)
    comp = D.connected_components(pairs)
    singletons = docs.select(F.col("doc_id")).join(
        comp.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    return comp.select(F.col("id").alias("doc_id"), "cluster_id").unionByName(singletons)


def _oracle_clusters_sql() -> str:
    inner = OE.minhash_lsh_sql(16, 4, 0.4, ngram=3).strip()
    assert inner.startswith("WITH ")
    # reuse the pair query's CTE chain inside one WITH RECURSIVE list
    body = inner[len("WITH ") :]
    head, tail = body.rsplit("SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.4", 1)
    head = head.strip().rstrip(",")  # CTE list continues below
    return f"""
WITH RECURSIVE {head},
pairs AS MATERIALIZED (
    -- MATERIALIZED: everything upstream (the full LSH replay) collapses
    -- to one evaluation; inlined, edges/nodes re-ran it per reference
    -- and the closure oracles needed 128-256 MB (r8 driver OOM class)
    SELECT id_a, id_b FROM verified WHERE jaccard >= 0.4
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
    SELECT id, id AS peer FROM nodes
    UNION
    SELECT r.id, e.dst AS peer FROM reach r JOIN edges e ON e.src = r.peer
),
labels AS (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id FROM labels
UNION ALL
SELECT doc_id, doc_id AS cluster_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM nodes)
"""


def docs_deduplicated(spark, sf_dir):
    """The user-facing END of the dedup pipeline: the surviving corpus.
    Pairs -> clusters -> keep the min-id representative per cluster,
    with the number of near-duplicates it absorbed.  This is the query
    a training-data pipeline actually materializes — pair/cluster
    queries are its observability."""
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    docs = _t(spark, sf_dir, "documents")
    return (
        sizes.join(docs, F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id", "lang", "n_members")
    )


def _oracle_dedup_corpus_sql() -> str:
    inner = _oracle_clusters_sql().strip()
    assert inner.startswith("WITH RECURSIVE ")
    body = inner[len("WITH RECURSIVE ") :]
    head, tail = body.rsplit("SELECT doc_id, cluster_id FROM labels", 1)
    head = head.strip().rstrip(",")
    return f"""
WITH RECURSIVE {head},
allc AS (
    SELECT doc_id, cluster_id FROM labels
    UNION ALL
    SELECT doc_id, doc_id AS cluster_id FROM documents
    WHERE doc_id NOT IN (SELECT id FROM nodes)
),
sizes AS (
    SELECT cluster_id, count(*) AS n_members FROM allc GROUP BY cluster_id
)
SELECT d.doc_id, d.lang, s.n_members
FROM sizes s JOIN documents d ON s.cluster_id = d.doc_id
"""


def dedup_simhash_q(spark, sf_dir):
    return D.simhash_groups(_td(spark, sf_dir))


