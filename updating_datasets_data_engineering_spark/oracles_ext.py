"""DuckDB oracle SQL generators for the extension tier.

These mirror the engine's md5-based hashing and double-precision fold
arithmetic exactly, so value hashes match bit-for-bit:

  * token sets: string_split_regex + list_filter (same as Spark's
    split + filter)
  * hashes: substr(md5(...), 1, 8) — identical on both engines
  * cosine/dot: explicit left-associated SQL chains over
    CAST(x AS DOUBLE) — same fold order as Spark's ``aggregate``
    (DuckDB's list_cosine_similarity computes in float32 and would
    NOT match; measured 2.7e-8 off).
"""

from __future__ import annotations

WORDS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
DWORDS = f"list_distinct({WORDS})"

EN_STOP_SQL = (
    "('the','and','of','to','in','is','that','it','for','was',"
    "'a','an','on','at','by','with','as','be')"
)

LANG_MARKER_SQL = {
    "en": "('the','and','of','to','in','is','that','it','for','was')",
    "es": "('el','la','de','que','y','los','en','un','por','con')",
    "fr": "('le','la','de','et','les','des','un','une','est','dans')",
    "de": "('der','die','und','das','ist','von','mit','den','im','ein')",
}


def text_metrics_sql() -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, text, {WORDS} AS w FROM documents
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_tokens_bpe,
       round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(list_filter(w, x -> x IN {EN_STOP_SQL})) / greatest(len(w), 1), 6) AS stopword_ratio,
       round(CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) / greatest(len(w), 1), 6) AS mean_word_len,
       round((least(length(text) / 500.0, 1.0)
              + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / greatest(length(text), 1)) * 4, 1.0))
              + least((len(list_filter(w, x -> x IN {EN_STOP_SQL})) / greatest(len(w), 1)) * 5, 1.0)) / 3, 6) AS quality
FROM toks
"""


def lang_id_sql() -> str:
    scores = {
        code: f"len(list_filter(w, x -> x IN {markers}))"
        for code, markers in LANG_MARKER_SQL.items()
    }
    best = f"greatest({scores['de']}, {scores['en']}, {scores['es']}, {scores['fr']})"
    return f"""
WITH toks AS (
    SELECT doc_id, lang, {WORDS} AS w FROM documents
),
pred AS (
    SELECT doc_id, lang,
           CASE WHEN {best} = 0 THEN 'und'
                WHEN {scores['de']} = {best} THEN 'de'
                WHEN {scores['en']} = {best} THEN 'en'
                WHEN {scores['es']} = {best} THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM toks
)
SELECT lang, pred_lang, count(*) AS n_docs
FROM pred GROUP BY lang, pred_lang
"""


def fingerprint_sql() -> str:
    return f"""
SELECT doc_id,
       list_min(list_transform({DWORDS}, x -> substr(md5(x), 1, 8))) AS fingerprint,
       CAST(len({DWORDS}) AS INT) AS n_distinct_tokens
FROM documents
"""


def dedup_exact_sql() -> str:
    return """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def _shingles_sql(n: int = 3) -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_distinct(list_transform(generate_series(1, len(w) - {n - 1}), i -> {gram})) "
        f"ELSE [] END"
    )


def ngram_jaccard_sql(threshold: float = 0.5, n: int = 3, n_fingerprints: int = 2) -> str:
    """Replays dedup.ngram_jaccard_pairs' fingerprint blocking: docs
    sharing any of the k min-shingle-hash fingerprints are candidates,
    then exact shingle-set Jaccard verifies."""
    # blocked carries doc_id + fingerprint only (not the shingle set),
    # and the multi-referenced CTEs are MATERIALIZED — same peak-memory
    # hardening as minhash_lsh_sql (r8 driver-sandbox OOM class)
    fp_selects = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {i} AS bk, "
        f"list_min(list_transform(s, x -> substr(md5('{i}:' || x), 1, 8))) AS bv FROM toks"
        for i in range(n_fingerprints)
    )
    return f"""
WITH toks AS MATERIALIZED (
    SELECT doc_id, {_shingles_sql(n)} AS s
    FROM (SELECT doc_id, {WORDS} AS w FROM documents)
),
blocked AS MATERIALIZED (
    {fp_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM blocked a JOIN blocked b
      ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id
),
verified AS (
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(ta.s, tb.s)) / greatest(len(list_distinct(list_concat(ta.s, tb.s))), 1), 6) AS jaccard
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.id_a
    JOIN toks tb ON tb.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
"""


def containment_sql(
    threshold: float = 0.8, n: int = 3, max_df: int = 100, doc_where: str = ""
) -> str:
    """Replays ``dedup.containment_pairs``: distinct shingle posting
    lists, df-window stop filter (2 ≤ df ≤ max_df — generated from the
    SAME parameters as the query), shared-shingle pair counts over the
    kept shingles, containment against UNFILTERED min sizes.
    ``doc_where`` optionally restricts the corpus (the retraction
    oracle replays the survivor recompute with it)."""
    return f"""
WITH toks AS (
    SELECT doc_id, {_shingles_sql(n)} AS s
    FROM (SELECT doc_id, {WORDS} AS w FROM documents {doc_where})
),
shex AS (SELECT DISTINCT doc_id, unnest(s) AS sh FROM toks),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shex GROUP BY doc_id),
kept AS (
    SELECT sh FROM (SELECT sh, count(*) AS df FROM shex GROUP BY sh)
    WHERE df >= 2 AND df <= {max_df}
),
post AS (SELECT s.doc_id, s.sh FROM shex s JOIN kept k ON k.sh = s.sh),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
    FROM post a JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(shared AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment
FROM shared i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE round(CAST(shared AS DOUBLE) / least(sa.sz, sb.sz), 6) >= {threshold}
"""


def containment_incremental_sql(
    threshold: float = 0.8, n: int = 3, max_df: int = 100, delta_mod: int = 10
) -> str:
    """Replays ``dedup.incremental_containment_pairs``'s contract: the
    FULL recompute over archive ∪ delta (identical to
    :func:`containment_sql`), restricted to pairs with ≥ 1 delta
    endpoint (doc_id % delta_mod == 0).  Generated from the SAME
    parameters as the query."""
    base = containment_sql(threshold, n, max_df).rstrip()
    return (
        base
        + f"\n  AND (id_a % {delta_mod} = 0 OR id_b % {delta_mod} = 0)\n"
    )


def containment_retract_sql(
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = 100,
    tomb_mod: int = 7,
    tomb_val: int = 3,
) -> str:
    """Replays ``dedup.retract_containment_pairs``'s contract: the
    post-delete pairs view IS the full containment recompute over the
    survivors (doc_id % tomb_mod != tomb_val), with the df window
    re-derived over the surviving corpus — re-entered shingles
    included.  Generated from the SAME parameters as the query."""
    return containment_sql(
        threshold, n, max_df,
        doc_where=f"WHERE doc_id % {tomb_mod} <> {tomb_val}",
    )


def minhash_lsh_sql(
    num_hashes: int = 16, band_size: int = 4, threshold: float = 0.4, ngram: int | None = None
) -> str:
    sigs = ",\n           ".join(
        f"list_min(list_transform(dw, x -> substr(md5('{i}:' || x), 1, 8))) AS sig_{i}"
        for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    # doc_id + band key ONLY — carrying the shingle list through the
    # 4x union and the self-join quadrupled the oracle's peak memory
    # (r8: this family OOM'd in the driver's memory-starved sandbox)
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band_no, ".format(b=b)
        + " || '|' || ".join(f"sig_{b * band_size + j}" for j in range(band_size))
        + " AS band_key FROM sigs"
        for b in range(n_bands)
    )
    if ngram:
        feature_cte = (
            f"SELECT doc_id, {_shingles_sql(ngram)} AS dw\n"
            f"    FROM (SELECT doc_id, {WORDS} AS w FROM documents)"
        )
    else:
        feature_cte = f"SELECT doc_id, {DWORDS} AS dw FROM documents"
    # MATERIALIZED: toks feeds 3 consumers, sigs feeds the n_bands-way
    # union, banded self-joins — inlined, DuckDB recomputes the
    # md5-per-shingle signature pass once per reference, which is what
    # blew the oracle past the driver sandbox's free memory in r8
    return f"""
WITH toks AS MATERIALIZED (
    {feature_cte}
),
sigs AS MATERIALIZED (
    SELECT doc_id,
           {sigs}
    FROM toks
),
banded AS MATERIALIZED (
    {band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(ta.dw, tb.dw)) / greatest(len(list_distinct(list_concat(ta.dw, tb.dw))), 1), 6) AS jaccard
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.id_a
    JOIN toks tb ON tb.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
"""


def simhash_sql() -> str:
    h = "(('0x' || substr(md5(x), 1, 8))::BIGINT)"
    bit_terms = " + ".join(
        f"(CASE WHEN CAST(list_sum(list_transform(dw, x -> CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(32)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {DWORDS} AS dw FROM documents
),
sigs AS (
    SELECT doc_id, ({bit_terms}) AS simhash FROM toks
)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM sigs GROUP BY simhash HAVING count(*) > 1
"""


def _dot_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, dim + 1)
    )


def cosine_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"(({_dot_sql(a, b, dim)}) / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)})))"
    )


def knn_bruteforce_sql(k: int = 5, n_queries: int = 5, dim: int = 64) -> str:
    cos = cosine_sql("q.embedding", "c.embedding", dim)
    return f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {cos} AS cos_sim
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {n_queries}
),
ranked AS (
    SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


def embedding_near_dup_sql(threshold: float = 0.5, dim: int = 64) -> str:
    cos = cosine_sql("a.embedding", "b.embedding", dim)
    return f"""
SELECT id_a, id_b, cos_sim FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cos_sim,
           {cos} AS raw_cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE raw_cos >= {threshold}
"""


def _plane_list_sql(plane: list[float]) -> str:
    # exponent notation forces DOUBLE parsing: a bare 18-digit decimal
    # literal becomes DECIMAL(19,18) and silently loses the last bit.
    # repr() already uses an exponent for small magnitudes — keep it.
    vals = (f"{v!r}" if "e" in f"{v!r}" else f"{v!r}e0" for v in plane)
    return "[" + ", ".join(vals) + "]"


def _plane_dot_sql(dim: int, emb: str = "e.embedding", vec: str = "p.v") -> str:
    # left-associated chain, same fold order as Spark's F.aggregate
    return " + ".join(
        f"(CAST({emb}[{i}] AS DOUBLE) * {vec}[{i}])" for i in range(1, dim + 1)
    )


def knn_ann_srp_sql(
    k: int = 5,
    n_queries: int = 5,
    n_planes: int = 4,
    probe_hamming: int = 2,
    dim: int = 64,
) -> str:
    """Deterministic replay of ``similarity.srp_ann_topk``: the md5
    planes are plan literals, so the SQL recomputes the identical SRP
    buckets + Hamming<=H probe set, then ranks exact cosine within the
    candidate set (engine: operators/similarity.py srp_ann_topk)."""
    from .operators.similarity import _deterministic_planes, probe_masks

    planes = _deterministic_planes(n_planes, dim)
    plane_rows = ",\n           ".join(
        f"({1 << j}, {_plane_list_sql(p)})" for j, p in enumerate(planes)
    )
    mask_rows = ", ".join(f"({m})" for m in probe_masks(n_planes, probe_hamming))
    cos = cosine_sql("q.embedding", "c.embedding", dim)
    return f"""
WITH planes(bit_w, v) AS (
    VALUES {plane_rows}
),
dots AS (
    SELECT e.vec_id, p.bit_w, ({_plane_dot_sql(dim)}) AS d
    FROM embeddings e CROSS JOIN planes p
),
buckets AS (
    SELECT vec_id, CAST(SUM(CASE WHEN d > 0 THEN bit_w ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
),
qprobe AS (
    SELECT b.vec_id AS query_id, xor(b.bucket, m.m) AS bucket
    FROM buckets b CROSS JOIN (VALUES {mask_rows}) m(m)
    WHERE b.vec_id < {n_queries}
),
scored AS (
    SELECT qp.query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
    FROM qprobe qp
    JOIN buckets cb ON cb.bucket = qp.bucket
    JOIN embeddings c ON c.vec_id = cb.vec_id
    JOIN embeddings q ON q.vec_id = qp.query_id
    WHERE c.vec_id <> qp.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


def embedding_near_dup_ann_sql(
    threshold: float = 0.5,
    n_bands: int = 24,
    band_planes: int = 5,
    dim: int = 64,
) -> str:
    """Deterministic replay of ``similarity.embedding_near_dup_pairs``:
    the L banded SRP bucket tables, the distinct candidate self-join,
    and the exact-cosine verify (engine: operators/similarity.py
    embedding_near_dup_pairs)."""
    from .operators.similarity import near_dup_band_planes

    bands = near_dup_band_planes(n_bands, band_planes, dim)
    plane_rows = ",\n           ".join(
        f"({l}, {1 << j}, {_plane_list_sql(p)})"
        for l, planes in enumerate(bands)
        for j, p in enumerate(planes)
    )
    cos = cosine_sql("ea.embedding", "eb.embedding", dim)
    return f"""
WITH planes(band_no, bit_w, v) AS (
    VALUES {plane_rows}
),
dots AS (
    SELECT e.vec_id, p.band_no, p.bit_w, ({_plane_dot_sql(dim)}) AS d
    FROM embeddings e CROSS JOIN planes p
),
buckets AS (
    SELECT vec_id, band_no, CAST(SUM(CASE WHEN d > 0 THEN bit_w ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id, band_no
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band_no = b.band_no AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
verified AS (
    SELECT c.id_a, c.id_b, {cos} AS raw_cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, round(raw_cos, 6) AS cos_sim FROM verified WHERE raw_cos >= {threshold}
"""


def multimodal_sql() -> str:
    return """
SELECT doc_id,
       'image/fake' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       CAST((octet_length(encode(text)) % 640) + 1 AS INT) AS width,
       CAST((octet_length(encode(text)) % 480) + 1 AS INT) AS height
FROM documents
"""


def ivf_ann_sql(
    k: int = 5,
    n_queries: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    corpus_sql: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """Deterministic replay of ``similarity.ivf_ann_topk``: centroid
    set = vec_id < n_cells, nearest-cell assignment and probe choice
    via ROW_NUMBER over (cosine DESC, cid) — identical tie semantics
    to the Spark windows — then exact cosine inside probed cells.

    PRECONDITION on ``corpus_sql`` (ADVICE r10 item 1): the corpus must
    contain vec_ids 0 .. n_cells-1, because this oracle's centroid rule
    is ``vec_id < n_cells`` while the Spark streaming maintainer
    freezes its quantizer as the first batch's n_cells SMALLEST ids —
    the two coincide exactly when ids 0..n_cells-1 are present (true
    for every current caller: the full corpus, and the knn_ann_streaming
    survivor corpus whose tombstones never touch ids < 16).  A future
    corpus_sql violating this would make the oracle and the frozen
    quantizer silently diverge — select centroids to match the
    maintainer's smallest-ids rule instead of widening this rule.

    Peak-memory hardening (r8: this oracle OOM'd in the driver's
    memory-starved sandbox at 41 KB of SQL): per-vector norms are
    hoisted into one MATERIALIZED pass, so each pairwise cosine is ONE
    unrolled dot product instead of three (the self-dot-products under
    the sqrts).  Arithmetic is bit-identical — sqrt over the same
    left-folded sum, then the same d / (na * nb) — so parity with the
    Spark window semantics is unchanged; the SQL drops ~3x in size and
    the floor drops 64 -> 32 MB."""
    dot_ec = _dot_sql("e.embedding", "c.embedding", dim)
    dot_qc = _dot_sql("q.embedding", "c.embedding", dim)
    dot_qn = _dot_sql("q.embedding", "n.embedding", dim)
    self_dot = _dot_sql("embedding", "embedding", dim)
    return f"""
WITH norms AS MATERIALIZED (
    SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM ({corpus_sql})
),
cents AS MATERIALIZED (
    SELECT vec_id AS cid, embedding, nrm FROM norms WHERE vec_id < {n_cells}
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY (({dot_ec}) / (e.nrm * c.nrm)) DESC, c.cid) AS rn
        FROM norms e CROSS JOIN cents c
    ) WHERE rn = 1
),
probes AS (
    SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY (({dot_qc}) / (q.nrm * c.nrm)) DESC, c.cid) AS rn
        FROM norms q CROSS JOIN cents c
        WHERE q.vec_id < {n_queries}
    ) WHERE rn <= {n_probe}
),
scored AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           (({dot_qn}) / (q.nrm * n.nrm)) AS cos_sim
    FROM probes p
    JOIN assign a ON a.cell = p.cell
    JOIN norms n ON n.vec_id = a.vec_id
    JOIN norms q ON q.vec_id = p.query_id
    WHERE a.vec_id <> p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


def repetition_sql(top_frac_flag: float = 0.05) -> str:
    """Replays queries.indexes.docs_repetition: non-distinct word bigrams,
    per-doc top-bigram fraction / duplicate fractions (Gopher-style
    repetition filters, Rae et al. 2021)."""
    return f"""
WITH toks AS (
    SELECT doc_id, {WORDS} AS w FROM documents
),
bg AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 2
                THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])
                ELSE [] END AS bgs,
           len(w) AS n_words,
           len(list_distinct(w)) AS n_dwords
    FROM toks
),
e AS (SELECT doc_id, unnest(bgs) AS g FROM bg),
gc AS (SELECT doc_id, g, count(*) AS c FROM e GROUP BY doc_id, g),
agg AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct,
           CAST(max(c) AS BIGINT) AS top_c
    FROM gc GROUP BY doc_id
)
SELECT b.doc_id,
       a.n_bigrams,
       round(a.top_c / greatest(a.n_bigrams, 1), 6) AS top_bigram_frac,
       round(1.0 - a.n_distinct / greatest(a.n_bigrams, 1), 6) AS dup_bigram_frac,
       round(1.0 - b.n_dwords / greatest(b.n_words, 1), 6) AS dup_word_frac,
       CAST(CASE WHEN a.top_c / greatest(a.n_bigrams, 1) > {top_frac_flag} THEN 1 ELSE 0 END AS INT) AS repetitive
FROM bg b JOIN agg a USING (doc_id)
"""


def contamination_sql(modulus: int = 17, min_shared: int = 5, n: int = 3) -> str:
    """Replays queries.indexes.docs_contamination: distinct word n-gram
    overlap between candidate docs and the held-out benchmark slice
    (doc_id % modulus = 0) — the public decontamination recipe (n-gram
    collision against eval sets, Brown et al. 2020 App. C)."""
    return f"""
WITH toks AS (
    SELECT doc_id, {_shingles_sql(n)} AS s
    FROM (SELECT doc_id, {WORDS} AS w FROM documents)
),
sh AS (SELECT doc_id, unnest(s) AS g FROM toks),
bench AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % {modulus} = 0),
cand AS (SELECT doc_id, g FROM sh WHERE doc_id % {modulus} <> 0)
SELECT c.doc_id,
       count(DISTINCT c.g) AS n_shared_shingles,
       count(DISTINCT b.bench_id) AS n_bench_docs,
       CAST(CASE WHEN count(DISTINCT c.g) >= {min_shared} THEN 1 ELSE 0 END AS INT) AS contaminated
FROM cand c JOIN bench b USING (g)
GROUP BY c.doc_id
"""


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONGNUM_RE = "[0-9]{4,}"

PII_TEXT_EXPR = (
    "CASE WHEN event_id % 3 = 0 THEN "
    "'note ' || event_id || ' routine sync with no contact details' "
    "ELSE 'contact user' || user_id || '@mail.example.com ref ' || event_id || "
    "' card ' || (10000 + (user_id * 7) % 90000) || ' call 555-' || (1000 + user_id % 9000) END"
)


def redact_sql() -> str:
    """Replays queries.indexes.text_redact: deterministic PII-bearing strings
    synthesized from events, then email/long-digit-run redaction.
    Patterns are RE2-and-Java-regex compatible (no backrefs)."""
    return f"""
WITH raw AS (
    SELECT event_id, {PII_TEXT_EXPR} AS text FROM events
),
step1 AS (
    SELECT event_id, text,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
    FROM raw
)
SELECT event_id,
       CAST(len(regexp_extract_all(t1, '{LONGNUM_RE}')) AS BIGINT) AS n_long_nums,
       n_emails,
       regexp_replace(t1, '{LONGNUM_RE}', '<NUM>', 'g') AS redacted
FROM step1
"""


def incremental_minhash_sql(
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.4,
    ngram: int | None = None,
    delta_mod: int = 10,
) -> str:
    """Oracle for ``dedup.incremental_minhash_pairs``: the FULL-corpus
    MinHash-LSH recompute restricted to pairs with >= 1 delta endpoint
    (delta = doc_id % delta_mod = 0).  Band collision is a symmetric
    per-doc property, so probing a stored archive index finds the
    identical candidate set the full re-band does — the incremental
    path must therefore match this recompute exactly."""
    base = minhash_lsh_sql(num_hashes, band_size, threshold, ngram)
    anchor = "ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id"
    assert anchor in base
    return base.replace(
        anchor,
        anchor
        + f"\n       AND (a.doc_id % {delta_mod} = 0 OR b.doc_id % {delta_mod} = 0)",
    )


def incremental_simhash_sql(delta_mod: int = 10) -> str:
    """Oracle for ``dedup.incremental_simhash_groups``: the full-corpus
    SimHash recompute restricted to collision groups containing >= 1
    delta member (delta = doc_id % delta_mod = 0).  Signature equality
    is a per-doc property, so probing a stored index finds the same
    groups the full re-hash does."""
    base = simhash_sql()
    anchor = "FROM sigs GROUP BY simhash HAVING count(*) > 1"
    assert anchor in base
    return base.replace(
        anchor,
        anchor
        + f"\n   AND simhash IN (SELECT simhash FROM sigs WHERE doc_id % {delta_mod} = 0)",
    )


def semantic_dedup_sql(
    n_cells: int = 16,
    threshold: float = 0.4,
    dim: int = 64,
    planted_mod: int | None = None,
    planted_offset: int = 1_000_000,
    tomb_mod: int | None = None,
    tomb_val: int = 0,
    adaptive_cells: bool = False,
) -> str:
    """Replays ``similarity.semantic_dedup``: IVF cell assignment
    (centroids = vec_id < n_cells, ROW_NUMBER tie semantics identical
    to the Spark window), then min-id absorption within cells at the
    cosine threshold.

    ``planted_mod`` replays the graded query's planted-duplicate corpus
    (engine: queries/indexes.py dedup_semantic): every vector with
    vec_id % planted_mod == 0 is unioned again under vec_id +
    planted_offset, so the production threshold has true duplicates to
    absorb.

    ``tomb_mod``/``tomb_val`` replay the RETRACT query's tombstones
    (queries/indexes.py dedup_semantic_retract): original vectors with
    vec_id % tomb_mod == tomb_val are deleted from the corpus BEFORE
    the recompute (their planted re-crawls survive — only the original
    upload is retracted), so this oracle is the survivor full
    recompute the incremental delete path must match.

    ``adaptive_cells`` replays ``similarity.adaptive_cell_count`` in
    SQL — k = clamp(2^floor(log2(√n)), 16, 4096) over the PRE-delete
    corpus count — so the oracle stays exact at EVERY sf, not just the
    fixture where k happens to equal the static default (ADVICE r9
    item 2).  When set with ``tomb_mod``, tombstones also carry the
    query's ``vec_id >= k`` centroid-protection floor."""
    if adaptive_cells:
        planted_cnt = (
            f" + (SELECT count(*) FROM embeddings"
            f" WHERE vec_id % {planted_mod} = 0)"
            if planted_mod is not None
            else ""
        )
        nc_cte = f"""nc AS MATERIALIZED (
    SELECT GREATEST(16, LEAST(4096,
        1 << CAST(floor(0.5 * log2(GREATEST(cnt, 4))) AS INT))) AS k
    FROM (SELECT (SELECT count(*) FROM embeddings){planted_cnt} AS cnt)
),
"""
        k_sql = "(SELECT k FROM nc)"
        floor_sql = f" AND vec_id >= {k_sql}"
    else:
        nc_cte = ""
        k_sql = str(n_cells)
        floor_sql = ""
    tomb = (
        f" WHERE NOT (vec_id % {tomb_mod} = {tomb_val}{floor_sql})"
        if tomb_mod is not None
        else ""
    )
    corpus = f"SELECT vec_id, embedding FROM embeddings{tomb}"
    if planted_mod is not None:
        corpus += (
            f" UNION ALL SELECT vec_id + {planted_offset}, embedding"
            f" FROM embeddings WHERE vec_id % {planted_mod} = 0"
        )
    # Same peak-memory hardening as ivf_ann_sql (r8 driver-sandbox OOM
    # class): per-vector norms hoisted into one MATERIALIZED pass, so
    # each pairwise cosine is ONE unrolled dot product; corpus/assign
    # are multi-referenced, so inlined they re-ran per reference.
    # Arithmetic is bit-identical (sqrt over the same left-folded sum,
    # then the same d / (na * nb)).
    dot_ec = _dot_sql("e.embedding", "c.embedding", dim)
    dot_ab = _dot_sql("a.embedding", "b.embedding", dim)
    self_dot = _dot_sql("embedding", "embedding", dim)
    return f"""
WITH {nc_cte}corpus AS MATERIALIZED (
    SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM ({corpus})
),
cents AS MATERIALIZED (
    SELECT vec_id AS cid, embedding, nrm FROM corpus WHERE vec_id < {k_sql}
),
assign AS MATERIALIZED (
    SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY (({dot_ec}) / (e.nrm * c.nrm)) DESC, c.cid) AS rn
        FROM corpus e CROSS JOIN cents c
    ) WHERE rn = 1
),
absorbed AS (
    SELECT DISTINCT sb.vec_id
    FROM assign sa JOIN assign sb ON sa.cell = sb.cell AND sa.vec_id < sb.vec_id
    JOIN corpus a ON a.vec_id = sa.vec_id
    JOIN corpus b ON b.vec_id = sb.vec_id
    WHERE (({dot_ab}) / (a.nrm * b.nrm)) >= {threshold}
)
SELECT s.vec_id, s.cell, (d.vec_id IS NOT NULL) AS is_dup
FROM assign s LEFT JOIN absorbed d ON s.vec_id = d.vec_id
"""
