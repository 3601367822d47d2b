"""Text-analysis column functions for the training-data pipeline tier.

Everything here is a pure Column expression (JVM-side, codegen-friendly)
— no Python UDFs in the hot path.  Hash-based functions use md5 so the
DuckDB oracle can reproduce them bit-for-bit.

Scale notes (100 TB): all functions are per-row map operations — no
shuffle, no state; they pipeline inside whole-stage codegen on top of
the Parquet scan, so throughput is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic marker lexicons for the n-gram/stopword language-ID
# heuristic.  Real deployments would swap a trained model in via the same
# column signature.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("a", "an", "on", "at", "by", "with", "as", "be")


def words(text: Column) -> Column:
    """Lower-cased whitespace tokens (empty tokens removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != F.lit(""))


def distinct_words(text: Column) -> Column:
    return F.array_distinct(words(text))


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, or single
    non-space punctuation — a cheap deterministic proxy for subword
    tokenizer counts."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are English stopwords."""
    toks = words(text)
    stops = F.filter(toks, lambda w: w.isin(*EN_STOPWORDS))
    return F.size(stops) / F.greatest(F.size(toks), F.lit(1))


def mean_word_length(text: Column) -> Column:
    toks = words(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0, 1]: rewards reasonable
    length, low punctuation density, and some stopword mass (prose-ness).
    Deterministic and oracle-expressible."""
    length_term = F.least(char_count(text) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / 3, 6)


def lang_score(text: Column, lang: str) -> Column:
    """Number of tokens that are marker stopwords for ``lang``."""
    toks = words(text)
    return F.size(F.filter(toks, lambda w: w.isin(*LANG_MARKERS[lang])))


def lang_id(text: Column) -> Column:
    """Predicted language = argmax marker-token count, ties broken by
    language-code order; 'und' when no marker hits at all."""
    scores = [(code, lang_score(text, code)) for code in sorted(LANG_MARKERS)]
    best_score = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # build when-chain in reverse so earlier codes win ties
    for code, s in reversed(scores):
        pred = F.when(s == best_score, F.lit(code)).otherwise(pred)
    return F.when(best_score == 0, F.lit("und")).otherwise(pred)


# Tiny deterministic sentiment lexicon (AFINN-style sign/weight table).
# Real deployments broadcast a full lexicon table through the same join.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 2, "great": 3, "fast": 1, "small": 1, "new": 1,
    "bad": -2, "slow": -1, "error": -2, "fail": -3, "dup": -1,
}


def word_md5_prefix(word: Column, salt: str = "") -> Column:
    """First 8 hex chars of md5(salt || word) — the oracle-reproducible
    32-bit hash primitive used by fingerprints / MinHash / SimHash."""
    if salt:
        return F.substring(F.md5(F.concat(F.lit(salt), word)), 1, 8)
    return F.substring(F.md5(word), 1, 8)


def doc_fingerprint(text: Column) -> Column:
    """Document fingerprint: the minimum 32-bit md5 prefix over distinct
    tokens (a 1-permutation MinHash).  Two documents with the same token
    set always collide; near-identical token sets collide with
    probability = their Jaccard similarity."""
    hashes = F.transform(distinct_words(text), lambda w: word_md5_prefix(w))
    return F.array_min(hashes)


def _salted_hash_fn(salt: str):
    # factory closure: a default arg (lambda w, i=i) would change the
    # lambda's arity and make Spark pass the array index into it
    return lambda w: word_md5_prefix(w, salt=salt)


def minhash_signature_of(features: Column, k: int = 16) -> list[Column]:
    """k-permutation MinHash signature over an arbitrary feature array
    (words, shingles, ...), md5-salted per permutation."""
    return [F.array_min(F.transform(features, _salted_hash_fn(f"{i}:"))) for i in range(k)]


def bigrams(text: Column) -> Column:
    """NON-distinct word bigram list (space-joined), for repetition
    metrics — unlike :func:`shingles`, duplicates are the signal here
    (Gopher-style "fraction of text in the top n-gram" filters,
    Rae et al. 2021, public).  Token array bound once as a lambda var
    (no CSE inside HOF lambdas — see :func:`shingles`)."""

    def _grams(w: Column) -> Column:
        size = F.size(w)
        idx = F.sequence(F.lit(0), F.greatest(size - 2, F.lit(0)))
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", F.element_at(w, i + 1), F.element_at(w, i + 2))
        )
        return F.when(size >= 2, grams).otherwise(F.array())

    return F.element_at(F.transform(F.array(words(text)), _grams), 1)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined).

    The token array is bound ONCE as a lambda variable (the
    ``transform(array(words), w -> ...)`` trick): referencing the
    ``words(text)`` expression directly inside the per-shingle lambda
    would re-run the whole split+filter tokenization for every
    ``element_at`` — Catalyst does no CSE inside lambdas (measured 20x
    on the sf0.1 fingerprint-blocking join)."""

    def _grams(w: Column) -> Column:
        size = F.size(w)
        idx = F.sequence(F.lit(0), F.greatest(size - n, F.lit(0)))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
        )
        return F.when(size >= n, F.array_distinct(grams)).otherwise(F.array())

    return F.element_at(F.transform(F.array(words(text)), _grams), 1)


def fixed_chunks(text: Column, n: int = 10) -> Column:
    """Non-overlapping ``n``-word chunks (space-joined), in document
    order; the trailing remainder (< n words) is NOT included.

    This is the alignment-quantized unit shared by the exact
    repeated-span detector, the boilerplate stripper, and the per-doc
    duplication-rate scorer (the span-granular dedup family of Lee et
    al. 2021): hashing fixed-aligned blocks trades sub-span recall for
    a single uniform shuffle key, which is what survives 100 TB.

    Same lambda-binding discipline as ``shingles``: the token array is
    bound once via ``transform(array(words), w -> ...)`` so Catalyst
    doesn't re-tokenize per chunk.
    """

    def _chunks(w: Column) -> Column:
        n_chunks = F.floor(F.size(w) / n).cast("int")
        grams = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(w, i * n + 1, n), " "),
        )
        return F.when(F.size(w) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(words(text)), _chunks), 1)


def kgrams(text: Column, n: int = 10) -> Column:
    """OVERLAPPING ``n``-word grams in position order, NON-distinct:
    element ``i`` (0-based) is words ``i..i+n-1`` space-joined — one
    gram per token position, so ``posexplode`` recovers the gram's
    start offset.  Empty array when the doc has fewer than ``n`` words.

    This is the alignment-ROBUST unit of the repeated-span detector
    (``dedup.repeated_span_intervals``): unlike :func:`fixed_chunks`, a
    duplicated passage is caught at ANY offset, not only when both
    copies land on the same ``n``-word grid.  Cost: ~1 gram per token
    instead of 1 per ``n`` tokens — still linear in corpus size.

    Same lambda-binding discipline as :func:`shingles`: the token array
    is bound once via ``transform(array(words), w -> ...)`` so Catalyst
    doesn't re-tokenize per gram.
    """

    def _grams(w: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.array_join(F.slice(w, i + 1, n), " "),
        )
        return F.when(F.size(w) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(words(text)), _grams), 1)


def chunk_tail(text: Column, n: int = 10) -> Column:
    """The trailing remainder (< n words) left over after
    ``fixed_chunks(text, n)``, space-joined; empty string when the
    token count is an exact multiple of n."""

    def _tail(w: Column) -> Column:
        n_chunks = F.floor(F.size(w) / n).cast("int")
        return F.array_join(F.slice(w, n_chunks * n + 1, n - 1), " ")

    return F.element_at(F.transform(F.array(words(text)), _tail), 1)
