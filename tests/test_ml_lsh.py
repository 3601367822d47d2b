"""Near-duplicate operators (LSH salt grid, fuzzy pairs, containment,
repeated spans) must agree with their exact baselines."""

from __future__ import annotations

from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.operators import dedup as D


def _pair_set(df):
    return sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in df.collect()
    )


def test_salt_grid_guard_is_result_preserving(spark):
    """VERDICT r4 item 7: an adversarial identical-prefix corpus
    collapses into one band bucket; the salt-grid guard must spread
    that bucket's quadratic candidate work over s x s grid cells while
    producing EXACTLY the pairs the plain self-join produces."""
    # 60 docs sharing a long identical prefix (every shingle identical
    # except the tail), plus unrelated filler docs
    prefix = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, f"{prefix} suffix{i % 3}") for i in range(60)]
    rows += [(100 + i, f"unrelated text number {i} about topic {i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    plain = D.minhash_lsh_pairs(docs, ngram=3)
    salted = D.minhash_lsh_pairs(docs, ngram=3, bucket_cap=10, n_salts=4)
    assert _pair_set(salted) == _pair_set(plain)
    assert len(_pair_set(salted)) > 0  # the flood really collides

    # distribution: no grid cell owns more than ~(B/s + 1)^2 of the hot
    # bucket's B^2 candidate comparisons (the single-task quadratic the
    # guard exists to prevent)
    banded = D.minhash_band_index(
        D.minhash_features(docs, "doc_id", "text", 3), 16, 4
    )
    n_salts = 4
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n_salts),
    )
    sizes = (
        banded.groupBy("band_no", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 10)
    )
    hot = banded.join(sizes.select("band_no", "band_key"), ["band_no", "band_key"], "left_semi")
    per_cell = (
        hot.withColumn("u", salt)
        .groupBy("band_no", "band_key", "u")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    )
    bucket_n = {(r["band_no"], r["band_key"]): r["n"] for r in sizes.collect()}
    for r in per_cell:
        b = bucket_n[(r["band_no"], r["band_key"])]
        # each grid cell compares m_i x m_j members; bound the per-salt
        # membership against a uniform split with slack
        assert r["m"] <= (b // n_salts) + max(6, b // n_salts), (
            f"salt group holds {r['m']} of {b} members - md5 salt degenerated"
        )


# ---------------------------------------------------------------------------
# fuzzy_pairs (edit-distance dedup with blocking) — r5
# ---------------------------------------------------------------------------

from updating_datasets_data_engineering_spark.operators.dedup import fuzzy_pairs


def test_fuzzy_pairs_finds_edits_within_block(spark):
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumpz"),      # 1 substitution
        (3, "the quick brown fox jump"),       # 1 deletion
        (4, "the quick brown cat sleeps"),     # same prefix, dist > 2
        (5, "a totally different title"),      # different block
    ]
    df = spark.createDataFrame(rows, ["id", "title"])
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_pairs(df, max_dist=2, prefix_len=8).collect()}
    assert out[(1, 2)] == 1 and out[(1, 3)] == 1 and out[(2, 3)] == 1
    assert all(4 not in p and 5 not in p for p in out)


def test_fuzzy_pairs_length_band_boundary_complete(spark):
    # titles of length 29 and 30 straddle a floor(len/3) bucket boundary
    # (9 vs 10): the two-bucket emission must still pair them
    a = "x" * 29
    b = "x" * 30
    df = spark.createDataFrame([(1, a), (2, b)], ["id", "title"])
    out = fuzzy_pairs(df, max_dist=2, prefix_len=8).collect()
    assert len(out) == 1 and out[0]["dist"] == 1


def test_fuzzy_pairs_salt_grid_preserves_results(spark):
    # identical-prefix flood: the salted path must return the same pairs
    rows = [(i, f"boilerplate header {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "title"])
    plain = {(r["id_a"], r["id_b"]) for r in fuzzy_pairs(df, max_dist=2).collect()}
    salted = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(df, max_dist=2, bucket_cap=5, n_salts=4).collect()
    }
    assert plain == salted and len(plain) > 0


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """The operator's reason to exist: a small doc quoted WHOLE inside a
    much larger one has near-zero Jaccard (symmetric tiers skip it) but
    containment 1.0.  Also checks the df stop filter only lowers the
    measure and that df=1 pruning is result-free."""
    from updating_datasets_data_engineering_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"q{i}" for i in range(20))          # 20 words, 18 3-shingles
    host = quote + " " + " ".join(f"h{i}" for i in range(400))
    other = " ".join(f"z{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, quote), (2, host), (3, other)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8, ngram=3).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.9
    assert len(got) == 1  # `other` pairs with nobody
    # the symmetric measure on the same pair is tiny — Jaccard ≈ 18/419
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, ngram=3, threshold=0.5).collect()
    }
    assert (1, 2) not in jac
    # stop filter monotonicity: a tighter df cap can only shrink output
    tight = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(df, threshold=0.8, ngram=3, max_df=1).collect()
    }
    assert tight <= set(got)


def test_unaligned_spans_catch_shifted_duplicate_aligned_misses(spark):
    """The operator's reason to exist: the same 12-word passage pasted
    into two documents at offsets 3 and 7 (different mod-10 residues)
    is invisible to the aligned 10-word-grid detector but must surface
    as one maximal interval per doc here — with exact start/end."""
    from updating_datasets_data_engineering_spark.operators.dedup import (
        repeated_span_intervals,
    )

    passage = " ".join(f"p{i}" for i in range(12))
    doc_a = " ".join(f"a{i}" for i in range(3)) + " " + passage + " " + " ".join(
        f"x{i}" for i in range(15)
    )
    doc_b = " ".join(f"b{i}" for i in range(7)) + " " + passage + " " + " ".join(
        f"y{i}" for i in range(15)
    )
    docs = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in repeated_span_intervals(docs, k=10).collect()
    }
    # passage occupies tokens [3, 14] in doc 1 and [7, 18] in doc 2:
    # k=10 grams at starts 3..5 / 7..9 merge into one island each
    assert got == {(1, 3, 14, 12), (2, 7, 18, 12)}
    # the aligned detector sees nothing: no shared 10-word grid chunk
    from updating_datasets_data_engineering_spark.registry import queries as _q  # noqa: F401
    from updating_datasets_data_engineering_spark.functions import text as TXT

    aligned = (
        docs.select("doc_id", F.explode(TXT.fixed_chunks(F.col("text"), 10)).alias("span"))
        .groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )
    assert aligned.count() == 0


def test_unaligned_spans_merge_adjacent_runs_and_ignore_within_doc_repeats(spark):
    """(a) A duplicated run longer than k merges into ONE maximal
    interval (grams at every offset chain through the <=k gap rule);
    (b) a phrase repeated twice WITHIN one doc but nowhere else is NOT
    cross-document duplication and must not surface."""
    from updating_datasets_data_engineering_spark.operators.dedup import (
        repeated_span_intervals,
    )

    run = " ".join(f"r{i}" for i in range(25))  # 25-token shared run
    inner = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, run),
            (2, run + " " + " ".join(f"z{i}" for i in range(5))),
            (3, inner + " sep " + inner),  # within-doc repeat only
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeated_span_intervals(docs, k=10).collect()
    }
    assert got == {(1, 0, 24), (2, 0, 24)}


def test_incremental_spans_fuse_islands_and_skip_untouched_docs(spark):
    """The incremental contract's two hard cases: (a) a delta-flipped
    gram run ADJACENT to a pre-existing duplicated island must fuse
    into one maximal interval (the probe re-merges the touched doc's
    full posting, not just the new grams); (b) archive docs whose dup
    grams all pre-exist (nothing flipped) are yesterday's output and
    must NOT reappear."""
    from updating_datasets_data_engineering_spark.operators.dedup import (
        incremental_repeated_spans,
        span_gram_df,
        span_posting_index,
    )

    p1 = " ".join(f"s{i}" for i in range(8))   # shared by archive 1,2,3
    p2 = " ".join(f"t{i}" for i in range(8))   # doc 1 + delta 30 only
    fill = lambda c: " ".join(f"{c}{i}" for i in range(8))
    archive = spark.createDataFrame(
        [(1, p1 + " " + p2), (2, p1 + " " + fill("f")), (3, p1 + " " + fill("g"))],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame([(30, p2 + " " + fill("h"))], ["doc_id", "text"])
    posting = span_posting_index(archive, k=5)
    got = {
        tuple(r)
        for r in incremental_repeated_spans(
            delta, posting, span_gram_df(posting), k=5
        ).collect()
    }
    # doc 1: P1-island [0,7] (pre-existing) fuses with the flipped
    # P2-island [8,15] into ONE maximal interval; docs 2/3 untouched
    assert got == {(1, 0, 15, 16), (30, 0, 7, 8)}


def test_novelty_fraction_counts_unseen_distinct_grams(spark):
    """Novelty contract: distinct-gram denominator (within-doc repeats
    count once), archive-covered grams score 0 contribution, docs
    shorter than k produce no row."""
    from updating_datasets_data_engineering_spark.operators.dedup import (
        novel_gram_fraction,
        span_gram_df,
        span_posting_index,
    )

    p1 = " ".join(f"s{i}" for i in range(5))          # archive passage
    fresh = " ".join(f"n{i}" for i in range(5))        # never archived
    archive = spark.createDataFrame([(1, p1)], ["doc_id", "text"])
    delta = spark.createDataFrame(
        [
            (10, p1),                   # fully covered -> novelty 0.0
            (20, fresh),                # fully novel   -> novelty 1.0
            (30, p1 + " " + p1),        # covered grams + 5 bridge grams
            (40, "too short"),          # < k tokens -> no row
        ],
        ["doc_id", "text"],
    )
    state = span_gram_df(span_posting_index(archive, k=5))
    got = {r["doc_id"]: r for r in novel_gram_fraction(delta, state, k=5).collect()}
    assert set(got) == {10, 20, 30}
    assert (got[10]["n_grams"], got[10]["n_novel"], got[10]["novelty"]) == (1, 0, 0.0)
    assert (got[20]["n_grams"], got[20]["n_novel"], got[20]["novelty"]) == (1, 1, 1.0)
    # doc 30: 10 tokens -> positions 0..5; pos 0 and 5 are the archived
    # gram (distinct -> counts ONCE), pos 1-4 bridge the seam (novel)
    assert (got[30]["n_grams"], got[30]["n_novel"], got[30]["novelty"]) == (5, 4, 0.8)


def test_retract_spans_splits_intervals_and_silences_untouched(spark):
    """Delete contract's three hard cases: (a) removing the only other
    holder of a BRIDGE gram must SPLIT the survivor's fused interval;
    (b) a survivor whose every dup gram is revoked vanishes from the
    output (no remaining spans); (c) survivors holding no revoked gram
    are yesterday's output and stay silent."""
    from updating_datasets_data_engineering_spark.operators.dedup import (
        _retract_span_parts,
        span_gram_df,
        span_posting_index,
    )

    blk = lambda c: " ".join(f"{c}{i}" for i in range(5))
    docs = spark.createDataFrame(
        [
            (1, f"{blk('a')} {blk('b')} {blk('c')}"),   # A + bridge B + C
            (2, f"{blk('a')} {blk('x')} {blk('c')}"),   # A + filler + C
            (3, blk("b")),                              # sole B partner
            (4, f"{blk('d')} {blk('e')}"),              # D shared with 5 only
            (5, f"{blk('d')} {blk('f')}"),
        ],
        ["doc_id", "text"],
    )
    posting = span_posting_index(docs, k=5)
    sketch = span_gram_df(posting)
    tombs = spark.createDataFrame([(3,), (5,)], ["doc_id"])
    got = {
        tuple(r) for r in _retract_span_parts(tombs, posting, sketch, 5)[1].collect()
    }
    # doc 1: the fused [0,14] island splits into [0,4] + [10,14] once
    # doc 3's bridge gram is revoked; doc 4 is touched but span-less
    # (absent); doc 2 holds no revoked gram (silent, keeps yesterday's)
    assert got == {(1, 0, 4, 5), (1, 10, 14, 5)}
    # the affected-doc report expresses the clear the interval frame
    # can't: doc 4 appears with zeros, doc 2 stays silent
    from updating_datasets_data_engineering_spark.operators.dedup import (
        retract_spans_summary,
    )

    report = {
        tuple(r)
        for r in retract_spans_summary(tombs, posting, sketch, k=5).collect()
    }
    assert report == {(1, 2, 10), (4, 0, 0)}


def test_containment_retraction_reentry_and_drop(spark):
    """retract_containment_pairs (r8): deletion can only RAISE surviving
    pairs' containment — the df-window re-entry case — while pairs with
    a tombstoned endpoint drop and untouched pairs stay byte-identical.
    Constructed corpus: shingle "x y z" held by A, B, C is stop-filtered
    at max_df=2 (df=3); deleting C re-enters it and pair (A, B) — never
    in the view before — appears at containment 1.0.  Pair (D, E) has a
    tombstoned endpoint (E) and drops; pair (F, G) is untouched."""
    from updating_datasets_data_engineering_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "x y z"),      # A
            (2, "x y z"),      # B
            (3, "x y z"),      # C (tombstoned)
            (4, "p q r"),      # D
            (5, "p q r"),      # E (tombstoned)
            (6, "m n o"),      # F
            (7, "m n o"),      # G
        ],
        "doc_id long, text string",
    )
    posting = D.containment_posting(docs)
    df_state = D.containment_df(posting)
    sizes = D.containment_sizes(posting)
    pairs = D.containment_pairs(docs, threshold=0.5, max_df=2)
    before = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) not in before, "stop-filtered shingle must not pair yet"
    assert {(4, 5), (6, 7)} <= before

    tombs = spark.createDataFrame([(3,), (5,)], "doc_id long")
    after = D.retract_containment_pairs(
        tombs, posting, df_state, sizes, pairs, threshold=0.5, max_df=2
    )
    got = {(r.id_a, r.id_b): r.containment for r in after.collect()}
    assert got == {(1, 2): 1.0, (6, 7): 1.0}, got
    # and the contract: identical to the batch recompute over survivors
    surv = docs.where(~F.col("doc_id").isin(3, 5))
    want = {
        (r.id_a, r.id_b): r.containment
        for r in D.containment_pairs(surv, threshold=0.5, max_df=2).collect()
    }
    assert got == want
