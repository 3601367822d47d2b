"""The bench's HEADLINE list was once hand-maintained, and in the
round-9 continuation it silently missed six newborn specs until the
artifact's query count exposed it; it is now derived from SPECS.  Pin
the invariant: every registered spec is benched except the explicit
quarantine, and every benched name exists."""

from __future__ import annotations

import bench
from updating_datasets_data_engineering_spark.registry import SPECS


def test_headline_covers_registry_minus_quarantine():
    names = {s.name for s in SPECS}
    missing = names - set(bench.HEADLINE) - bench.BENCH_QUARANTINE
    assert not missing, f"registered specs absent from bench HEADLINE: {missing}"


def test_headline_has_no_ghosts_or_dupes():
    names = {s.name for s in SPECS}
    extra = set(bench.HEADLINE) - names
    assert not extra, f"bench HEADLINE names not in the registry: {extra}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_quarantine_is_registered_and_minimal():
    names = {s.name for s in SPECS}
    assert bench.BENCH_QUARANTINE <= names
    # the quarantine exists for exactly the documented O(n^2) baseline
    assert bench.BENCH_QUARANTINE == {"embedding_near_dup"}


def test_sf1_and_exp_subsets_are_registered():
    names = {s.name for s in SPECS}
    assert set(bench.SF1_HEADLINE) <= names
    assert set(bench.EXP_HEADLINE) <= names


def test_compact_set_is_registered_unique_and_fits():
    """COMPACT_SET (VERDICT r13 item 2) is the deterministic final-line
    subset: every name registered, no dupes, and bench's own compact
    line fits the 1800-char ceiling (10% under the driver's ~2000-char
    capture window) at representative value widths with no name
    trimmed — so consecutive rounds' compact lines carry the SAME
    query set."""
    import json

    names = {s.name for s in SPECS}
    assert set(bench.COMPACT_SET) <= names
    assert len(bench.COMPACT_SET) == len(set(bench.COMPACT_SET))
    line = bench.compact_line(
        999.999, 9.999, {n: 99.99 for n in bench.COMPACT_SET}, "BENCH_FULL.json", 0.1
    )
    assert list(json.loads(line)["queries"]) == bench.COMPACT_SET
    assert len(line) <= 1800
