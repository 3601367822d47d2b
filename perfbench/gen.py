"""Seeded input generators for the benchmark.

Everything the engine reads in a run is made here from ``--seed``, so
the same seed gives byte-identical inputs:

  * :func:`write_tables` writes the ten fixture tables the registry
    specs read (``tables.TABLE_NAMES``), with the schemas and value
    distributions of the engine's TPC-H-ish test fixtures.
  * :func:`shot_days` makes the ``daily_cycle`` scrape: one JSON-lines
    record directory per day, with new games and a new date each day,
    re-scraped keys from earlier days carrying changed payloads,
    intra-day duplicate lines and truncated (malformed) lines.  It also
    returns the upsert the engine must produce, for the output check.

Only numpy, pyarrow and the standard library are used (no Spark), so
input generation costs the same on every commit of the engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: the engine's sf0.001 fixture row counts (documents and
# embeddings are 500 rows at every fixture scale).  The events table
# has the sf0.01 user count, ``_N_USERS``.
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
_PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the data table query join hash scan filter sort merge window group agg "
    "order part customer line row column value key batch stream spark vector "
    "big small fast slow"
).split()
_N_USERS = 150
_N_SOURCES = 20
_DOC_DUP_SHARE = 0.05  # documents that are another document plus " dup"


def _ts(days: np.ndarray, base: str) -> pa.Array:
    """Day offsets (float, fractional = time of day) -> timestamp[us]."""
    b = np.datetime64(base, "us")
    us = (days * 86_400_000_000).astype("int64")
    return pa.array(b + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, npart), 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(rng.integers(0, 2404, no).astype(float), "1995-01-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(19.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(rng.integers(1, 2499, nl).astype(float), "1995-01-01"),
        }
    )
    ne = n["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(rng.uniform(0.0, 30.0, ne), "2024-01-01"),
            "user_id": pa.array(rng.integers(0, _N_USERS, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100))) for _ in range(nd)]
    for i in np.flatnonzero(rng.random(nd) < _DOC_DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{k % _N_SOURCES}" for k in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------- shots

_TEAMS = [
    "Boston", "Cleveland", "Dallas", "Memphis", "Denver", "Phoenix",
    "Golden State", "LA Clippers", "San Antonio", "New Orleans", "New York", "LA Lakers",
]
_VERBS = ["leads", "trails", "now leads", "now trails", "tied", "now tied"]
_QTRS = ["1st", "2nd", "3rd", "4th"]
# Payload fields the check compares: the raw record fields, which the
# engine carries through parse and enrich unchanged.
PAYLOAD = ("year", "month", "day", "winner", "loser", "x", "y", "play")
SHOTS_PER_GAME = 150  # distinct keys per game
RESCRAPE_SHARE = 0.15  # of a day's volume, re-sent earlier keys
DUP_SHARE = 0.05  # of lines, repeated verbatim within the day
TRUNCATED_SHARE = 0.04  # of records, cut short (malformed)
FILES_PER_DAY = 4


@dataclass
class ShotDays:
    """The generated scrape plus the upsert it must produce."""

    day_dirs: list[str]
    day_lines: list[int]  # record lines written per day (all of them)
    # key (game_id, time_remaining, quarter) -> payload dict, after
    # upserting days[0..d] for each d
    expected: list[dict[tuple[str, str, str], dict[str, str]]] = field(default_factory=list)


def _play(rng: np.random.Generator, qtr: int, clock: str, team: str) -> str:
    made = "made" if rng.random() < 0.45 else "missed"
    attempt = "3-pointer" if rng.random() < 0.35 else "2-pointer"
    dist = int(rng.integers(1, 30)) if attempt == "2-pointer" else int(rng.integers(23, 35))
    verb = _VERBS[int(rng.integers(0, len(_VERBS)))]
    a = int(rng.integers(0, 130))
    b = a if "tied" in verb else int(rng.integers(0, 130))
    player = f"P{int(rng.integers(0, 40))} Q{int(rng.integers(0, 40))}"
    return (
        f"{_QTRS[qtr]} quarter, {clock} remaining<br>{player} {made} {attempt} "
        f"from {dist} ft<br>{team} {verb} {a}-{b}"
    )


def _shot(rng, game_id: str, date: dt.date, winner: str, loser: str, qtr: int, clock: str) -> dict:
    team = winner if rng.random() < 0.5 else loser
    return {
        "game_id": game_id,
        "year": str(date.year),
        "month": str(date.month),
        "day": str(date.day),
        "winner": winner,
        "loser": loser,
        "x": str(int(rng.integers(0, 500))),
        "y": str(int(rng.integers(0, 470))),
        "play": _play(rng, qtr, clock, team),
    }


def _key(rec: dict) -> tuple[str, str, str]:
    """The engine's natural key, derived from the play string the way
    the parser derives it (time token and the quarter's first char)."""
    tokens = rec["play"].split(" ")
    return rec["game_id"], tokens[2], tokens[0][0]


def shot_days(seed: int, out_dir: str, n_days: int, games_per_day: int = 6) -> ShotDays:
    """Write ``n_days`` scrape directories of JSON-lines records.

    Day ``d`` holds ``games_per_day`` new games dated ``2025-01-01 + d``
    (``SHOTS_PER_GAME`` distinct keys each), plus re-scrapes: a
    ``RESCRAPE_SHARE`` of the day's volume re-sends earlier days' keys
    with changed x/y/play payloads (keys keep their game's original
    date).  A ``DUP_SHARE`` of lines is repeated verbatim inside the
    day, and a ``TRUNCATED_SHARE`` is cut to 20 characters, so the
    engine's malformed-record guard drops it; a truncated record never
    reaches the archive.
    """
    rng = np.random.default_rng([seed, 7])
    base = dt.date(2025, 1, 1)
    days = ShotDays(day_dirs=[], day_lines=[])
    archive: dict[tuple[str, str, str], dict[str, str]] = {}
    seen: dict[tuple[str, str, str], dict] = {}  # latest record per earlier key
    for d in range(n_days):
        date = base + dt.timedelta(days=d)
        recs: list[dict] = []
        for g in range(games_per_day):
            w, l_ = rng.choice(len(_TEAMS), 2, replace=False)
            game_id = f"{date:%Y%m%d}0{_TEAMS[w].replace(' ', '')[:3].upper()}{g}"
            # distinct (quarter, clock) slots -> distinct keys per game
            slots = rng.choice(4 * 720, SHOTS_PER_GAME, replace=False)
            for s in slots:
                qtr, tick = divmod(int(s), 720)
                clock = f"{tick // 60}:{tick % 60:02d}.{int(rng.integers(0, 10))}"
                recs.append(_shot(rng, game_id, date, _TEAMS[w], _TEAMS[l_], qtr, clock))
        if seen:
            n_re = int(len(recs) * RESCRAPE_SHARE)
            keys = list(seen)
            for i in rng.choice(len(keys), min(n_re, len(keys)), replace=False):
                old = seen[keys[int(i)]]
                tokens = old["play"].split(" ")
                qtr = _QTRS.index(tokens[0])
                team = old["winner"] if rng.random() < 0.5 else old["loser"]
                new = dict(old)
                new["x"] = str(int(rng.integers(0, 500)))
                new["y"] = str(int(rng.integers(0, 470)))
                new["play"] = _play(rng, qtr, tokens[2], team)
                recs.append(new)
        lines: list[str] = []
        good: list[dict] = []
        for rec in recs:
            text = json.dumps(rec, separators=(",", ":"))
            if rng.random() < TRUNCATED_SHARE:
                lines.append(text[:20])
                continue
            good.append(rec)
            lines.append(text)
            if rng.random() < DUP_SHARE:
                lines.append(text)
        order = rng.permutation(len(lines))
        day_dir = os.path.join(out_dir, f"day={d:03d}")
        os.makedirs(day_dir, exist_ok=True)
        for f in range(FILES_PER_DAY):
            with open(os.path.join(day_dir, f"part-{f:02d}.json"), "w") as fh:
                fh.writelines(lines[i] + "\n" for i in order[f::FILES_PER_DAY])
        for rec in good:
            archive[_key(rec)] = {k: rec[k] for k in PAYLOAD}
        seen.update((_key(rec), rec) for rec in good)
        days.day_dirs.append(day_dir)
        days.day_lines.append(len(lines))
        days.expected.append(dict(archive))
    return days
