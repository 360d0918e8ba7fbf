"""Seeded flashscore match dumps and the tables they must load into.

Each dump file is one JSON array of match records, the shape
``scripts/bench_pipeline.py`` writes (FIXTURES.md section B). The generator
also plants the cases the pipeline must handle: matches that are not
finished, a null key field, non-numeric scores, lineups of the wrong size,
missing bookmakers and odds arrays of the wrong length.

The expected tables are worked out here in plain Python, apart from the
program: which records reach each table, and their ``ID_MATCH`` keys
(sha256 over the natural key, nulls skipped as ``concat_ws`` skips them).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

TABLES = ("MATCH_FINISHED", "HOME_STARTING_LINEUP", "AWAY_STARTING_LINEUP",
          "ODDS")

# Bookmaker names as they appear in the dumps; the last two match none of
# the eight names the ODDS table probes for, so they load as nulls.
BOOKMAKERS = ("Betclic.fr", "Unibet.fr", "bwin.fr", "France Pari",
              "NetBet.fr", "Winamax", "bet365", "1xBet", "Bwin.fr", "Pinnacle")

_KEY = ("current_country", "current_tournament", "participant_home",
        "participant_away", "year", "month", "day", "hour", "minute")
# Fields whose null drops a match from MATCH_FINISHED (the na.drop set).
_REQUIRED = _KEY + ("participant_home_current_score",
                    "participant_away_current_score")


@dataclass(frozen=True)
class TableDigest:
    """Order-independent summary of one table's ID_MATCH column."""

    rows: int
    distinct_ids: int
    id_checksum: int  # sum over rows of the first 8 hex digits as an int


def _team(rng: random.Random, prefix: str) -> list[dict]:
    size = 11 if rng.random() < 0.9 else rng.choice((9, 10, 12))
    return [{"name": f"{prefix}_{p}"} for p in range(size)]


def _score(rng: random.Random) -> str:
    return str(rng.randrange(6)) if rng.random() < 0.97 else "-"


def match_record(rng: random.Random, key: str) -> dict:
    rec = {
        "current_status": ("Finished" if rng.random() < 0.85
                           else rng.choice(("Scheduled", "Postponed", "Live"))),
        "current_country": f"Country{rng.randrange(40)}",
        "current_tournament": f"League{rng.randrange(15)}",
        "participant_home": f"Home{key}",
        "participant_away": f"Away{key}",
        "participant_home_current_score": _score(rng),
        "participant_away_current_score": _score(rng),
        "year": rng.randrange(2019, 2025),
        "month": rng.randrange(1, 13),
        "day": rng.randrange(1, 29),
        "hour": rng.randrange(24),
        "minute": rng.randrange(60),
    }
    rec["match_hour"] = f"{rec['hour']:02d}:{rec['minute']:02d}"
    rec["lineups_data"] = {"Team1": _team(rng, f"H{key}"),
                           "Team2": _team(rng, f"A{key}")}
    rec["bookmakers_data"] = [
        {"bookmaker": b,
         "odds": [f"{rng.uniform(1.05, 9.0):.2f}"
                  for _ in range(3 if rng.random() < 0.95 else 2)]}
        for b in rng.sample(BOOKMAKERS, rng.randrange(0, 9))
    ]
    if rng.random() < 0.03:
        rec[rng.choice(_REQUIRED)] = None
    return rec


def match_id(rec: dict) -> str:
    key = "|".join(str(rec[k]) for k in _KEY if rec[k] is not None)
    return hashlib.sha256(key.encode()).hexdigest()


def expected_tables(records: list[dict]) -> dict[str, TableDigest]:
    ids: dict[str, list[str]] = {t: [] for t in TABLES}
    for rec in records:
        if rec["current_status"] != "Finished":
            continue
        mid = match_id(rec)
        ids["ODDS"].append(mid)
        if all(rec[k] is not None for k in _REQUIRED):
            ids["MATCH_FINISHED"].append(mid)
        if len(rec["lineups_data"]["Team1"]) == 11:
            ids["HOME_STARTING_LINEUP"].append(mid)
        if len(rec["lineups_data"]["Team2"]) == 11:
            ids["AWAY_STARTING_LINEUP"].append(mid)
    return {t: TableDigest(len(v), len(set(v)),
                           sum(int(i[:8], 16) for i in v))
            for t, v in ids.items()}


def write_dumps(out_dir: str, seed: int, n_files: int,
                per_file: int) -> tuple[list[str], dict[str, TableDigest]]:
    """Write ``n_files`` dumps of ``per_file`` matches; return their paths
    and the expected digest of every output table."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths, records = [], []
    for f in range(n_files):
        batch = [match_record(rng, f"{seed}_{f}_{i}") for i in range(per_file)]
        path = os.path.join(out_dir, f"dump_{f:03d}.json")
        with open(path, "w") as fh:
            json.dump(batch, fh)
        paths.append(path)
        records.extend(batch)
    return paths, expected_tables(records)
