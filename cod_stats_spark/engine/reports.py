"""JSON report documents (reference frontend/generate_lookup_data.sh —
the S9/S10 sink family).

The top-k documents here (boards, recents, dims) are SMALL results —
the heavy work happened in distributed aggregations; they are collected
to the driver and written as single JSON files, mirroring the
reference's static-file serving layer. Both leaderboard documents come
from one collect of the one board table (``leaderboards.boards``). The
per-player documents are not collected: ``Engine.write_reports`` writes
them from the executors, one grouped pass for every player's whole file
set.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from cod_stats_spark.engine.dims import SEASONS
from cod_stats_spark.engine.leaderboards import BOARDS, BY_GAME_METRICS


def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, separators=(",", ":"))


def leaderboard_docs(table: DataFrame) -> dict[str, dict]:
    """One collect of ``leaderboards.boards`` → the two leaderboard
    documents, {file name: {board: [rows in rank order]}}: the 12 by-game
    boards in ``leaderboard_bygame.json``, the 4 lifetime boards in
    ``leaderboard_lifetime.json``. A row is its board's ``BOARDS``
    columns, then ``value`` from the board's value field; every board
    key is present, an empty board as []."""
    rows: dict[str, list] = {board: [] for board in BOARDS}
    for r in sorted(_rows(table), key=lambda r: (r["board"], r["rank"])):
        columns, field = BOARDS[r["board"]]
        rows[r["board"]].append({**{c: r[c] for c in columns}, "value": r[field]})
    return {
        "leaderboard_bygame.json": {b: rows[b] for b in BY_GAME_METRICS},
        "leaderboard_lifetime.json": {b: rows[b] for b in BOARDS if b not in BY_GAME_METRICS},
    }


def team_leaderboards_doc(breakdowns: DataFrame) -> dict:
    """{category: [breakdown rows...]} (reference :479-510)."""
    rows = _rows(breakdowns)
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["category"], []).append(r)
    for cat in out:
        out[cat].sort(key=lambda r: (-r["numGames"], r["player_ids"]))
    return out


def recent_matches_doc(recent: DataFrame) -> list:
    return _rows(recent)


def sessions_doc(session_stats: DataFrame) -> list:
    return _rows(session_stats)


def seasons_doc() -> list[dict]:
    return [
        {"id": s[0], "desc": s[1], "start": s[2], "end": s[3], "sort_order": s[4]}
        for s in SEASONS
    ]


def meta_doc(now: datetime | None = None) -> dict:
    ts = (now or datetime.now(timezone.utc)).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {"updatedAt": ts}
