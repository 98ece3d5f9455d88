"""JSON report documents (reference frontend/generate_lookup_data.sh —
the S9/S10 sink family).

The top-k documents here (boards, recents, dims) are SMALL results —
the heavy work happened in distributed aggregations; they are collected
to the driver and written as single JSON files, mirroring the
reference's static-file serving layer. The per-player documents are not
collected: ``Engine.write_reports`` writes them from the executors, one
grouped pass for every player's whole file set.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from cod_stats_spark.engine.dims import SEASONS
from cod_stats_spark.engine.leaderboards import BY_GAME_COLUMNS, BY_GAME_METRICS, LIFETIME_BOARDS


def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, separators=(",", ":"))


def _boards(ranked: DataFrame, columns: dict[str, list[str]]) -> dict:
    """One collect of a tagged, ranked board union → {board: [rows in
    rank order]}, each row restricted to its board's columns; every board
    key is present, empty boards as []."""
    doc: dict[str, list] = {board: [] for board in columns}
    for r in sorted(_rows(ranked), key=lambda r: (r["board"], r["rank"])):
        doc[r["board"]].append({c: r[c] for c in columns[r["board"]]})
    return doc


def leaderboard_bygame_doc(ranked: DataFrame) -> dict:
    """{board_key: [ {date_key, game_mode_sub, game_id, player_id, value} ]}
    from ``leaderboards.by_game_boards``; ``value`` is whichever of the
    display string, long or double field the board populates."""
    doc = _boards(ranked, {b: [*BY_GAME_COLUMNS, "sv", "lv", "dv"] for b in BY_GAME_METRICS})
    for rows in doc.values():
        for r in rows:
            sv, lv, dv = r.pop("sv"), r.pop("lv"), r.pop("dv")
            r["value"] = sv if sv is not None else lv if lv is not None else dv
    return doc


def leaderboard_lifetime_doc(ranked: DataFrame) -> dict:
    """{consecutive_gulag_kills, consecutive_gulag_deaths, most_wins,
    most_lastplaces} from ``leaderboards.lifetime_boards``."""
    return _boards(ranked, LIFETIME_BOARDS)


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
