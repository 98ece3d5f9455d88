"""JSON report documents (reference frontend/generate_lookup_data.sh —
the S9/S10 sink family).

Every document shape lives here, and every document is built and
written on the driver, mirroring the reference, which bakes its whole
static site on one machine before syncing it (run_and_deploy.sh:21-41).
The top-k documents (boards, recents, dims) are small results of
distributed aggregations. Both leaderboard documents come from one
collect of the one board table (``leaderboards.boards``). The
per-player documents come from one collect of one row per player
(``Engine.write_reports``), which ``player_docs`` fans out to that
player's whole file set.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from cod_stats_spark.engine.dims import SEASONS
from cod_stats_spark.engine.leaderboards import BOARDS, BY_GAME_METRICS
from cod_stats_spark.engine.timeseries import DAILY_SERIES, GAME_SERIES, TS_METRICS


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
    """The latest session of every player, in player_id order."""
    return sorted(_rows(session_stats), key=lambda r: r["player_id"])


def player_docs(row) -> Iterator[tuple[str, object]]:
    """One grouped player row (player_id plus the ``time``, ``game``,
    ``stats`` and ``sessions`` arrays, each in document order) → that
    player's 38 (relative path, payload) pairs: ``{p}_player_stats``,
    ``sessions_{p}`` and, for every SEASONS id, the time and game series,
    ``[]`` where a season has no rows (the reference iterates ALL of
    vw_seasons, generate_lookup_data.sh:892-932).

    Raises ValueError when the player id is empty, ``.``/``..`` or holds
    a path separator: ids come from config names and name the files.
    """
    d = row.asDict(recursive=True)
    p = d["player_id"]
    if not p or p in (".", "..") or "/" in p or "\\" in p:
        raise ValueError(f"player id {p!r} is not a safe file name")
    yield f"players/{p}_player_stats.json", d["stats"]
    yield f"players/sessions_{p}.json", d["sessions"]
    for kind, (k1, k2) in (("time", DAILY_SERIES[1]), ("game", GAME_SERIES[1])):
        by_season: dict[str, list] = {}
        for r in d[kind]:
            by_season.setdefault(r["season_id"], []).append({
                "date": r["date_key"],
                "stats": {
                    "raw": {m: r[m] for m, _ in TS_METRICS},
                    f"smoothed_{k1}": {m: r[f"{m}_{a}_s{k1}"] for m, a in TS_METRICS},
                    f"smoothed_{k2}": {m: r[f"{m}_{a}_s{k2}"] for m, a in TS_METRICS},
                    "cumalative": {m: r[f"{m}_{a}_cume"] for m, a in TS_METRICS},
                },
            })
        for s, *_ in SEASONS:
            yield f"players/{p}_{s}_{kind}_wz.json", by_season.get(s, [])


def seasons_doc() -> list[dict]:
    return [
        {"id": s[0], "desc": s[1], "start": s[2], "end": s[3], "sort_order": s[4]}
        for s in SEASONS
    ]


def meta_doc(now: datetime | None = None) -> dict:
    ts = (now or datetime.now(timezone.utc)).strftime("%Y-%m-%dT%H:%M:%SZ")
    return {"updatedAt": ts}
