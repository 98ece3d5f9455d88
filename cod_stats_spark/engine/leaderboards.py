"""Leaderboards (reference frontend/generate_lookup_data.sh:93-512).

- by-game boards: top-10 single-game values for 12 metrics
- lifetime boards: consecutive gulag win/loss streaks (the DENSE_RANK
  difference trick, SURVEY W7), most wins, most last places
- recent matches (15), recent sessions (top-1 session per player)

Every board reads the core rows only: ``stats_wz``'s ``is_core`` column
(the reference's ``player_id IN vw_core_players``) as a filter. All
boards get a deterministic tiebreak (metric DESC, date_key, game_id,
player_id) — SQL LIMIT alone cuts ties arbitrarily (SURVEY.md §7.4.8).

The 16 boards are one table (:func:`boards`): a tagged union of the
by-game, streak and count rows ranked by one window (``row_number`` per
board). The report documents read it with one collect; the API's
per-board frames are rank-ordered filters of it (:func:`board_rows`).
Both read a board's value from the field ``BOARDS`` names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.operators.streaks import run_lengths
from cod_stats_spark.operators.topk import top_k, top_k_per_group

LEADERBOARD_K = 10
RECENT_MATCHES_K = 15

# board key → stats_wz column (the 12 by-game metrics)
BY_GAME_METRICS = {
    "mostkills": "kills",
    "mostdeaths": "deaths",
    "bestkd": "kdRatio",
    "mostdamage": "damageDone",
    "mostdamagetaken": "damageTaken",
    "highestscore": "score",
    "longestdistance": "distanceTraveled",
    "mostheadshots": "headshots",
    "mostcaches": "objectiveBrCacheOpen",
    "mostrevives": "objectiveReviver",
    "mostdowns": "objectiveBrDownAll",
    "mostvehicles": "objectiveDestroyedVehicleAll",
}


BY_GAME_COLUMNS = ["date_key", "game_mode_sub", "game_id", "player_id"]
STREAK_COLUMNS = ["player_id", "date_key", "until_date_key"]
# board → (its columns in the documents and the API, the field of
# :func:`boards` its ``value`` is read from: ``lv`` long, ``dv`` double,
# ``sv`` the display string); a board's rows are its columns, then value
BOARDS = {
    **{b: (BY_GAME_COLUMNS, "lv") for b in BY_GAME_METRICS},
    "bestkd": (BY_GAME_COLUMNS, "dv"),
    "highestscore": (BY_GAME_COLUMNS, "dv"),
    "longestdistance": (BY_GAME_COLUMNS, "sv"),
    "consecutive_gulag_kills": (STREAK_COLUMNS, "lv"),
    "consecutive_gulag_deaths": (STREAK_COLUMNS, "lv"),
    "most_wins": (["player_id"], "lv"),
    "most_lastplaces": (["player_id"], "lv"),
}


def _per_board(df: DataFrame, keep: list[str], boards: dict[str, dict[str, Column]]) -> DataFrame:
    """``df``'s ``keep`` columns once per board, tagged ``board`` and
    carrying that board's own fields (the stacked form one window or
    aggregate ranks every board in)."""
    entries = [
        F.struct(F.lit(b).alias("board"), *[c.alias(n) for n, c in fields.items()])
        for b, fields in boards.items()
    ]
    return df.select(*keep, F.inline(F.array(*entries)))


def _km(meters: Column) -> Column:
    """The longestdistance display string, the reference's
    'cast((distanceTraveled/1000) as int) || " km"'
    (generate_lookup_data.sh:215); boards still RANK on raw meters."""
    return F.concat((meters / 1000).cast("int").cast("string"), F.lit(" km"))


def _streaks(core: DataFrame, flags: dict[str, str]) -> DataFrame:
    """Every consecutive gulag streak per board (board → 0/1 flag column:
    gulagKills for wins, gulagDeaths for losses), all boards in one
    window pass: (board, player_id, date_key, until_date_key, lv).

    Reference filter: only rows where a gulag happened (gulagKills=1 OR
    gulagDeaths=1); runs of the flag within that subsequence."""
    base = core.filter((F.col("gulagKills") == 1) | (F.col("gulagDeaths") == 1))
    stacked = _per_board(base, ["*"], {b: {"flag": F.col(c)} for b, c in flags.items()})
    runs = run_lengths(stacked, ["board", "player_id"], ["date_key", "game_id"], "flag")
    return (
        runs.filter(F.col("flag") == 1)
        .groupBy("board", "player_id", "run_grp")
        .agg(
            F.min("date_key").alias("date_key"),
            F.max("date_key").alias("until_date_key"),
            F.count(F.lit(1)).alias("lv"),
        )
        .drop("run_grp")
    )


def _counts(core: DataFrame, predicates: dict[str, Column]) -> DataFrame:
    """Per-(board, player) count of games matching the board's predicate
    (most wins teamPlacement=1; most last places
    teamPlacement=numberOfTeams): (board, player_id, lv)."""
    flags = {b: {"flag": p} for b, p in predicates.items()}
    return (
        _per_board(core, ["*"], flags)
        .filter(F.col("flag"))
        .groupBy("board", "player_id")
        .agg(F.count(F.lit(1)).alias("lv"))
    )


def boards(stats: DataFrame) -> DataFrame:
    """All 16 boards (keys of ``BOARDS``) ranked by ONE window → (board,
    rank, BY_GAME_COLUMNS, until_date_key, lv, dv, sv), the top
    ``LEADERBOARD_K`` rows of each board.

    The union of three row sets, each tagged with its board:
    - by-game: each core row stacked once per ``BY_GAME_METRICS`` board,
      its metric in ``lv`` (long) or ``dv`` (double), the other null, so
      a board ranks on its own field exactly and long values stay ints;
    - streaks: (player, date_key, until_date_key, lv = length);
    - counts: (player, lv = games).

    One order ranks them all: (lv DESC, dv DESC, date_key, game_id,
    player_id). A lifetime row has null ``dv`` and ``game_id``, so it
    ranks by (lv DESC, date_key, player_id); a count row has no date_key
    either. ``sv`` is the longestdistance display string."""
    core = stats.filter("is_core")
    fields = {}
    for b, c in BY_GAME_METRICS.items():
        integral = BOARDS[b][1] == "lv"  # longestdistance ranks on dv, shows sv
        fields[b] = {
            "lv": (F.col(c) if integral else F.lit(None)).cast("long"),
            "dv": (F.lit(None) if integral else F.col(c)).cast("double"),
        }
    streaks = _streaks(core, {
        "consecutive_gulag_kills": "gulagKills",
        "consecutive_gulag_deaths": "gulagDeaths",
    })
    counts = _counts(core, {
        "most_wins": F.col("teamPlacement") == 1,
        "most_lastplaces": F.col("teamPlacement") == F.col("numberOfTeams"),
    })
    union = (
        _per_board(core, BY_GAME_COLUMNS, fields)
        .unionByName(streaks, allowMissingColumns=True)
        .unionByName(counts, allowMissingColumns=True)
    )
    order = [("lv", True), ("dv", True), ("date_key", False), ("game_id", False),
             ("player_id", False)]
    ranked = top_k_per_group(union, ["board"], order, LEADERBOARD_K,
                             rank_col="rank", keep_rank=True)
    return ranked.withColumn("sv", F.when(F.col("board") == "longestdistance", _km(F.col("dv"))))


def board_rows(table: DataFrame, board: str) -> DataFrame:
    """One board of :func:`boards` in rank order: its ``BOARDS`` columns,
    then its value field as ``value``. The limit makes the sort a
    per-partition top-k (TakeOrderedAndProject), not a range shuffle."""
    columns, field = BOARDS[board]
    return (
        table.filter(F.col("board") == board).orderBy("rank")
        .select(*columns, F.col(field).alias("value")).limit(LEADERBOARD_K)
    )


def recent_matches(full_games: DataFrame, k: int = RECENT_MATCHES_K) -> DataFrame:
    """Most recent k games with roster (reference :514-549)."""
    return top_k(full_games, [("date_key", True), ("game_id", False)], k)
