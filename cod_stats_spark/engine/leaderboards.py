"""Leaderboards (reference frontend/generate_lookup_data.sh:93-512).

- by-game boards: top-10 single-game values for 12 metrics
- lifetime boards: consecutive gulag win/loss streaks (the DENSE_RANK
  difference trick, SURVEY W7), most wins, most last places
- recent matches (15), recent sessions (top-1 session per player)

All boards get a deterministic tiebreak (metric DESC, date_key, game_id,
player_id) — SQL LIMIT alone cuts ties arbitrarily (SURVEY.md §7.4.8).

The report documents read each board family with one action: the 12
by-game boards and the 4 lifetime boards are each a tagged union ranked
by one window (``row_number`` per board), not one sort+limit job chain
per board.
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


# deterministic board orders; a count board has no date_key, so under
# STREAK_ORDER (nulls tie) its rows fall back to COUNT_ORDER
STREAK_ORDER = [("value", True), ("date_key", False), ("player_id", False)]
COUNT_ORDER = [("value", True), ("player_id", False)]
BY_GAME_TIEBREAK = [("date_key", False), ("game_id", False), ("player_id", False)]

BY_GAME_COLUMNS = ["date_key", "game_mode_sub", "game_id", "player_id"]
# lifetime board key (report document) → its columns
LIFETIME_BOARDS = {
    "consecutive_gulag_kills": ["player_id", "date_key", "until_date_key", "value"],
    "consecutive_gulag_deaths": ["player_id", "date_key", "until_date_key", "value"],
    "most_wins": ["player_id", "value"],
    "most_lastplaces": ["player_id", "value"],
}

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _core_only(stats: DataFrame, core: DataFrame) -> DataFrame:
    return stats.join(F.broadcast(core), "player_id", "left_semi")


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


def by_game_board(stats: DataFrame, core: DataFrame, metric: str, k: int = LEADERBOARD_K) -> DataFrame:
    """Top-k single-game rows for one metric."""
    base = _core_only(stats, core).select(
        *BY_GAME_COLUMNS, F.col(BY_GAME_METRICS[metric]).alias("value")
    )
    board = top_k(base, [("value", True), *BY_GAME_TIEBREAK], k)
    if metric == "longestdistance":
        board = board.withColumn("value", _km(F.col("value")))
    return board


def all_by_game_boards(stats: DataFrame, core: DataFrame, k: int = LEADERBOARD_K) -> dict[str, DataFrame]:
    return {m: by_game_board(stats, core, m, k) for m in BY_GAME_METRICS}


def by_game_boards(stats: DataFrame, core: DataFrame, k: int = LEADERBOARD_K) -> DataFrame:
    """All 12 boards of :func:`by_game_board` from ONE window pass, for
    one collect: each core row is stacked once per board as (board, lv,
    dv) and ranked within its board → (board, rank, BY_GAME_COLUMNS, lv,
    dv, sv).

    A metric is integral (``lv``, long) or fractional (``dv``, double),
    so a board's rows populate one field and rank on it exactly (the
    other field is null on every row of the board); long values stay
    ints in the documents. ``sv`` is the longestdistance display string."""
    integral = {c for c, t in stats.dtypes if t in _INTEGRAL}
    null_long, null_double = F.lit(None).cast("long"), F.lit(None).cast("double")
    fields = {}
    for board, col in BY_GAME_METRICS.items():
        if col in integral:
            fields[board] = {"lv": F.col(col).cast("long"), "dv": null_double}
        else:
            fields[board] = {"lv": null_long, "dv": F.col(col).cast("double")}
    ranked = top_k_per_group(
        _per_board(_core_only(stats, core), BY_GAME_COLUMNS, fields),
        ["board"], [("lv", True), ("dv", True), *BY_GAME_TIEBREAK], k,
        rank_col="rank", keep_rank=True,
    )
    return ranked.withColumn("sv", F.when(F.col("board") == "longestdistance", _km(F.col("dv"))))


def _streaks(stats: DataFrame, core: DataFrame, flags: dict[str, str]) -> DataFrame:
    """Every consecutive gulag streak per board (board → 0/1 flag column:
    gulagKills for wins, gulagDeaths for losses), all boards in one
    window pass: (board, player_id, date_key, until_date_key, value).

    Reference filter: only rows where a gulag happened (gulagKills=1 OR
    gulagDeaths=1); runs of the flag within that subsequence."""
    base = _core_only(stats, core).filter(
        (F.col("gulagKills") == 1) | (F.col("gulagDeaths") == 1)
    )
    stacked = _per_board(base, ["*"], {b: {"flag": F.col(c)} for b, c in flags.items()})
    runs = run_lengths(stacked, ["board", "player_id"], ["date_key", "game_id"], "flag")
    return (
        runs.filter(F.col("flag") == 1)
        .groupBy("board", "player_id", "run_grp")
        .agg(
            F.min("date_key").alias("date_key"),
            F.max("date_key").alias("until_date_key"),
            F.count(F.lit(1)).alias("value"),
        )
        .drop("run_grp")
    )


def _counts(stats: DataFrame, core: DataFrame, predicates: dict[str, Column]) -> DataFrame:
    """Per-(board, player) count of games matching the board's predicate
    (most wins teamPlacement=1; most last places
    teamPlacement=numberOfTeams): (board, player_id, value)."""
    flags = {b: {"flag": p} for b, p in predicates.items()}
    return (
        _per_board(_core_only(stats, core), ["*"], flags)
        .filter(F.col("flag"))
        .groupBy("board", "player_id")
        .agg(F.count(F.lit(1)).alias("value"))
    )


def _win() -> Column:
    return F.col("teamPlacement") == 1


def _last_place() -> Column:
    return F.col("teamPlacement") == F.col("numberOfTeams")


def gulag_streaks(stats: DataFrame, core: DataFrame, wins: bool, k: int = LEADERBOARD_K) -> DataFrame:
    """Top-k longest consecutive gulag win (or loss) streaks."""
    streaks = _streaks(stats, core, {"": "gulagKills" if wins else "gulagDeaths"})
    return top_k(streaks.drop("board"), STREAK_ORDER, k)


def most_wins(stats: DataFrame, core: DataFrame, k: int = LEADERBOARD_K) -> DataFrame:
    return top_k(_counts(stats, core, {"": _win()}).drop("board"), COUNT_ORDER, k)


def most_last_places(stats: DataFrame, core: DataFrame, k: int = LEADERBOARD_K) -> DataFrame:
    return top_k(_counts(stats, core, {"": _last_place()}).drop("board"), COUNT_ORDER, k)


def lifetime_boards(stats: DataFrame, core: DataFrame, k: int = LEADERBOARD_K) -> DataFrame:
    """The four lifetime boards (keys of ``LIFETIME_BOARDS``) ranked in
    one window: (board, rank, player_id, date_key, until_date_key,
    value), the dates null on the count boards."""
    streaks = _streaks(stats, core, {
        "consecutive_gulag_kills": "gulagKills",
        "consecutive_gulag_deaths": "gulagDeaths",
    })
    counts = _counts(stats, core, {"most_wins": _win(), "most_lastplaces": _last_place()})
    union = streaks.unionByName(counts, allowMissingColumns=True)
    return top_k_per_group(union, ["board"], STREAK_ORDER, k, rank_col="rank", keep_rank=True)


def recent_matches(full_games: DataFrame, k: int = RECENT_MATCHES_K) -> DataFrame:
    """Most recent k games with roster (reference :514-549)."""
    return top_k(full_games, [("date_key", True), ("game_id", False)], k)
