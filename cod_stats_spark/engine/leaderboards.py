"""Leaderboards (reference frontend/generate_lookup_data.sh:93-512).

- by-game boards: top-10 single-game values for 12 metrics
- lifetime boards: consecutive gulag win/loss streaks (the DENSE_RANK
  difference trick, SURVEY W7), most wins, most last places
- recent matches (15), recent sessions (top-1 session per player)

Every board reads the core rows only: ``stats_wz``'s ``is_core`` column
(the reference's ``player_id IN vw_core_players``) as a filter. All
boards get a deterministic tiebreak (metric DESC, date_key, game_id,
player_id) — SQL LIMIT alone cuts ties arbitrarily (SURVEY.md §7.4.8).

Each board family has one implementation: the 12 by-game boards and the
4 lifetime boards are each a tagged union ranked by one window
(``row_number`` per board). The report documents read a family with one
collect; the API's per-board frames are rank-ordered filters of the same
union (:func:`board_rows`).
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


# deterministic lifetime order; a count board has no date_key, so its
# rows (nulls tie) fall back to (value DESC, player_id)
STREAK_ORDER = [("value", True), ("date_key", False), ("player_id", False)]
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


def board_rows(ranked: DataFrame, board: str, columns: list) -> DataFrame:
    """One board of a ranked union (:func:`by_game_boards`,
    :func:`lifetime_boards`) in rank order, as ``columns``."""
    return ranked.filter(F.col("board") == board).orderBy("rank").select(*columns)


def _value_fields(stats: DataFrame) -> dict[str, str]:
    """Board → the :func:`by_game_boards` field it ranks on: ``lv`` for
    an integral metric, ``dv`` for a fractional one."""
    integral = {c for c, t in stats.dtypes if t in _INTEGRAL}
    return {b: "lv" if c in integral else "dv" for b, c in BY_GAME_METRICS.items()}


def by_game_boards(stats: DataFrame, k: int = LEADERBOARD_K) -> DataFrame:
    """All 12 by-game boards (top-k single-game values of each
    ``BY_GAME_METRICS`` column) from ONE window pass: each core row is
    stacked once per board as (board, lv, dv) and ranked within its board
    → (board, rank, BY_GAME_COLUMNS, lv, dv, sv).

    A metric is integral (``lv``, long) or fractional (``dv``, double),
    so a board's rows populate one field and rank on it exactly (the
    other field is null on every row of the board); long values stay
    ints in the documents. ``sv`` is the longestdistance display string."""
    types = {"lv": "long", "dv": "double"}
    fields = {
        b: {f: (F.col(BY_GAME_METRICS[b]) if f == rank_f else F.lit(None)).cast(t)
            for f, t in types.items()}
        for b, rank_f in _value_fields(stats).items()
    }
    ranked = top_k_per_group(
        _per_board(stats.filter("is_core"), BY_GAME_COLUMNS, fields),
        ["board"], [("lv", True), ("dv", True), *BY_GAME_TIEBREAK], k,
        rank_col="rank", keep_rank=True,
    )
    return ranked.withColumn("sv", F.when(F.col("board") == "longestdistance", _km(F.col("dv"))))


def all_by_game_boards(stats: DataFrame, k: int = LEADERBOARD_K) -> dict[str, DataFrame]:
    """Board → its rows of :func:`by_game_boards` in rank order:
    (BY_GAME_COLUMNS, value), value the board's own field."""
    ranked = by_game_boards(stats, k)
    fields = {**_value_fields(stats), "longestdistance": "sv"}
    return {
        b: board_rows(ranked, b, [*BY_GAME_COLUMNS, F.col(f).alias("value")])
        for b, f in fields.items()
    }


def _streaks(stats: DataFrame, flags: dict[str, str]) -> DataFrame:
    """Every consecutive gulag streak per board (board → 0/1 flag column:
    gulagKills for wins, gulagDeaths for losses), all boards in one
    window pass: (board, player_id, date_key, until_date_key, value).

    Reference filter: only rows where a gulag happened (gulagKills=1 OR
    gulagDeaths=1); runs of the flag within that subsequence."""
    base = stats.filter(
        F.col("is_core") & ((F.col("gulagKills") == 1) | (F.col("gulagDeaths") == 1))
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


def _counts(stats: DataFrame, predicates: dict[str, Column]) -> DataFrame:
    """Per-(board, player) count of games matching the board's predicate
    (most wins teamPlacement=1; most last places
    teamPlacement=numberOfTeams): (board, player_id, value)."""
    flags = {b: {"flag": p} for b, p in predicates.items()}
    return (
        _per_board(stats.filter("is_core"), ["*"], flags)
        .filter(F.col("flag"))
        .groupBy("board", "player_id")
        .agg(F.count(F.lit(1)).alias("value"))
    )


def lifetime_boards(stats: DataFrame, k: int = LEADERBOARD_K) -> DataFrame:
    """The four lifetime boards (keys of ``LIFETIME_BOARDS``) ranked in
    one window: (board, rank, player_id, date_key, until_date_key,
    value), the dates null on the count boards."""
    streaks = _streaks(stats, {
        "consecutive_gulag_kills": "gulagKills",
        "consecutive_gulag_deaths": "gulagDeaths",
    })
    counts = _counts(stats, {
        "most_wins": F.col("teamPlacement") == 1,
        "most_lastplaces": F.col("teamPlacement") == F.col("numberOfTeams"),
    })
    union = streaks.unionByName(counts, allowMissingColumns=True)
    return top_k_per_group(union, ["board"], STREAK_ORDER, k, rank_col="rank", keep_rank=True)


def recent_matches(full_games: DataFrame, k: int = RECENT_MATCHES_K) -> DataFrame:
    """Most recent k games with roster (reference :514-549)."""
    return top_k(full_games, [("date_key", True), ("game_id", False)], k)
