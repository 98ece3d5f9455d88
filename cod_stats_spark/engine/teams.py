"""Team/roster analytics (reference vw_full_game_stats +
vw_team_stat_breakdowns, parser/parse_matches.sh:379-469).

- full_game_stats: per game (where any core player played): the roster
  string + per-player stats array. Roster is CANONICALIZED
  (sort_array before concat) — the reference's group_concat depends on
  scan order, which splits team identities nondeterministically
  (SURVEY.md §7.4.4); canonical order is the fix, not a divergence.
- team_stat_breakdowns: per (category, roster) across full-team games:
  games/wins/last places/avg/max, HAVING numGames > 1.

Spark shape: one groupBy(game_id) over all of stats_wz, keeping the
games whose max(is_core) is true (:func:`_games`), serves both views
(column pruning drops what one does not read) → filter full teams →
groupBy(category, roster). The reference's json_each re-explosion (J9)
is unnecessary — sums are computed in the first aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.engine.dims import mode_field
from cod_stats_spark.engine.stats import stats_struct

FULL_TEAM_SIZES = {"wz_solo": 1, "wz_duos": 2, "wz_trios": 3, "wz_quads": 4}


def _games(stats: DataFrame) -> DataFrame:
    """One row per game where >=1 core player played: date, mode, the
    canonical roster and stats array, and the per-game team sums."""
    return (
        stats.groupBy("game_id")
        .agg(
            F.max("is_core").alias("is_core"),
            F.min("date_key").alias("date_key"),
            F.first("game_mode_sub").alias("game_mode_sub"),
            F.concat_ws(",", F.array_sort(F.collect_list("player_id"))).alias("player_ids"),
            F.array_sort(
                F.collect_list(F.struct(F.col("player_id"), stats_struct().alias("stats")))
            ).alias("player_stats"),
            F.count(F.lit(1)).alias("numPlayers"),
            F.sum("kills").alias("kills"),
            F.sum("damageDone").alias("dmg"),
            F.sum("deaths").alias("deaths"),
            F.max("teamPlacement").alias("placement"),
            F.max("numberOfTeams").alias("numberOfTeams"),
        )
        .filter("is_core")
    )


def full_game_stats(stats: DataFrame) -> DataFrame:
    """Per-game roster + stats array over games with >=1 core player."""
    return _games(stats).select(
        "game_id", "date_key", "game_mode_sub", "player_ids", "player_stats"
    )


def team_stat_breakdowns(stats: DataFrame) -> DataFrame:
    """Per (category, roster) rollup over FULL-team games, numGames > 1.

    Placement is per-team: every tracked member of a full team shares
    teamPlacement, so max() over the game is the team placement (the
    reference reads an arbitrary member's value via SQLite bare-column
    semantics — parse_matches.sh:418).
    """
    per_game = _games(stats).withColumn("category", mode_field("category"))
    size_map = F.create_map(
        *[F.lit(x) for pair in FULL_TEAM_SIZES.items() for x in pair]
    )
    full_teams = per_game.filter(
        F.col("numPlayers") == size_map[F.col("category")]
    )
    out = (
        full_teams.groupBy("category", "player_ids")
        .agg(
            F.max("numPlayers").alias("numPlayers"),
            F.count(F.lit(1)).alias("numGames"),
            F.sum(F.when(F.col("placement") == 1, 1).otherwise(0)).alias("numWins"),
            F.sum(
                F.when(F.col("placement") == F.col("numberOfTeams"), 1).otherwise(0)
            ).alias("numLastPlaces"),
            F.round(F.avg("kills"), 2).alias("avgKills"),
            F.round(F.avg("dmg"), 2).alias("avgDmg"),
            F.round(F.avg("deaths"), 2).alias("avgDeaths"),
            F.round(F.avg("placement"), 2).alias("avgPlacement"),
            F.max("kills").alias("maxKills"),
            F.max("dmg").alias("maxDmg"),
            F.max("deaths").alias("maxDeaths"),
        )
        .filter(F.col("numGames") > 1)
    )
    return out
