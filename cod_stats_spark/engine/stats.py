"""Gold fact view ``stats_wz`` (reference vw_stats_wz,
parser/parse_matches.sh:223-279): silver ⋈ players (account → display
player) filtered to tracked warzone modes.

``is_core`` carries the reference's vw_core_players membership onto
every row: true when the row's display player has any config entry
with isCore, whichever account played. Boards and team views filter on
it instead of joining a core-player frame.

Broadcast joins only — the fact side never shuffles here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cod_stats_spark.engine.dims import GAME_MODES

METRIC_COLUMNS = [
    "score",
    "scorePerMinute",
    "kills",
    "deaths",
    "damageDone",
    "damageTaken",
    "gulagKills",
    "gulagDeaths",
    "teamPlacement",
    "kdRatio",
    "distanceTraveled",
    "headshots",
    "objectiveBrCacheOpen",
    "objectiveReviver",
    "objectiveBrDownAll",
    "objectiveDestroyedVehicleAll",
]


def tracked_mode_ids() -> list[str]:
    return [m[0] for m in GAME_MODES if m[6]]  # wz_track_stats


def stats_wz(valid_games: DataFrame, players: DataFrame) -> DataFrame:
    """One row per (game, display player) over tracked 'wz' modes."""
    return (
        valid_games.filter(
            (F.col("game_mode") == "wz") & F.col("game_mode_sub").isin(tracked_mode_ids())
        )
        .join(
            F.broadcast(players.select(
                "player_uno_id",
                "player_id",
                F.max("is_core").over(Window.partitionBy("player_id")).alias("is_core"),
            )),
            "player_uno_id",
            "inner",
        )
        .select(
            "date_key",
            "game_mode_sub",
            "game_id",
            "player_id",
            "numberOfPlayers",
            "numberOfTeams",
            *METRIC_COLUMNS,
            "is_core",
        )
    )


def core_players(players: DataFrame) -> DataFrame:
    """Distinct core display players (reference vw_core_players)."""
    return players.filter(F.col("is_core")).select("player_id").distinct()


def stats_struct() -> F.Column:
    """The per-row stats struct used in reports (vw_stats_wz's json_object)."""
    return F.struct(
        F.col("numberOfPlayers"),
        F.col("numberOfTeams"),
        *[F.col(c) for c in METRIC_COLUMNS],
    )
