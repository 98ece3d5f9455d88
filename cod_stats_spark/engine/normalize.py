"""Bronze → silver normalization: the ``valid_games`` fact table
(SURVEY.md P1–P6; reference backfill at parser/parse_matches.sh:619-690).

Column semantics preserved exactly:
- date_key: ISO-8601 UTC string from utcEndSeconds (lexicographic ==
  temporal order, SURVEY.md §7.4.9)
- defaults: playerCount/teamCount/teamPlacement → −1, metrics → 0
- gulag truth table (§7.4.7): stimulus modes force 0/0; gulagKills>=1
  wins over gulagDeaths (the API's gulagDeaths is untrustworthy)
- quality filters (P5): null damageDone/damageTaken dropped, and the
  bugged deaths=0 ∧ damageTaken=0 rows dropped (deaths = coalesced)
- only tracked players (broadcast join on the players dim), dedup on
  the natural key (game_id, player_uno_id)

The silver output should be MATERIALIZED by callers (persist() or a
Parquet write) — the reference's one structural lesson: recomputing
normalization per query was ~100× slower (parse_matches.sh:62-64).
At cluster scale: write silver as Parquet partitioned by
to_date(date_key) so season/day queries partition-prune.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.engine.dims import GAME_MODES

ISO = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def epoch_to_iso(epoch: Column) -> Column:
    """Epoch seconds → ISO-8601 UTC string (the ``date_key`` format)."""
    return F.date_format(F.to_timestamp(F.from_unixtime(epoch)), ISO)


def stimulus_mode_ids() -> list[str]:
    return [m[0] for m in GAME_MODES if m[5]]  # is_stimulus flag


def normalize_matches(bronze: DataFrame, players: DataFrame) -> DataFrame:
    """bronze (game_id, player_uno_id, stats struct) → silver valid_games."""
    s = F.col("stats")
    ps = s["playerStats"]

    def dflt(col, default):
        return F.coalesce(col, F.lit(default))

    stim = s["mode"].isin(stimulus_mode_ids())
    gulag_kills = (
        F.when(stim, F.lit(0))
        .when(dflt(ps["gulagKills"], 0) >= 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    gulag_deaths = (
        F.when(stim, F.lit(0))
        .when(dflt(ps["gulagKills"], 0) >= 1, F.lit(0))
        .when(dflt(ps["gulagDeaths"], 0) >= 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    down_all = sum(
        [dflt(ps[f"objectiveBrDownEnemyCircle{i}"], 0) for i in range(1, 7)],
        F.lit(0).cast("long"),
    )
    vehicle_all = sum(
        [dflt(ps[f"objectiveDestroyedVehicle{sz}"], 0) for sz in ("Light", "Medium", "Heavy")],
        F.lit(0).cast("long"),
    )

    # quality filters on the RAW values (before defaulting): null
    # damage fields and the bugged deaths=0 ∧ damageTaken=0 rows
    quality = (
        ps["damageDone"].isNotNull()
        & ps["damageTaken"].isNotNull()
        & ~((dflt(ps["deaths"], 0) == 0) & (ps["damageTaken"] == 0))
    )

    out = bronze.filter(quality).select(
        epoch_to_iso(s["utcEndSeconds"]).alias("date_key"),
        s["gameType"].alias("game_mode"),
        s["mode"].alias("game_mode_sub"),
        "game_id",
        "player_uno_id",
        dflt(s["playerCount"], -1).alias("numberOfPlayers"),
        dflt(s["teamCount"], -1).alias("numberOfTeams"),
        dflt(ps["score"], 0.0).alias("score"),
        dflt(ps["scorePerMinute"], 0.0).alias("scorePerMinute"),
        dflt(ps["kills"], 0).alias("kills"),
        dflt(ps["deaths"], 0).alias("deaths"),
        ps["damageDone"].alias("damageDone"),
        ps["damageTaken"].alias("damageTaken"),
        gulag_kills.alias("gulagKills"),
        gulag_deaths.alias("gulagDeaths"),
        dflt(ps["teamPlacement"], -1).alias("teamPlacement"),
        dflt(ps["kdRatio"], 0.0).alias("kdRatio"),
        dflt(ps["distanceTraveled"], 0.0).alias("distanceTraveled"),
        dflt(ps["headshots"], 0).alias("headshots"),
        dflt(ps["objectiveBrCacheOpen"], 0).alias("objectiveBrCacheOpen"),
        dflt(ps["objectiveReviver"], 0).alias("objectiveReviver"),
        down_all.alias("objectiveBrDownAll"),
        vehicle_all.alias("objectiveDestroyedVehicleAll"),
    )
    # tracked players only (broadcast join on the dim's key) + natural-key dedup
    return out.join(
        F.broadcast(players.select("player_uno_id")), "player_uno_id"
    ).dropDuplicates(["game_id", "player_uno_id"])


def unknown_modes_wz(bronze: DataFrame) -> DataFrame:
    """Audit view: distinct unmapped 'wz' modes with first/last seen +
    count (reference vw_unknown_modes_wz, parse_matches.sh:205-215)."""
    s = F.col("stats")
    known = [m[0] for m in GAME_MODES if m[1] == "wz"]
    return (
        bronze.filter((s["gameType"] == "wz") & ~s["mode"].isin(known))
        .select(s["mode"].alias("mode"), epoch_to_iso(s["utcEndSeconds"]).alias("date_key"))
        .groupBy("mode")
        .agg(
            F.min("date_key").alias("firstSeen"),
            F.max("date_key").alias("lastSeen"),
            F.count(F.lit(1)).alias("totalGames"),
        )
    )


def unknown_modes_mp(bronze: DataFrame) -> DataFrame:
    """Audit view: distinct unmapped 'mp' modes (parse_matches.sh:217-221)."""
    s = F.col("stats")
    known = [m[0] for m in GAME_MODES if m[1] == "mp"]
    return (
        bronze.filter((s["gameType"] == "mp") & ~s["mode"].isin(known))
        .select(s["mode"].alias("mode"))
        .distinct()
    )
