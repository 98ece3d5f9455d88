"""Daily and season rollups (reference vw_player_stats_by_day_wz,
parser/parse_matches.sh:472-505; season rollups,
frontend/generate_lookup_data.sh:589-701).

Semantic traps preserved (SURVEY.md §7.4.3): daily kdRatio /
scorePerMinute are avg-of-ratios (the reference's avg()), NOT
ratio-of-sums; the season K/D IS ratio-of-sums. Both live here,
explicitly named.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.engine import metrics as M
from cod_stats_spark.engine.dims import MONSTER_KILLS_THRESHOLD, mode_field


def daily_stats(stats: DataFrame) -> DataFrame:
    """Per (player, day) rollup — tumbling day buckets on the ISO string
    prefix (identical to date(date_key))."""
    return (
        stats.withColumn("day", F.substring("date_key", 1, 10))
        .groupBy("player_id", F.col("day").alias("date_key"))
        .agg(
            F.count(F.lit(1)).alias("matchesPlayed"),
            F.sum("kills").alias("kills"),
            F.sum("deaths").alias("deaths"),
            F.sum("gulagKills").alias("gulagKills"),
            F.sum("gulagDeaths").alias("gulagDeaths"),
            F.sum("headshots").alias("headshots"),
            F.sum("damageDone").alias("damageDone"),
            F.sum("distanceTraveled").alias("distanceTraveled"),
            F.avg("kdRatio").alias("kdRatio"),  # avg-of-ratios, per reference
            F.avg("scorePerMinute").alias("scorePerMinute"),
            F.sum(F.when(F.col("kills") >= MONSTER_KILLS_THRESHOLD, 1).otherwise(0))
            .alias("monsters"),
            F.sum(F.when(F.col("kills") == 0, 1).otherwise(0)).alias("gooseeggs"),
        )
    )


def by_game_stats(stats: DataFrame) -> DataFrame:
    """Per-game rows with display mode + monster/gooseegg flags
    (reference vw_player_stats_by_game_wz; 'Unknown &lt;mode&gt;'
    fallback preserved byte-for-byte, SURVEY.md §7.4.10)."""
    return stats.select(
        "date_key",
        "player_id",
        "game_id",
        F.lit(1).alias("matchesPlayed"),
        F.coalesce(
            mode_field("display_name"),
            F.concat(F.lit("Unknown &lt;"), F.col("game_mode_sub"), F.lit("&gt;")),
        ).alias("mode"),
        "numberOfPlayers",
        "numberOfTeams",
        "teamPlacement",
        "kills",
        "deaths",
        "gulagKills",
        "gulagDeaths",
        "headshots",
        "damageDone",
        "distanceTraveled",
        "kdRatio",
        "scorePerMinute",
        F.when(F.col("kills") >= MONSTER_KILLS_THRESHOLD, 1).otherwise(0).alias("monsters"),
        F.when(F.col("kills") == 0, 1).otherwise(0).alias("gooseeggs"),
    )


def season_assign(stats: DataFrame) -> DataFrame:
    """Fan each row out to every season whose inclusive [start, end]
    ISO-string range holds its ``date_key`` (SURVEY.md §7.4.11: every
    game is in 'lifetime' AND its season), adding ``season_id``,
    ``descr`` and ``sort_order``.

    One projection: a ``when`` per ``dims.SEASONS`` row, the non-null
    matches inlined into rows. That is the interval-join semantics for
    any season table, overlapping or not; rows outside every range
    drop out.
    """
    from cod_stats_spark.engine.dims import SEASONS

    date_key = F.col("date_key")
    matches = F.array(*[
        F.when(
            (date_key >= start) & (date_key <= end),
            F.struct(
                F.lit(sid).alias("season_id"),
                F.lit(descr).alias("descr"),
                F.lit(sort_order).alias("sort_order"),
            ),
        )
        for sid, descr, start, end, sort_order in SEASONS
    ])
    return stats.select("*", F.inline(F.filter(matches, lambda s: s.isNotNull())))


PLACEMENT_COLUMNS = {
    "wz_solo": "avgPlacementSolo",
    "wz_duos": "avgPlacementDuos",
    "wz_trios": "avgPlacementTrios",
    "wz_quads": "avgPlacementQuads",
}


def player_season_stats(stats: DataFrame) -> DataFrame:
    """Per (player, season), one aggregate over one ``season_assign``:
    the season rollup and the placement per category (reference
    generate_lookup_data.sh:589-698, rollup LEFT JOIN pivot).

    Rollup: matches + sums + derived ratio metrics. Ratio-of-sums K/D
    with the reference's cast/guard semantics; NULL on zero denominator.
    Placement: per category, a conditional 100 * sum(teamPlacement) /
    sum(numberOfTeams) as a string; 'N/A' for a category with no games
    or a zero sum; NULL in all four when the season has no game in any
    of them (the reference's LEFT JOIN finds no pivot row).
    """
    cat = mode_field("category")
    placed = F.max(cat.isin(list(PLACEMENT_COLUMNS)))

    def placement(c: str) -> Column:
        teams = F.sum(F.when(cat == c, F.col("numberOfTeams"))).cast("double")
        pct = F.round(F.lit(100) * F.sum(F.when(cat == c, F.col("teamPlacement"))) / teams, 2)
        return F.when(placed, F.coalesce(pct.cast("string"), F.lit("N/A")))

    agg = season_assign(stats).groupBy("player_id", "season_id", "descr", "sort_order").agg(
        F.count(F.lit(1)).alias("matches"),
        F.sum("damageDone").alias("damage"),
        F.sum("kills").alias("kills"),
        F.sum("deaths").alias("deaths"),
        F.sum("gulagKills").alias("gulagWins"),
        F.sum("gulagDeaths").alias("gulagLosses"),
        *[placement(c).alias(name) for c, name in PLACEMENT_COLUMNS.items()],
    )
    return agg.select(
        "player_id", "season_id", "descr", "sort_order",
        "matches", "damage", "kills", "deaths", "gulagWins", "gulagLosses",
        F.round(M.kd_sql(F.col("kills"), F.col("deaths")), 2).alias("kdRatio"),
        F.round(F.col("kills") / F.col("matches").cast("double"), 2).alias("killsPerGame"),
        F.round(F.col("damage") / F.col("matches").cast("double"), 2).alias("damagePerGame"),
        M.damage_per_kill_int(F.col("damage"), F.col("kills")).alias("damagePerKill"),
        M.gulag_win_pct_int(F.col("gulagWins"), F.col("gulagLosses")).alias("gulagWinPct"),
        *PLACEMENT_COLUMNS.values(),
    )


def season_rollup(stats: DataFrame) -> DataFrame:
    """Per (player, season) rollup: :func:`player_season_stats` without
    its placement columns (column pruning drops their sums)."""
    return player_season_stats(stats).drop(*PLACEMENT_COLUMNS.values())


def placement_by_category(stats: DataFrame) -> DataFrame:
    """Avg placement per (player, season) × category as columns, 'N/A'
    for a missing category: the placement columns of
    :func:`player_season_stats` for the seasons with a placement."""
    return player_season_stats(stats).filter(
        F.col("avgPlacementSolo").isNotNull()
    ).select("player_id", "season_id", *PLACEMENT_COLUMNS.values())
