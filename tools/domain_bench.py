"""Domain-layer scale bench: run the full Engine view stack over a
large synthetic bronze table generated IN Spark (no JSON files — the
generator is spark.range + deterministic hash-derived columns, so a
million-row bronze costs no driver memory and no disk).

Usage: python tools/domain_bench.py [n_match_rows] [n_players]
Prints one JSON line with per-view wall seconds + row counts.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def synth_bronze(spark, n_rows: int, n_players: int):
    """Deterministic synthetic bronze (game_id, player_uno_id, stats,
    _corrupt_record): the ingest bronze contract, every row parsed."""
    import pyspark.sql.functions as F

    from cod_stats_spark.engine.dims import GAME_MODES

    tracked = [m[0] for m in GAME_MODES if m[6]]
    base = spark.range(n_rows).withColumnRenamed("id", "rid")

    def h(seed: int):
        return F.abs(F.xxhash64(F.col("rid"), F.lit(seed)))

    game = (h(1) % (n_rows // 3 + 1)).cast("string")
    uno = F.concat(F.lit("uno-"), (h(2) % n_players).cast("string"))
    t0 = 1_600_000_000
    end_seconds = F.lit(t0) + (h(3) % (180 * 24 * 3600))  # ~6 months of games
    mode = F.array(*[F.lit(m) for m in tracked])[(h(4) % len(tracked)).cast("int")]
    kills = (h(5) % 12).cast("long")
    deaths = (h(6) % 6 + 1).cast("long")
    team_count = (h(7) % 60 + 20).cast("long")
    placement = (h(8) % team_count + 1).cast("long")

    player_stats = F.struct(
        (h(9) % 5000).cast("double").alias("score"),
        (h(10) % 300).cast("double").alias("scorePerMinute"),
        kills.alias("kills"),
        deaths.alias("deaths"),
        (h(11) % 3000).cast("long").alias("damageDone"),
        (h(12) % 1500 + 1).cast("long").alias("damageTaken"),
        (h(13) % 3).cast("long").alias("gulagKills"),
        (h(14) % 3).cast("long").alias("gulagDeaths"),
        placement.alias("teamPlacement"),
        (kills.cast("double") / deaths.cast("double")).alias("kdRatio"),
        (h(15) % 5000).cast("double").alias("distanceTraveled"),
        (h(16) % 5).cast("long").alias("headshots"),
        (h(17) % 4).cast("long").alias("objectiveBrCacheOpen"),
        (h(18) % 2).cast("long").alias("objectiveReviver"),
        *[
            (h(20 + i) % 2).cast("long").alias(f"objectiveBrDownEnemyCircle{i}")
            for i in range(1, 7)
        ],
        *[
            (h(30 + i) % 2).cast("long").alias(f"objectiveDestroyedVehicle{sz}")
            for i, sz in enumerate(("Light", "Medium", "Heavy"))
        ],
    )
    stats = F.struct(
        game.alias("matchID"),
        (end_seconds - 1800).alias("utcStartSeconds"),
        end_seconds.alias("utcEndSeconds"),
        F.lit("wz").alias("gameType"),
        mode.alias("mode"),
        (team_count * 3).alias("playerCount"),
        team_count.alias("teamCount"),
        F.struct(uno.alias("uno")).alias("player"),
        player_stats.alias("playerStats"),
    )
    return base.select(
        game.alias("game_id"),
        uno.alias("player_uno_id"),
        stats.alias("stats"),
        F.lit(None).cast("string").alias("_corrupt_record"),
    ).repartition(spark.sparkContext.defaultParallelism)


def synth_players(spark, n_players: int):
    import pyspark.sql.functions as F

    return spark.range(n_players).select(
        F.concat(F.lit("uno-"), F.col("id").cast("string")).alias("player_uno_id"),
        F.concat(F.lit("player"), F.col("id").cast("string")).alias("player_id"),
        (F.col("id") % 4 != 3).alias("is_core"),  # 75% core
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_players = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000

    from cod_stats_spark.engine.api import Engine
    from cod_stats_spark.session import get_spark

    spark = get_spark("domain-bench")
    eng = Engine(spark, synth_bronze(spark, n_rows, n_players), synth_players(spark, n_players))

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def run(name, df_fn):
        t0 = time.perf_counter()
        counts[name] = df_fn().count()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {counts[name]} rows in {timings[name]}s", file=sys.stderr)

    run("valid_games", eng.valid_games)           # includes silver materialization
    run("stats_wz", eng.stats_wz)
    run("sessions", eng.sessions)
    run("session_stats", eng.session_stats)
    run("daily", eng.daily)
    run("season_rollup", eng.season_rollup)
    run("placement_pivot", eng.placement_pivot)
    run("leaderboard_mostkills", lambda: eng.leaderboards()["mostkills"])
    run("gulag_streaks", eng.gulag_streaks)
    run("team_breakdowns", eng.team_breakdowns)
    run("daily_timeseries", eng.daily_timeseries)
    run("seasonal_daily_timeseries", eng.seasonal_daily_timeseries)

    print(
        json.dumps(
            {
                "metric": "domain_view_stack_wall_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "n_match_rows": n_rows,
                "n_players": n_players,
                "views": timings,
                "rows": counts,
            }
        )
    )


if __name__ == "__main__":
    main()
