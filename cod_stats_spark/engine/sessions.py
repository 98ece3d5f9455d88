"""Sessionization views (reference vw_player_sessions +
vw_player_sessions_with_stats, parser/parse_matches.sh:298-377).

Semantics preserved:
- gap >= 7200 s (or first game) starts a session (§7.4.6)
- session end = next session start − 1 s; open sessions end at the
  epoch-9999999999 sentinel
- per-session rollup: counts, sums, maxes, wins/top5/top10

Spark-first difference (SURVEY J3/J5): session ids are carried on each
game row directly from the window pass — no interval self-join back to
the fact table. One shuffle on player_id total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cod_stats_spark.engine.dims import SESSION_DELTA_SECONDS, SESSION_OPEN_END_EPOCH
from cod_stats_spark.engine.normalize import ISO, epoch_to_iso
from cod_stats_spark.operators.sessionize import sessionize
from cod_stats_spark.operators.topk import top_k_per_group


def sessionized_games(stats: DataFrame) -> DataFrame:
    """stats_wz + (session_number, session_id) per row."""
    with_epoch = stats.withColumn(
        "_epoch", F.unix_timestamp(F.col("date_key"), ISO)
    )
    out = sessionize(
        with_epoch,
        ts_col="_epoch",
        key_cols=["player_id"],
        gap_seconds=SESSION_DELTA_SECONDS,
        tiebreak_cols=["game_id"],
    )
    return out


def player_sessions(stats: DataFrame) -> DataFrame:
    """(player_id, session_number, session_id, start, end) — the
    reference's session interval table, a projection of
    ``session_stats`` (the optimizer prunes the unread aggregates)."""
    return session_stats(stats).select(
        "player_id", "session_number", "session_id", "start", "end"
    )


def session_stats(stats: DataFrame) -> DataFrame:
    """Per-session rollup (reference vw_player_sessions_with_stats)."""
    s = sessionized_games(stats)
    def topn(n):
        return F.sum(F.when(F.col("teamPlacement") <= n, 1).otherwise(0))

    rolled = s.groupBy("player_id", "session_number", "session_id").agg(
        F.min("date_key").alias("start"),
        F.min("_epoch").alias("_start_epoch"),
        F.count(F.lit(1)).alias("numGames"),
        F.sum("kills").alias("kills"),
        F.sum("deaths").alias("deaths"),
        F.sum("damageDone").alias("damageDone"),
        F.max("kills").alias("maxKills"),
        F.max("damageDone").alias("maxDamage"),
        F.sum("gulagKills").alias("gulagKills"),
        F.sum("gulagDeaths").alias("gulagDeaths"),
        topn(1).alias("wins"),
        topn(5).alias("top5"),
        topn(10).alias("top10"),
    )
    w = Window.partitionBy("player_id").orderBy("_start_epoch")
    end_epoch = F.coalesce(
        F.lead("_start_epoch").over(w), F.lit(SESSION_OPEN_END_EPOCH)
    ) - F.lit(1)
    return rolled.withColumn("end", epoch_to_iso(end_epoch)).drop("_start_epoch")


def latest_session_per_player(session_stats_df: DataFrame) -> DataFrame:
    """Top-1 session per player by session_number (reference
    generate_lookup_data.sh:555-561)."""
    return top_k_per_group(session_stats_df, ["player_id"], [("session_number", True)], 1)
