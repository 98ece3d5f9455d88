"""Engine facade: the one-stop API a reference user migrates to.

    eng = Engine.from_paths(spark, matches_glob, players_json)
    eng.stats_wz()                   # gold fact DataFrame
    eng.daily() / eng.by_game()      # rollups
    eng.sessions() / eng.session_stats()
    eng.leaderboards()               # dict of the 12 top-10 by-game boards
    eng.team_breakdowns()
    eng.daily_timeseries()
    eng.write_reports(out_dir)       # the static-site JSON documents

Materialization: the silver fact table is persisted on first access
(the reference's drop-and-rebuild materialized table, SURVEY.md §4) —
every downstream view reuses it instead of re-parsing JSON. So is the
ranked board table, which the board documents and every API board read.
The SQL views are built once per engine. ``write_reports`` shapes and
writes every document on the driver, so the pipeline runs no Python code
on the workers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cod_stats_spark.engine import (
    ingest,
    leaderboards as lb,
    normalize,
    rollups,
    sessions as sess,
    stats as st,
    teams,
    timeseries as tsm,
)
from cod_stats_spark.engine.dims import game_modes_df, seasons_df
from cod_stats_spark.engine import reports as rep


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        bronze: DataFrame,
        players: DataFrame,
    ):
        from cod_stats_spark.session import prep_session

        # date_key derivation (from_unixtime) and the oracle dialect both
        # assume UTC + non-ANSI; normalize regardless of who built the
        # session. No ship_package: the engine's plans are built-in
        # Column expressions, and every document is shaped and written
        # on the driver, so no Python code runs on the workers.
        prep_session(spark)
        self.spark = spark
        self.bronze = bronze
        self.players = players
        self._silver: DataFrame | None = None
        self._stats: DataFrame | None = None
        self._boards: DataFrame | None = None
        self._views: dict[str, DataFrame] | None = None

    @classmethod
    def from_paths(cls, spark: SparkSession, matches_path: str, players_json: str) -> "Engine":
        return cls(
            spark,
            ingest.read_matches(spark, matches_path),
            ingest.read_players_config(spark, players_json),
        )

    # ---- layers

    def valid_games(self) -> DataFrame:
        if self._silver is None:
            self._silver = normalize.normalize_matches(self.bronze, self.players).persist()
        return self._silver

    def stats_wz(self) -> DataFrame:
        if self._stats is None:
            self._stats = st.stats_wz(self.valid_games(), self.players).persist()
        return self._stats

    def core(self) -> DataFrame:
        return st.core_players(self.players)

    def modes(self) -> DataFrame:
        return game_modes_df(self.spark)

    def seasons(self) -> DataFrame:
        return seasons_df(self.spark)

    def unknown_modes_wz(self) -> DataFrame:
        return normalize.unknown_modes_wz(self.bronze)

    def unknown_modes_mp(self) -> DataFrame:
        return normalize.unknown_modes_mp(self.bronze)

    def corrupt_matches(self) -> DataFrame:
        return ingest.corrupt_matches(self.bronze)

    # ---- analytics

    def sessions(self) -> DataFrame:
        return sess.player_sessions(self.stats_wz())

    def session_stats(self) -> DataFrame:
        return sess.session_stats(self.stats_wz())

    def recent_sessions(self) -> DataFrame:
        return sess.latest_session_per_player(self.session_stats())

    def daily(self) -> DataFrame:
        return rollups.daily_stats(self.stats_wz())

    def by_game(self) -> DataFrame:
        return rollups.by_game_stats(self.stats_wz())

    def season_rollup(self) -> DataFrame:
        return rollups.season_rollup(self.stats_wz())

    def placement_pivot(self) -> DataFrame:
        return rollups.placement_by_category(self.stats_wz())

    def boards(self) -> DataFrame:
        """Every leaderboard, ranked in one table (``leaderboards.boards``),
        persisted on first access: the board documents and every API
        board read it."""
        if self._boards is None:
            self._boards = lb.boards(self.stats_wz()).persist()
        return self._boards

    def leaderboards(self) -> dict[str, DataFrame]:
        """The 12 by-game boards: board → (date_key, game_mode_sub,
        game_id, player_id, value) in rank order."""
        return {b: lb.board_rows(self.boards(), b) for b in lb.BY_GAME_METRICS}

    def gulag_streaks(self, wins: bool = True) -> DataFrame:
        board = "consecutive_gulag_kills" if wins else "consecutive_gulag_deaths"
        return lb.board_rows(self.boards(), board)

    def most_wins(self) -> DataFrame:
        return lb.board_rows(self.boards(), "most_wins")

    def most_last_places(self) -> DataFrame:
        return lb.board_rows(self.boards(), "most_lastplaces")

    def full_game_stats(self) -> DataFrame:
        return teams.full_game_stats(self.stats_wz())

    def team_breakdowns(self) -> DataFrame:
        return teams.team_stat_breakdowns(self.stats_wz())

    def recent_matches(self) -> DataFrame:
        return lb.recent_matches(self.full_game_stats())

    def daily_timeseries(self) -> DataFrame:
        return tsm.daily_timeseries(self.daily())

    def by_game_timeseries(self) -> DataFrame:
        return tsm.by_game_timeseries(self.by_game())

    def seasonal_daily_timeseries(self) -> DataFrame:
        return tsm.seasonal_daily_timeseries(self.daily())

    def seasonal_by_game_timeseries(self) -> DataFrame:
        return tsm.seasonal_by_game_timeseries(self.by_game())

    def player_season_stats(self) -> DataFrame:
        """Season rollup plus placement per category, one row per (player,
        season): one aggregate, no join (``rollups.player_season_stats``)."""
        return rollups.player_season_stats(self.stats_wz())

    # ---- SQL API surface

    VIEW_BUILDERS = {
        "valid_games": "valid_games",
        "stats_wz": "stats_wz",
        "player_sessions": "sessions",
        "player_sessions_with_stats": "session_stats",
        "player_stats_by_day_wz": "daily",
        "player_stats_by_game_wz": "by_game",
        "team_stat_breakdowns": "team_breakdowns",
        "full_game_stats": "full_game_stats",
        "season_rollup": "season_rollup",
        "game_modes": "modes",
        "seasons": "seasons",
        "unknown_modes_wz": "unknown_modes_wz",
        "unknown_modes_mp": "unknown_modes_mp",
    }

    def register_views(self) -> list[str]:
        """Expose the whole view stack to spark.sql() — the reference
        user's SQL workflow keeps working (views are code, not state:
        recreated per session, SURVEY §1.3). The view frames are built on
        the first call only; every call registers them again, because
        temp views are session-global and another Engine may have
        replaced them."""
        if self._views is None:
            self._views = {
                view: getattr(self, method)() for view, method in self.VIEW_BUILDERS.items()
            }
        for view, df in self._views.items():
            df.createOrReplaceTempView(view)
        return list(self._views)

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)

    # ---- serving layer

    def write_reports(self, out_dir: str, now=None) -> list[str]:
        """Emit the static-site JSON documents (reference stage 3).

        Every document is built and written on the driver, as the
        reference bakes its site on one machine: the top-k documents
        (boards, recents, dims) from small collects, and the per-player
        documents from one collect of one row per player, which already
        holds that player's every timeseries and session row. That collect
        holds the whole per-player output in driver memory at once, so the
        driver's heap grows with players x days x seasons, the size of the
        report set. Returns every written path once.

        Raises ValueError when a player id is empty, ``.``/``..`` or
        holds a path separator: ids come from config names and name the
        player files.
        """
        from concurrent.futures import ThreadPoolExecutor

        # Materialize the shared silver/stats persists ONCE, before
        # the pool: the lazy builders are not thread-safe, and two
        # concurrent first-actions would compute the same persisted
        # partitions twice (the semantic_dedup argmin-race lesson).
        # One count barrier here is one pass over the table that every
        # document action below then reads from cache.
        self.stats_wz().count()

        # Every document below reads the SAME materialized stats and
        # is independent of the others, so their Spark actions overlap
        # from a small driver pool (guide §2.6 — actions are only
        # sequential because driver code calls them sequentially).
        # Results are byte-identical: each payload is built from its own
        # deterministic collect, and the files are written in a fixed order.
        # Each entry yields (relative path, payload) pairs; one collect of
        # the board table yields both leaderboard documents. The player
        # entry goes first: its pairs are shaped and written here while
        # the other entries' collects run.
        docs = [
            self._player_docs,
            lambda: rep.leaderboard_docs(self.boards()).items(),
            lambda: [("team_leaderboards.json", rep.team_leaderboards_doc(self.team_breakdowns()))],
            lambda: [("recent_matches.json", rep.recent_matches_doc(self.recent_matches()))],
            lambda: [("recent_sessions.json", rep.sessions_doc(self.recent_sessions()))],
            lambda: [("seasons.json", rep.seasons_doc()), ("meta.json", rep.meta_doc(now))],
        ]
        written = []
        with ThreadPoolExecutor(max_workers=4) as pool:
            for fut in [pool.submit(fn) for fn in docs]:
                for rel, payload in fut.result():
                    path = os.path.join(out_dir, rel)
                    rep.write_json(path, payload)
                    written.append(path)
        return written

    # per-player document fan-out ------------------------------------

    def _player_docs(self):
        """Every player's documents from one grouped pass and one collect.
        Each family is projected to (player_id, struct(k, v)), unioned
        with the players dim and collected per player, sorted by k;
        collect_list skips the union's nulls, so a player with no games
        gets four empty arrays. Returns a generator of the
        ``rep.player_docs`` pairs over the collected rows."""
        from pyspark.sql import functions as F

        from cod_stats_spark.engine.timeseries import DAILY_SERIES, GAME_SERIES

        families = {
            "time": (self.seasonal_daily_timeseries(), ["season_id", *DAILY_SERIES[0]]),
            "game": (self.seasonal_by_game_timeseries(), ["season_id", *GAME_SERIES[0]]),
            "stats": (self.player_season_stats(), ["sort_order"]),
            "sessions": (self.session_stats(), ["session_number"]),
        }
        union = self.players.select("player_id")
        for name, (df, sort_cols) in families.items():
            kv = F.struct(F.struct(*sort_cols).alias("k"), F.struct(*df.columns).alias("v"))
            union = union.unionByName(
                df.select("player_id", kv.alias(name)), allowMissingColumns=True
            )
        rows = union.groupBy("player_id").agg(*[
            F.transform(F.array_sort(F.collect_list(name)), lambda x: x["v"]).alias(name)
            for name in families
        ]).collect()
        return (pair for row in rows for pair in rep.player_docs(row))


def write_silver(
    valid_games: DataFrame,
    path: str,
    partition_by_day: bool = True,
    bucket_by_player: int | None = None,
    table_name: str = "valid_games",
) -> None:
    """Cluster-scale silver materialization (the persist() used by
    Engine is the local-mode shortcut).

    - Partitioned by day: season/day queries (P9, A5, A6) prune
      partitions instead of scanning history.
    - Optional bucketing by player_uno_id: sessionization, per-player
      time-series, and the stats_wz join then read co-located data —
      the per-player window sorts shuffle nothing across executors.
    """
    from pyspark.sql import functions as F

    df = valid_games
    if partition_by_day:
        df = df.withColumn("dt", F.substring("date_key", 1, 10))
    writer = df.write.mode("overwrite")
    if partition_by_day:
        writer = writer.partitionBy("dt")
    if bucket_by_player:
        # bucketBy requires saveAsTable (metastore-backed)
        writer.bucketBy(bucket_by_player, "player_uno_id").sortBy(
            "player_uno_id", "date_key"
        ).option("path", path).saveAsTable(table_name)
    else:
        writer.parquet(path)


def search_players(players: DataFrame, query: str, k: int = 10) -> DataFrame:
    """Fuzzy player lookup (the reference's query_player.ts utility,
    SURVEY S12): rank by exact-prefix, substring, then edit distance."""
    from pyspark.sql import functions as F

    q = query.lower()
    scored = players.select(
        "player_id",
        "player_uno_id",
        "is_core",
        F.when(F.col("player_id").startswith(q), 0)
        .when(F.col("player_id").contains(q), 1)
        .otherwise(2)
        .alias("tier"),
        F.levenshtein(F.col("player_id"), F.lit(q)).alias("distance"),
    )
    return scored.orderBy("tier", "distance", "player_id").limit(k)
