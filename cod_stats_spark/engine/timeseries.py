"""Per-player time-series with rolling + cumulative frames (reference
frontend/generate_lookup_data.sh:707-887).

12 metrics per frame; kdRatio/scorePerMinute smooth with avg, the rest
with sum. Daily series frames: 3/7 rows; per-game series frames: 10/25
rows. Cumulative = unbounded-preceding running aggregate.

Spark shape: ALL frames share one Window partitioning+ordering → a
single shuffle + sort evaluates every frame column in one pass. The
reference runs this query per (player, season) — O(players×seasons)
rescans; here one job computes every player at once and the report
writer fans out files.

Determinism note (SURVEY.md §7.4.5): per-game rows can tie on
date_key; game_id is added as tiebreak so ROWS frames are total-order
deterministic (the reference's output is scan-order-dependent there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cod_stats_spark.engine.rollups import season_assign
from cod_stats_spark.operators.rolling import cumulative_frames, rolling_frames

TS_METRICS = [
    ("matchesPlayed", "sum"),
    ("kills", "sum"),
    ("deaths", "sum"),
    ("gulagKills", "sum"),
    ("gulagDeaths", "sum"),
    ("headshots", "sum"),
    ("damageDone", "sum"),
    ("distanceTraveled", "sum"),
    ("kdRatio", "avg"),
    ("scorePerMinute", "avg"),
    ("monsters", "sum"),
    ("gooseeggs", "sum"),
]


# (order columns, (short, long) rolling frame sizes) of each series. Both
# orders are total: date_key is unique per player-day, game_id breaks ties.
DAILY_SERIES = (["date_key"], (3, 7))
GAME_SERIES = (["date_key", "mode", "kills", "game_id"], (10, 25))


def _framed(df: DataFrame, key_cols: list[str], order_cols: list[str],
            frames: tuple[int, int]) -> DataFrame:
    out = df
    for k in frames:
        out = rolling_frames(out, key_cols, order_cols, TS_METRICS, k - 1, suffix=f"s{k}")
    return cumulative_frames(out, key_cols, order_cols, TS_METRICS, suffix="cume")


def daily_timeseries(daily: DataFrame) -> DataFrame:
    """vw_player_stats_by_day_wz + smoothed_3/smoothed_7/cumulative
    frame columns."""
    return _framed(daily, ["player_id"], *DAILY_SERIES)


def by_game_timeseries(by_game: DataFrame) -> DataFrame:
    """Per-game series + smoothed_10/smoothed_25/cumulative frames."""
    return _framed(by_game, ["player_id"], *GAME_SERIES)


def seasonal_daily_timeseries(daily: DataFrame) -> DataFrame:
    """Per-(player, season) daily series with frames computed WITHIN the
    season window — the reference runs one query per (player, season)
    (O(players×seasons) table rescans); here ``season_assign`` fans days
    into their seasons and ONE window pass frames every (player, season)
    series.

    Boundary quirk preserved: the reference compares the day string
    ('YYYY-MM-DD') lexicographically against the full ISO season bounds,
    so a season's first calendar day sorts BEFORE 'YYYY-MM-DDT...' and
    is excluded — identical here by using the same comparison.
    """
    per_season = season_assign(daily).drop("descr", "sort_order")
    return _framed(per_season, ["player_id", "season_id"], *DAILY_SERIES)


def seasonal_by_game_timeseries(by_game: DataFrame) -> DataFrame:
    """Per-(player, season) per-game series, frames 10/25 + cumulative."""
    per_season = season_assign(by_game).drop("descr", "sort_order")
    return _framed(per_season, ["player_id", "season_id"], *GAME_SERIES)


def with_ratio_series(ts: DataFrame, suffixes: tuple[str, ...] = ("s3", "s7", "cume")) -> DataFrame:
    """Derived ratio series per frame — the browser statResolver math
    (reference frontend/resources/scripts/index.js:19-135) computed
    engine-side so the serving layer stays dumb (SURVEY §3 entry 3).

    Client division rule: deaths=0 treated as 1 (index.js:27-28);
    zero-game windows yield NULL.
    """
    from cod_stats_spark.engine import metrics as M

    out = ts
    for sfx in suffixes:
        kills = F.col(f"kills_sum_{sfx}")
        deaths = F.col(f"deaths_sum_{sfx}")
        games = F.col(f"matchesPlayed_sum_{sfx}")
        dmg = F.col(f"damageDone_sum_{sfx}")
        gw = F.col(f"gulagKills_sum_{sfx}")
        gl = F.col(f"gulagDeaths_sum_{sfx}")
        out = (
            out.withColumn(f"kdRatio_calc_{sfx}", M.kd_client(kills, deaths))
            .withColumn(f"killsPerGame_{sfx}", M.per_game(kills, games))
            .withColumn(f"damagePerGame_{sfx}", M.per_game(dmg, games))
            .withColumn(f"gulagWinPct_{sfx}", M.rate_pct(gw, gw + gl))
            .withColumn(
                f"monsterPct_{sfx}", M.rate_pct(F.col(f"monsters_sum_{sfx}"), games)
            )
            .withColumn(
                f"gooseeggPct_{sfx}", M.rate_pct(F.col(f"gooseeggs_sum_{sfx}"), games)
            )
        )
    return out
