"""The domain analytics layer: match-stats semantics of the reference
engine (SURVEY.md §1–§2), rebuilt as DataFrame transformations.

Facade (see api.py):

    from cod_stats_spark.engine import Engine
    eng = Engine.from_paths(spark, matches_path, players_json)
    eng.stats_wz()                      # gold fact view
    eng.sessions(), eng.session_stats() # session intervals + rollups
    eng.leaderboards()                  # dict of top-k boards
    eng.daily(), eng.by_game()          # rollup views
    eng.daily_timeseries()              # rolling/cumulative frames
    eng.team_breakdowns()               # roster-grouped stats
    eng.sql(query)                      # SQL over the registered views
    eng.write_reports(out_dir)          # JSON document emitter
"""

from cod_stats_spark.engine.api import Engine

__all__ = ["Engine"]
