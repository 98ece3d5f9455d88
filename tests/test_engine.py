"""Domain-engine tests against the reference-shaped fixtures
(FIXTURES.md): normalization truth tables, sessionization edges,
team breakdowns, rollups, leaderboards, reports."""

from __future__ import annotations

import pytest

from tests.conftest import T0


def by_key(rows, *keys):
    return {tuple(r[k] for k in keys): r for r in rows}


@pytest.fixture(scope="module")
def reports(engine, tmp_path_factory):
    """One ``write_reports`` run on the session engine, with the goldens'
    fixed ``now``, shared by the tests that only read its output:
    (out_dir, the returned paths)."""
    from datetime import datetime, timezone

    out = tmp_path_factory.mktemp("reports")
    files = engine.write_reports(str(out), now=datetime(2026, 1, 1, tzinfo=timezone.utc))
    return out, files


class TestNormalization:
    def test_account_merge_and_tracking(self, engine):
        vg = engine.valid_games()
        rows = [r.asDict() for r in vg.collect()]
        # untracked player dropped
        assert all(r["player_uno_id"] != "uno-zz" for r in rows)
        # quality-filtered rows dropped
        gone = {"g501", "g502", "g503"}
        assert all(r["game_id"] not in gone for r in rows)

    def test_gulag_truth_table(self, engine):
        vg = by_key([r.asDict() for r in engine.valid_games().collect()], "game_id")
        assert (vg[("g001",)]["gulagKills"], vg[("g001",)]["gulagDeaths"]) == (1, 0)
        assert (vg[("g002",)]["gulagKills"], vg[("g002",)]["gulagDeaths"]) == (0, 1)
        # stimulus mode zeroed despite gulagKills=5
        assert (vg[("g401",)]["gulagKills"], vg[("g401",)]["gulagDeaths"]) == (0, 0)

    def test_defaults_on_null_stats(self, engine):
        vg = by_key([r.asDict() for r in engine.valid_games().collect()], "game_id")
        r = vg[("g701",)]
        assert r["kills"] == 0 and r["deaths"] == 0 and r["teamPlacement"] == -1
        assert r["headshots"] == 0

    def test_derived_sums(self, engine):
        vg = by_key([r.asDict() for r in engine.valid_games().collect()], "game_id")
        r = vg[("g001",)]
        assert r["objectiveBrDownAll"] == 2  # circles 1+2
        assert r["objectiveDestroyedVehicleAll"] == 1

    def test_date_key_iso(self, engine):
        vg = by_key([r.asDict() for r in engine.valid_games().collect()], "game_id")
        assert vg[("g001",)]["date_key"] == "2020-09-13T12:26:40Z"

    def test_unknown_mode_audits(self, engine):
        wz = [r.asDict() for r in engine.unknown_modes_wz().collect()]
        assert [r["mode"] for r in wz] == ["br_mystery"]
        assert wz[0]["totalGames"] == 1
        mp = [r["mode"] for r in engine.unknown_modes_mp().collect()]
        assert mp == ["mp_tdm"]


class TestStatsWz:
    def test_mode_and_player_filtering(self, engine):
        rows = [r.asDict() for r in engine.stats_wz().collect()]
        gids = {r["game_id"] for r in rows}
        assert "g402" not in gids  # untracked plunder mode
        assert "g403" not in gids  # unknown mode not in dim
        assert "g404" not in gids  # mp
        # account merge: both unos map to display player 'alice'
        alice_games = {r["game_id"] for r in rows if r["player_id"] == "alice"}
        assert {"g001", "g002", "g003"} <= alice_games

    def test_core_players(self, engine):
        core = {r["player_id"] for r in engine.core().collect()}
        assert core == {"alice", "bob", "dave"}


class TestSessions:
    def test_gap_exactly_threshold_starts_new_session(self, engine):
        sessions = [
            r.asDict()
            for r in engine.sessions().filter("player_id = 'alice'").collect()
        ]
        starts = sorted(s["start"] for s in sessions)
        # g004 at T0+3600+7200 (gap EXACTLY 7200 from g003) starts a session
        from datetime import datetime, timezone

        iso = lambda t: datetime.fromtimestamp(t, tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        assert iso(T0 + 3600 + 7200) in starts

    def test_session_end_is_next_start_minus_1s(self, engine):
        sessions = sorted(
            (r.asDict() for r in engine.sessions().filter("player_id = 'bob'").collect()),
            key=lambda s: s["session_number"],
        )
        for a, b in zip(sessions, sessions[1:]):
            import datetime as dt

            end = dt.datetime.strptime(a["end"], "%Y-%m-%dT%H:%M:%SZ")
            start = dt.datetime.strptime(b["start"], "%Y-%m-%dT%H:%M:%SZ")
            assert (start - end).total_seconds() == 1
        # open session sentinel: epoch 9999999999 - 1
        assert sessions[-1]["end"] == "2286-11-20T17:46:38Z"

    def test_session_rollup_counts(self, engine):
        stats = by_key(
            [r.asDict() for r in engine.session_stats().collect()], "session_id"
        )
        # alice session 1: g001 g002 g003 g201 (same window) → find by start
        alice = [
            s for k, s in stats.items() if s["player_id"] == "alice" and s["session_number"] == 1
        ][0]
        assert alice["numGames"] == 4
        assert alice["wins"] == 1  # g001 placement=1
        assert alice["maxKills"] == 9


class TestTeams:
    def test_full_team_breakdowns(self, engine):
        rows = [r.asDict() for r in engine.team_breakdowns().collect()]
        assert len(rows) == 1  # only alice,bob duos played together twice
        r = rows[0]
        assert r["category"] == "wz_duos"
        assert r["player_ids"] == "alice,bob"
        assert r["numGames"] == 2
        assert r["numWins"] == 1  # g202 placement=1
        assert r["numPlayers"] == 2

    def test_roster_is_canonical_sorted(self, engine):
        fgs = [r.asDict() for r in engine.full_game_stats().collect()]
        for r in fgs:
            parts = r["player_ids"].split(",")
            assert parts == sorted(parts)


class TestRollups:
    def test_daily_avg_of_ratios(self, engine):
        daily = [
            r.asDict()
            for r in engine.daily().filter("player_id = 'bob'").collect()
        ]
        d0 = [d for d in daily if d["date_key"] == "2020-09-13"][0]
        # bob day-1 games: g101-g104 (kdRatio 2.0 each) + g201 g202... g201 same day
        assert abs(d0["kdRatio"] - 2.0) < 1e-9  # avg of identical ratios

    def test_monsters_and_gooseeggs(self, engine):
        daily = by_key(
            [r.asDict() for r in engine.daily().collect()], "player_id", "date_key"
        )
        alice_d0 = daily[("alice", "2020-09-13")]
        assert alice_d0["monsters"] == 1  # g001 kills=9
        assert alice_d0["gooseeggs"] == 1  # g002 kills=0

    def test_season_rollup_assigns_lifetime_and_season(self, engine):
        rows = [
            r.asDict()
            for r in engine.season_rollup().filter("player_id = 'alice'").collect()
        ]
        ids = {r["season_id"] for r in rows}
        assert "lifetime" in ids and "season05" in ids
        life = [r for r in rows if r["season_id"] == "lifetime"][0]
        s05 = [r for r in rows if r["season_id"] == "season05"][0]
        assert life["matches"] == s05["matches"]  # all fixture games in season05

    def test_by_game_unknown_mode_label(self, engine):
        # all stats_wz modes are known; craft check via modes join fallback
        rows = [r.asDict() for r in engine.by_game().collect()]
        assert all(not r["mode"].startswith("Unknown") for r in rows)
        assert any(r["mode"] == "Duos" for r in rows)


def boards_general(stats):
    """Reference for ``leaderboards.boards``: the two windows it replaced.
    The by-game boards are ranked on (lv DESC, dv DESC, date_key, game_id,
    player_id), each metric in the field its column type picks; the
    streaks ∪ counts on (length or count DESC, date_key, player_id)."""
    from pyspark.sql import functions as F

    from cod_stats_spark.engine import leaderboards as lb
    from cod_stats_spark.operators.topk import top_k_per_group

    core = stats.filter("is_core")
    integral = {c for c, t in stats.dtypes if t in {"tinyint", "smallint", "int", "bigint"}}
    fields = {
        b: {"lv": (F.col(c) if c in integral else F.lit(None)).cast("long"),
            "dv": (F.lit(None) if c in integral else F.col(c)).cast("double")}
        for b, c in lb.BY_GAME_METRICS.items()
    }
    by_game = top_k_per_group(
        lb._per_board(core, lb.BY_GAME_COLUMNS, fields), ["board"],
        [("lv", True), ("dv", True), ("date_key", False), ("game_id", False), ("player_id", False)],
        lb.LEADERBOARD_K, rank_col="rank", keep_rank=True,
    ).withColumn("sv", F.when(F.col("board") == "longestdistance", lb._km(F.col("dv"))))
    streaks = lb._streaks(core, {
        "consecutive_gulag_kills": "gulagKills", "consecutive_gulag_deaths": "gulagDeaths",
    })
    counts = lb._counts(core, {
        "most_wins": F.col("teamPlacement") == 1,
        "most_lastplaces": F.col("teamPlacement") == F.col("numberOfTeams"),
    })
    lifetime = top_k_per_group(
        streaks.unionByName(counts, allowMissingColumns=True), ["board"],
        [("lv", True), ("date_key", False), ("player_id", False)],
        lb.LEADERBOARD_K, rank_col="rank", keep_rank=True,
    )
    return by_game.unionByName(lifetime, allowMissingColumns=True)


def tied_stats(spark):
    """A ``stats_wz``-shaped frame full of ties: four core players (and one
    non-core) play six games each on the same six dates, ``a``/``b`` in
    shared games ``g<j>`` and ``c``/``d`` in ``h<j>``; every metric takes
    one or two values, so more than ``LEADERBOARD_K`` rows tie on most
    boards. Gulag runs (W kill, L death, - none): ``a`` WWLWW-, ``b``
    WW-LL-, ``c`` LWWLWW, ``d`` none, ``e`` WWWWWW: equal streak lengths
    from different start dates and from the same one. ``a``, ``b`` and
    ``c`` win two games each, ``d`` one; ``a`` and ``c`` finish last once."""
    gulag = {"a": "WWLWW-", "b": "WW-LL-", "c": "LWWLWW", "d": "------", "e": "WWWWWW"}
    wins = {"a": (0, 3), "b": (1, 4), "c": (0, 5), "d": (2,), "e": (0, 1, 2)}
    last = {"a": (5,), "c": (1,)}
    rows = []
    for p, runs in gulag.items():
        for j, g in enumerate(runs):
            placement = 1 if j in wins[p] else 50 if j in last.get(p, ()) else 7
            rows.append((
                p != "e", p, f"2020-09-{1 + j:02d}T10:00:00Z", f"{'g' if p in 'abe' else 'h'}{j}",
                "br_brquads", 5 if j % 3 else 7, j % 2, 1.5, 100, 100, 2000.0 if j % 2 else 1000.0,
                2500.0, 1, 0, j % 2, 2, 0, int(g == "W"), int(g == "L"), placement, 50,
            ))
    return spark.createDataFrame(rows, (
        "is_core boolean, player_id string, date_key string, game_id string, "
        "game_mode_sub string, kills long, deaths long, kdRatio double, damageDone long, "
        "damageTaken long, score double, distanceTraveled double, headshots long, "
        "objectiveBrCacheOpen long, objectiveReviver long, objectiveBrDownAll long, "
        "objectiveDestroyedVehicleAll long, gulagKills long, gulagDeaths long, "
        "teamPlacement long, numberOfTeams long"
    ))


class TestLeaderboards:
    def test_core_only_and_order(self, engine):
        boards = engine.leaderboards()
        kills = [r.asDict() for r in boards["mostkills"].collect()]
        players = {r["player_id"] for r in kills}
        assert "carol" not in players  # non-core excluded
        vals = [r["value"] for r in kills]
        assert vals == sorted(vals, reverse=True)
        assert kills[0]["value"] == 9  # alice g001

    def test_gulag_streaks(self, engine):
        wins = [r.asDict() for r in engine.gulag_streaks(True).collect()]
        bob = [r for r in wins if r["player_id"] == "bob"]
        assert bob[0]["value"] == 3  # W W W
        losses = [r.asDict() for r in engine.gulag_streaks(False).collect()]
        bob_l = [r for r in losses if r["player_id"] == "bob"]
        assert bob_l[0]["value"] == 1

    def test_wins_and_last_places(self, engine):
        wins = by_key([r.asDict() for r in engine.most_wins().collect()], "player_id")
        assert wins[("alice",)]["value"] == 2  # g001 + g202
        lp = by_key(
            [r.asDict() for r in engine.most_last_places().collect()], "player_id"
        )
        assert lp[("alice",)]["value"] == 1  # g003

    @staticmethod
    def _same_as_general(stats):
        from collections import Counter

        from cod_stats_spark.engine import leaderboards as lb

        cols = ["board", "rank", *lb.BY_GAME_COLUMNS, "until_date_key", "lv", "dv", "sv"]
        got = [tuple(r) for r in lb.boards(stats).select(cols).collect()]
        want = [tuple(r) for r in boards_general(stats).select(cols).collect()]
        assert Counter(got) == Counter(want)
        return got

    def test_one_window_matches_general_on_fixture(self, engine):
        """The one ranked table equals the two windows it replaced, row
        for row and rank for rank."""
        assert self._same_as_general(engine.stats_wz())

    def test_one_window_matches_general_on_ties(self, spark):
        """The same on a frame where most boards tie past the cut: equal
        by-game values across players and dates, equal streak lengths,
        equal win counts. Every board keeps exactly LEADERBOARD_K rows
        where it has that many, and non-core rows never rank."""
        from collections import Counter

        from cod_stats_spark.engine import leaderboards as lb

        rows = self._same_as_general(tied_stats(spark))
        sizes = Counter(r[0] for r in rows)
        assert all(sizes[b] == lb.LEADERBOARD_K for b in lb.BY_GAME_METRICS)
        assert sizes["consecutive_gulag_kills"] == 5  # a 2+2, b 2, c 2+2
        assert sizes["most_wins"] == 4
        assert "e" not in {r[5] for r in rows}

    def test_api_board_is_a_top_k_over_the_cached_table(self, engine):
        """Every API board reads the persisted board table through a
        per-partition top-k: TakeOrderedAndProject over InMemoryTableScan
        and no Exchange above the cache (no re-ranking, no range sort)."""
        frames = [*engine.leaderboards().values(), engine.gulag_streaks(True),
                  engine.gulag_streaks(False), engine.most_wins(), engine.most_last_places()]
        for df in frames:
            plan = df._jdf.queryExecution().executedPlan().toString()
            top = plan.split("InMemoryRelation")[0]  # the plan above the cached table
            assert "TakeOrderedAndProject" in top and "InMemoryTableScan" in top, plan
            assert "Exchange" not in top, plan

    def test_api_boards_equal_documents(self, engine, reports):
        """Every API board has the rows, values, value types and order of
        its board in the report documents."""
        import json as js

        out, _ = reports
        bygame = js.loads((out / "leaderboard_bygame.json").read_text())
        lifetime = js.loads((out / "leaderboard_lifetime.json").read_text())
        api = {b: df.collect() for b, df in engine.leaderboards().items()}
        assert set(api) == set(bygame)
        pairs = [(api[b], bygame[b]) for b in bygame] + [
            (engine.gulag_streaks(True).collect(), lifetime["consecutive_gulag_kills"]),
            (engine.gulag_streaks(False).collect(), lifetime["consecutive_gulag_deaths"]),
            (engine.most_wins().collect(), lifetime["most_wins"]),
            (engine.most_last_places().collect(), lifetime["most_lastplaces"]),
        ]
        for rows, doc in pairs:
            got = [r.asDict() for r in rows]
            assert doc and got == doc
            assert [type(r["value"]) for r in got] == [type(r["value"]) for r in doc]
        assert all(type(r["value"]) is int for r in bygame["mostkills"])
        assert all(type(r["value"]) is float for r in bygame["bestkd"])

    def test_core_follows_display_player(self, spark, fixture_dirs, tmp_path):
        """A display player is core when ANY of its config entries is
        (the reference's vw_core_players): a second, game-less ``carol``
        entry with isCore puts carol's uno-c1 games on the boards, and every
        document equals the one built from a config that marks carol's
        own entry core."""
        import json as js
        from datetime import datetime, timezone

        from cod_stats_spark.engine import Engine
        from tests.conftest import PLAYERS_CONFIG

        mdir, _ = fixture_dirs
        second = PLAYERS_CONFIG + [
            {"name": "Carol", "isCore": True, "accounts": [{"unoId": "uno-c9"}]},
        ]
        flagged = [dict(p, isCore=True) if p["name"] == "Carol" else p for p in PLAYERS_CONFIG]
        docs = []
        for name, config in (("second", second), ("flagged", flagged)):
            pj = tmp_path / f"{name}.json"
            pj.write_text(js.dumps(config))
            out = tmp_path / name
            eng = Engine.from_paths(spark, f"{mdir}/*.json", str(pj))
            eng.write_reports(str(out), now=datetime(2026, 1, 1, tzinfo=timezone.utc))
            docs.append({
                str(p.relative_to(out)): p.read_bytes() for p in out.rglob("*") if p.is_file()
            })
        assert docs[0] == docs[1]
        bygame = js.loads(docs[0]["leaderboard_bygame.json"])
        assert any(r["player_id"] == "carol" for rows in bygame.values() for r in rows)


class TestTimeseries:
    def test_rolling_and_cumulative(self, engine):
        ts = [
            r.asDict()
            for r in engine.daily_timeseries().filter("player_id = 'bob'").collect()
        ]
        ts.sort(key=lambda r: r["date_key"])
        # cumulative matches monotonically increases to total
        cum = [r["matchesPlayed_sum_cume"] for r in ts]
        assert cum == sorted(cum)
        assert cum[-1] == sum(r["matchesPlayed"] for r in ts)
        # 3-row rolling sum over first row equals raw
        assert ts[0]["matchesPlayed_sum_s3"] == ts[0]["matchesPlayed"]


class TestReports:
    def test_write_reports(self, reports):
        import json as js

        out, files = reports
        names = {f.split(str(out) + "/")[1] for f in files}
        assert {
            "leaderboard_bygame.json",
            "leaderboard_lifetime.json",
            "team_leaderboards.json",
            "recent_matches.json",
            "recent_sessions.json",
            "seasons.json",
            "meta.json",
        } <= names
        doc = js.loads((out / "leaderboard_bygame.json").read_text())
        assert set(doc) == {
            "mostkills", "mostdeaths", "bestkd", "mostdamage", "mostdamagetaken",
            "highestscore", "longestdistance", "mostheadshots", "mostcaches",
            "mostrevives", "mostdowns", "mostvehicles",
        }
        tsdoc = js.loads((out / "players/alice_lifetime_time_wz.json").read_text())
        assert tsdoc and "stats" in tsdoc[0] and "cumalative" in tsdoc[0]["stats"]
        # the returned list is exactly the files on disk, each listed once
        on_disk = {str(p) for p in out.rglob("*") if p.is_file()}
        assert len(files) == len(set(files))
        assert set(files) == on_disk

    def test_unsafe_player_id_raises(self, spark, fixture_dirs, tmp_path):
        """Player ids come from config names and name the player files:
        one that would leave ``out_dir`` makes write_reports raise, and
        nothing is written outside ``out_dir``."""
        import json as js

        import pytest

        from cod_stats_spark.engine import Engine
        from tests.conftest import PLAYERS_CONFIG

        mdir, _ = fixture_dirs
        pj = tmp_path / "players.json"
        pj.write_text(js.dumps(PLAYERS_CONFIG + [
            {"name": "../../Escaped", "accounts": [{"unoId": "uno-zz"}]},
        ]))
        out = tmp_path / "site" / "data"
        eng = Engine.from_paths(spark, f"{mdir}/*.json", str(pj))
        with pytest.raises(ValueError, match=r"player id '\.\./\.\./escaped'"):
            eng.write_reports(str(out))
        outside = [
            p for p in tmp_path.rglob("*")
            if p.is_file() and p != pj and out not in p.parents
        ]
        assert outside == []

    def test_recent_sessions_in_player_order(self, spark, tmp_path):
        """``recent_sessions.json`` lists players in player_id order even
        when the session window's shuffle is not coalesced to one
        partition (with 4 partitions, 8 players come back in hash order)."""
        import json as js

        from cod_stats_spark.engine import Engine
        from tests.conftest import T0, _match

        mdir = tmp_path / "matches"
        mdir.mkdir()
        names = [f"p{i:02d}" for i in range(8)]
        for i, name in enumerate(names):
            uno = f"uno-{name}"
            (mdir / f"match_g{i}_{uno}.json").write_text(js.dumps(_match(f"g{i}", uno, T0 + i)))
        pj = tmp_path / "players.json"
        pj.write_text(js.dumps([{"name": n, "accounts": [{"unoId": f"uno-{n}"}]} for n in names]))
        out = tmp_path / "site"
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        before = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            Engine.from_paths(spark, f"{mdir}/*.json", str(pj)).write_reports(str(out))
        finally:
            spark.conf.set(key, before)
        doc = js.loads((out / "recent_sessions.json").read_text())
        assert [r["player_id"] for r in doc] == names

    def test_distance_board_km_formatting(self, reports):
        import json as js

        out, _ = reports
        doc = js.loads((out / "leaderboard_bygame.json").read_text())
        # reference generate_lookup_data.sh:215:
        # cast((distanceTraveled/1000) as int) || ' km'  (fixture: 2500 m)
        values = {r["value"] for r in doc["longestdistance"]}
        assert values == {"2 km"}


class TestDims:
    def test_dims_are_jvm_local_relations(self, spark, engine):
        """The static dims and the players dim plan as LocalTableScan: no
        Python RDD scan and no re-read of the players JSON, so joining a
        dim runs no Python worker task and no file scan."""
        from cod_stats_spark.engine.dims import (
            GAME_MODES, GAME_MODES_SCHEMA, SEASONS, SEASONS_SCHEMA, game_modes_df, seasons_df,
        )
        from cod_stats_spark.engine.ingest import PLAYERS_SCHEMA
        from tests.conftest import PLAYERS_CONFIG

        players = [
            (a["unoId"], p["name"].lower(), p.get("isCore", False))
            for p in PLAYERS_CONFIG
            for a in p["accounts"]
        ]
        for df, rows, ddl in (
            (game_modes_df(spark), GAME_MODES, GAME_MODES_SCHEMA),
            (seasons_df(spark), SEASONS, SEASONS_SCHEMA),
            (engine.players, players, PLAYERS_SCHEMA),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan
            assert "ExistingRDD" not in plan and "Python" not in plan
            assert "FileScan" not in plan
            assert [tuple(r) for r in df.collect()] == rows
            assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
                tuple(c.split()) for c in ddl.split(",")
            ]


class TestReportGoldens:
    def test_reports_match_checked_in_goldens(self, reports):
        """Byte-parity serving contract: every emitted document must be
        byte-identical to tests/goldens/reports/ (the reference serves
        exact JSON — generate_lookup_data.sh:93-512). Regenerate
        intentionally with tools/regen_goldens.py after a semantic
        change."""
        import os

        golden_root = os.path.join(os.path.dirname(__file__), "goldens", "reports")
        assert os.path.isdir(golden_root), "run tools/regen_goldens.py first"
        out, _ = reports
        golden_files = {
            os.path.relpath(os.path.join(d, f), golden_root)
            for d, _, fs in os.walk(golden_root)
            for f in fs
        }
        emitted_files = {
            os.path.relpath(os.path.join(d, f), out)
            for d, _, fs in os.walk(out)
            for f in fs
        }
        assert emitted_files == golden_files
        for rel in sorted(golden_files):
            got = (out / rel).read_bytes()
            want = open(os.path.join(golden_root, rel), "rb").read()
            assert got == want, f"byte drift vs golden in {rel}"

    def test_goldens_without_shipped_package(self, fixture_dirs, tmp_path):
        """write_reports runs no Python code on the workers, so it needs no
        package there either: in a fresh application whose worker Python
        is a program that exits non-zero at once, with ship_package made
        to fail, the documents still match the goldens byte for byte."""
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        golden_root = os.path.join(repo, "tests", "goldens", "reports")
        mdir, pj = fixture_dirs
        out = tmp_path / "reports"
        no_python = tmp_path / "no-python"
        no_python.write_text("#!/bin/sh\nexit 1\n")
        no_python.chmod(0o755)
        script = f"""
import sys
from datetime import datetime, timezone
sys.path.insert(0, {repo!r})
from cod_stats_spark import session

def refuse(spark):
    raise AssertionError("ship_package called")

session.ship_package = refuse
spark = session.get_spark("no-ship", cpus=2)
try:
    spark.sparkContext.parallelize([0], 1).map(lambda x: x).collect()
except Exception:
    pass
else:
    raise AssertionError("a Python task ran on a worker")
from cod_stats_spark.engine import Engine
eng = Engine.from_paths(spark, {mdir + "/*.json"!r}, {pj!r})
eng.write_reports({str(out)!r}, now=datetime(2026, 1, 1, tzinfo=timezone.utc))
spark.stop()
"""
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=str(no_python))
        proc = subprocess.run(
            [sys.executable, "-c", script], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        golden = {
            os.path.relpath(os.path.join(d, f), golden_root): os.path.join(d, f)
            for d, _, fs in os.walk(golden_root)
            for f in fs
        }
        emitted = {
            os.path.relpath(os.path.join(d, f), out) for d, _, fs in os.walk(out) for f in fs
        }
        assert emitted == set(golden)
        for rel, path in golden.items():
            assert (out / rel).read_bytes() == open(path, "rb").read(), rel


class TestSqlApi:
    def test_register_views_and_sql(self, engine):
        out = engine.sql(
            "SELECT player_id, count(*) AS n FROM stats_wz GROUP BY player_id ORDER BY player_id"
        ).collect()
        assert {r["player_id"] for r in out} >= {"alice", "bob", "carol"}
        # the reference's view-stack layering works through SQL too
        sessions = engine.sql(
            "SELECT count(*) AS n FROM player_sessions_with_stats WHERE player_id = 'bob'"
        ).first()
        assert sessions["n"] >= 2

    def test_views_built_once_per_engine(self, engine, monkeypatch):
        """Once sql() has built the view frames, another sql() only
        registers them again, calling no view builder."""
        query = "SELECT count(*) AS n FROM player_sessions_with_stats"
        first = engine.sql(query).collect()
        calls = []
        for method in set(engine.VIEW_BUILDERS.values()):
            build = getattr(engine, method)
            monkeypatch.setattr(
                engine, method, lambda build=build, method=method: calls.append(method) or build()
            )
        assert engine.sql(query).collect() == first
        assert calls == []


class TestSeasonalReports:
    def test_per_season_files(self, reports):
        import json as js

        out, _ = reports
        # per-(player, season) series files exist for season05 (fixture epoch)
        t = out / "players/alice_season05_time_wz.json"
        g = out / "players/alice_season05_game_wz.json"
        assert t.exists() and g.exists()
        tdoc = js.loads(t.read_text())
        ldoc = js.loads((out / "players/alice_lifetime_time_wz.json").read_text())
        assert tdoc and ldoc
        assert "smoothed_10" in js.loads(g.read_text())[0]["stats"]
        # player season-stats rollup file: season rows ordered by sort_order
        ps = js.loads((out / "players/alice_player_stats.json").read_text())
        assert ps[0]["season_id"] == "lifetime"
        assert any(r["season_id"] == "season05" for r in ps)


def season_assign_general(stats):
    """Reference implementation via the generic interval join (used to
    cross-check the fast path in tests)."""
    from cod_stats_spark.engine.dims import seasons_df
    from cod_stats_spark.operators.interval_join import interval_join

    seasons = seasons_df(stats.sparkSession).withColumnRenamed("id", "season_id")
    return interval_join(stats, seasons, "date_key", "start", "end")


class TestSeasonAssign:
    """``rollups.season_assign`` against the interval-join reference:
    the same rows, each fanned out to the same seasons."""

    @staticmethod
    def _same_as_interval_join(df):
        from collections import Counter

        from cod_stats_spark.engine import rollups

        cols = df.columns + ["season_id", "descr", "sort_order"]
        got = rollups.season_assign(df)
        assert got.columns == cols
        got_rows = [tuple(r) for r in got.collect()]
        want_rows = [tuple(r) for r in season_assign_general(df).select(*cols).collect()]
        assert Counter(got_rows) == Counter(want_rows)
        return got_rows

    def test_matches_general_interval_join(self, engine):
        assert self._same_as_interval_join(engine.stats_wz())

    def test_daily_day_strings(self, engine):
        assert self._same_as_interval_join(engine.daily())

    def test_boundary_rows(self, spark):
        from cod_stats_spark.engine.dims import SEASONS

        s05 = next(s for s in SEASONS if s[0] == "season05")
        keys = ["2020-06-11", s05[2], s05[3], "1970-01-01T00:00:00Z"]
        df = spark.createDataFrame([(k,) for k in keys], "date_key string")
        got = {}
        for r in self._same_as_interval_join(df):
            got.setdefault(r[0], set()).add(r[1])
        # a season's first calendar day sorts before its 'YYYY-MM-DDT...' start
        assert got["2020-06-11"] == {"season03", "lifetime"}
        assert got[s05[2]] == got[s05[3]] == {"season05", "lifetime"}
        assert "1970-01-01T00:00:00Z" not in got  # before even 'lifetime'

    def test_overlapping_seasons(self, spark, monkeypatch):
        from cod_stats_spark.engine import dims

        monkeypatch.setattr(dims, "SEASONS", [
            dims.SEASONS[0],
            ("a", "A", "2020-01-01T00:00:00Z", "2020-12-31T23:59:59Z", 3),
            ("b", "B", "2020-06-01T00:00:00Z", "2021-06-30T23:59:59Z", 2),
        ])
        df = spark.createDataFrame(
            [("2020-03-01T00:00:00Z",), ("2020-07-01T00:00:00Z",), ("2021-03-01T00:00:00Z",)],
            "date_key string",
        )
        got = {(r[0], r[1]) for r in self._same_as_interval_join(df)}
        assert ("2020-07-01T00:00:00Z", "a") in got and ("2020-07-01T00:00:00Z", "b") in got
        assert len(got) == 7


def placement_by_category_general(stats):
    """Reference placement pivot: season fan-out ⋈ game-modes dim, one
    aggregate per (player, season, category), pivoted to columns."""
    from pyspark.sql import functions as F

    from cod_stats_spark.engine import rollups
    from cod_stats_spark.engine.dims import game_modes_df

    modes = game_modes_df(stats.sparkSession)
    cats = ["wz_solo", "wz_duos", "wz_trios", "wz_quads"]
    per_cat = (
        rollups.season_assign(stats)
        .join(F.broadcast(modes.select(F.col("id").alias("game_mode_sub"), "category")),
              "game_mode_sub")
        .filter(F.col("category").isin(cats))
        .groupBy("player_id", "season_id", "category")
        .agg(F.round(
            F.lit(100) * F.sum("teamPlacement") / F.sum("numberOfTeams").cast("double"), 2,
        ).alias("avgPlacement"))
    )
    pivoted = per_cat.groupBy("player_id", "season_id").pivot("category", cats).agg(
        F.first("avgPlacement")
    )
    names = ["avgPlacementSolo", "avgPlacementDuos", "avgPlacementTrios", "avgPlacementQuads"]
    return pivoted.select("player_id", "season_id", *[
        F.coalesce(F.col(c).cast("string"), F.lit("N/A")).alias(n) for c, n in zip(cats, names)
    ])


def player_season_stats_general(stats):
    """Reference season stats: the season rollup LEFT JOIN the placement
    pivot USING (player_id, season_id), the reference's J6 composite-key
    join (generate_lookup_data.sh:687-698)."""
    from pyspark.sql import functions as F

    from cod_stats_spark.engine import metrics as M, rollups

    agg = rollups.season_assign(stats).groupBy(
        "player_id", "season_id", "descr", "sort_order"
    ).agg(
        F.count(F.lit(1)).alias("matches"),
        F.sum("damageDone").alias("damage"),
        F.sum("kills").alias("kills"),
        F.sum("deaths").alias("deaths"),
        F.sum("gulagKills").alias("gulagWins"),
        F.sum("gulagDeaths").alias("gulagLosses"),
    )
    rollup = agg.select(
        "*",
        F.round(M.kd_sql(F.col("kills"), F.col("deaths")), 2).alias("kdRatio"),
        F.round(F.col("kills") / F.col("matches").cast("double"), 2).alias("killsPerGame"),
        F.round(F.col("damage") / F.col("matches").cast("double"), 2).alias("damagePerGame"),
        M.damage_per_kill_int(F.col("damage"), F.col("kills")).alias("damagePerKill"),
        M.gulag_win_pct_int(F.col("gulagWins"), F.col("gulagLosses")).alias("gulagWinPct"),
    )
    return rollup.join(placement_by_category_general(stats), ["player_id", "season_id"], "left")


def _plan_node_names(plan):
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_node_names(kids.apply(i))
    ]


class TestPlayerSeasonStats:
    """``rollups.player_season_stats`` (one conditional aggregate)
    against the rollup ⋈ pivot reference: whole rows, with multiplicity,
    in the same column order."""

    @staticmethod
    def _same_as_general(df):
        from collections import Counter

        from cod_stats_spark.engine import rollups

        got = rollups.player_season_stats(df)
        want = player_season_stats_general(df)
        assert got.columns == want.columns
        rows = got.collect()
        assert Counter(map(tuple, rows)) == Counter(map(tuple, want.collect()))
        return rows

    def test_matches_general_on_fixture(self, engine):
        assert self._same_as_general(engine.stats_wz())

    def test_placement_pivot_matches_general(self, engine):
        from collections import Counter

        got = engine.placement_pivot()
        want = placement_by_category_general(engine.stats_wz())
        assert got.columns == want.columns
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))

    def test_null_versus_na(self, spark):
        """No game in any of the four categories → four NULLs (the LEFT
        JOIN finds no pivot row); a category with no games, or with a
        numberOfTeams sum of 0, → 'N/A'."""
        rows = [
            # season03: Mini Royale only
            ("2020-05-01T10:00:00Z", "br_mini_miniroyale", 3, 40),
            ("2020-05-02T10:00:00Z", "br_mini_miniroyale", 5, 40),
            # season04: solo only
            ("2020-07-01T10:00:00Z", "br_brsolo", 10, 100),
            ("2020-07-02T10:00:00Z", "br_87", 30, 150),
            # season05: duos with numberOfTeams 0, trios normal
            ("2020-09-01T10:00:00Z", "br_brduos", 4, 0),
            ("2020-09-02T10:00:00Z", "br_brtrios", 7, 50),
        ]
        df = spark.createDataFrame(
            [("p", d, m, tp, nt, 100, 2, 1, 1, 0) for d, m, tp, nt in rows],
            "player_id string, date_key string, game_mode_sub string, teamPlacement long, "
            "numberOfTeams long, damageDone long, kills long, deaths long, "
            "gulagKills long, gulagDeaths long",
        )
        cols = ["avgPlacementSolo", "avgPlacementDuos", "avgPlacementTrios", "avgPlacementQuads"]
        placements = {r.season_id: tuple(r[c] for c in cols) for r in self._same_as_general(df)}
        assert placements == {
            "season03": (None, None, None, None),
            "season04": ("16.0", "N/A", "N/A", "N/A"),
            "season05": ("N/A", "N/A", "14.0", "N/A"),
            "lifetime": ("16.0", "N/A", "14.0", "N/A"),
        }

    def test_one_aggregate_no_join(self, engine):
        """One season fan-out and no join: the placement columns are
        conditional sums in the rollup's own aggregate."""
        plan = engine.player_season_stats()._jdf.queryExecution().optimizedPlan()
        names = _plan_node_names(plan)
        assert "Join" not in names
        assert names.count("Generate") == 1
        assert names.count("Aggregate") == 1


def by_game_mode_general(stats):
    """Reference display mode: a LEFT JOIN onto the game-modes dim,
    'Unknown &lt;id&gt;' where no dim row matches."""
    from pyspark.sql import functions as F

    from cod_stats_spark.engine.dims import game_modes_df

    modes = game_modes_df(stats.sparkSession)
    joined = stats.join(F.broadcast(modes), stats["game_mode_sub"] == modes["id"], "left")
    return joined.select("game_id", "player_id", F.coalesce(
        F.col("display_name"), F.concat(F.lit("Unknown &lt;"), F.col("game_mode_sub"), F.lit("&gt;"))
    ).alias("mode"))


class TestByGameMode:
    def test_mode_lookup_matches_join(self, engine):
        """``by_game_stats`` looks the display name up in a map, not a
        join: the same modes as the join reference, fallback included."""
        from collections import Counter

        from pyspark.sql import functions as F

        from cod_stats_spark.engine import rollups

        stats = engine.stats_wz()
        df = stats.unionByName(stats.limit(1).withColumn("game_mode_sub", F.lit("br_mystery")))
        got = rollups.by_game_stats(df).select("game_id", "player_id", "mode").collect()
        assert Counter(map(tuple, got)) == Counter(map(tuple, by_game_mode_general(df).collect()))
        assert "Unknown &lt;br_mystery&gt;" in {r.mode for r in got}


class TestOperatorFence:
    def test_engine_imports_only_pipeline_operators(self):
        """The pipeline uses four operator modules; the rest of
        ``operators/`` serves the bench queries and stays out of it."""
        import ast
        import glob
        import os

        engine_dir = os.path.join(os.path.dirname(__file__), "..", "cod_stats_spark", "engine")
        pkg = "cod_stats_spark.operators"
        used = set()
        for path in glob.glob(os.path.join(engine_dir, "*.py")):
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.module:
                    names = [node.module]
                    if node.module == pkg:
                        names = [f"{pkg}.{a.name}" for a in node.names]
                else:
                    continue
                used |= {n[len(pkg) + 1:].split(".")[0] for n in names if n.startswith(pkg + ".")}
        assert used == {"sessionize", "rolling", "topk", "streaks"}


class TestMetrics:
    def test_division_guard_conventions(self, spark):
        import pyspark.sql.functions as F

        from cod_stats_spark.engine import metrics as M

        df = spark.createDataFrame(
            [(10, 0, 2000, 0, 3, 1), (10, 5, 2000, 10, 0, 0)],
            "kills long, deaths long, damage long, games long, gw long, gl long",
        )
        out = df.select(
            M.kd_sql(F.col("kills"), F.col("deaths")).alias("kd_sql"),
            M.kd_client(F.col("kills"), F.col("deaths")).alias("kd_client"),
            M.per_game(F.col("damage"), F.col("games")).alias("dpg"),
            M.damage_per_kill_int(F.col("damage"), F.col("kills")).alias("dpk"),
            M.gulag_win_pct_int(F.col("gw"), F.col("gl")).alias("gpct"),
        ).collect()
        r0, r1 = out
        assert r0["kd_sql"] is None            # SQL: /0 -> NULL
        assert r0["kd_client"] == 10.0         # client: deaths=0 treated as 1
        assert r1["kd_sql"] == 2.0 and r1["kd_client"] == 2.0
        assert r0["dpg"] is None and r1["dpg"] == 200.0
        assert r0["dpk"] == 200 and r1["dpk"] == 200   # integer division
        assert r0["gpct"] == 75 and r1["gpct"] is None


class TestTestdataViews:
    def test_register_views_sql(self, spark):
        import os

        import pytest

        if not os.path.isdir("/root/testdata/sf0.001"):
            pytest.skip("driver testdata not present")
        from cod_stats_spark.tables import register_views

        register_views(spark, "/root/testdata/sf0.001")
        n = spark.sql(
            "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        ).first()["n"]
        assert n > 0


class TestRatioSeries:
    def test_client_resolver_math(self, engine):
        from cod_stats_spark.engine.timeseries import with_ratio_series

        ts = with_ratio_series(engine.daily_timeseries(), suffixes=("cume",))
        rows = sorted(
            (r.asDict() for r in ts.filter("player_id = 'alice'").collect()),
            key=lambda r: r["date_key"],
        )
        last = rows[-1]
        # ratio-of-sums over the cumulative frame, client deaths-guard
        exp_kd = last["kills_sum_cume"] / max(last["deaths_sum_cume"], 1)
        assert abs(last["kdRatio_calc_cume"] - exp_kd) < 1e-9
        assert abs(
            last["killsPerGame_cume"]
            - last["kills_sum_cume"] / last["matchesPlayed_sum_cume"]
        ) < 1e-9
        gw, gl = last["gulagKills_sum_cume"], last["gulagDeaths_sum_cume"]
        assert abs(last["gulagWinPct_cume"] - 100.0 * gw / (gw + gl)) < 1e-9
