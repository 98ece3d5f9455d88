"""Silver materialization layout + incremental ingest semantics."""

from __future__ import annotations

import pyspark.sql.functions as F


class TestWriteSilver:
    def test_partitioned_by_day_prunes(self, engine, tmp_path):
        from cod_stats_spark.engine.api import write_silver

        path = str(tmp_path / "silver")
        write_silver(engine.valid_games(), path, partition_by_day=True)
        spark = engine.spark
        back = spark.read.parquet(path)
        assert "dt" in back.columns
        assert back.count() == engine.valid_games().count()
        # partition pruning visible in the plan
        plan = back.filter(F.col("dt") == "2020-09-13")._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan or back.filter(F.col("dt") == "2020-09-13").count() > 0


class TestIncrementalIngest:
    def test_anti_join_ledger(self, spark, fixture_dirs):
        from cod_stats_spark.engine.ingest import incremental_new_rows, read_matches

        mdir, _ = fixture_dirs
        bronze = read_matches(spark, f"{mdir}/*.json")
        # first load: everything new
        first = incremental_new_rows(bronze, None)
        n = first.count()
        assert n > 0
        # second load against the full ledger: nothing new
        ledger = first.select("game_id", "player_uno_id")
        assert incremental_new_rows(bronze, ledger).count() == 0
        # partial ledger: only the missing keys come back
        partial = ledger.limit(5)
        assert incremental_new_rows(bronze, partial).count() == n - 5

    def test_duplicate_files_dedup(self, spark, fixture_dirs, tmp_path):
        import json as js

        from cod_stats_spark.engine.ingest import incremental_new_rows, read_matches

        mdir, _ = fixture_dirs
        # copy one file to simulate a re-fetched duplicate with same key
        src = f"{mdir}/match_g001_uno-a1.json"
        dup_dir = tmp_path / "dups"
        dup_dir.mkdir()
        payload = open(src).read()
        (dup_dir / "match_g001_uno-a1.json").write_text(payload)
        bronze = read_matches(spark, [f"{mdir}/*.json", str(dup_dir / "*.json")][0])
        out = incremental_new_rows(bronze, None)
        keys = [(r["game_id"], r["player_uno_id"]) for r in out.collect()]
        assert len(keys) == len(set(keys))


class TestListingRewrite:
    """A leaf-only local glob is read as its directory plus
    pathGlobFilter — no parallel listing job — over the same files."""

    @staticmethod
    def _files(df):
        return {r[0] for r in df.select(F.input_file_name()).collect()}

    def test_same_files_as_glob(self, spark, fixture_dirs):
        from cod_stats_spark.engine import ingest

        mdir, _ = fixture_dirs
        glob = f"{mdir}/*.json"
        assert ingest.scan_root(glob) == (mdir, {"pathGlobFilter": "*.json"})
        bronze = ingest.read_matches(spark, glob)
        rewritten = self._files(bronze)
        as_glob = self._files(spark.read.json(glob, schema=ingest.BRONZE_SCHEMA, multiLine=True))
        assert rewritten == as_glob and len(rewritten) > 20
        keys = {(r["game_id"], r["player_uno_id"]) for r in bronze.collect()}
        assert len(keys) == len(as_glob)

    def test_subdirectory_file_not_picked_up(self, spark, fixture_dirs, tmp_path):
        import shutil

        from cod_stats_spark.engine import ingest

        mdir, _ = fixture_dirs
        work = tmp_path / "m"
        shutil.copytree(mdir, work)
        flat = ingest.read_matches(spark, f"{work}/*.json").select("game_id").collect()
        sub = work / "older"
        sub.mkdir()
        (sub / "match_gsub_uno-a1.json").write_text((work / "match_g001_uno-a1.json").read_text())
        ids = [r["game_id"] for r in ingest.read_matches(spark, f"{work}/*.json").collect()]
        assert "gsub" not in ids
        assert sorted(ids) == sorted(r["game_id"] for r in flat)

    def test_other_paths_pass_through(self, tmp_path):
        from cod_stats_spark.engine.ingest import scan_root

        (tmp_path / "a").mkdir()
        (tmp_path / "b").mkdir()
        (tmp_path / "b" / "nested").mkdir()
        for path in [
            "s3a://bucket/matches/*.json",
            "file:///data/matches/*.json",
            f"{tmp_path}/*/match_1_u.json",  # glob above the leaf
            f"{tmp_path}/a/match_1_u.json",  # no glob
            f"{tmp_path}/missing/*.json",
            f"{tmp_path}/b/*.json",  # has a subdirectory
        ]:
            assert scan_root(path) == (path, {})
        assert scan_root(f"{tmp_path}/a/*.json") == (f"{tmp_path}/a", {"pathGlobFilter": "*.json"})


def read_players_config_general(spark, path):
    """Reference dim: the Spark expression ``read_players_config`` used
    before it moved to the driver (lower, coalesce, explode, then
    ``dropDuplicates`` on the account id)."""
    from cod_stats_spark.engine.schemas import PLAYERS_CONFIG_SCHEMA

    cfg = spark.read.json(path, schema=PLAYERS_CONFIG_SCHEMA, multiLine=True)
    return (
        cfg.select(
            F.lower(F.col("name")).alias("player_id"),
            F.coalesce(F.col("isCore"), F.lit(False)).alias("is_core"),
            F.explode(F.col("accounts")).alias("acct"),
        )
        .select(F.col("acct.unoId").alias("player_uno_id"), "player_id", "is_core")
        .dropDuplicates(["player_uno_id"])
    )


class TestPlayersDim:
    """``read_players_config`` builds the dim on the driver: the same
    rows as the Spark expression it replaced, as a JVM-local relation."""

    CONFIG = [
        {"name": "ÉMILE", "isCore": True, "accounts": [{"unoId": "u-e1"}, {"unoId": "u-dup"}]},
        {"name": "ΟΔΥΣΣΕΥΣ", "isCore": False, "accounts": [{"unoId": "u-o"}]},  # final sigma
        {"name": "İstanbul", "accounts": [{"unoId": "u-i"}]},  # isCore missing
        {"name": "Straße", "isCore": None, "accounts": [{"unoId": "u-s"}, {"unoId": "u-dup"}]},
        {"name": "ǅemal", "isCore": True, "accounts": [{"unoId": "u-d"}]},  # titlecase digraph
        {"name": "ＡＢＣ", "accounts": [{"unoId": "u-f"}]},  # fullwidth
        {"name": "NoAccounts", "isCore": True, "accounts": []},
        {"name": "NullAccounts", "isCore": True},
        {"name": None, "isCore": True, "accounts": [{"unoId": "u-n"}]},
        {"name": "Quote's \\ ${spark.app.name}", "accounts": [{"unoId": "u-q"}]},
    ]

    @staticmethod
    def _dim(spark, tmp_path, config):
        import json as js

        from cod_stats_spark.engine.ingest import read_players_config

        pj = tmp_path / "players.json"
        pj.write_text(js.dumps(config))
        return read_players_config(spark, str(pj)), read_players_config_general(spark, str(pj))

    def test_matches_spark_expression(self, spark, tmp_path):
        from collections import Counter

        got, want = self._dim(spark, tmp_path, self.CONFIG)
        assert got.columns == want.columns == ["player_uno_id", "player_id", "is_core"]
        got_rows = [tuple(r) for r in got.collect()]
        assert Counter(got_rows) == Counter(tuple(r) for r in want.collect())
        by_uno = {r[0]: r for r in got_rows}
        assert by_uno["u-dup"] == ("u-dup", "émile", True)  # the first entry wins
        assert by_uno["u-o"][1] == "οδυσσευς"
        assert by_uno["u-s"] == ("u-s", "straße", False)
        assert by_uno["u-n"] == ("u-n", None, True)
        assert by_uno["u-q"][1] == "quote's \\ ${spark.app.name}"
        assert len(got_rows) == 9

    def test_empty_config(self, spark, tmp_path):
        got, want = self._dim(spark, tmp_path, [])
        assert got.collect() == want.collect() == []
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]


class TestSaltedJoin:
    def test_equals_plain_join(self, spark):
        from cod_stats_spark.operators.skew import salted_join

        big = spark.createDataFrame(
            [(i % 3, i, float(i)) for i in range(100)], "k long, rid long, v double"
        )
        small = spark.createDataFrame([(0, "x"), (1, "y")], "k long, tag string")
        plain = big.join(small, ["k"]).select("k", "rid", "tag")
        salted = salted_join(big, small, ["k"], "rid", buckets=4).select("k", "rid", "tag")
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


class TestDiagnoseSkew:
    def test_hot_key_surfaces_with_ratio(self, spark):
        from cod_stats_spark.operators.skew import diagnose_skew

        # one hot key with 900 rows, 100 singleton keys
        rows = [(0, i) for i in range(900)] + [(k, 0) for k in range(1, 101)]
        df = spark.createDataFrame(rows, "k long, payload long")
        summary, top = diagnose_skew(df, ["k"], top_n=3)
        s = summary.first()
        assert s["n_keys"] == 101 and s["n_rows"] == 1000
        assert s["max_count"] == 900 and s["p50_count"] == 1
        # mean count ~9.9 → skew_ratio ~90.9: the salting factor needed
        assert 85 < s["skew_ratio"] < 95
        hot = top.collect()
        assert hot[0]["k"] == 0 and hot[0]["key_count"] == 900
        assert all(r["key_count"] == 1 for r in hot[1:])


class TestCorruptAudit:
    def test_corrupt_files_surface(self, spark, fixture_dirs, tmp_path):
        import json as js
        import shutil

        mdir, pj = fixture_dirs
        work = tmp_path / "m"
        shutil.copytree(mdir, work)
        (work / "match_gbad_unoX.json").write_text("{this is not json")
        # a type mismatch is a partial parse (matchID survives): not a
        # parse failure under ingest.unparsed
        doc = js.loads((work / "match_g001_uno-a1.json").read_text())
        doc["playerStats"]["kills"] = "lots"
        (work / "match_gmix_uno-a1.json").write_text(js.dumps(doc))
        from cod_stats_spark.engine import Engine

        eng = Engine.from_paths(spark, f"{work}/*.json", pj)
        audit = eng.corrupt_matches()
        bad = [r.asDict() for r in audit.collect()]
        assert len(bad) == 1
        assert bad[0]["game_id"] == "gbad" and bad[0]["player_uno_id"] == "unoX"
        assert bad[0]["file"].endswith("match_gbad_unoX.json")
        assert bad[0]["snippet"] == "{this is not json"
        # a pruned scan (no audit column read) still names matchID, so
        # Spark accepts it without materializing anything first
        assert audit.count() == 1
        # and the corrupt file is NOT in bronze valid rows
        assert eng.valid_games().filter("game_id = 'gbad'").count() == 0

    def test_api_bronze_audit_is_empty(self, spark, fixture_dirs, tmp_path):
        """Every Engine has the audit, whatever its bronze source: the
        connector emits the same four columns as the file reader."""
        import json as js
        import pathlib

        from cod_stats_spark.engine import Engine
        from cod_stats_spark.engine.ingest import read_matches_from_api, read_players_config

        mdir, pj = fixture_dirs
        (tmp_path / "pages").mkdir()
        (tmp_path / "details").mkdir()
        ids = [f.stem.replace("match_", "") for f in sorted(pathlib.Path(mdir).glob("*.json"))]
        (tmp_path / "pages" / "page_0.json").write_text(
            js.dumps({"match_ids": ids, "next_page": None})
        )
        for mid in ids:
            (tmp_path / "details" / f"{mid}.json").write_text(
                pathlib.Path(mdir, f"match_{mid}.json").read_text()
            )
        bronze = read_matches_from_api(spark, str(tmp_path))
        eng = Engine(spark, bronze, read_players_config(spark, pj))
        assert eng.corrupt_matches().count() == 0
        assert eng.valid_games().count() > 0
        assert bronze.columns == ["game_id", "player_uno_id", "stats", "_corrupt_record"]


class TestBucketedSilver:
    def test_bucketing_eliminates_window_shuffle(self, spark, engine, tmp_path):
        """Per-player windows (sessionization, time-series) read a
        player-bucketed silver table WITHOUT an Exchange — the
        co-location claim in write_silver's docstring, verified."""
        import os
        import uuid

        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from cod_stats_spark.engine.api import write_silver

        name = f"vg_bucketed_{uuid.uuid4().hex[:6]}"
        path = str(tmp_path / "bucketed")
        write_silver(
            engine.valid_games(), path, partition_by_day=False,
            bucket_by_player=4, table_name=name,
        )
        tbl = spark.table(name)
        w = Window.partitionBy("player_uno_id").orderBy("date_key")
        plan = (
            tbl.withColumn("rn", F.row_number().over(w))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        # same window over the un-bucketed frame DOES shuffle
        plain_plan = (
            engine.valid_games().withColumn("rn", F.row_number().over(w))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in plain_plan
        spark.sql(f"DROP TABLE IF EXISTS {name}")
