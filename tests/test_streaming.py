"""Structured Streaming parity tests: the streaming plans must agree
with their batch equivalents on the same static input."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"
needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


@needs_testdata
class TestStreaming:
    def test_streaming_daily_equals_batch(self, spark):
        from cod_stats_spark.plans.bench_queries import QUERIES

        # the gate is a tagged union since r8 ('stream'/'inc'/'gapfill');
        # the streaming-equals-batch claim is the 'stream' arm's
        stream_rows = {
            (r["day"], r["n_events"], r["sum_value"])
            for r in QUERIES["streaming_daily_counts"](spark, SF).collect()
            if r["tag"] == "stream"
        }
        from cod_stats_spark.tables import read_parquet

        batch = (
            read_parquet(spark, f"{SF}/events.parquet")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        batch_rows = {
            (r["day"], r["n_events"], r["sum_value"]) for r in batch.collect()
        }
        assert stream_rows == batch_rows

    def test_session_window_equals_sessionize(self, spark):
        """Native session_window (streaming-capable) must agree with the
        gaps-and-islands batch sessionization on session membership."""
        from cod_stats_spark.operators.sessionize import sessionize
        from cod_stats_spark.tables import read_parquet

        ev = read_parquet(spark, f"{SF}/events.parquet")
        gap = 1800
        sw = (
            ev.groupBy(F.session_window("ts", f"{gap} seconds"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user_id", F.col("session_window.start").alias("start"), "n")
        )
        gi = (
            sessionize(ev, "ts", ["user_id"], gap)
            .groupBy("user_id", "session_number")
            .agg(F.min("ts").alias("start"), F.count(F.lit(1)).alias("n"))
            .select("user_id", "start", "n")
        )
        assert {tuple(r) for r in sw.collect()} == {tuple(r) for r in gi.collect()}


@needs_testdata
class TestStatefulSessionize:
    def test_stateful_matches_batch_closed_sessions(self, spark):
        """applyInPandasWithState sessions == batch gaps-and-islands
        sessions, for all sessions CLOSED by a subsequent event."""
        from cod_stats_spark.operators.sessionize import sessionize
        from cod_stats_spark.streaming import (
            run_stream_to_memory,
            stateful_sessionize,
            stream_events,
        )
        from cod_stats_spark.tables import read_parquet

        gap = 1800
        stream = stream_events(spark, f"{SF}/events.parquet")
        out = run_stream_to_memory(
            stateful_sessionize(stream, gap_seconds=gap), output_mode="append"
        )
        got = {
            (r["user_id"], r["session_number"], r["n_events"], r["sum_value"])
            for r in out.collect()
        }

        ev = read_parquet(spark, f"{SF}/events.parquet")
        batch = (
            sessionize(ev, "ts", ["user_id"], gap)
            .groupBy("user_id", "session_number")
            .agg(
                __import__("pyspark.sql.functions", fromlist=["x"]).count("*").alias("n"),
                __import__("pyspark.sql.functions", fromlist=["x"]).round(
                    __import__("pyspark.sql.functions", fromlist=["x"]).sum("value"), 4
                ).alias("s"),
            )
        )
        exp_all = {
            (r["user_id"], r["session_number"], r["n"], r["s"]) for r in batch.collect()
        }
        # streaming emits sessions closed by a NEWER event; each user's
        # final (open) session is only closed by timeout — exclude the
        # per-user max session_number from the batch expectation
        last = {}
        for u, n, *_ in exp_all:
            last[u] = max(last.get(u, 0), n)
        exp_closed = {t for t in exp_all if t[1] != last[t[0]]}
        assert got == exp_closed

    def test_tail_session_flushes_on_inactivity_timeout(self, spark, tmp_path):
        """With tail_timeout_ms set, a key's final OPEN session is
        emitted (and its state dropped) once processing time passes the
        timeout — the state store stays bounded by active keys."""
        import time
        import uuid
        from datetime import datetime as dt

        from cod_stats_spark.streaming import stateful_sessionize

        src = tmp_path / "in"

        def write_batch(n, rows):
            spark.createDataFrame(
                rows, "user_id long, ts timestamp, value double"
            ).coalesce(1).write.parquet(f"{src}/b{n}")

        write_batch(1, [(1, dt(2026, 1, 1, 10, 0, 0), 1.0),
                        (1, dt(2026, 1, 1, 10, 1, 0), 2.0)])
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1").parquet(f"{src}/*")
        )
        plan = stateful_sessionize(stream, gap_seconds=300, tail_timeout_ms=500)
        name = f"tails_{uuid.uuid4().hex[:8]}"
        q = (plan.writeStream.outputMode("append").format("memory")
             .queryName(name).start())
        try:
            # NOTE: processAllAvailable() never settles under
            # ProcessingTimeTimeout (the engine keeps scheduling
            # timeout-evaluation batches) — poll the sink instead; the
            # timeout batch fires on its own once 500 ms of inactivity
            # pass, no second data batch needed.
            deadline = time.time() + 90
            got = set()
            while time.time() < deadline and not got:
                time.sleep(0.5)
                got = {
                    (r["user_id"], r["session_number"], r["n_events"], r["sum_value"])
                    for r in spark.table(name).collect()
                }
        finally:
            q.stop()
        assert (1, 1, 2, 3.0) in got

    def test_state_survives_checkpoint_restart(self, spark, tmp_path):
        """Kill the query between micro-batches; the restarted query
        must close the pre-restart session with the accumulated state
        (events counted BEFORE the restart), proving the state store
        round-trips through the checkpoint."""
        from datetime import datetime as dt

        from cod_stats_spark.streaming import stateful_sessionize

        src = tmp_path / "in"
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")  # file sink: the memory sink does
        # not support checkpoint recovery

        def write_batch(n, rows):
            spark.createDataFrame(
                rows, "user_id long, ts timestamp, value double"
            ).coalesce(1).write.parquet(f"{src}/b{n}")

        def start():
            stream = (
                spark.readStream.schema("user_id long, ts timestamp, value double")
                .option("maxFilesPerTrigger", "1").parquet(f"{src}/*")
            )
            plan = stateful_sessionize(stream, gap_seconds=300)
            return (
                plan.writeStream.outputMode("append").format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt).start()
            )

        # run 1: open a session with two events, then stop
        write_batch(1, [(1, dt(2026, 1, 1, 10, 0, 0), 1.0),
                        (1, dt(2026, 1, 1, 10, 1, 0), 2.0)])
        q1 = start()
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()

        # run 2 (fresh query object, same checkpoint): an event past the
        # gap closes the pre-restart session
        write_batch(2, [(1, dt(2026, 1, 1, 11, 0, 0), 7.0)])
        q2 = start()
        try:
            q2.processAllAvailable()
            got = {
                (r["user_id"], r["session_number"], r["n_events"], r["sum_value"])
                for r in spark.read.parquet(out).collect()
            }
        finally:
            q2.stop()
        assert (1, 1, 2, 3.0) in got  # both pre-restart events present

    def test_streaming_session_rollup_runs(self, spark):
        from cod_stats_spark.streaming import (
            run_stream_to_memory,
            stream_events,
            streaming_session_rollup,
        )

        stream = stream_events(spark, f"{SF}/events.parquet")
        out = run_stream_to_memory(
            streaming_session_rollup(stream, gap_seconds=1800), output_mode="complete"
        )
        assert out.count() > 0


class TestWatermarkLateData:
    """SURVEY §2.9 late-data semantics: events newer than the watermark
    fold into open state; events older than the watermark are dropped
    by the engine (the reference instead relies on idempotent
    re-ingest, so this is the Spark-native upgrade of that contract)."""

    @staticmethod
    def _write_batch(spark, src_dir: str, n: int, rows):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        df.coalesce(1).write.parquet(f"{src_dir}/b{n}")

    def test_late_event_beyond_watermark_is_dropped(self, spark, tmp_path):
        from datetime import datetime as dt

        src = tmp_path / "incoming"
        b1 = [
            (1, dt(2026, 1, 1, 10, 0, 0), 1.0),
            (1, dt(2026, 1, 1, 10, 1, 0), 1.0),
            # sentinel far ahead: advances the watermark to 12:00-30min=11:30
            (9, dt(2026, 1, 1, 12, 0, 0), 1.0),
        ]
        self._write_batch(spark, str(src), 1, b1)

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        from cod_stats_spark.streaming import streaming_session_rollup

        plan = streaming_session_rollup(
            stream, ts_col="ts", key_col="user_id", gap_seconds=300,
            watermark="30 minutes",
        )
        import uuid

        name = f"mem_{uuid.uuid4().hex[:10]}"
        q = plan.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            # batch 2: one late event INSIDE user 1's closed session but
            # OLDER than the 11:30 watermark -> engine must drop it; and
            # one on-time event that opens a new session for user 2
            b2 = [
                (1, dt(2026, 1, 1, 10, 2, 0), 100.0),   # too late
                (2, dt(2026, 1, 1, 11, 45, 0), 1.0),    # accepted
            ]
            self._write_batch(spark, str(src), 2, b2)
            q.processAllAvailable()
            # empty batch so finalized windows flush through append mode
            self._write_batch(spark, str(src), 3, [])
            q.processAllAvailable()
            out = {
                (r["user_id"], r["n_events"], r["sum_value"])
                for r in spark.table(name).collect()
            }
        finally:
            q.stop()
        # user 1's session finalized with the ORIGINAL two events only —
        # the late row's value=100 never appeared
        assert (1, 2, 2.0) in out
        assert not any(u == 1 and s >= 100 for u, _, s in out)

    def test_late_event_inside_watermark_is_folded(self, spark, tmp_path):
        from datetime import datetime as dt

        src = tmp_path / "incoming"
        b1 = [
            (1, dt(2026, 1, 1, 10, 0, 0), 1.0),
            (9, dt(2026, 1, 1, 10, 10, 0), 1.0),  # watermark -> 9:40
        ]
        self._write_batch(spark, str(src), 1, b1)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        from cod_stats_spark.streaming import streaming_session_rollup

        plan = streaming_session_rollup(
            stream, ts_col="ts", key_col="user_id", gap_seconds=300,
            watermark="30 minutes",
        )
        import uuid

        name = f"mem_{uuid.uuid4().hex[:10]}"
        q = plan.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            # out-of-order but NEWER than the 9:40 watermark: must merge
            # into user 1's open session window
            b2 = [
                (1, dt(2026, 1, 1, 10, 2, 0), 5.0),
                (9, dt(2026, 1, 1, 13, 0, 0), 1.0),  # close everything
            ]
            self._write_batch(spark, str(src), 2, b2)
            q.processAllAvailable()
            self._write_batch(spark, str(src), 3, [])
            q.processAllAvailable()
            out = {
                (r["user_id"], r["n_events"], r["sum_value"])
                for r in spark.table(name).collect()
            }
        finally:
            q.stop()
        assert (1, 2, 6.0) in out  # both events folded into one session


class TestMatchIngestStream:
    def test_stream_to_silver_idempotent(self, spark, fixture_dirs, tmp_path):
        import json as js
        import shutil
        import time

        from cod_stats_spark.engine.ingest import read_players_config
        from cod_stats_spark.streaming.match_ingest import stream_matches_to_silver

        mdir, pj = fixture_dirs
        src = tmp_path / "incoming"
        shutil.copytree(mdir, src)
        players = read_players_config(spark, pj)
        silver = str(tmp_path / "silver")
        ckpt = str(tmp_path / "ckpt")

        q = stream_matches_to_silver(spark, str(src), players, silver, ckpt)
        try:
            q.processAllAvailable()
            n1 = spark.read.parquet(silver).count()
            assert n1 > 0
            # a file with an UNTRACKED uno id — must be dropped by the
            # players semi join, not ingested
            payload = (src / "match_g001_uno-a1.json").read_text()
            (src / "match_g001b_unoZZZ.json").write_text(payload)
            # and a genuinely new match
            doc = js.loads(payload)
            doc["utcEndSeconds"] += 777
            (src / "match_g999_uno-b1.json").write_text(js.dumps(doc))
            q.processAllAvailable()
            out = spark.read.parquet(silver)
            n2 = out.count()
            assert out.filter("game_id = 'g999'").count() == 1
            # untracked-player file ignored; re-processing never
            # duplicated existing keys
            assert out.filter("game_id = 'g001b'").count() == 0
            keys = out.select("game_id", "player_uno_id").collect()
            assert len(keys) == len({tuple(r) for r in keys})
            assert n2 == n1 + 1  # only g999
        finally:
            q.stop()

    def test_stream_silver_equals_batch(self, spark, fixture_dirs, tmp_path):
        """Stream ≡ batch over the same files: the stream's silver holds
        exactly the rows of Engine.valid_games — a well-formed file with
        no matchID included — and the failure ledger stays empty, since
        both paths share one bronze reader and one parse-failure rule."""
        import json as js
        import shutil

        from cod_stats_spark.engine import Engine
        from cod_stats_spark.engine.failure_ledger import FailureLedger
        from cod_stats_spark.engine.ingest import read_players_config
        from cod_stats_spark.streaming.match_ingest import stream_matches_to_silver

        mdir, pj = fixture_dirs
        src = tmp_path / "incoming"
        shutil.copytree(mdir, src)
        doc = js.loads((src / "match_g001_uno-a1.json").read_text())
        del doc["matchID"]
        doc["utcEndSeconds"] += 555
        (src / "match_gNOID_uno-a1.json").write_text(js.dumps(doc))
        silver = str(tmp_path / "silver")
        ledger = FailureLedger(spark, str(tmp_path / "ledger"))

        q = stream_matches_to_silver(
            spark, str(src), read_players_config(spark, pj), silver,
            str(tmp_path / "ckpt"), failure_ledger=ledger,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        batch = Engine.from_paths(spark, f"{src}/*.json", pj).valid_games()
        assert batch.filter("game_id = 'gNOID'").count() == 1
        streamed = spark.read.parquet(silver).select(*batch.columns)
        assert set(map(tuple, streamed.collect())) == set(map(tuple, batch.collect()))
        assert streamed.count() == batch.count()
        assert ledger.counts().collect() == []


class TestFailureLedger:
    def test_poison_file_retried_then_parked_at_cutoff(self, spark, fixture_dirs, tmp_path):
        """S5 contract (fetch_matches.ts:163,200,209): a file that keeps
        failing to parse is retried on every fresh-checkpoint restart,
        its fail count incrementing, until the cutoff parks it; a key
        that later succeeds is deleted from the ledger entirely."""
        import json as js
        import shutil

        from cod_stats_spark.engine.failure_ledger import FailureLedger
        from cod_stats_spark.engine.ingest import read_players_config
        from cod_stats_spark.streaming.match_ingest import stream_matches_to_silver

        mdir, pj = fixture_dirs
        src = tmp_path / "incoming"
        shutil.copytree(mdir, src)
        players = read_players_config(spark, pj)
        silver = str(tmp_path / "silver")
        ledger = FailureLedger(spark, str(tmp_path / "ledger"), max_failures=3)
        (src / "match_gPOISON_uno-a1.json").write_text("{ this is not valid json !!")

        def run(i: int) -> None:
            # fresh checkpoint per run = the reference's cron restart:
            # the file source re-lists everything, silver's key
            # anti-join dedups, the ledger gates the poison tail
            q = stream_matches_to_silver(
                spark, str(src), players, silver,
                str(tmp_path / f"ckpt{i}"), failure_ledger=ledger,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def counts() -> dict:
            return {r["key"]: r["fail_count"] for r in ledger.counts().collect()}

        run(1)
        assert counts() == {"gPOISON": 1}
        run(2)
        run(3)
        assert counts() == {"gPOISON": 3}
        n3 = spark.read.parquet(silver).count()
        # at the cutoff the key is parked: further restarts do not
        # re-attempt it and the count stops growing
        run(4)
        assert counts() == {"gPOISON": 3}
        out = spark.read.parquet(silver)
        assert out.filter("game_id = 'gPOISON'").count() == 0
        assert out.count() == n3  # valid files never duplicated
        # a flaky file: fails once, then is fixed — success REMOVES the
        # key (ts:209), it does not park at a stale count
        (src / "match_gFLAKY_uno-b1.json").write_text("also broken")
        run(5)
        assert counts() == {"gPOISON": 3, "gFLAKY": 1}
        doc = js.loads((src / "match_g001_uno-a1.json").read_text())
        doc["utcEndSeconds"] += 999
        (src / "match_gFLAKY_uno-b1.json").write_text(js.dumps(doc))
        run(6)
        assert counts() == {"gPOISON": 3}
        assert spark.read.parquet(silver).filter("game_id = 'gFLAKY'").count() == 1


class TestPlayerSearch:
    def test_fuzzy_rank(self, spark, fixture_dirs):
        from cod_stats_spark.engine.api import search_players
        from cod_stats_spark.engine.ingest import read_players_config

        _, pj = fixture_dirs
        players = read_players_config(spark, pj)
        top = [r["player_id"] for r in search_players(players, "ali").collect()]
        assert top[0] == "alice"
        top2 = [r["player_id"] for r in search_players(players, "bob").collect()]
        assert top2[0] == "bob"


class TestStreamingDedup:
    def test_batches_dedup_against_growing_corpus(self, spark, tmp_path):
        """Incremental dedup: batch 2 must drop exact and near dups of
        batch 1's survivors (via the fingerprint/band INDEX, without
        re-sketching the corpus) while keeping genuinely new docs."""
        from cod_stats_spark.streaming.dedup import dedup_batch_against_corpus

        corpus = str(tmp_path / "corpus")
        index = str(tmp_path / "index")
        base = (
            "the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest to hide from hunters"
        )
        b1 = spark.createDataFrame(
            [
                (1, base),
                (2, base),                      # exact dup within batch
                (3, "completely different text about pyspark shuffles "
                    "and adaptive query execution at terabyte scale"),
            ],
            "doc_id long, text string",
        )
        out1 = {r["doc_id"] for r in dedup_batch_against_corpus(
            spark, b1, "text", "doc_id", corpus, index, threshold=0.6
        ).collect()}
        assert out1 == {1, 3}
        b2 = spark.createDataFrame(
            [
                (10, base),                                   # exact dup of corpus 1
                (11, base.replace("hunters", "wolves")),      # near dup of corpus 1
                (12, "a genuinely novel document mentioning broadcast "
                     "joins bloom filters and partition pruning tricks"),
                (13, "a genuinely novel document mentioning broadcast "
                     "joins bloom filters and partition pruning tricks"),  # dup of 12
            ],
            "doc_id long, text string",
        )
        out2 = {r["doc_id"] for r in dedup_batch_against_corpus(
            spark, b2, "text", "doc_id", corpus, index, threshold=0.6
        ).collect()}
        assert out2 == {12}
        kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        assert kept == {1, 3, 12}
        # index grew in lockstep with the corpus
        fps = spark.read.parquet(index + "/fingerprints")
        assert {r["id"] for r in fps.collect()} == {1, 3, 12}

    def test_streaming_wrapper_processes_files(self, spark, tmp_path):
        import json as js

        from cod_stats_spark.streaming.dedup import stream_dedup_to_corpus

        src = tmp_path / "incoming"
        src.mkdir()
        corpus = str(tmp_path / "corpus")
        index = str(tmp_path / "index")
        text = "streaming dedup exercises the same incremental contract"
        with open(src / "b1.json", "w") as f:
            for i, t in [(1, text), (2, text), (3, "some other words entirely here")]:
                f.write(js.dumps({"doc_id": i, "text": t}) + "\n")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = stream_dedup_to_corpus(
            spark, stream, "text", "doc_id", corpus, index,
            str(tmp_path / "ckpt"), threshold=0.6,
        )
        try:
            q.processAllAvailable()
            with open(src / "b2.json", "w") as f:
                f.write(js.dumps({"doc_id": 9, "text": text}) + "\n")
                f.write(js.dumps({"doc_id": 10, "text": "fresh new content again"}) + "\n")
            q.processAllAvailable()
        finally:
            q.stop()
        kept = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        assert kept == {1, 3, 10}


@needs_testdata
class TestStreamingSketchState:
    """The mergeable sketch states are plain aggregations, so the SAME
    operators run unchanged on a readStream — bounded state (registers /
    cells) in complete mode, and the materialized state merges with any
    stored batch state afterwards."""

    def test_streaming_hll_state_equals_batch(self, spark):
        from cod_stats_spark.operators.sketches import (
            hll_estimate,
            hll_partial,
        )
        from cod_stats_spark.streaming.ingest import (
            run_stream_to_memory,
            stream_events,
        )

        stream = stream_events(spark, f"{SF}/events.parquet")
        live_state = run_stream_to_memory(
            hll_partial(stream, "user_id", ["event_type"], p=8), "complete"
        )
        batch = spark.read.parquet(f"{SF}/events.parquet")
        want = sorted(
            map(
                tuple,
                hll_estimate(
                    hll_partial(batch, "user_id", ["event_type"], p=8),
                    ["event_type"],
                    p=8,
                ).collect(),
            )
        )
        got = sorted(
            map(tuple, hll_estimate(live_state, ["event_type"], p=8).collect())
        )
        assert got == want

    def test_streaming_cms_state_equals_batch(self, spark):
        from cod_stats_spark.operators.sketches import cms_partial, cms_query
        from cod_stats_spark.streaming.ingest import (
            run_stream_to_memory,
            stream_events,
        )

        stream = stream_events(spark, f"{SF}/events.parquet")
        live_state = run_stream_to_memory(
            cms_partial(stream, "user_id", ["event_type"], depth=2, width=128),
            "complete",
        )
        batch = spark.read.parquet(f"{SF}/events.parquet")
        probes = batch.select("event_type", "user_id").distinct()
        want = sorted(
            map(
                tuple,
                cms_query(
                    cms_partial(batch, "user_id", ["event_type"], depth=2, width=128),
                    probes, ["event_type"], "user_id", depth=2, width=128,
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                cms_query(
                    live_state, probes, ["event_type"], "user_id",
                    depth=2, width=128,
                ).collect(),
            )
        )
        assert got == want


class TestStatefulFunnel:
    STEPS = ["view", "click", "buy"]

    def _run_batches(self, spark, tmp_path, batches):
        """Feed batches as separate files with maxFilesPerTrigger=1 so
        each is its own micro-batch; return all appended rows."""
        from cod_stats_spark.streaming import stateful_funnel

        src = tmp_path / "in"
        for n, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "user_id long, event_type string, ts timestamp"
            ).coalesce(1).write.parquet(f"{src}/b{n}")
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .option("maxFilesPerTrigger", "1").parquet(f"{src}/*")
        )
        import uuid

        name = f"funnel_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_funnel(stream, self.STEPS)
            .writeStream.outputMode("append").format("memory")
            .queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r["user_id"], r["step"], r["step_ts"])
            for r in spark.table(name).collect()
        }

    def test_incremental_fold_equals_batch_funnel(self, spark, tmp_path):
        """Steps completed across SEPARATE micro-batches (ts-ordered
        arrival) must equal the batch recurrence over the union — and
        each (user, step) row is appended exactly once."""
        import datetime as dt

        t = lambda m: dt.datetime(2026, 1, 1, 10, m)
        b1 = [(1, "view", t(0)), (1, "click", t(1)),
              (2, "click", t(0)),              # pre-view click: ignored
              (3, "view", t(2))]
        b2 = [(1, "buy", t(5)),
              (2, "view", t(6)), (2, "click", t(7)),
              (3, "view", t(8))]               # repeat view: no re-emit
        got = self._run_batches(spark, tmp_path, [b1, b2])

        from cod_stats_spark.operators.funnel import funnel_users

        ev = spark.createDataFrame(
            b1 + b2, "user_id long, event_type string, ts timestamp"
        )
        want = set()
        for r in funnel_users(ev, self.STEPS).collect():
            for i in range(1, len(self.STEPS) + 1):
                if r[f"t{i}"] is not None:
                    want.add((r["user_id"], i, r[f"t{i}"]))
        assert got == want
        # u1 completed the whole funnel, u2 stopped at click, u3 at view
        assert {(u, s) for u, s, _ in got} == {
            (1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1),
        }

    def test_strictness_at_equal_timestamps(self, spark, tmp_path):
        """A step-2 event at exactly t1 must not count (strict >) —
        regardless of intra-batch processing order."""
        import datetime as dt

        t0 = dt.datetime(2026, 1, 1, 12, 0)
        rows = [(1, "click", t0), (1, "view", t0)]
        got = self._run_batches(spark, tmp_path, [rows])
        assert {(u, s) for u, s, _ in got} == {(1, 1)}

    def test_guard(self, spark):
        from cod_stats_spark.streaming import stateful_funnel

        ev = spark.createDataFrame(
            [], "user_id long, event_type string, ts timestamp"
        )
        import pytest

        with pytest.raises(ValueError):
            stateful_funnel(ev, [])

    def test_non_integral_user_id_rejected(self, spark):
        """The state is keyed by a long; a string id would silently
        cast to null and collapse every such user into ONE shared
        state group (round-9 advice). Refuse it up front instead."""
        from cod_stats_spark.streaming import stateful_funnel

        import pytest

        ev = spark.createDataFrame(
            [], "user_id string, event_type string, ts timestamp"
        )
        with pytest.raises(TypeError, match="integral"):
            stateful_funnel(ev, ["view", "click"])


class TestStatefulAnomaly:
    def _run_batches(self, spark, tmp_path, batches, **kw):
        from cod_stats_spark.streaming import stateful_anomaly

        src = tmp_path / "in"
        for n, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "user_id long, ts timestamp, value double"
            ).coalesce(1).write.parquet(f"{src}/b{n}")
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1").parquet(f"{src}/*")
        )
        import uuid

        name = f"anom_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_anomaly(stream, **kw)
            .writeStream.outputMode("append").format("memory")
            .queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r["user_id"], r["ts"]): (
                None if r["zscore"] is None else round(r["zscore"], 9),
                r["is_anomaly"],
            )
            for r in spark.table(name).collect()
        }

    def test_streaming_fold_equals_batch_operator(self, spark, tmp_path):
        """Two micro-batches with a cross-batch window (the spike in
        batch 2 is judged against batch 1's history) must equal the
        BATCH flag_anomalies over the union, row for row."""
        import datetime as dt

        from cod_stats_spark.operators.anomaly import flag_anomalies

        t0 = dt.datetime(2026, 1, 1, 10, 0)
        sec = dt.timedelta(seconds=10)
        vals1 = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0]
        vals2 = [100.0, 10.2, 9.8]              # spike + recovery
        b1 = [(1, t0 + i * sec, v) for i, v in enumerate(vals1)]
        b2 = [
            (1, t0 + (len(vals1) + i) * sec, v) for i, v in enumerate(vals2)
        ]
        # a second key stays entirely inside batch 2
        b2 += [(2, t0 + i * sec, 5.0) for i in range(7)]
        got = self._run_batches(
            spark, tmp_path, [b1, b2], window_seconds=3600, min_points=5
        )
        ev = spark.createDataFrame(
            b1 + b2, "user_id long, ts timestamp, value double"
        )
        want = {
            (r["user_id"], r["ts"]): (
                None if r["zscore"] is None else round(r["zscore"], 9),
                r["is_anomaly"],
            )
            for r in flag_anomalies(
                ev, "value", ["user_id"], "ts", 3600, min_points=5
            ).collect()
        }
        assert got == want
        # the spike (first event of batch 2) IS flagged — against the
        # history that lives only in batch-1 state
        assert got[(1, t0 + len(vals1) * sec)][1] is True
        assert sum(1 for z, f in got.values() if f) == 1

    def test_window_expiry_across_batches(self, spark, tmp_path):
        """History older than the window must be pruned from state: a
        batch-2 value identical to the batch-1 plateau is NOT judged
        against it once the window has passed."""
        import datetime as dt

        t0 = dt.datetime(2026, 1, 1)
        sec = dt.timedelta(seconds=1)
        b1 = [(1, t0 + i * sec, 10.0) for i in range(8)]
        # batch 2 starts 2 windows later: no priors in range -> null
        t1 = t0 + dt.timedelta(seconds=200)
        b2 = [(1, t1, 99.0)]
        got = self._run_batches(
            spark, tmp_path, [b1, b2], window_seconds=60, min_points=3
        )
        assert got[(1, t1)] == (None, False)

    def test_epoch_seconds_ts_column_honors_multiplier(
        self, spark, tmp_path
    ):
        """A numeric ts column is epoch SECONDS (the epoch_us
        contract): the window span and state pruning must follow the
        multiplier, matching the batch operator (r10 review fix — the
        first cut hardcoded microseconds, making the window 1e6x too
        wide)."""
        from cod_stats_spark.operators.anomaly import flag_anomalies
        from cod_stats_spark.streaming import stateful_anomaly

        rows = [(1, 1_700_000_000 + i, v) for i, v in enumerate(
            [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 100.0, 10.2]
        )]
        # plus a far-future point with NO in-window priors (window 60s)
        rows.append((1, 1_700_000_000 + 10_000, 50.0))
        src = tmp_path / "in"
        spark.createDataFrame(
            rows, "user_id long, ts long, value double"
        ).coalesce(1).write.parquet(f"{src}/b0")
        stream = (
            spark.readStream.schema("user_id long, ts long, value double")
            .parquet(f"{src}/*")
        )
        import uuid

        name = f"anomsec_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_anomaly(stream, window_seconds=60, min_points=5)
            .writeStream.outputMode("append").format("memory")
            .queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            int(r["ts"].timestamp()): (
                None if r["zscore"] is None else round(r["zscore"], 9),
                r["is_anomaly"],
            )
            for r in spark.table(name).collect()
        }
        ev = spark.createDataFrame(
            rows, "user_id long, ts long, value double"
        )
        want = {
            r["ts"]: (
                None if r["zscore"] is None else round(r["zscore"], 9),
                r["is_anomaly"],
            )
            for r in flag_anomalies(
                ev, "value", ["user_id"], "ts", 60, min_points=5
            ).collect()
        }
        assert got == want
        assert got[1_700_000_000 + 6][1] is True       # the spike
        assert got[1_700_000_000 + 10_000] == (None, False)  # pruned

    def test_cross_chunk_disorder_one_global_sort(self, spark, tmp_path):
        """A key whose micro-batch spans multiple Arrow chunks with
        cross-chunk time disorder must still score every event against
        its full strictly-earlier window: the fold concatenates and
        sorts ONCE per key (r10 advice — a per-chunk sort let the
        monotonic expiry cursor skip history still in range for a
        later chunk's earlier events)."""
        import datetime as dt

        from cod_stats_spark.operators.anomaly import flag_anomalies

        t0 = dt.datetime(2026, 1, 1, 10, 0)
        sec = dt.timedelta(seconds=10)
        vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 100.0, 10.2, 9.8]
        rows = [(1, t0 + i * sec, v) for i, v in enumerate(vals)]
        # write DESCENDING in time: chunk 1 then holds the latest
        # events, chunk 2 earlier ones — the disorder the advice names
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        try:
            got = self._run_batches(
                spark, tmp_path, [list(reversed(rows))],
                window_seconds=3600, min_points=5,
            )
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        )
        want = {
            (r["user_id"], r["ts"]): (
                None if r["zscore"] is None else round(r["zscore"], 9),
                r["is_anomaly"],
            )
            for r in flag_anomalies(
                ev, "value", ["user_id"], "ts", 3600, min_points=5
            ).collect()
        }
        assert got == want
        assert got[(1, t0 + 6 * sec)][1] is True  # the spike

    def test_guards(self, spark):
        import pytest

        from cod_stats_spark.streaming import stateful_anomaly

        ev_str = spark.createDataFrame(
            [], "user_id string, ts timestamp, value double"
        )
        with pytest.raises(TypeError):
            stateful_anomaly(ev_str)
        ev = spark.createDataFrame(
            [], "user_id long, ts timestamp, value double"
        )
        with pytest.raises(ValueError):
            stateful_anomaly(ev, window_seconds=0)


class TestStreamScd2:
    def _batches(self):
        import datetime as dt

        t = lambda d: dt.datetime(2026, 1, d)
        b1 = [(1, t(1), "bronze"), (2, t(2), "silver")]
        b2 = [(1, t(5), "gold"), (3, t(6), "bronze")]
        return b1, b2

    def test_stream_apply_equals_one_shot_build(self, spark, tmp_path):
        from cod_stats_spark.operators.scd import scd2_build
        from cod_stats_spark.streaming import read_scd2_dim, stream_scd2_apply

        b1, b2 = self._batches()
        src = tmp_path / "in"
        for n, rows in enumerate((b1, b2)):
            spark.createDataFrame(
                rows, "k long, t timestamp, attr string"
            ).coalesce(1).write.parquet(f"{src}/b{n}")
        stream = (
            spark.readStream.schema("k long, t timestamp, attr string")
            .option("maxFilesPerTrigger", "1").parquet(f"{src}/*")
        )
        state = str(tmp_path / "dim")
        q = stream_scd2_apply(
            stream, state, ["k"], "t", ["attr"],
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(map(tuple, read_scd2_dim(spark, state).collect()))
        log = spark.createDataFrame(
            b1 + b2, "k long, t timestamp, attr string"
        )
        want = sorted(
            map(tuple, scd2_build(log, ["k"], "t", ["attr"], collapse=False).collect())
        )
        assert got == want

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: applying the SAME batch twice
        must leave the dimension unchanged (dedupe absorbs the
        collision between the replay and its own reverted rows)."""
        from cod_stats_spark.streaming import apply_scd2_batch, read_scd2_dim

        b1, b2 = self._batches()
        state = str(tmp_path / "dim")
        df1 = spark.createDataFrame(b1, "k long, t timestamp, attr string")
        df2 = spark.createDataFrame(b2, "k long, t timestamp, attr string")
        apply_scd2_batch(spark, df1, state, ["k"], "t", ["attr"])
        apply_scd2_batch(spark, df2, state, ["k"], "t", ["attr"])
        once = sorted(map(tuple, read_scd2_dim(spark, state).collect()))
        apply_scd2_batch(spark, df2, state, ["k"], "t", ["attr"])  # replay
        again = sorted(map(tuple, read_scd2_dim(spark, state).collect()))
        assert once == again

    def test_empty_batch_is_a_noop(self, spark, tmp_path):
        from cod_stats_spark.streaming import apply_scd2_batch, read_scd2_dim

        state = str(tmp_path / "dim")
        empty = spark.createDataFrame([], "k long, t timestamp, attr string")
        apply_scd2_batch(spark, empty, state, ["k"], "t", ["attr"])
        assert read_scd2_dim(spark, state) is None

    def test_prune_bounds_dim_versions_replay_still_idempotent(
        self, spark, tmp_path
    ):
        """r15: prune_keep_last bounds the dimension's snapshot set
        (each version is a FULL dim copy — the O(dim × batches)
        retention leak). SCD2 replay safety never depended on old
        snapshots (dedupe=True re-applies against CURRENT), so the
        pruned state still absorbs a replay unchanged."""
        import os

        from cod_stats_spark.streaming import apply_scd2_batch, read_scd2_dim

        b1, b2 = self._batches()
        state = str(tmp_path / "dim")
        df1 = spark.createDataFrame(b1, "k long, t timestamp, attr string")
        df2 = spark.createDataFrame(b2, "k long, t timestamp, attr string")
        kw = dict(prune_keep_last=1)
        apply_scd2_batch(spark, df1, state, ["k"], "t", ["attr"], **kw)
        apply_scd2_batch(spark, df2, state, ["k"], "t", ["attr"], **kw)
        vdirs = [n for n in os.listdir(state) if n.startswith("v=")]
        assert vdirs == ["v=1"]  # only the live snapshot remains
        once = sorted(map(tuple, read_scd2_dim(spark, state).collect()))
        apply_scd2_batch(spark, df2, state, ["k"], "t", ["attr"], **kw)
        again = sorted(map(tuple, read_scd2_dim(spark, state).collect()))
        assert once == again
        assert [
            n for n in os.listdir(state) if n.startswith("v=")
        ] == ["v=2"]


class TestStatefulFunnelGap(TestStatefulFunnel):
    def test_gap_parity_with_batch(self, spark, tmp_path):
        """max_gap_seconds mirrors the batch operator: step j only
        counts within (t_{j-1}, t_{j-1}+gap]."""
        import datetime as dt

        from cod_stats_spark.operators.funnel import funnel_users
        from cod_stats_spark.streaming import stateful_funnel

        t = lambda h: dt.datetime(2026, 1, 1, h)
        rows = [
            (1, "view", t(0)), (1, "click", t(1)),   # inside 2h gap
            (2, "view", t(0)), (2, "click", t(5)),   # outside
        ]
        src = tmp_path / "in"
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        ).coalesce(1).write.parquet(f"{src}/b0")
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .parquet(f"{src}/*")
        )
        import uuid

        name = f"fgap_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_funnel(stream, ["view", "click"], max_gap_seconds=7200)
            .writeStream.outputMode("append").format("memory")
            .queryName(name).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {(r["user_id"], r["step"]) for r in spark.table(name).collect()}
        assert got == {(1, 1), (1, 2), (2, 1)}
        ev = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )
        want = set()
        for r in funnel_users(ev, ["view", "click"], max_gap_seconds=7200).collect():
            for i in (1, 2):
                if r[f"t{i}"] is not None:
                    want.add((r["user_id"], i))
        assert got == want
