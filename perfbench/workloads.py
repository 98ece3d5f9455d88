"""The benchmark's workloads, driven only through the pipeline's public
functions: ``Engine`` (cod_stats_spark/engine/api.py), ``search_players``,
``write_silver`` and ``stream_matches_to_silver``
(cod_stats_spark/streaming/match_ingest.py).

Each workload has the same life cycle, run by ``run.py``:

- ``inputs(rep)``: generate and write the seeded inputs; run three times,
  the last copy is the one used;
- ``prepare()``: seed or warm state, once (the seeded silver, the warm
  engine, the first stream micro-batch, the warm-up pages);
- ``op(i)`` inside a timed span, then ``check(i)`` outside it, which
  returns the failed output checks of that op, while ``more()`` holds;
- ``finish()``: checks that need the whole run;
- ``layer_pass()``: traced runs only, after the timed loop; times each
  view builder serially on warm cache, and calls once each public layer
  the workload's own loop never calls, so every per-layer metric is
  measured on every workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timezone

from perfbench import corpus
from perfbench.stats import percentile

FIXED_NOW = datetime(2022, 9, 1, tzinfo=timezone.utc)  # meta.json timestamp

# corpus shapes (and the stream's deliveries x files each) per scale
SCALES = {
    "full": {
        "history": corpus.Shape(players=16, files=1000, depth=(1, 4), friends=True),
        "roster": corpus.Shape(players=200, files=1000, depth=(1, 2), friends=False),
        "stream": corpus.Shape(players=16, files=2800, depth=(1, 4), friends=True),
        "stream_batches": (40, 60),  # planned deliveries x files each
        "queries": corpus.Shape(players=80, files=240, depth=(1, 4), friends=False),
    },
    "tiny": {
        "history": corpus.Shape(players=6, files=120, depth=(1, 3), friends=True),
        "roster": corpus.Shape(players=16, files=60, depth=(1, 2), friends=False),
        "stream": corpus.Shape(players=6, files=200, depth=(1, 3), friends=True),
        "stream_batches": (6, 15),
        "queries": corpus.Shape(players=20, files=100, depth=(1, 3), friends=False),
    },
}

# view builder span name -> Engine method producing the view
VIEW_BUILDERS = {
    "sessions.session_stats": "session_stats",
    "rollups.daily": "daily",
    "rollups.by_game": "by_game",
    "rollups.season_rollup": "season_rollup",
    "rollups.placement_pivot": "placement_pivot",
    "timeseries.seasonal_daily": "seasonal_daily_timeseries",
    "timeseries.seasonal_by_game": "seasonal_by_game_timeseries",
    "leaderboards.gulag_streaks": "gulag_streaks",
    "teams.full_game_stats": "full_game_stats",
    "teams.team_breakdowns": "team_breakdowns",
}

SESSIONS_SQL = ("SELECT * FROM player_sessions_with_stats WHERE player_id = '{p}' "
                "ORDER BY session_number")
DAILY_SQL = "SELECT * FROM player_stats_by_day_wz WHERE player_id = '{p}' ORDER BY date_key"


def report_digest(out_dir: str) -> tuple[set[str], str, int]:
    """(relative paths, sha256 over paths and bytes without meta.json, bytes)."""
    h = hashlib.sha256()
    rels, total = set(), 0
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            rels.add(os.path.relpath(os.path.join(dirpath, name), out_dir))
    for rel in sorted(rels):
        with open(os.path.join(out_dir, rel), "rb") as f:
            data = f.read()
        total += len(data)
        if rel != "meta.json":
            h.update(rel.encode() + b"\0" + data)
    return rels, h.hexdigest(), total


def expected_reports(config: list[dict]) -> set[str]:
    """players x seasons x 2 + players x 2 + 7 documents."""
    from cod_stats_spark.engine.dims import SEASONS

    out = {"leaderboard_bygame.json", "leaderboard_lifetime.json", "team_leaderboards.json",
           "recent_matches.json", "recent_sessions.json", "seasons.json", "meta.json"}
    for p in config:
        pid = p["name"].lower()
        out |= {f"players/{pid}_player_stats.json", f"players/sessions_{pid}.json"}
        for sid, *_ in SEASONS:
            out |= {f"players/{pid}_{sid}_time_wz.json", f"players/{pid}_{sid}_game_wz.json"}
    return out


def _levenshtein(a: str, b: str) -> int:
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1, prev + (ca != cb))
    return row[-1]


def expected_search(config: list[dict], query: str, k: int = 10) -> list[str]:
    """The player ids ``search_players`` ranks first: one row per account,
    ordered by exact prefix, then substring, then edit distance, then id."""
    def rank(pid: str) -> tuple:
        tier = 0 if pid.startswith(query) else 1 if query in pid else 2
        return tier, _levenshtein(pid, query), pid

    ids = [p["name"].lower() for p in config for _ in p["accounts"]]
    return sorted(ids, key=rank)[:k]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of a parquet directory."""
    files = [os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns
             if n.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    """Shared state and the serial layer pass."""

    name = ""
    calls_layers: frozenset[str] = frozenset()  # layers the timed loop itself calls

    def __init__(self, spark, tracer, work: str, seed: int, scale: str, digests: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.scale = SCALES[scale]
        self.digests_dir = digests  # outlives the run: report digests per seed
        self.engine = None  # the engine the layer pass runs on
        self.config: list[dict] = []
        self.truth: dict = {}
        self.layer_counts: dict[str, float] = {}
        self.tracer, self.span = tracer, tracer.span

    def build_engine(self, mdir: str, players_json: str, stats: bool = True):
        from cod_stats_spark.engine import Engine

        with self.span("ingest.from_paths"):
            eng = Engine.from_paths(self.spark, f"{mdir}/*.json", players_json)
        with self.span("normalize.valid_games"):
            rows = eng.valid_games().count()
        if stats:
            with self.span("stats.stats_wz"):
                eng.stats_wz().count()
        self.layer_counts.update({
            "ingest.files": len(eng.bronze.inputFiles()),
            "normalize.rows_in": len(eng.bronze.inputFiles()),  # one row per file
            "normalize.rows_out": rows,
        })
        return eng, rows

    def inputs(self, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def op(self, i: int) -> None:
        raise NotImplementedError

    def more(self) -> bool:
        """False once the workload has no inputs left for another op."""
        return True

    def check(self, i: int) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []

    def summary(self, op_spans) -> dict:
        """This workload's named end-to-end metrics, for the summary line."""
        return {}

    def layer_pass(self) -> None:
        from cod_stats_spark.engine.api import search_players

        eng = self.engine
        if "stats" not in self.calls_layers:
            with self.span("stats.stats_wz"):
                eng.stats_wz().count()
        for span_name, method in VIEW_BUILDERS.items():
            with self.span(span_name):
                getattr(eng, method)().count()
        with self.span("leaderboards.by_game_boards"):
            for board in eng.leaderboards().values():
                board.collect()
        with self.span("api.register_views"):
            eng.register_views()
        pid = self.config[0]["name"].lower()
        if "api" not in self.calls_layers:
            for sql in (SESSIONS_SQL, DAILY_SQL):
                with self.span("api.sql"):
                    eng.sql(sql.format(p=pid)).collect()
            with self.span("api.search_players"):
                search_players(eng.players, pid[:-1]).collect()
        if "reports" not in self.calls_layers:
            out = os.path.join(self.work, "layer_reports")
            with self.span("reports.write") as s:
                eng.write_reports(out, now=FIXED_NOW)
            rels, _, size = report_digest(out)
            s.attrs.update(files=len(rels), bytes=size)
        if "streaming" not in self.calls_layers:
            self._one_delivery()

    def _one_delivery(self, files: int = 40) -> None:
        """Stream one delivery of this workload's own files into a fresh silver."""
        from cod_stats_spark.streaming.match_ingest import stream_matches_to_silver

        root = os.path.join(self.work, "layer_stream")
        stage, watch = os.path.join(root, "stage"), os.path.join(root, "watch")
        silver = os.path.join(root, "silver")
        os.makedirs(stage)
        os.makedirs(watch)
        names = sorted(os.listdir(self.mdir))[:files]
        for name in names:
            shutil.copyfile(os.path.join(self.mdir, name), os.path.join(stage, name))
        q = stream_matches_to_silver(self.spark, watch, self.engine.players, silver,
                                     checkpoint_path=os.path.join(root, "ckpt"))
        try:
            with self.span("streaming.batch", files=len(names)):
                for name in names:
                    os.rename(os.path.join(stage, name), os.path.join(watch, name))
                q.processAllAvailable()
        finally:
            q.stop()
        rows = self.spark.read.parquet(silver).count()
        self._silver_counts(silver, rows, rows, len(names))

    def _silver_counts(self, silver: str, rows: int, appended: int, delivered: int) -> None:
        data_files, size = _dir_bytes(silver)
        self.layer_counts.update({
            "streaming.rows_appended": appended, "streaming.files_delivered": delivered,
            "silver.files": data_files, "silver.bytes_per_row": size / max(rows, 1),
        })

    def _write_corpus(self, rep: int, c: corpus.Corpus) -> tuple[str, str]:
        root = os.path.join(self.work, f"rep{rep}")
        mdir, players_json = corpus.write(c, root)
        self.config, self.truth, self.mdir = c.players_config, c.truth, mdir
        return mdir, players_json


class HistoryRebuild(Workload):
    """The cron rebuild over a friend group's deep histories.

    A run makes one op: the first rebuild in a fresh JVM, as the cron job
    runs it. Further rebuilds in the same JVM would be warm, and a run
    mixing cold and warm ones would report a different op from run to run.
    """

    name = "history_rebuild"
    shape = "history"
    calls_layers = frozenset({"ingest", "normalize", "stats", "reports"})

    def inputs(self, rep: int) -> None:
        c = corpus.generate(self.scale[self.shape], self.seed)
        self.mdir, self.players_json = self._write_corpus(rep, c)
        self.expected = expected_reports(c.players_config)
        self.digest = ""

    def more(self) -> bool:
        return self.engine is None

    def op(self, i: int) -> None:
        self.engine, self.silver_rows = self.build_engine(self.mdir, self.players_json)
        self.out = os.path.join(self.work, "reports")
        with self.span("reports.write") as s:
            self.engine.write_reports(self.out, now=FIXED_NOW)
        self.report_span = s

    def check(self, i: int) -> list[str]:
        fails = []
        if self.silver_rows != self.truth["silver_rows"]:
            fails.append(f"silver rows {self.silver_rows} != {self.truth['silver_rows']}")
        rels, self.digest, size = report_digest(self.out)
        self.report_span.attrs.update(files=len(rels), bytes=size)
        if rels != self.expected:
            fails.append(f"report set: {len(rels ^ self.expected)} files differ")
        for pid, want in self.truth["players"].items():
            path = os.path.join(self.out, "players", f"{pid}_player_stats.json")
            if not os.path.exists(path):
                continue  # reported by the set check
            with open(path) as f:
                life = [r for r in json.load(f) if r["season_id"] == "lifetime"]
            got = {"matches": life[0]["matches"], "kills": life[0]["kills"]} if life else \
                {"matches": 0, "kills": 0}
            if got != want:
                fails.append(f"{pid} lifetime {got} != {want}")
        return fails

    def finish(self) -> list[str]:
        """Report bytes must match every earlier run of the same seed."""
        os.makedirs(self.digests_dir, exist_ok=True)
        shape = hashlib.sha256(repr(self.scale[self.shape]).encode()).hexdigest()[:12]
        path = os.path.join(self.digests_dir, f"{self.name}-{shape}-{self.seed}")
        if os.path.exists(path):
            with open(path) as f:
                if f.read() != self.digest:
                    return ["report bytes differ from an earlier run of this seed"]
        elif self.digest:
            with open(path, "w") as f:
                f.write(self.digest)
        return []

    def summary(self, op_spans) -> dict:
        return {"rebuild_s": percentile([s.seconds for s in op_spans], 50)}


class RosterFanout(HistoryRebuild):
    """The same rebuild over a large roster of players with shallow
    histories: ``write_reports`` emits players x 38 documents."""

    name = "roster_fanout"
    shape = "roster"


class StreamAppend(Workload):
    """Micro-batches of new match files merged into an existing silver."""

    name = "stream_append"
    calls_layers = frozenset({"ingest", "normalize", "streaming"})

    def inputs(self, rep: int) -> None:
        batches, per = self.scale["stream_batches"]
        self.plan = corpus.stream_plan(self.scale["stream"], self.seed, batches, per)
        self.players_json = self._write_corpus(rep, self.plan.seed_corpus)[1]
        # each delivery is staged beside the watched directory, then renamed in
        root = os.path.join(self.work, f"rep{rep}")
        self.watch, self.stage = os.path.join(root, "watch"), os.path.join(root, "stage")
        os.makedirs(self.watch)
        for b, files in enumerate(self.plan.batches):
            corpus.write_files(files, os.path.join(self.stage, f"b{b:03d}"))
        self.silver = os.path.join(root, "silver")
        self.delivered = 0

    def prepare(self) -> None:
        """Silver from a batch run over the older history, then the stream
        started and its first delivery merged."""
        from cod_stats_spark.engine.api import write_silver
        from cod_stats_spark.streaming.match_ingest import stream_matches_to_silver

        self.engine, _ = self.build_engine(self.mdir, self.players_json, stats=False)
        with self.span("silver.write"):
            write_silver(self.engine.valid_games(), self.silver, partition_by_day=False)
        self.query = stream_matches_to_silver(
            self.spark, self.watch, self.engine.players, self.silver,
            checkpoint_path=os.path.join(self.work, "ckpt"))
        self._deliver()

    def _deliver(self) -> None:
        src = os.path.join(self.stage, f"b{self.delivered:03d}")
        with self.span("streaming.batch", files=len(os.listdir(src))):
            for name in sorted(os.listdir(src)):
                os.rename(os.path.join(src, name), os.path.join(self.watch, name))
            self.query.processAllAvailable()
        self.delivered += 1

    def more(self) -> bool:
        return self.delivered < len(self.plan.batches)

    def op(self, i: int) -> None:
        self._deliver()

    def finish(self) -> list[str]:
        self.query.stop()
        df = self.spark.read.parquet(self.silver)
        rows = df.count()
        keys = df.select("game_id", "player_uno_id").distinct().count()
        want = self.plan.expected_rows[self.delivered - 1]
        seed_rows = self.plan.seed_corpus.truth["silver_rows"]
        delivered = sum(len(b) for b in self.plan.batches[: self.delivered])
        self._silver_counts(self.silver, rows, rows - seed_rows, delivered)
        fails = []
        if rows != want:
            fails.append(f"silver rows {rows} != {want}")
        if keys != rows:
            fails.append(f"silver has {rows - keys} duplicate keys")
        return fails

    def summary(self, op_spans) -> dict:
        streamed = sum(s.seconds for s in op_spans)
        rows = self.plan.expected_rows[self.delivered - 1] - self.plan.expected_rows[0]
        return {"batch_p50_s": percentile([s.seconds for s in op_spans], 50),
                "ingest_rows_per_s": rows / streamed if streamed else 0.0}


class PlayerQueries(Workload):
    """Player pages served from a warm engine, players drawn Zipf-skewed."""

    name = "player_queries"
    calls_layers = frozenset({"ingest", "normalize", "stats", "api"})
    # one op is one player page: every query kind, for one player. A page
    # is the unit a user waits for, and its latency varies less between
    # runs on a shared machine than that of a single query.
    QUERY_SPANS = ("api.sql", "stats.mode_aggregate", "api.search_players")

    def inputs(self, rep: int) -> None:
        c = corpus.generate(self.scale["queries"], self.seed)
        self.players_json = self._write_corpus(rep, c)[1]
        rng = random.Random(self.seed)
        ids = [p["name"].lower() for p in c.players_config]
        rng.shuffle(ids)
        self.players = ids
        self.weights = [1 / (rank + 1) ** 1.1 for rank in range(len(ids))]
        self.rng = rng
        self.answers: dict[int, tuple[str, list]] = {}

    WARM_PAGES = 4  # the JIT is busiest for the first ~4 pages after a cold engine

    def prepare(self) -> None:
        """A warm engine, then pages until their latency has settled."""
        self.engine, _ = self.build_engine(self.mdir, self.players_json)
        for pid in self.players[:self.WARM_PAGES]:
            self._page(pid)

    def _page(self, pid: str) -> list:
        from pyspark.sql import functions as F

        from cod_stats_spark.engine.api import search_players

        eng = self.engine
        with self.span("api.sql"):
            sessions = eng.sql(SESSIONS_SQL.format(p=pid)).collect()
        with self.span("api.sql"):
            daily = eng.sql(DAILY_SQL.format(p=pid)).collect()
        with self.span("stats.mode_aggregate"):
            modes = (eng.stats_wz().where(F.col("player_id") == pid)
                     .groupBy("game_mode_sub")
                     .agg(F.count(F.lit(1)).alias("matches"), F.sum("kills").alias("kills"))
                     .collect())
        with self.span("api.search_players"):
            found = search_players(eng.players, pid[:-1]).collect()
        return [sessions, daily, modes, found]

    def op(self, i: int) -> None:
        pid = self.rng.choices(self.players, self.weights)[0]
        self.answers[i] = (pid, self._page(pid))

    def check(self, i: int) -> list[str]:
        pid, (sessions, daily, modes, found) = self.answers.pop(i)
        want = self.truth["players"][pid]
        fails = []
        got = {"matches": sum(r["numGames"] for r in sessions)}
        if got["matches"] != want["matches"]:
            fails.append(f"sessions {pid}: {got} != {want}")
        for kind, rows, col in (("daily", daily, "matchesPlayed"), ("modes", modes, "matches")):
            got = {"matches": sum(r[col] for r in rows), "kills": sum(r["kills"] for r in rows)}
            if got != want:
                fails.append(f"{kind} {pid}: {got} != {want}")
        got, want = sorted(r["player_id"] for r in found), expected_search(self.config, pid[:-1])
        if got != sorted(want):
            fails.append(f"search {pid[:-1]!r}: {got} != {want}")
        return fails

    def summary(self, op_spans) -> dict:
        ops = {s.id for s in op_spans}
        ms = [s.seconds * 1000 for s in self.tracer.spans
              if s.parent in ops and s.name in self.QUERY_SPANS]
        return {"queries": len(ms), "query_p50_ms": percentile(ms, 50),
                "query_p90_ms": percentile(ms, 90)}


WORKLOADS = {w.name: w for w in (HistoryRebuild, RosterFanout, StreamAppend, PlayerQueries)}
