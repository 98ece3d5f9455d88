"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/tests -q

The run tests start one Spark JVM per run (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402
from perfbench.workloads import SCALES  # noqa: E402

WORKLOADS = ["history_rebuild", "roster_fanout", "stream_append", "player_queries"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(c: corpus.Corpus) -> str:
    h = hashlib.sha256()
    for name, data in c.files.items():
        h.update(name.encode() + b"\0" + data)
    h.update(json.dumps([c.players_config, c.truth], sort_keys=True).encode())
    return h.hexdigest()


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


class TestCorpus:
    def test_same_seed_same_bytes(self):
        shape = SCALES["full"]["history"]
        assert _digest(corpus.generate(shape, 7)) == _digest(corpus.generate(shape, 7))
        assert _digest(corpus.generate(shape, 7)) != _digest(corpus.generate(shape, 8))

    def test_stream_plan_is_deterministic(self):
        shape = SCALES["tiny"]["stream"]
        a, b = corpus.stream_plan(shape, 5, 6, 15), corpus.stream_plan(shape, 5, 6, 15)
        assert a.batches == b.batches and a.expected_rows == b.expected_rows
        assert _digest(a.seed_corpus) == _digest(b.seed_corpus)

    def test_written_corpus_is_byte_identical(self, tmp_path):
        shape = SCALES["tiny"]["history"]
        trees = []
        for d in ("a", "b"):
            root = tmp_path / d
            corpus.write(corpus.generate(shape, 11), str(root))
            trees.append({str(p.relative_to(root)): p.read_bytes()
                          for p in root.rglob("*") if p.is_file()})
        assert trees[0] == trees[1]
        assert {"players.json", "truth.json"} <= set(trees[0])

    def test_edge_cases_present(self):
        c = corpus.generate(SCALES["full"]["history"], 1)
        docs = [d for d in c.docs.values() if d is not None]
        modes = {d["mode"] for d in docs}
        assert {corpus.UNKNOWN_MODE, corpus.UNTRACKED_MODE, corpus.MP_MODE} <= modes
        assert modes & set(corpus.STIMULUS_MODES.values())
        assert any(d is None for d in c.docs.values())  # corrupt file
        stats = [d["playerStats"] for d in docs]
        assert any(s["damageDone"] is None for s in stats)
        assert any(s["deaths"] == 0 and s["damageTaken"] == 0 for s in stats)
        assert any(s["kills"] is None for s in stats)
        tracked = {a["unoId"] for p in c.players_config for a in p["accounts"]}
        assert any(d["player"]["uno"] not in tracked for d in docs)  # untracked player
        # both accounts of a multi-account player are used
        multi = [p for p in c.players_config if len(p["accounts"]) == 2]
        used = {d["player"]["uno"] for d in docs}
        assert multi and all(a["unoId"] in used for p in multi for a in p["accounts"])
        # a configured player with no games
        assert any(v["matches"] == 0 for v in c.truth["players"].values())

    def test_temporal_and_squad_patterns(self):
        c = corpus.generate(SCALES["full"]["history"], 2)
        docs = [d for d in c.docs.values() if d is not None]
        name_of = {a["unoId"]: p["name"] for p in c.players_config for a in p["accounts"]}
        by_player: dict[str, list[int]] = {}
        per_game: dict[str, list[dict]] = {}
        for d in docs:
            player = name_of.get(d["player"]["uno"])
            by_player.setdefault(player, []).append(d["utcEndSeconds"])
            per_game.setdefault(d["matchID"], []).append(d)
        gaps = {b - a for ts in by_player.values() for a, b in zip(sorted(ts), sorted(ts)[1:])}
        assert 7200 in gaps
        # full squads (members == team size) and partial ones
        sizes = {(len(g), g[0]["teamCount"]) for g in per_game.values() if g[0]["mode"]
                 in {m for ms in corpus.FULL_MODES.values() for m in ms}}
        size_of = {v: k for k, v in corpus.TEAM_COUNTS.items()}
        assert any(n == size_of[t] for n, t in sizes if n > 1)
        assert any(n < size_of[t] for n, t in sizes)
        # a session straddling a season start
        for start in corpus.SEASON_STARTS:
            ends = [d["utcEndSeconds"] for d in docs]
            assert any(start - 3600 < t < start for t in ends)
            assert any(start <= t < start + 7200 for t in ends)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_one_tiny_op_untraced(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    summary = json.loads(p.stdout.strip().splitlines()[-2])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert summary["error_rate"] == 0
    assert set(result["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name] and m["value"] > 0


def test_traced_run_prints_every_layer_metric():
    p = _run("player_queries", 1)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"]
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == spec
    for name in ("api.sql_s", "reports.write_s", "streaming.batch_s", "rollups.daily_s"):
        assert result["metrics"][name]["value"] > 0
    trace = os.path.join(ROOT, ".perfbench_out", "traces", "player_queries-3.jsonl")
    spans = [json.loads(line) for line in open(trace)]
    assert {"id", "name", "parent", "op", "start_s", "end_s", "self_s"} <= set(spans[0])


def test_fails_without_the_pipeline(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ is not runnable."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("history_rebuild", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
