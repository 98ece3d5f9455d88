"""Seeded, reference-shaped match corpora with a ground-truth sidecar.

A corpus is what the reference fetcher leaves on disk: one JSON document
per (match, player) named ``match_{gameId}_{unoId}.json``, plus the
``players.json`` config. Games are played in sessions by squads of 1-4
tracked players over about 2.5 years (March 2020 to August 2022, more
than ten seasons). Every corpus carries the FIXTURES.md edge cases:

- multi-account players (two unoIds, one display name);
- corrupt JSON files, and files of untracked players;
- unknown wz modes, untracked (plunder) modes, stimulus modes, ``mp`` games;
- null-damage rows and ``deaths=0 and damageTaken=0`` rows (both dropped);
- null stat fields that normalization defaults;
- session gaps of exactly 7200 s, full and partial squads, and sessions
  that straddle a season boundary.

Re-fetched duplicates of a key cannot sit in one directory (the filename
is the key), so they appear where the reference meets them: the stream
workload re-delivers keys that are already in silver (:func:`stream_plan`).

The ground truth is computed here from the payloads, independently of the
engine: the expected silver row count and each display player's lifetime
``matches`` and ``kills`` over tracked wz modes. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

START_EPOCH = 1_583_020_800  # 2020-03-01T00:00:00Z
SPAN_DAYS = 900  # to mid-August 2022
# season starts inside the span (cod_stats_spark/engine/dims.py SEASONS)
SEASON_STARTS = (1_591_844_400, 1_608_163_200, 1_638_921_600)  # s04, BO1, VG1

# modes by squad category (1-4); all tracked wz modes
FULL_MODES = {1: ("br_brsolo", "br_87"), 2: ("br_brduos", "br_88"),
              3: ("br_brtrios", "br_25"), 4: ("br_brquads", "br_89")}
STIMULUS_MODES = {1: "br_71", 2: "br_brbbduo", 3: "br_brtriostim_name2", 4: "br_brbbquad"}
UNTRACKED_MODE = "br_dmz_104"  # plunder: wz_track_stats = false
UNKNOWN_MODE = "br_mysterymode"  # not in the game-modes dim
MP_MODE = "mp_tdm"
TEAM_COUNTS = {1: 150, 2: 75, 3: 50, 4: 38}
TRACKED_WZ = {m for ms in FULL_MODES.values() for m in ms} | set(STIMULUS_MODES.values())


@dataclass(frozen=True)
class Shape:
    """How many players, how deep their histories, how they group."""

    players: int
    files: int  # tracked (match, player) files in the whole corpus
    depth: tuple[int, int]  # relative history depth per player, drawn uniformly
    friends: bool  # True: one friend group; False: a roster of small cliques
    multi_account: int = 2
    zero_game_players: int = 1  # configured players who never play


@dataclass
class Corpus:
    files: dict[str, bytes]  # filename -> document bytes
    players_config: list[dict]
    truth: dict
    docs: dict[str, dict | None]  # filename -> payload, None where corrupt


def _players(shape: Shape, rng: random.Random) -> list[dict]:
    out = []
    for i in range(shape.players + shape.zero_game_players):
        name = f"Player{i:04d}"
        accounts = [{"activisionPlatform": "battle", "activisionTag": f"{name}#1",
                     "unoId": str(1_000_000 + i)}]
        if i < shape.multi_account:
            accounts.append({"activisionPlatform": "acti", "activisionTag": f"{name}#2",
                             "unoId": str(9_000_000 + i)})
        entry = {"name": name, "accounts": accounts}
        if rng.random() < 0.75:  # isCore absent means false
            entry["isCore"] = True
        out.append(entry)
    return out


def _player_stats(rng: random.Random, placement: int) -> dict:
    kills = min(int(rng.expovariate(1 / 2.5)), 30)
    ps = {
        "score": round(rng.uniform(300, 6000), 1),
        "scorePerMinute": round(rng.uniform(50, 400), 2),
        "kills": kills,
        "deaths": rng.randint(0, 3),
        "damageDone": kills * 180 + rng.randint(0, 1500),
        "damageTaken": rng.randint(40, 1400),
        "gulagKills": 1 if rng.random() < 0.3 else 0,
        "gulagDeaths": 1 if rng.random() < 0.3 else 0,
        "teamPlacement": placement,
        "kdRatio": round(kills / max(1, rng.randint(1, 3)), 2),
        "distanceTraveled": round(rng.uniform(500, 9000), 1),
        "headshots": rng.randint(0, kills),
        "objectiveBrCacheOpen": rng.randint(0, 12),
        "objectiveReviver": rng.randint(0, 2),
        "objectiveBrDownEnemyCircle1": rng.randint(0, 2),
        "objectiveBrDownEnemyCircle2": rng.randint(0, 1),
        "objectiveDestroyedVehicleLight": rng.randint(0, 1),
    }
    r = rng.random()
    if r < 0.01:
        ps["damageDone"] = None  # dropped by the quality filter
    elif r < 0.02:
        ps["deaths"], ps["damageTaken"] = 0, 0  # bugged row, dropped
    elif r < 0.04:
        ps["kills"] = ps["teamPlacement"] = ps["headshots"] = None  # defaulted
    return ps


def _pick_mode(rng: random.Random, squad: int) -> tuple[str, str, int]:
    """(gameType, mode, category size); full squads mostly, some partial."""
    r = rng.random()
    if r < 0.03:
        return "wz", UNTRACKED_MODE, 4
    if r < 0.05:
        return "wz", UNKNOWN_MODE, 4
    if r < 0.08:
        return "mp", MP_MODE, 4
    if r < 0.14:
        return "wz", STIMULUS_MODES[squad], squad
    size = squad if squad == 4 or rng.random() < 0.8 else rng.randint(squad + 1, 4)
    return "wz", rng.choice(FULL_MODES[size]), size


def generate(shape: Shape, seed: int) -> Corpus:
    """One corpus of ``shape``; a pure function of ``seed``."""
    rng = random.Random(seed)
    config = _players(shape, rng)
    n = shape.players
    unos = [[a["unoId"] for a in p["accounts"]] for p in config]
    weights = [rng.uniform(*shape.depth) for _ in range(n)]
    target = [max(1, round(w * shape.files / sum(weights))) for w in weights]
    played = [0] * n
    docs: dict[str, dict] = {}
    counter = 0
    boundary_starts = [s - 2400 for s in SEASON_STARTS]  # straddling sessions
    last_squad: list[int] | None = None
    last_end = 0

    while True:
        open_ = [i for i in range(n) if played[i] < target[i]]
        if not open_:
            break
        steps = [rng.randint(1500, 2700) for _ in range(rng.randint(1, 6))]
        if last_squad and rng.random() < 0.04:
            # the session's first game ends exactly 7200 s after the last one
            squad, start = last_squad, last_end + 7200 - steps[0]
        else:
            lead = rng.choice(open_)
            size = rng.choices((1, 2, 3, 4), weights=(15, 30, 30, 25))[0]
            if shape.friends:
                pool = [i for i in open_ if i != lead]
            else:  # cliques of neighbouring roster slots
                pool = [i for i in range(max(0, lead - 3), min(n, lead + 4))
                        if i != lead and played[i] < target[i]]
            squad = [lead] + rng.sample(pool, min(size - 1, len(pool)))
            if boundary_starts:  # games at -600 s, +1200 s, +3000 s around a season start
                start, steps = boundary_starts.pop(), [1800, 1800, 1800]
            else:
                start = START_EPOCH + rng.randrange(SPAN_DAYS * 86400)
        t = start
        for step in steps:
            t += step
            game_type, mode, cat = _pick_mode(rng, len(squad))
            counter += 1
            gid = str(4_000_000_000_000_000 + counter)
            teams = TEAM_COUNTS[cat]
            placement = rng.randint(1, teams)
            members = [(rng.choice(unos[i]), i) for i in squad]
            if rng.random() < 0.01:  # a fetched file of an untracked player
                members.append((str(7_000_000 + counter), None))
            for uno, i in members:
                docs[f"match_{gid}_{uno}.json"] = {
                    "matchID": gid,
                    "utcStartSeconds": t - 1800,
                    "utcEndSeconds": t,
                    "gameType": game_type,
                    "mode": mode,
                    "playerCount": 150,
                    "teamCount": teams,
                    "player": {"uno": uno},
                    "playerStats": _player_stats(rng, placement),
                }
                if i is not None:
                    played[i] += 1
        last_squad, last_end = squad, t

    files = {}
    names = sorted(docs)
    corrupt = {name for name in names if rng.random() < 0.003} or {names[-1]}
    for name in names:
        text = json.dumps(docs[name], separators=(",", ":"))
        if name in corrupt:
            text = text[: len(text) // 2]  # truncated download
            docs[name] = None
        files[name] = text.encode()
    return Corpus(
        files=files,
        players_config=config,
        truth=ground_truth(docs, config),
        docs=docs,
    )


def _valid(doc: dict | None, tracked: dict[str, str]) -> bool:
    """Survives normalization: parses, tracked account, quality filters."""
    if doc is None or doc["player"]["uno"] not in tracked:
        return False
    ps = doc["playerStats"]
    if ps["damageDone"] is None or ps["damageTaken"] is None:
        return False
    return not ((ps["deaths"] or 0) == 0 and ps["damageTaken"] == 0)


def ground_truth(docs: dict[str, dict | None], config: list[dict]) -> dict:
    """Expected silver rows and lifetime (matches, kills) per display player."""
    tracked = {a["unoId"]: p["name"].lower() for p in config for a in p["accounts"]}
    players = {p["name"].lower(): {"matches": 0, "kills": 0} for p in config}
    silver = 0
    for doc in docs.values():
        if not _valid(doc, tracked):
            continue
        silver += 1
        if doc["gameType"] == "wz" and doc["mode"] in TRACKED_WZ:
            row = players[tracked[doc["player"]["uno"]]]
            row["matches"] += 1
            row["kills"] += doc["playerStats"]["kills"] or 0
    return {"silver_rows": silver, "players": players}


def write(corpus: Corpus, root: str) -> tuple[str, str]:
    """Write ``root/matches/*.json``, ``root/players.json`` and the
    ``root/truth.json`` sidecar; returns (matches_dir, players_json)."""
    mdir = os.path.join(root, "matches")
    write_files(corpus.files, mdir)
    players_json = os.path.join(root, "players.json")
    with open(players_json, "w") as f:
        json.dump(corpus.players_config, f, indent=1)
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(corpus.truth, f, indent=1, sort_keys=True)
    return mdir, players_json


def write_files(files: dict[str, bytes], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(directory, name), "wb") as f:
            f.write(data)


@dataclass
class StreamPlan:
    seed_corpus: Corpus  # history already in silver before the stream starts
    batches: list[dict[str, bytes]]  # files delivered per micro-batch, in order
    expected_rows: list[int]  # silver rows once batches[0..b] have been merged


def stream_plan(shape: Shape, seed: int, batches: int, batch_files: int,
                redeliver: float = 0.1) -> StreamPlan:
    """Split one corpus in time: the newest ``batches * batch_files`` files
    arrive in deliveries of ``batch_files``, the older ones seed silver.
    Each delivery also re-sends a ``redeliver`` share of keys already in
    silver (the fetcher's page overlap), and every third carries one
    corrupt file."""
    full = generate(shape, seed)
    rng = random.Random(seed + 1)
    parsed = [k for k, d in full.docs.items() if d is not None]
    by_time = sorted(parsed, key=lambda k: (full.docs[k]["utcEndSeconds"], k))
    new = by_time[len(by_time) - batches * batch_files:]
    new_set = set(new)
    old = {k: full.docs[k] for k in full.files if k not in new_set}
    seed_corpus = Corpus({k: full.files[k] for k in old}, full.players_config,
                         ground_truth(old, full.players_config), old)

    replay_pool = sorted(k for k, d in old.items() if d is not None)
    rng.shuffle(replay_pool)
    uno = full.players_config[0]["accounts"][0]["unoId"]
    plan, expected = [], []
    rows = seed_corpus.truth["silver_rows"]
    for b in range(batches):
        names = new[b * batch_files:(b + 1) * batch_files]
        resend = max(1, int(len(names) * redeliver))
        batch = {k: full.files[k] for k in names + replay_pool[-resend:]}
        del replay_pool[-resend:]
        if b % 3 == 1:
            gid = str(5_000_000_000_000_000 + b)
            batch[f"match_{gid}_{uno}.json"] = b'{"matchID":"' + gid.encode()
        rows += ground_truth({k: full.docs[k] for k in names}, full.players_config)["silver_rows"]
        plan.append(batch)
        expected.append(rows)
    return StreamPlan(seed_corpus, plan, expected)
