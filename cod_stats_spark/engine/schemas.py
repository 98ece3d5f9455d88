"""Declared schemas for the match-stats domain.

The raw match payload is schema-on-read in the reference (every access
is ifnull(json_extract(...), default) — reference parser/
parse_matches.sh:621-670). Here we declare the consumed subset as an
explicit StructType so from_json parses ONCE into typed columns
(permissive: missing fields → null, defaulted downstream).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# playerStats.* fields consumed by normalization (reference
# parser/parse_matches.sh:629-669). All nullable — defaults applied in
# normalize.py, not at parse time, so data-quality filters can still
# see true nulls (damageDone/damageTaken null ⇒ row dropped).
PLAYER_STATS_SCHEMA = StructType(
    [
        StructField("score", DoubleType()),
        StructField("scorePerMinute", DoubleType()),
        StructField("kills", LongType()),
        StructField("deaths", LongType()),
        StructField("damageDone", LongType()),
        StructField("damageTaken", LongType()),
        StructField("gulagKills", LongType()),
        StructField("gulagDeaths", LongType()),
        StructField("teamPlacement", LongType()),
        StructField("kdRatio", DoubleType()),
        StructField("distanceTraveled", DoubleType()),
        StructField("headshots", LongType()),
        StructField("objectiveBrCacheOpen", LongType()),
        StructField("objectiveReviver", LongType()),
        StructField("objectiveBrDownEnemyCircle1", LongType()),
        StructField("objectiveBrDownEnemyCircle2", LongType()),
        StructField("objectiveBrDownEnemyCircle3", LongType()),
        StructField("objectiveBrDownEnemyCircle4", LongType()),
        StructField("objectiveBrDownEnemyCircle5", LongType()),
        StructField("objectiveBrDownEnemyCircle6", LongType()),
        StructField("objectiveDestroyedVehicleLight", LongType()),
        StructField("objectiveDestroyedVehicleMedium", LongType()),
        StructField("objectiveDestroyedVehicleHeavy", LongType()),
    ]
)

MATCH_SCHEMA = StructType(
    [
        StructField("matchID", StringType()),
        StructField("utcStartSeconds", LongType()),
        StructField("utcEndSeconds", LongType()),
        StructField("gameType", StringType()),
        StructField("mode", StringType()),
        StructField("playerCount", LongType()),
        StructField("teamCount", LongType()),
        StructField(
            "player",
            StructType([StructField("uno", StringType())]),
        ),
        StructField("playerStats", PLAYER_STATS_SCHEMA),
    ]
)

# config/players.json shape (reference fetcher/fetch_matches.ts:18-36).
# Element schema: Spark's JSON reader unrolls a top-level array into one
# row per element when given the element StructType + multiLine.
PLAYERS_CONFIG_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("isCore", BooleanType()),
        StructField(
            "accounts",
            ArrayType(
                StructType(
                    [
                        StructField("activisionPlatform", StringType()),
                        StructField("activisionTag", StringType()),
                        StructField("unoId", StringType()),
                    ]
                )
            ),
        ),
    ]
)
