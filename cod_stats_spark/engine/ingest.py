"""Bronze ingest: match JSON files + players config (SURVEY.md S6/S8).

Filename contract: ``match_{gameId}_{playerUnoId}.json``, one document
per (match, player) (reference fetcher/fetch_matches.ts:205-208). The
keys are recovered from input_file_name() so the payload body never has
to agree with the filename — same trust model as the reference parser
(parse_matches.sh:580-596).

Scale: spark.read.json with an explicit schema — no sampling pass, no
schema inference; each file is one task-splittable JSON document. A
leaf-only local glob (``<dir>/*.json``) is read as ``<dir>`` with a
``pathGlobFilter``: a glob that expands to more than 32 files makes
Spark list them in a parallel job with one task per file, while a single
directory root is listed on the driver with no job at all
(:func:`scan_root`).
Incremental loads are a left-anti join against the already-ingested
key ledger (SURVEY.md P6/S3), not a filesystem diff.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cod_stats_spark.engine.schemas import MATCH_SCHEMA, PLAYERS_CONFIG_SCHEMA

FILENAME_RE = r".*/match_([^_]+)_([^_/]+)\.json$"

_GLOB_CHARS = frozenset("*?[]{}\\")


def scan_root(path: str) -> tuple[str, dict[str, str]]:
    """(path, reader options) that read the same files as ``path``.

    A glob in the last component only, over a local directory with no
    subdirectories, becomes that directory plus ``pathGlobFilter``: the
    same file set (a directory read would also pick up files in
    subdirectories, hence that condition), listed without Spark's
    parallel listing job. Everything else — plain paths, globs in a
    parent component, URIs such as ``s3a://`` — passes through as is.
    """
    parent, leaf = os.path.split(path)
    if (
        "://" in path
        or not _GLOB_CHARS.intersection(leaf)
        or _GLOB_CHARS.intersection(parent)
        or not os.path.isdir(parent)
    ):
        return path, {}
    with os.scandir(parent) as entries:
        if any(e.is_dir() for e in entries):
            return path, {}
    return parent, {"pathGlobFilter": leaf}


def _read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    root, scan = scan_root(path)
    return spark.read.options(**scan, **options).json(root, schema=schema, multiLine=True)


def read_matches(spark: SparkSession, path: str) -> DataFrame:
    """Raw (bronze) match rows: one row per file, keys from filename."""
    raw = _read_json(spark, path, MATCH_SCHEMA)
    fname = F.input_file_name()
    return raw.select(
        F.regexp_extract(fname, FILENAME_RE, 1).alias("game_id"),
        F.regexp_extract(fname, FILENAME_RE, 2).alias("player_uno_id"),
        F.struct(*[F.col(f.name) for f in MATCH_SCHEMA.fields]).alias("stats"),
    )


def read_matches_from_api(spark: SparkSession, api_root: str, **options) -> DataFrame:
    """Bronze match rows via the paginated-API connector
    (sources/match_api.py) instead of a file glob: same output contract
    as :func:`read_matches`, with the natural keys taken from the
    payload itself (matchID + player.uno) since there is no filename.
    Everything downstream (normalize → silver → gold) is unchanged —
    the connector is just another bronze source.
    """
    from cod_stats_spark.sources.match_api import register_match_api_source

    register_match_api_source(spark)
    reader = spark.read.format("cod_match_api").option("path", api_root)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    raw = reader.load()
    stats = F.from_json("payload", MATCH_SCHEMA).alias("stats")
    return raw.select(stats).select(
        F.col("stats.matchID").alias("game_id"),
        F.col("stats.player.uno").alias("player_uno_id"),
        "stats",
    )


def read_players_config(spark: SparkSession, path: str) -> DataFrame:
    """players.json → (player_uno_id PK, player_id, is_core) dimension.

    Mirrors the jq seed (reference parser/parse_matches.sh:546-564):
    name lowercased to player_id, one row per account unoId, isCore
    defaulting false; full overwrite per run (rows for removed players
    disappear because the dim is rebuilt, not mutated).
    """
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


def incremental_new_rows(bronze: DataFrame, ledger: DataFrame | None) -> DataFrame:
    """Keep only (game_id, player_uno_id) pairs not already ingested —
    the INSERT OR IGNORE / NOT IN backfill semantics (SURVEY.md §1.4)."""
    deduped = bronze.dropDuplicates(["game_id", "player_uno_id"])
    if ledger is None:
        return deduped
    return deduped.join(
        ledger.select("game_id", "player_uno_id"),
        ["game_id", "player_uno_id"],
        "left_anti",
    )


def corrupt_matches(spark: SparkSession, path: str) -> DataFrame:
    """Audit source: files whose JSON failed to parse (the permissive
    reader silently nulls them out of the bronze path). Companion to
    the reference's unknown-mode audit views — ingest problems surface
    in a queryable view instead of disappearing.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [*MATCH_SCHEMA.fields, StructField("_corrupt_record", StringType())]
    )
    raw = _read_json(
        spark, path, schema, mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record"
    )
    fname = F.input_file_name()
    # NB: Spark refuses scans whose referenced source columns are ONLY
    # the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    # Downstream pruning (e.g. .count()) can strip every other column,
    # so the minimal projection is localCheckpoint'ed — the plan then
    # roots at a materialized RDD and pruning cannot reach the scan.
    return (
        raw.select("matchID", "_corrupt_record")
        .withColumn("_file", fname)
        .localCheckpoint(eager=False)
        .filter(F.col("_corrupt_record").isNotNull())
        .select(
            F.regexp_extract(F.col("_file"), FILENAME_RE, 1).alias("game_id"),
            F.regexp_extract(F.col("_file"), FILENAME_RE, 2).alias("player_uno_id"),
            F.col("matchID").alias("parsed_match_id"),
            F.col("_file").alias("file"),
            F.substring("_corrupt_record", 1, 200).alias("snippet"),
        )
    )
