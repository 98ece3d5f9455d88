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

One bronze contract for every consumer — the batch engine, the corrupt
audit, the API connector and the streaming merge: ``BRONZE_SCHEMA`` is
read (or ``from_json``-parsed) PERMISSIVE, and :func:`bronze` projects
it to ``(game_id, player_uno_id, stats, _corrupt_record)``. One rule,
:func:`unparsed`, says which rows did not parse; the audit lists them
and the stream's failure ledger counts them. Incremental loads are a
left-anti join against the already-ingested key ledger (SURVEY.md
P6/S3, :func:`incremental_new_rows`), not a filesystem diff.

The players config is parsed once, by the same typed reader, and
turned into its dimension on the driver (:func:`read_players_config`):
the dim is a JVM-local relation that every consumer — silver's
tracked-player join, ``stats_wz``'s display-player window, the
per-player documents, player search — reads with no file scan.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from cod_stats_spark.engine.dims import _inline_table
from cod_stats_spark.engine.schemas import MATCH_SCHEMA, PLAYERS_CONFIG_SCHEMA

FILENAME_RE = r".*/match_([^_]+)_([^_/]+)\.json$"

# PERMISSIVE (the default mode) keeps a document that fails to parse as
# a row of nulls with its text in _corrupt_record (the session-default
# column name), for spark.read.json, readStream.json and from_json alike
BRONZE_SCHEMA = StructType(
    [*MATCH_SCHEMA.fields, StructField("_corrupt_record", StringType())]
)

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


def bronze(raw: DataFrame) -> DataFrame:
    """Rows read with ``BRONZE_SCHEMA`` → the bronze contract
    ``(game_id, player_uno_id, stats, _corrupt_record)``, keys from the
    ``match_{gameId}_{playerUnoId}.json`` filename."""
    fname = F.input_file_name()
    return raw.select(
        F.regexp_extract(fname, FILENAME_RE, 1).alias("game_id"),
        F.regexp_extract(fname, FILENAME_RE, 2).alias("player_uno_id"),
        F.struct(*[F.col(f.name) for f in MATCH_SCHEMA.fields]).alias("stats"),
        "_corrupt_record",
    )


def unparsed() -> Column:
    """The one parse-failure rule over bronze: the document did not
    parse and no matchID came out of it. Naming ``matchID`` also keeps a
    second column in every pruned scan, so Spark never sees a query over
    the corrupt-record column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    return F.col("_corrupt_record").isNotNull() & F.col("stats.matchID").isNull()


def read_matches(spark: SparkSession, path: str) -> DataFrame:
    """Raw (bronze) match rows: one row per file, keys from filename."""
    root, scan = scan_root(path)
    return bronze(spark.read.options(**scan).json(root, schema=BRONZE_SCHEMA, multiLine=True))


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
    raw = reader.load().select(F.from_json("payload", BRONZE_SCHEMA).alias("p")).select("p.*")
    return bronze(raw).withColumns(
        {"game_id": F.col("stats.matchID"), "player_uno_id": F.col("stats.player.uno")}
    )


PLAYERS_SCHEMA = "player_uno_id string, player_id string, is_core boolean"


def read_players_config(spark: SparkSession, path: str) -> DataFrame:
    """players.json → (player_uno_id PK, player_id, is_core) dimension.

    Mirrors the jq seed (reference parser/parse_matches.sh:546-564):
    name lowercased to player_id, one row per account unoId (the first
    entry wins), isCore defaulting false; full overwrite per run (rows
    for removed players disappear because the dim is rebuilt, not
    mutated). The typed reader parses the file in one job; the rest
    runs on the driver, and the dim is a JVM-local relation like the
    static dims, so its consumers neither re-read nor re-shuffle it.
    """
    dim: dict[str | None, tuple] = {}
    for entry in spark.read.json(path, schema=PLAYERS_CONFIG_SCHEMA, multiLine=True).collect():
        player_id = None if entry.name is None else entry.name.lower()
        for acct in entry.accounts or []:
            uno = None if acct is None else acct.unoId
            dim.setdefault(uno, (uno, player_id, bool(entry.isCore)))
    return _inline_table(spark, list(dim.values()), PLAYERS_SCHEMA)


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


def corrupt_matches(bronze: DataFrame) -> DataFrame:
    """Audit source: the bronze rows that did not parse (:func:`unparsed`
    — normalize drops them as null-damage rows, so without this view
    they would disappear). Companion to the reference's unknown-mode
    audit views — ingest problems surface in a queryable view.
    """
    return bronze.filter(unparsed()).select(
        "game_id",
        "player_uno_id",
        F.input_file_name().alias("file"),
        F.substring("_corrupt_record", 1, 200).alias("snippet"),
    )
