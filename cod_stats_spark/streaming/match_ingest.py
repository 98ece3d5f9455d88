"""Streaming match-JSON ingest → silver (SURVEY ST2 for the domain).

The reference re-runs its batch pipeline by cron every 20–30 min with a
filename anti-join (parse_matches.sh:580-596). Streaming-native
equivalent: a file-source stream over the match directory, with each
micro-batch normalized and appended to the silver store via the same
INSERT-OR-IGNORE semantics (anti-join against the natural key ledger)
inside foreachBatch — exactly-once per file from the source's file
tracking, idempotent per key from the merge.

The stream shares the batch path's definitions (engine/ingest.py): the
one bronze reader (``BRONZE_SCHEMA`` + ``bronze``), the one
parse-failure rule (``unparsed``) and the one key anti-join
(``incremental_new_rows``). So a micro-batch lands in silver exactly
the rows ``Engine.valid_games`` would keep for the same files.

foreachBatch (not a plain writeStream) because normalization ends in a
keyed dedup against EXISTING silver — a batch-side merge, the pattern
Spark documents for exactly-once upsert sinks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cod_stats_spark.engine.ingest import (
    BRONZE_SCHEMA,
    bronze,
    incremental_new_rows,
    unparsed,
)
from cod_stats_spark.engine.normalize import normalize_matches


def stream_matches(spark: SparkSession, matches_dir: str) -> DataFrame:
    """readStream of match JSON files → bronze rows (filename keys)."""
    return bronze(spark.readStream.schema(BRONZE_SCHEMA).json(matches_dir, multiLine=True))


def stream_matches_to_silver(
    spark: SparkSession,
    matches_dir: str,
    players: DataFrame,
    silver_path: str,
    checkpoint_path: str | None = None,
    failure_ledger=None,
):
    """Start the ingest stream; returns the StreamingQuery.

    Each micro-batch: normalize → anti-join against silver's existing
    (game_id, player_uno_id) keys → append only the new rows.

    ``failure_ledger`` (engine.failure_ledger.FailureLedger) is the S5
    dead-letter path for RESTARTS: the file source reads each file once
    per checkpoint, so a poison file (one that is ``unparsed``) is
    re-attempted on every fresh-checkpoint restart forever, since it
    never lands in silver for the anti-join to catch. With a ledger:
    parked keys (fail_count >= cutoff) are filtered out before
    normalize, parse failures increment their key, and a later
    successful parse deletes it — the reference fetcher's exact replay
    contract (fetch_matches.ts:163,200,209).
    """

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if failure_ledger is not None:
            batch_df = failure_ledger.filter_replayable(batch_df, "game_id")
            batch_df = batch_df.persist()
        existing = spark.read.parquet(silver_path) if os.path.exists(silver_path) else None
        silver_new = incremental_new_rows(normalize_matches(batch_df, players), existing)
        silver_new.write.mode("append").parquet(silver_path)
        if failure_ledger is not None:
            failure_ledger.record(batch_df, batch_df.filter(~unparsed()), "game_id")
            batch_df.unpersist()

    writer = stream_matches(spark, matches_dir).writeStream.foreachBatch(merge_batch)
    writer = writer.outputMode("append")
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    return writer.start()
