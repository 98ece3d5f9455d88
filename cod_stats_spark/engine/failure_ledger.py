"""S5: failure ledger — dead-letter tracking with a replay cutoff.

The reference fetcher keeps a per-match failure count on disk
(fetcher/fetch_matches.ts:86-119 ``FailureInfo``): before attempting a
match it checks ``failureInfo.count(matchId) < maxFailuresBeforeCutoff``
(:163, cutoff 50 — :14), increments the count when a fetch fails
(:200), and REMOVES the key when it later succeeds (:209), persisting
the ledger at the end of the run (:391).

Spark-native re-expression: the ledger is a small parquet table
``(key string, fail_count int)``. Candidate work items are filtered
with a broadcast anti-join against the parked keys (count >= cutoff),
outcomes fold back in with one union + groupBy, and the rewrite is
atomic from a reader's perspective (the new rows are collected to the
driver, so no plan reads the files being overwritten, then a single
overwrite commit). The table is bounded by the number of *currently
failing* keys — successes delete their rows — so the broadcast and the
collect stay trivially small at any corpus scale; it is state about
the pathological tail, not the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_FAILURES_BEFORE_CUTOFF = 50  # fetch_matches.ts:14

LEDGER_SCHEMA = "key string, fail_count int"


class FailureLedger:
    """Persistent (key → fail_count) ledger with replay-cutoff filter.

    ``key_col`` naming is the caller's: the match ingest keys by
    game_id (the reference ledger keys by matchId).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        max_failures: int = MAX_FAILURES_BEFORE_CUTOFF,
    ):
        self.spark = spark
        self.path = path
        self.max_failures = max_failures

    def counts(self) -> DataFrame:
        if os.path.isdir(self.path):
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def parked_keys(self) -> DataFrame:
        """Keys at/over the cutoff — no longer replayed (ts:163)."""
        return self.counts().filter(
            F.col("fail_count") >= self.max_failures
        ).select("key")

    def filter_replayable(self, df: DataFrame, key_col: str) -> DataFrame:
        """Drop rows whose key is parked. Broadcast anti-join: the
        parked set is small by construction (see module docstring)."""
        parked = self.parked_keys().withColumnRenamed("key", key_col)
        return df.join(F.broadcast(parked), [key_col], "left_anti")

    def record(self, attempted: DataFrame, succeeded: DataFrame, key_col: str) -> None:
        """Fold one run's outcomes into the ledger.

        failed = attempted \\ succeeded → fail_count += 1 (insert at 1);
        succeeded → row deleted (the reference's ``remove``, ts:209 —
        a later success wipes the history, so flaky-then-fixed keys
        don't creep toward the cutoff).
        """
        att = attempted.select(F.col(key_col).alias("key")).distinct()
        suc = succeeded.select(F.col(key_col).alias("key")).distinct()
        failed = att.join(suc, "key", "left_anti")
        new = (
            self.counts()
            .join(suc, "key", "left_anti")
            .unionByName(failed.select("key", F.lit(1).alias("fail_count")))
            .groupBy("key")
            .agg(F.sum("fail_count").cast("int").alias("fail_count"))
        )
        # cut lineage before overwriting the files the plan reads from
        new = self.spark.createDataFrame(new.collect(), LEDGER_SCHEMA)
        new.write.mode("overwrite").parquet(self.path)
