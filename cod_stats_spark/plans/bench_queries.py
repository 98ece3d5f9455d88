"""The declared query inventory: one entry per operator family from
SURVEY.md §2, expressed Spark-first over the driver's testdata tables,
each (where SQL-expressible) paired with a DuckDB oracle.

Conventions that make the oracle hash-compare deterministic:
- every computed column is aliased IDENTICALLY in Spark and SQL;
- any ordering that feeds a LIMIT or a window frame is made total with
  an explicit unique-key tiebreak (SURVEY.md §7.4.8);
- double aggregates are rounded (sums→2dp, ratios/avgs→4–6dp) in BOTH
  engines, since summation order differs between engines;
- Spark sessions are normalized via prep_session (UTC, ANSI off).

Operator-family coverage map (SURVEY §2 → query name) is in each
docstring; `coverage()` returns the full map for audit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cod_stats_spark.functions import text as T
from cod_stats_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from cod_stats_spark.operators.funnel import funnel_steps_oracle_sql
from cod_stats_spark.operators.interval_join import interval_join
from cod_stats_spark.operators.lm_score import (
    arpa_lm_oracle_sql,
    bigram_lm_oracle_sql,
    kn_lm_oracle_sql,
    kn_ngram_oracle_sql,
    perplexity_partition_oracle_sql,
    unigram_lm_oracle_sql,
)
from cod_stats_spark.operators.sketches import (
    cms_oracle_sql,
    hist_oracle_sql,
    hll_oracle_sql,
)
from cod_stats_spark.operators.multimodal import (
    decode_media_meta,
    frame_sample,
    make_fake_media,
    make_jpeg_media,
    make_png_media,
    make_wav_media,
    resize_plan,
)
from cod_stats_spark.operators.rolling import (
    cumulative_frames,
    rolling_frames,
    rolling_time_frames,
)
from cod_stats_spark.operators.sessionize import session_rollup, sessionize
from cod_stats_spark.operators.similarity import ann_lsh_topk, brute_force_topk
from cod_stats_spark.operators.streaks import run_lengths
from cod_stats_spark.operators.timeseries_agg import (
    ohlc_oracle_sql,
    twa_oracle_sql,
)
from cod_stats_spark.operators.topk import top_k, top_k_per_group
from cod_stats_spark.session import prep_session, ship_package
from cod_stats_spark.tables import load_tables

# the event-stream funnel the stat_aggregates and stateful_sessions
# gates share (operators/funnel.py, streaming/funnel.py)
_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]
_FUNNEL_GAP_S = 7 * 86400
# the stateful_sessions 'anomaly' arm's parameters (r10) — shared by
# the Spark body and the SQL replay
_ANOM_WINDOW_S = 3600
_ANOM_K = 3.0
_ANOM_MIN_POINTS = 5

SESSION_GAP_SECONDS = 1800


def _paths_top_sql(n: int) -> str:
    """Top-20 within-session event paths (operators/paths.py oracle),
    deterministic order: count desc, path asc."""
    from cod_stats_spark.operators.paths import path_oracle_sql

    return (
        "SELECT path, n_occurrences, n_sessions FROM ("
        + path_oracle_sql(n, SESSION_GAP_SECONDS)
        + ") ORDER BY n_occurrences DESC, path ASC LIMIT 20"
    )

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
_COVERAGE: dict[str, str] = {}

# (session id, sf_dir, query name) -> built DataFrame. Building a plan
# costs 40–160 ms of driver-side Python/py4j per query (expression-tree
# construction); DataFrames are immutable, so re-serving the same
# logical plan is safe and mirrors prepared-statement reuse in any
# engine. Queries that RUN work at build time (streaming executions,
# temp-dir pipelines) register with cache_plan=False.
_PLAN_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def query(name: str, covers: str, oracle: str | None = None, cache_plan: bool = True):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep_session(spark)
            ship_package(spark)
            if not cache_plan:
                return fn(spark, sf_dir)
            key = (id(spark), sf_dir, name)
            df = _PLAN_CACHE.get(key)
            if df is None:
                df = fn(spark, sf_dir)
                _PLAN_CACHE[key] = df
            return df

        wrapped.__name__ = f"query_{name}"
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        _COVERAGE[name] = covers
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def coverage() -> dict[str, str]:
    """query name -> SURVEY §2 operator ids it exercises."""
    return dict(_COVERAGE)


# ---------------------------------------------------------------- core


@query(
    "q1_pricing_summary",
    covers="A1 A5 P5 T4 (TPC-H Q1 shape: scan→filter→2-level hash agg)",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2)::DOUBLE AS sum_disc_price,
       round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,8))), 2)::DOUBLE AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: pricing summary rollup. Filter pushes to the parquet
    scan; Catalyst plans partial+final hash agg (map-side combine), so
    the shuffle carries only group keys × partial states."""
    li = load_tables(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price.cast("decimal(30,8)")), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge.cast("decimal(30,8)")), 2).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "filter_project",
    covers="P1 P2 P4 P5 P9 (pushdown filter + computed projection)",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue,
       strftime(l_shipdate, '%Y-%m')                AS ship_month
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount > 0.05
  AND l_quantity < 25
""",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + arithmetic projection; .explain shows
    PushedFilters on shipdate/discount/quantity and a pruned ReadSchema."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
            & (F.col("l_quantity") < 25)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
    )


@query(
    "conditional_norm",
    covers="P3 A2 A4 + P1-json (CASE normalization, conditional agg, HAVING, JSON extract)",
    oracle="""
SELECT user_id,
       count(*)                                                       AS n_events,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)    AS n_errors,
       round(sum(CAST(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END AS DECIMAL(30,8))), 4)::DOUBLE AS sum_value_nonerror,
       round(max(value), 4)                                           AS max_value,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)             AS sum_k
FROM events
GROUP BY user_id
HAVING count(*) > 5
""",
)
def conditional_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN metric normalization (the gulag-normalization shape,
    SURVEY P3) + conditional aggregation + group predicate (HAVING) +
    JSON path extraction from a string column."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "error", F.lit(0.0))
                    .otherwise(F.col("value"))
                    .cast("decimal(30,8)")
                ),
                4,
            )
            .cast("double")
            .alias("sum_value_nonerror"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        )
        .filter(F.col("n_events") > 5)
    )


@query(
    "top10_customers",
    covers="T1 J1 (global top-k with deterministic tiebreak = TakeOrderedAndProject)",
    oracle="""
SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY revenue DESC, o_custkey ASC
LIMIT 10
""",
)
def top10_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard shape: agg then top-10 by metric with key tiebreak.
    Physical plan is TakeOrderedAndProject — per-partition heaps, k-row
    merge on the driver, no global sort at any scale."""
    o = load_tables(spark, sf_dir)["orders"]
    agg = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return top_k(agg, [("revenue", True), ("o_custkey", False)], 10)


@query(
    "latest_order_per_customer",
    covers="W5 W6 (top-1 per group via row_number)",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS totalprice
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    latest = top_k_per_group(
        o, ["o_custkey"], [("o_orderdate", True), ("o_orderkey", True)], k=1
    )
    return latest.select(
        "o_custkey", "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("totalprice")
    )


@query(
    "star_join_revenue",
    covers="J1 (multi-hop broadcast equi joins over the star schema)",
    oracle="""
SELECT r_name, n_name,
       round(sum(o_totalprice), 2) AS revenue,
       count(*)                    AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dims: customer/nation/region are broadcast (dims ≪
    threshold) so the fact side never shuffles for the join — the only
    shuffle is the final small-key agg."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "left_join_fallback",
    covers="J4 (left outer + coalesce fallback label, the 'Unknown <mode>' shape)",
    oracle="""
SELECT coalesce(p_brand, 'Unknown &lt;brand&gt;') AS brand,
       count(*)                  AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
LEFT JOIN part ON l_partkey = p_partkey AND p_size > 25
GROUP BY brand
""",
)
def left_join_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join with an extra join-side predicate so some rows miss,
    exercising the reference's ifnull(display_name, 'Unknown &lt;…&gt;')
    fallback (HTML-escaped label preserved — SURVEY §7.4.10)."""
    t = load_tables(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    cond = (F.col("l_partkey") == F.col("p_partkey")) & (F.col("p_size") > 25)
    return (
        li.join(F.broadcast(p), cond, "left")
        .select(F.coalesce(F.col("p_brand"), F.lit("Unknown &lt;brand&gt;")).alias("brand"), "l_quantity")
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@query(
    "semi_join_customers",
    covers="J7 P8 (left-semi membership filter)",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "anti_join_suppliers",
    covers="J8 U2 (left-anti: keys absent from the other side)",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
""",
)
def anti_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    big = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_suppkey")
    return (
        t["supplier"]
        .join(big, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .select("s_suppkey", "s_name")
    )


INTERVALS_SQL = """
(VALUES
  ('lifetime', TIMESTAMP '2023-01-01 00:00:00', TIMESTAMP '2026-12-31 23:59:59.999999', 0),
  ('2024q1',   TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-03-31 23:59:59.999999', 1),
  ('2024q2',   TIMESTAMP '2024-04-01 00:00:00', TIMESTAMP '2024-06-30 23:59:59.999999', 2),
  ('2024q3',   TIMESTAMP '2024-07-01 00:00:00', TIMESTAMP '2024-09-30 23:59:59.999999', 3),
  ('2024q4',   TIMESTAMP '2024-10-01 00:00:00', TIMESTAMP '2024-12-31 23:59:59.999999', 4)
) AS iv(interval_id, iv_start, iv_end, sort_order)
"""

INTERVALS_ROWS = [
    ("lifetime", "2023-01-01 00:00:00", "2026-12-31 23:59:59.999999", 0),
    ("2024q1", "2024-01-01 00:00:00", "2024-03-31 23:59:59.999999", 1),
    ("2024q2", "2024-04-01 00:00:00", "2024-06-30 23:59:59.999999", 2),
    ("2024q3", "2024-07-01 00:00:00", "2024-09-30 23:59:59.999999", 3),
    ("2024q4", "2024-10-01 00:00:00", "2024-12-31 23:59:59.999999", 4),
]


def _intervals_df(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        INTERVALS_ROWS, "interval_id string, iv_start string, iv_end string, sort_order int"
    )
    return df.select(
        "interval_id",
        F.col("iv_start").cast("timestamp").alias("iv_start"),
        F.col("iv_end").cast("timestamp").alias("iv_end"),
        "sort_order",
    )


@query(
    "interval_rollup",
    covers="J2 A6 A8 (broadcast interval join with overlapping dims + rollup; the seasons shape)",
    oracle=f"""
SELECT interval_id,
       count(*)                     AS n_events,
       count(DISTINCT user_id)      AS n_users,
       round(sum(value), 2)         AS sum_value,
       round(100.0 * sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
             / sum(value), 4)       AS purchase_value_pct
FROM events
JOIN {INTERVALS_SQL}
  ON ts >= iv_start AND ts <= iv_end
GROUP BY interval_id
""",
)
def interval_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event lands in 'lifetime' AND its quarter (intentional
    fan-out — SURVEY §7.4.11). BroadcastNestedLoopJoin over a 5-row dim:
    the fact side streams, zero shuffle before the agg."""
    ev = load_tables(spark, sf_dir)["events"]
    iv = _intervals_df(spark).withColumnRenamed("iv_start", "start").withColumnRenamed(
        "iv_end", "end"
    )
    joined = interval_join(ev, iv, "ts", "start", "end")
    purchase_val = F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0))
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(100.0 * purchase_val / F.sum("value"), 4).alias("purchase_value_pct"),
    )


@query(
    "explode_words",
    covers=(
        "J9 (lateral unnest/explode) + T1 + EXT-analytics (r9 tagged "
        "union. 'word': top-20 word frequencies as before. 'path2'/"
        "'path3': operators/paths.py event path analysis — top-20 "
        "within-session event-type n-grams over the sessionized stream; "
        "the sessionize CTE, tiebreak-ordered sequences, n-gram slices "
        "and both counts replayed in SQL)"
    ),
    oracle=(
        """
SELECT 'word' AS tag, word, n_occurrences, n_docs FROM (
SELECT word, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents
) WHERE word <> ''
GROUP BY word
ORDER BY n_occurrences DESC, word ASC
LIMIT 20
)
UNION ALL
SELECT 'path2' AS tag, path AS word, n_occurrences, n_sessions AS n_docs
FROM ("""
        + _paths_top_sql(2)
        + """)
UNION ALL
SELECT 'path3' AS tag, path AS word, n_occurrences, n_sessions AS n_docs
FROM ("""
        + _paths_top_sql(3)
        + ")"
    ),
)
def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word frequencies + r9 event path analysis, tagged. The TIMED
    `explode_words` entry keeps the r1-r8 word-only plan via its
    BENCH_ONLY override (BENCH_NOTES.md)."""
    from cod_stats_spark.operators.paths import event_path_ngrams

    docs = load_tables(spark, sf_dir)["documents"]
    exploded = docs.select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("word")
    )
    agg = exploded.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    words = top_k(agg, [("n_occurrences", True), ("word", False)], 20).select(
        F.lit("word").alias("tag"), "word", "n_occurrences", "n_docs"
    )
    ev = load_tables(spark, sf_dir)["events"]
    out = words
    for nn in (2, 3):
        paths = event_path_ngrams(
            ev, n=nn, gap_seconds=SESSION_GAP_SECONDS
        )
        out = out.unionByName(
            top_k(
                paths, [("n_occurrences", True), ("path", False)], 20
            ).select(
                F.lit(f"path{nn}").alias("tag"),
                F.col("path").alias("word"),
                "n_occurrences",
                F.col("n_sessions").alias("n_docs"),
            )
        )
    return out


@query(
    "order_roster",
    covers="J10 A9 J6 T4 (grouped collect with canonical order + composite-key join)",
    oracle="""
WITH roster AS (
  SELECT l_orderkey,
         string_agg(l_partkey::VARCHAR, ',' ORDER BY l_partkey) AS part_roster,
         count(*) AS n_distinct_parts
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  GROUP BY l_orderkey
), stats AS (
  SELECT l_orderkey, count(*) AS n_lines, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
)
SELECT r.l_orderkey AS orderkey, part_roster, n_distinct_parts, n_lines, sum_qty
FROM roster r JOIN stats s ON r.l_orderkey = s.l_orderkey
""",
)
def order_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The team-roster shape (SURVEY A9/§7.4.4): collect_set sorted —
    roster identity is CANONICAL (sorted), never scan-order. All four
    aggregates ride ONE grouped aggregation (r6: the former
    roster⋈stats self-join cost a second scan + shuffle for the same
    key; Catalyst dedups the repeated collect_set expression, so the
    set is built once)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    parts = F.collect_set("l_partkey")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",", F.transform(F.array_sort(parts), lambda x: x.cast("string"))
            ).alias("part_roster"),
            F.size(parts).alias("n_distinct_parts"),
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .withColumnRenamed("l_orderkey", "orderkey")
        .select("orderkey", "part_roster", "n_distinct_parts", "n_lines", "sum_qty")
    )


@query(
    "pivot_priority",
    covers="A7 (pivot via MAX/SUM(CASE) with coalesce defaults)",
    oracle="""
SELECT c_mktsegment,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS low
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    joined = t["orders"].join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .agg(F.count(F.lit(1)))
    )
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    out = pivoted
    for old, new in renames.items():
        out = out.withColumn(new, F.coalesce(F.col(f"`{old}`"), F.lit(0)).cast("long")).drop(old)
    return out


@query(
    "weighted_ratio",
    covers="A8 + EXT-skew (ratio-of-sums post-aggregation, NOT avg-of-ratios — SURVEY §7.4.3; plus the same rollup through a two-phase SALTED aggregate, oracled to identical values — skew.py's hot-key path changes the physical plan, never the answer)",
    oracle="""
WITH base AS (
  SELECT l_returnflag,
         round(100.0 * sum(l_extendedprice * l_discount) / sum(l_extendedprice), 4)
           AS discount_pct,
         round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,8))), 2)::DOUBLE
           AS discount_value
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT 'plain:' || l_returnflag AS grp, discount_pct, discount_value FROM base
UNION ALL
SELECT 'salted:' || l_returnflag AS grp, discount_pct, discount_value FROM base
""",
)
def weighted_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ratio-of-sums twice, tagged (widened r6): 'plain:'
    rows via the direct groupBy, 'salted:' rows via
    ``salted_aggregate`` (xxhash64(l_orderkey) mod 16 pre-shuffle,
    merge after — the plan a hot l_returnflag would need at scale).
    The oracle emits the identical values for both tags: salting must
    be invisible in the answer (decimal sums are exactly equal; the
    double ratio agrees far beyond the 4 dp rounding)."""
    from cod_stats_spark.operators.skew import salted_aggregate

    li = load_tables(spark, sf_dir)["lineitem"]
    disc_val = F.sum(F.col("l_extendedprice") * F.col("l_discount"))
    plain = li.groupBy("l_returnflag").agg(
        F.round(100.0 * disc_val / F.sum("l_extendedprice"), 4).alias("discount_pct"),
        F.round(F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(30,8)")), 2).cast("double").alias("discount_value"),
    ).select(
        F.concat(F.lit("plain:"), F.col("l_returnflag")).alias("grp"),
        "discount_pct", "discount_value",
    )
    pre = li.select(
        "l_returnflag",
        "l_orderkey",
        (F.col("l_extendedprice") * F.col("l_discount")).alias("epd"),
        F.col("l_extendedprice").alias("ep"),
        (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(30,8)").alias("epd_dec"),
    )
    salted = salted_aggregate(
        pre,
        ["l_returnflag"],
        [("epd", "sum"), ("ep", "sum"), ("epd_dec", "sum")],
        salt_col="l_orderkey",
        buckets=16,
    ).select(
        F.concat(F.lit("salted:"), F.col("l_returnflag")).alias("grp"),
        F.round(100.0 * F.col("epd_sum") / F.col("ep_sum"), 4).alias("discount_pct"),
        F.round(F.col("epd_dec_sum"), 2).cast("double").alias("discount_value"),
    )
    return plain.unionByName(salted)


@query(
    "daily_distinct",
    covers="A10 A11 ST3 F-json (tumbling day buckets + distinct + min/max audit + JSON scalar extraction from the props column)",
    oracle="""
SELECT CAST(ts AS DATE)        AS day,
       count(*)                AS n_events,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT event_type) AS n_types,
       min(ts)                 AS first_ts,
       max(ts)                 AS last_ts,
       round(avg(CAST(props->>'$.k' AS DOUBLE)), 4) AS avg_prop_k,
       max(CAST(props->>'$.k' AS BIGINT))           AS max_prop_k
FROM events
GROUP BY day
""",
)
def daily_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day rollup + the JSON-parse scalar family: ``props`` is a JSON
    string column; get_json_object stays JVM-side (codegen), verified
    value-for-value against DuckDB's ->> extraction."""
    ev = load_tables(spark, sf_dir)["events"]
    prop_k = F.get_json_object("props", "$.k")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.round(F.avg(prop_k.cast("double")), 4).alias("avg_prop_k"),
        F.max(prop_k.cast("long")).alias("max_prop_k"),
    )


# ------------------------------------------------------------- windows


SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN date_diff('microsecond',
                             lag(ts) OVER w, ts) >= {SESSION_GAP_SECONDS} * 1000000
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_number
  FROM flagged
)
SELECT user_id, session_number,
       user_id::VARCHAR || '_' || session_number::VARCHAR AS session_id,
       min(ts)   AS session_start,
       max(ts)   AS session_end,
       count(*)  AS n_events,
       round(sum(CAST(value AS DECIMAL(30,8))), 4)::DOUBLE AS sum_value
FROM numbered
GROUP BY user_id, session_number
"""


@query(
    "sessionize_events",
    covers="W1 W2 W3 W4 A1 ST1 (gaps-and-islands sessionization + per-session rollup)",
    oracle=SESSIONIZE_ORACLE,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference sessionization semantics (gap >= threshold ⇒ new
    session; first event always new) in ONE window pass — no self-join
    back (SURVEY J3/J5 eliminated)."""
    ev = load_tables(spark, sf_dir)["events"]
    s = sessionize(
        ev, "ts", ["user_id"], SESSION_GAP_SECONDS, tiebreak_cols=["event_id"]
    )
    rolled = session_rollup(
        s,
        "ts",
        ["user_id"],
        aggs=[
            F.round(F.sum(F.col("value").cast("decimal(30,8)")), 4)
            .cast("double")
            .alias("sum_value")
        ],
    )
    return rolled.withColumn(
        "session_id",
        F.concat_ws("_", F.col("user_id").cast("string"), F.col("session_number").cast("string")),
    ).select(
        "user_id", "session_number", "session_id",
        "session_start", "session_end", "n_events", "sum_value",
    )


@query(
    "streak_runs",
    covers="W7 (dense_rank/row_number difference gaps-and-islands streaks)",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS run_grp
  FROM events
), runs AS (
  SELECT user_id, event_type, run_grp, count(*) AS run_length
  FROM ordered GROUP BY user_id, event_type, run_grp
)
SELECT user_id, event_type, max(run_length) AS max_run, count(*) AS n_runs
FROM runs GROUP BY user_id, event_type
""",
)
def streak_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    runs = run_lengths(ev, ["user_id"], ["ts", "event_id"], "event_type")
    per_run = runs.groupBy("user_id", "event_type", "run_grp").agg(
        F.count(F.lit(1)).alias("run_length")
    )
    return per_run.groupBy("user_id", "event_type").agg(
        F.max("run_length").alias("max_run"), F.count(F.lit(1)).alias("n_runs")
    )


def _rolling_orders_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 + W9 in one plan: both frames share the (o_custkey, o_orderdate,
    o_orderkey) partition+order, so Catalyst evaluates them over a
    single shuffle+sort — merged from the former separate
    rolling_orders / cumulative_orders gates (registry ≤ 50).

    This ROWS-frames body is the timed `rolling_orders` bench entry
    (unchanged plan since r3); the GATE widened in r6 with time-based
    RANGE frames (BENCH_NOTES.md)."""
    o = load_tables(spark, sf_dir)["orders"]
    rolled = rolling_frames(
        o,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        [("o_totalprice", "sum"), ("o_totalprice", "avg"), ("o_orderkey", "count")],
        preceding=3,
    )
    return cumulative_frames(
        rolled,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        [("o_totalprice", "sum"), ("o_orderkey", "count")],
    )


@query(
    "rolling_orders",
    covers="W8 W9 + EXT-time-rolling (rolling ROWS frames + running totals + 7-day RANGE time frames; ROWS pair shares one sorted window pass)",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w4, 2) AS o_totalprice_sum_roll4,
       round(avg(o_totalprice) OVER w4, 4) AS o_totalprice_avg_roll4,
       count(*) OVER w4                    AS n_roll4,
       round(sum(o_totalprice) OVER wc, 2) AS o_totalprice_sum_cume,
       count(*) OVER wc                    AS n_cume,
       round(sum(o_totalprice) OVER wt, 2) AS o_totalprice_sum_7d,
       count(*) OVER wt                    AS n_7d
FROM orders
WINDOW w4 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       wc AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING),
       wt AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
              RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
""",
)
def rolling_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames + running totals + a 7-day time-RANGE frame
    (``rolling_time_frames`` — every same-key order in the trailing
    week, however many rows that is; ordering on exact integer epoch
    micros so the window boundary is exact in both engines)."""
    both = _rolling_orders_rows(spark, sf_dir)
    timed = rolling_time_frames(
        both,
        ["o_custkey"],
        "o_orderdate",
        [("o_totalprice", "sum"), ("o_orderkey", "count")],
        window_seconds=7 * 86400,
        suffix="7d",
    )
    return timed.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice_sum_roll4", 2).alias("o_totalprice_sum_roll4"),
        F.round("o_totalprice_avg_roll4", 4).alias("o_totalprice_avg_roll4"),
        F.col("o_orderkey_count_roll4").alias("n_roll4"),
        F.round("o_totalprice_sum_cume", 2).alias("o_totalprice_sum_cume"),
        F.col("o_orderkey_count_cume").alias("n_cume"),
        F.round("o_totalprice_sum_7d", 2).alias("o_totalprice_sum_7d"),
        F.col("o_orderkey_count_7d").alias("n_7d"),
    )


@query(
    "union_distinct",
    covers="U1 U1+ A10 (union + distinct + dim join; INTERSECT / EXCEPT set ops beyond the reference's UNION/NOT IN)",
    oracle="""
WITH u AS (
  SELECT c_nationkey AS k, count(*) AS n
  FROM (
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  ) uu JOIN customer ON uu.o_custkey = c_custkey
  GROUP BY c_nationkey
),
a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT 'union_nation' AS tag, k, n FROM u
UNION ALL
SELECT 'both' AS tag, o_custkey AS k, NULL::BIGINT AS n
FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'f_only' AS tag, o_custkey AS k, NULL::BIGINT AS n
FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
""",
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + the extended set ops in one tagged union — merged from the
    former separate union_distinct / set_ops_extended gates (registry
    ≤ 50). Harmonized schema: (tag, k, n)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    u = (
        o.filter(F.col("o_orderstatus") == "P")
        .select("o_custkey")
        .union(o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"))
        .distinct()
    )
    union_rows = (
        u.join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union_nation").alias("tag"), F.col("k").cast("long"), "n")
    )
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    null_n = F.lit(None).cast("long").alias("n")
    both = a.intersect(b).select(
        F.lit("both").alias("tag"), F.col("o_custkey").alias("k"), null_n
    )
    only = a.exceptAll(b).select(
        F.lit("f_only").alias("tag"), F.col("o_custkey").alias("k"), null_n
    )
    return union_rows.unionByName(both).unionByName(only)


def _zcell_oracle_expr(xcol: str, ycol: str, bits: int = 12) -> str:
    """SQL replay of ``layout.zorder_key`` for two columns: min-max
    bucket each into 2^bits cells ((x−lo)/(hi−lo)·cells, floored and
    clamped — the identical IEEE double expression order as the Spark
    Column), then Morton-interleave the cell bits with BIGINT shift
    ops. ``zr`` is a one-row CTE holding the min/max literals."""
    cells = 1 << bits

    def cell(col: str, lo: str, hi: str) -> str:
        scaled = f"((({col}::DOUBLE) - {lo}) / ({hi} - {lo}))"
        return (
            f"greatest(0, least({cells - 1}, "
            f"floor({scaled} * {cells}.0)::BIGINT))"
        )

    cx = cell(xcol, "zr.xlo", "zr.xhi")
    cy = cell(ycol, "zr.ylo", "zr.yhi")
    terms = []
    for b in range(bits):
        terms.append(f"((({cx} >> {b}) & 1) << {b * 2})")
        terms.append(f"((({cy} >> {b}) & 1) << {b * 2 + 1})")
    return " | ".join(terms)


_ZCELL_SQL = _zcell_oracle_expr("o_totalprice", "o_custkey")


@query(
    "scalar_functions",
    covers="§2.8 (date/time incl. datediff/add_months/last_day/dayofweek, "
    "string incl. regexp_extract/translate/lpad/split, math incl. "
    "abs/pow/sqrt, conditional scalar families; r7: + the layout.py "
    "Z-order Morton cell id, bit-interleave replayed in SQL)",
    oracle=f"""
WITH zr AS (
  SELECT min(o_totalprice::DOUBLE) AS xlo, max(o_totalprice::DOUBLE) AS xhi,
         min(o_custkey::DOUBLE)    AS ylo, max(o_custkey::DOUBLE)    AS yhi
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate)::BIGINT  AS o_year,
       EXTRACT(month FROM o_orderdate)::BIGINT AS o_month,
       strftime(o_orderdate, '%Y-%m-%d')       AS o_date_str,
       lower(o_orderstatus) || ':' || o_orderpriority AS label,
       round(o_totalprice, 1)                  AS price_r,
       floor(o_totalprice / 50000)::BIGINT     AS price_bucket,
       CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_rank,
       CASE WHEN o_totalprice > 100000 THEN 'big'
            WHEN o_totalprice > 10000  THEN 'mid'
            ELSE 'small' END                   AS size_class,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')::BIGINT AS days_to_end,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       (dayofweek(o_orderdate) + 1)::BIGINT    AS dow,
       regexp_extract(o_orderpriority, '(\\d+)', 1) AS prio_digit,
       translate(o_orderstatus, 'OF', 'of')    AS status_lc,
       lpad(o_orderkey::VARCHAR, 12, '0')      AS key_padded,
       string_split(o_orderpriority, '-')[1]   AS prio_head,
       round(abs(o_totalprice - 100000.0), 2)  AS dist_100k,
       round(sqrt(o_totalprice), 6)            AS price_sqrt,
       round(pow(o_totalprice / 100000.0, 2), 6) AS price_sq,
       ({_ZCELL_SQL})                          AS zcell
FROM orders CROSS JOIN zr
WHERE o_orderkey % 7 = 0
""",
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cod_stats_spark.operators.layout import zorder_key

    o = load_tables(spark, sf_dir)["orders"]
    od = F.col("o_orderdate").cast("date")
    filtered = o.filter(F.col("o_orderkey") % 7 == 0)
    zcell = zorder_key(filtered, ["o_totalprice", "o_custkey"], bits=12)
    return filtered.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date_str"),
        F.concat(F.lower("o_orderstatus"), F.lit(":"), F.col("o_orderpriority")).alias("label"),
        F.round("o_totalprice", 1).alias("price_r"),
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("price_bucket"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("priority_rank"),
        F.when(F.col("o_totalprice") > 100000, "big")
        .when(F.col("o_totalprice") > 10000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.datediff(F.lit("1998-12-31").cast("date"), od).cast("long").alias("days_to_end"),
        F.date_format(F.add_months(od, 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.last_day(od), "yyyy-MM-dd").alias("month_end"),
        # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1
        F.dayofweek(od).cast("long").alias("dow"),
        F.regexp_extract("o_orderpriority", r"(\d+)", 1).alias("prio_digit"),
        F.translate("o_orderstatus", "OF", "of").alias("status_lc"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
        F.split(F.col("o_orderpriority"), "-").getItem(0).alias("prio_head"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("dist_100k"),
        F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        F.round(F.pow(F.col("o_totalprice") / 100000.0, 2), 6).alias("price_sq"),
        zcell.alias("zcell"),
    )


# ------------------------------------------- training-data pipeline ops


# the dedup_exact gate's bloom-arm sizing: 4096 bits / 5 hashes over
# ~333 inserted fingerprints ≈ 0.4% designed false-positive rate —
# small enough that the probe arm's TRUE set is essentially the
# inserted set, nonzero enough that a false positive appearing is
# still value-verified (both engines compute the same bits)
_BLOOM_M = 64 * 64
_BLOOM_K = 5


def _lined_docs_sql(width: int = 5) -> str:
    """(doc_id, text) with the corpus re-laid as ``width``-token LINES
    joined by newlines — the synthetic multi-line corpus the
    'line'/'line_all' arms need (the testdata documents carry no
    newlines; the 'html:' precedent: synthesize structure identically
    in both engines). Same token array and disjoint-window arithmetic
    the 'chunk_fp' arm already value-verifies."""
    tk = (
        "list_filter(string_split(trim(regexp_replace(lower(text),"
        " '\\s+', ' ', 'g')), ' '), t -> t <> '')"
    )
    return f"""(
  SELECT doc_id,
         array_to_string(list(line ORDER BY cid), chr(10)) AS text
  FROM (
    SELECT doc_id, chunk_start // {width} AS cid,
           array_to_string(tk[chunk_start + 1:chunk_start + {width}], ' ') AS line
    FROM (
      SELECT doc_id, tk,
             unnest(CASE WHEN len(tk) = 0 THEN []
                    ELSE generate_series(0, len(tk) - 1, {width}) END) AS chunk_start
      FROM (SELECT doc_id, {tk} AS tk FROM documents)
    )
  )
  GROUP BY doc_id
)"""


#: phash arms: base-image key (doc_id % mod) — groups of ~8 docs at
#: the 500-doc gate scale share a raster; the %3==0 members get a
#: single-pixel perturbation (near-dups), the rest are byte-identical
_PHASH_KEY_MOD = 61


def _phash_oracle_sql() -> str:
    """DuckDB re-derivation of the media perceptual hashes + near-dup
    pairs, from FIRST PRINCIPLES: pixels recomputed from the generator
    definition (md5 rows + noise overlay — the byte identity of that
    definition with the actual payload is pinned in
    tests/test_phash.py), block sums over the shared
    phash_block_bounds grid, every aHash/dHash bit as a
    cross-multiplied integer comparison, hex packing, and brute-force
    Hamming pairs at <= 3 (which the Spark side's 4-band pigeonhole
    banding is GUARANTEED to equal — distance <= bands-1 always shares
    a band, and every emitted pair is Hamming-verified)."""
    from cod_stats_spark.operators.multimodal import phash_block_bounds

    W = H = 16
    HS = 8

    def inv(bounds, n):
        m, j = [], 0
        for x in range(n):
            while x >= bounds[j + 1]:
                j += 1
            m.append(j)
        return "[" + ", ".join(map(str, m)) + "]"

    rmap = inv(phash_block_bounds(H, HS), H)
    amap = inv(phash_block_bounds(W, HS), W)
    dmap = inv(phash_block_bounds(W, HS + 1), W)
    km = _PHASH_KEY_MOD
    npx = W * H
    pxf = "('0x' || substr(md5(key || ':' || y.y::VARCHAR), x.x * 2 + 1, 2))::INT"
    return f"""
WITH pbase AS (
  SELECT doc_id AS media_id, (doc_id % {km})::VARCHAR AS key,
         CASE WHEN doc_id % 3 = 0 THEN doc_id END AS noise
  FROM documents
), px AS (
  SELECT media_id, y.y AS y, x.x AS x,
         CASE WHEN noise IS NOT NULL AND y.y * {W} + x.x = (noise % {npx})
              THEN ({pxf} + 1 + (noise % 9)::INT) % 256
              ELSE {pxf}
         END AS p
  FROM pbase, range({H}) y(y), range({W}) x(x)
), ptot AS (
  SELECT media_id, sum(p)::BIGINT AS t FROM px GROUP BY media_id
), ab AS (
  SELECT media_id, {rmap}[y + 1] * {HS} + {amap}[x + 1] AS b,
         sum(p)::BIGINT AS s, count(*)::BIGINT AS n
  FROM px GROUP BY ALL
), abit AS (
  SELECT ab.media_id, ab.b,
         CASE WHEN ab.s * {npx} > ptot.t * ab.n THEN 1 ELSE 0 END AS bit
  FROM ab JOIN ptot USING (media_id)
), db AS (
  SELECT media_id, {rmap}[y + 1] AS by, {dmap}[x + 1] AS j,
         sum(p)::BIGINT AS s, count(*)::BIGINT AS n
  FROM px GROUP BY ALL
), dbit AS (
  SELECT l.media_id, l.by * {HS} + l.j AS b,
         CASE WHEN l.s * r.n > r.s * l.n THEN 1 ELSE 0 END AS bit
  FROM db l JOIN db r ON r.media_id = l.media_id AND r.by = l.by
                     AND r.j = l.j + 1
  WHERE l.j < {HS}
), ahex AS (
  SELECT media_id, string_agg(printf('%x', nv), '' ORDER BY ni DESC) AS h
  FROM (SELECT media_id, b // 4 AS ni,
               sum(bit * (1 << (b % 4)))::INT AS nv
        FROM abit GROUP BY ALL)
  GROUP BY media_id
), dhex AS (
  SELECT media_id, string_agg(printf('%x', nv), '' ORDER BY ni DESC) AS h
  FROM (SELECT media_id, b // 4 AS ni,
               sum(bit * (1 << (b % 4)))::INT AS nv
        FROM dbit GROUP BY ALL)
  GROUP BY media_id
), hu AS (
  SELECT media_id, ('0x' || h)::UBIGINT AS u FROM ahex
)
SELECT 'phash_a' AS tag, h AS fp, media_id AS keep_id,
       0::BIGINT AS n_copies
FROM ahex
UNION ALL
SELECT 'phash_d' AS tag, h AS fp, media_id AS keep_id,
       0::BIGINT AS n_copies
FROM dhex
UNION ALL
SELECT 'phash_pair' AS tag,
       a.media_id::VARCHAR || ':' || b.media_id::VARCHAR AS fp,
       bit_count(xor(a.u, b.u))::BIGINT AS keep_id,
       0::BIGINT AS n_copies
FROM hu a JOIN hu b ON a.media_id < b.media_id
WHERE bit_count(xor(a.u, b.u)) <= 3
"""


def _dedup_exact_oracle() -> str:
    from cod_stats_spark.operators.chunking import chunk_oracle_sql
    from cod_stats_spark.operators.line_dedup import line_dedup_oracle_sql
    from cod_stats_spark.operators.substring import substring_oracle_sql

    exact = r"""
SELECT 'exact' AS tag,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id,
       count(*)    AS n_copies
FROM documents
GROUP BY fp
"""
    sub = substring_oracle_sql("documents", n=8, min_count=2, keep_first=False)
    sub1 = substring_oracle_sql("documents", n=8, min_count=2, keep_first=True)
    chunk = chunk_oracle_sql("documents", max_tokens=32, stride=24)
    lined = _lined_docs_sql()
    parts = [
        exact
        + "\nUNION ALL\nSELECT 'substring' AS tag, fp, keep_id,"
        " n_copies::BIGINT AS n_copies FROM ("
        + sub
        + ")\nUNION ALL\nSELECT 'substring_keep1' AS tag, fp, keep_id,"
        " n_copies::BIGINT AS n_copies FROM ("
        + sub1
        + ")\nUNION ALL\nSELECT 'chunk_fp' AS tag, fp,"
        " doc_id * 100000 + chunk_id AS keep_id,"
        " n_tokens::BIGINT AS n_copies FROM ("
        + chunk
        + ")"
    ]
    for tag, kf in (("line", True), ("line_all", False)):
        parts.append(
            f"\nUNION ALL\nSELECT '{tag}' AS tag, md5(clean_text) AS fp,"
            " doc_id AS keep_id,"
            " (n_lines - n_kept)::BIGINT AS n_copies FROM ("
            + line_dedup_oracle_sql(lined, keep_first=kf)
            + ")"
        )
    # r14 bloom arms: filter built from the %3≠0 docs' normalized-text
    # fingerprints (the Dolma paragraph-hash posture), probed by ALL
    # docs — every 64-bit word (bits + popcount) and every membership
    # answer (incl. the designed-rate false positives) replayed exactly
    from cod_stats_spark.operators.bloom import bloom_oracle_sql

    fp_rel = (
        "(SELECT doc_id,"
        " md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS _fp"
        " FROM documents{w})"
    )
    ins_rel = fp_rel.format(w=" WHERE doc_id % 3 <> 0")
    all_rel = fp_rel.format(w="")
    parts.append(
        "\nUNION ALL\nSELECT 'bloom_word' AS tag, word::VARCHAR AS fp,"
        " bits AS keep_id, bit_count(bits)::BIGINT AS n_copies FROM ("
        + bloom_oracle_sql(ins_rel, "_fp", _BLOOM_M, _BLOOM_K)
        + ")\nUNION ALL\nSELECT 'bloom_probe' AS tag,"
        " pid::VARCHAR AS fp, maybe_member::BIGINT AS keep_id,"
        " 0::BIGINT AS n_copies FROM ("
        + bloom_oracle_sql(
            ins_rel, "_fp", _BLOOM_M, _BLOOM_K, probe_src=all_rel
        )
        + ")"
    )
    # r16 phash arms: media-content near-dup over synthesized PGM
    # rasters — hashes AND the pair set re-derived from the pixel
    # definition (see _phash_oracle_sql; wrapped as a derived table —
    # a bare WITH cannot follow UNION ALL)
    parts.append(
        "\nUNION ALL\nSELECT tag, fp, keep_id, n_copies FROM ("
        + _phash_oracle_sql()
        + ")"
    )
    return "".join(parts)


@query(
    "dedup_exact",
    covers=(
        "EXT-dedup (tagged union, r9. 'exact': exact dedup via "
        "normalized-text fingerprint groupBy. 'substring'/'substring_keep1': "
        "operators/substring.py — the Lee et al. ExactSubstr pass at 8-token "
        "gram granularity, remove-all and keep-first policies; the emitted "
        "fp is the md5 of the SPAN-REMOVED rebuilt text, so gram hashing, "
        "duplicate census, island merge, and removal boundaries are all "
        "value-verified through one digest. 'chunk_fp': "
        "operators/chunking.py content check — md5 of every 32-token/"
        "stride-24 chunk window (boundary arithmetic is oracled in the "
        "pack_sequences gate's 'chunk' arm. r14 'line'/'line_all': "
        "operators/line_dedup.py — the RefinedWeb/Dolma duplicate-LINE "
        "pass over the corpus re-laid as 5-token newline-joined lines "
        "(synthesized identically in both engines): corpus-wide "
        "keep-first and drop-all policies, normalization-keyed "
        "decisions, in-order reassembly — the fp is the md5 of the "
        "REBUILT text, so every scrub decision and boundary is "
        "value-verified through one digest; n_copies = scrubbed lines. "
        "r14 'bloom_word'/'bloom_probe': operators/bloom.py — Bloom-"
        "filter membership (the Dolma dedup posture) as relations: "
        "build = groupBy bit_or over double-hashed positions (both "
        "base hashes reduced mod m, so no overflow semantics cross "
        "engines), probe = broadcast word join; every 64-bit word "
        "(bits + popcount) and every membership answer incl. the "
        "designed-rate false positives replayed exactly in SQL. "
        "r16 'phash_a'/'phash_d'/'phash_pair': media-CONTENT near-dup "
        "(the LAION posture) — operators/multimodal.py binary-PGM "
        "rasters synthesized per doc (base image per doc_id % 61 key, "
        "single-pixel perturbation on %3==0 rows), 64-bit aHash/dHash "
        "computed by DECODING the actual payload bytes in the "
        "Arrow-batched path with cross-multiplied integer block-mean "
        "comparisons, then Hamming-LSH banded pairs via "
        "dedup.hash64_near_pairs; the oracle recomputes every hash "
        "bit from the pixel definition and brute-forces the pair set, "
        "equal by the 4-band pigeonhole guarantee at max_hamming 3)"
    ),
    oracle=_dedup_exact_oracle(),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + substring-span dedup + chunk-content + duplicate-line
    arms. The TIMED `dedup_exact` entry keeps the r1-r8 exact-only
    plan via its BENCH_ONLY override (BENCH_NOTES.md); the substring
    pass gets its own timed `dedup_substring` entry with the
    production xxhash64 member."""
    from cod_stats_spark.operators.chunking import chunk_documents
    from cod_stats_spark.operators.line_dedup import line_dedup
    from cod_stats_spark.operators.substring import substring_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    exact = exact_dedup(docs, "text", "doc_id").select(
        F.lit("exact").alias("tag"), "fp", "keep_id", "n_copies"
    )
    arms = [exact]
    for tag, kf in (("substring", False), ("substring_keep1", True)):
        arms.append(
            substring_dedup(
                docs, n=8, min_count=2, keep_first=kf, base_hash="md5_60"
            ).select(
                F.lit(tag).alias("tag"),
                F.md5("clean_text").alias("fp"),
                F.col("doc_id").alias("keep_id"),
                F.col("n_dup_tokens").alias("n_copies"),
            )
        )
    arms.append(
        chunk_documents(docs, max_tokens=32, stride=24).select(
            F.lit("chunk_fp").alias("tag"),
            F.md5("chunk_text").alias("fp"),
            (F.col("doc_id") * 100000 + F.col("chunk_id")).alias("keep_id"),
            F.col("n_tokens").cast("long").alias("n_copies"),
        )
    )
    # the corpus re-laid as 5-token lines (the oracle's _lined_docs_sql
    # twin) — chunk_documents at (5,5) is the disjoint-window form the
    # 'chunk_fp' arm already value-verifies
    lined = (
        chunk_documents(docs, max_tokens=5, stride=5)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    for tag, kf in (("line", True), ("line_all", False)):
        arms.append(
            line_dedup(
                lined, "text", "doc_id", keep_first=kf, base_hash="md5_60"
            ).select(
                F.lit(tag).alias("tag"),
                F.md5("clean_text").alias("fp"),
                F.col("doc_id").alias("keep_id"),
                (F.col("n_lines") - F.col("n_kept")).alias("n_copies"),
            )
        )
    # bloom arms (operators/bloom.py — the Dolma posture): filter over
    # the %3≠0 docs' normalized-text fingerprints, probed by all docs
    from cod_stats_spark.operators.bloom import bloom_build, bloom_probe

    fps = docs.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("_fp"),
    )
    bloom = bloom_build(
        fps.filter(F.col("doc_id") % 3 != 0), "_fp",
        _BLOOM_M, _BLOOM_K, base_hash="md5_60",
    )
    arms.append(
        bloom.select(
            F.lit("bloom_word").alias("tag"),
            F.col("word").cast("string").alias("fp"),
            F.col("bits").alias("keep_id"),
            F.bit_count("bits").cast("long").alias("n_copies"),
        )
    )
    arms.append(
        bloom_probe(
            fps, "_fp", bloom, _BLOOM_M, _BLOOM_K, base_hash="md5_60"
        ).select(
            F.lit("bloom_probe").alias("tag"),
            F.col("doc_id").cast("string").alias("fp"),
            F.col("maybe_member").cast("long").alias("keep_id"),
            F.lit(0).cast("long").alias("n_copies"),
        )
    )
    # r16 phash arms (operators/multimodal.py make_pgm_media /
    # phash_media + operators/dedup.hash64_near_pairs): media-CONTENT
    # near-dup, the LAION posture — real binary-PGM rasters synthesized
    # per doc (base image keyed doc_id % _PHASH_KEY_MOD; %3==0 rows
    # get a single-pixel perturbation), hashed by DECODING THE ACTUAL
    # BYTES in the Arrow-batched path, then banded Hamming-LSH pairs.
    # The oracle recomputes every bit from the pixel definition and
    # brute-forces the pair set — equal by the 4-band pigeonhole
    # guarantee at max_hamming 3 (every emitted pair Hamming-verified,
    # bucket cap far above the key-group size)
    from cod_stats_spark.operators.dedup import hash64_near_pairs
    from cod_stats_spark.operators.multimodal import (
        make_pgm_media,
        phash_media,
    )

    media = make_pgm_media(
        docs.select(
            "doc_id",
            (F.col("doc_id") % _PHASH_KEY_MOD).cast("string").alias("_key"),
            F.when(F.col("doc_id") % 3 == 0, F.col("doc_id")).alias(
                "_noise"
            ),
        ),
        "doc_id",
        "_key",
        noise_col="_noise",
    )
    hashes = phash_media(media)
    for tag, col in (("phash_a", "ahash"), ("phash_d", "dhash")):
        arms.append(
            hashes.select(
                F.lit(tag).alias("tag"),
                F.lower(F.lpad(F.hex(col), 16, "0")).alias("fp"),
                F.col("media_id").alias("keep_id"),
                F.lit(0).cast("long").alias("n_copies"),
            )
        )
    arms.append(
        hash64_near_pairs(
            hashes,
            id_col="media_id",
            hash_col="ahash",
            max_hamming=3,
            bands=4,
            max_bucket_size=100_000,
        ).select(
            F.lit("phash_pair").alias("tag"),
            F.concat_ws(":", F.col("id_a"), F.col("id_b")).alias("fp"),
            F.col("hamming").cast("long").alias("keep_id"),
            F.lit(0).cast("long").alias("n_copies"),
        )
    )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# -- MinHash / SimHash full-internal oracles ---------------------------
#
# The production operators default to xxhash64 (fastest JVM hash; not
# SQL-expressible). These two gates run the SAME pipeline with the
# md5-derived members of the hash family (operators/dedup.BASE_HASHES),
# which DuckDB reproduces digit-by-digit — so shingling, signature
# min-reduction, banding, bucketing, and pair expansion are ALL
# value-verified, not just row counts. The xxhash64 members stay
# covered by the planted-near-dup pytest suite and by the
# dedup_jaccard / dedup_pipeline gates (ground-truth oracles over the
# xxhash64 candidate stream).

# Shingle construction mirrored in DuckDB SQL: normalize (lower,
# collapse whitespace, trim) → whitespace tokens → distinct word
# 3-grams; empty docs get the single empty-string shingle — exactly
# functions/text.py::shingles.
_SHINGLES_SQL = r"""
  SELECT doc_id,
         CASE WHEN len(tk) = 0 THEN ['']
              ELSE list_distinct(list_transform(
                     generate_series(0, greatest(len(tk)-3, 0)),
                     i -> array_to_string(tk[i+1:i+3], ' ')))
         END AS s
  FROM (
    SELECT doc_id,
           list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                       t -> t <> '') AS tk
    FROM {src}
  )
"""

# first 15 hex chars of md5 -> 60-bit integer (mirrors dedup._md5_60)
_HEX60_SQL = (
    "list_sum(list_transform(range(15), i -> "
    "(strpos('0123456789abcdef', md5({col})[i+1:i+1]) - 1)::BIGINT"
    " * (1::BIGINT << (4*(14-i)))))"
)
# first 16 hex chars of md5 -> unsigned 64-bit HUGEINT (mirrors _md5_64)
_HEX64U_SQL = (
    "list_sum(list_transform(range(16), i -> "
    "(strpos('0123456789abcdef', md5({col})[i+1:i+1]) - 1)::HUGEINT"
    " * (1::HUGEINT << (4*(15-i)))))"
)


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 16) -> str:
    """Generated oracle replicating banded MinHash LSH end-to-end: the
    universal-hash family ``h_i = a_i·md5_60(shingle) + b_i`` with
    Java's wrapping long arithmetic mirrored via HUGEINT mod 2^64.
    Coefficients come from the SAME helper the Spark operator uses
    (operators/dedup.minhash_coeffs) — no duplicated recipe to drift."""
    from cod_stats_spark.operators.dedup import minhash_coeffs

    coeffs = minhash_coeffs(num_hashes)
    rows = num_hashes // bands
    seeds = ",\n    ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    sh = _SHINGLES_SQL.format(src="documents")
    hex60 = _HEX60_SQL.format(col="sg")
    wrapped = "((s.a::HUGEINT * h.h + s.b) % (1::HUGEINT << 64))"
    signed = (
        f"CASE WHEN {wrapped} >= (1::HUGEINT << 63) "
        f"THEN ({wrapped} - (1::HUGEINT << 64))::BIGINT ELSE {wrapped}::BIGINT END"
    )
    return f"""
WITH sh AS ({sh}),
tok AS (SELECT doc_id, unnest(s) AS sg FROM sh),
h AS (SELECT doc_id, {hex60} AS h FROM tok),
seeds(i, a, b) AS (VALUES
    {seeds}),
sig AS (
  SELECT h.doc_id, s.i, min({signed}) AS mn
  FROM h CROSS JOIN seeds s
  GROUP BY h.doc_id, s.i
),
bnd AS (
  SELECT doc_id, i // {rows} AS band, list(mn ORDER BY i) AS vals
  FROM sig GROUP BY doc_id, i // {rows}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bnd a JOIN bnd b
  ON a.band = b.band AND a.vals = b.vals AND a.doc_id < b.doc_id
"""


@query(
    "dedup_minhash",
    covers="EXT-dedup (MinHash+LSH banded candidate pairs; FULL oracle: md5-member of the universal-hash family reproduced in SQL — signatures, banding, bucket pair expansion all value-verified)",
    oracle=_minhash_oracle_sql(),
)
def dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=16,
        base_hash="md5_60", band_key="values",
    )


def _simhash_combo_keys_duckdb(blocks: int, table_blocks: int) -> list[str]:
    """DuckDB replicas of `_simhash_combo_keys_sql`'s Manku
    block-combination band keys, generated from the SAME
    `simhash_combo_layout` (widths, offsets, table order) so the two
    engines cannot drift. Operates on the UNSIGNED fingerprint `ufp`
    (HUGEINT), where plain >> is already a logical shift — final keys
    are <= 63 bits, so the BIGINT cast is exact."""
    from cod_stats_spark.operators.dedup import simhash_combo_layout

    widths, offsets, maxw, combos = simhash_combo_layout(blocks, table_blocks)
    keys = []
    for combo in combos:
        expr = None
        for b in combo:
            chunk = f"((ufp >> {offsets[b]}) & {(1 << widths[b]) - 1})"
            expr = chunk if expr is None else f"((({expr}) << {maxw}) | {chunk})"
        keys.append(f"({expr})::BIGINT")
    return keys


def _simhash_oracle_sql(
    max_hamming: int = 8, bands: int = 4, combo: tuple[int, int] = (6, 3)
) -> str:
    """Generated oracle replicating SimHash end-to-end: per-token
    md5_64 hash, per-bit majority votes, fingerprint assembly, BOTH
    banding schemes — contiguous pigeonhole bands ('contig') and
    Manku block-combination tables ('combo', the production key
    family at scale) — and Hamming verification (bit_count of xor —
    identical two's-complement semantics in both engines). Tagged
    union so each scheme's candidate set is value-verified
    independently."""
    width = 64 // bands
    hex64u = _HEX64U_SQL.format(col="t")
    ckeys = _simhash_combo_keys_duckdb(*combo)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(tk) AS t
  FROM (
    SELECT doc_id,
           list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                       x -> x <> '') AS tk
    FROM documents
  )
),
h AS (SELECT doc_id, {hex64u} AS u FROM toks),
bitv AS (
  SELECT doc_id, b.b AS bit,
         sum(((u >> b.b) & 1)::BIGINT) AS ones, count(*) AS n
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) b
  GROUP BY doc_id, b.b
),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN 2 * ones > n THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END) AS ufp
  FROM bitv GROUP BY doc_id
),
sfp AS (
  SELECT doc_id, ufp,
         CASE WHEN ufp >= (1::HUGEINT << 63)
              THEN (ufp - (1::HUGEINT << 64))::BIGINT ELSE ufp::BIGINT END AS sim
  FROM fp
),
chunks AS (
  SELECT doc_id, sim, c.band, ((ufp >> ({width} * c.band)) & {(1 << width) - 1})::BIGINT AS chunk
  FROM sfp CROSS JOIN (SELECT unnest(range({bands})) AS band) c
),
comboc AS (
  SELECT doc_id, sim,
         unnest(range({len(ckeys)})) AS band,
         unnest([{", ".join(ckeys)}]) AS chunk
  FROM sfp
)
SELECT DISTINCT 'contig' AS scheme, a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
FROM chunks a JOIN chunks b
  ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
UNION ALL
SELECT DISTINCT 'combo' AS scheme, a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
FROM comboc a JOIN comboc b
  ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


@query(
    "dedup_simhash",
    covers=(
        "EXT-dedup (SimHash near-dup pairs, BOTH banding schemes as a tagged "
        "union: contiguous 4x16 pigeonhole bands AND the Manku (6,3) "
        "block-combination tables the production entry runs at scale — FULL "
        "oracle: md5-member fingerprints, both key families, and Hamming "
        "verification reproduced in SQL; r8 widened per the r7 verdict "
        "Missing #1)"
    ),
    oracle=_simhash_oracle_sql(),
)
def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]

    def pairs(scheme: str, **kw) -> DataFrame:
        p = simhash_near_pairs(
            docs, "text", "doc_id", max_hamming=8, base_hash="md5_64", **kw
        )
        return p.select(
            F.lit(scheme).alias("scheme"),
            "id_a",
            "id_b",
            F.col("hamming").cast("long").alias("hamming"),
        )

    return pairs("contig", bands=4).unionByName(pairs("combo", combo=(6, 3)))


def _jaccard_pairs_sql(threshold: float, src: str = "documents") -> str:
    """All-pairs n-gram Jaccard >= threshold in DuckDB. The Spark side
    only verifies LSH candidates, but on this data the banded-LSH miss
    probability at J >= {threshold} is < 1e-4 per pair (observed pairs
    all have J >= 0.9), so candidate-verify == all-pairs-verify,
    deterministically for fixed data — which upgrades the gate from
    rows-only to a full value oracle that also PROVES LSH recall."""
    sh = _SHINGLES_SQL.format(src=src)
    return f"""
WITH sh AS ({sh}),
scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE AS i,
         len(a.s) + len(b.s) AS ab
  FROM sh a JOIN sh b
    ON a.doc_id < b.doc_id
   -- sound prune: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs with
   -- mismatched set sizes can't reach the threshold (1e-6 guard for
   -- the round-to-6 boundary)
   AND least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s)) >= {threshold} - 1e-6
)
SELECT id_a, id_b, round(i / (ab - i), 6) AS jaccard
FROM scored
WHERE (ab - i) > 0 AND round(i / (ab - i), 6) >= {threshold}
"""


def _winnow_oracle_sql(k: int = 8, w: int = 4, min_shared: int = 2) -> str:
    """DuckDB replica of winnow_overlap_pairs with the md5_60 hash
    member: char-k-gram hashes (conv of the md5 prefix — the same
    base-16 positional weights Spark's conv computes), per-window
    minima, distinct selection, fingerprint-equality pairing with a
    shared-count threshold."""
    md5_60 = (
        "list_sum(list_transform(range(15), q ->"
        " (strpos('0123456789abcdef', md5({e})[q+1:q+1]) - 1)::BIGINT"
        " * (1::BIGINT << (4*(14-q)))))"
    ).format(e=f"substr(s, i, {k})")
    return f"""
WITH w_f AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
  FROM documents
),
w_h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(s) - {k} + 1, 1) + 1),
                        i -> {md5_60}) AS hs
  FROM w_f WHERE length(s) > 0
),
w_sel AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(hs) - {w} + 1, 1) + 1),
                                      j -> list_min(hs[j:j+{w - 1}]))) AS fp
  FROM w_h
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::DOUBLE AS score
FROM (SELECT doc_id, unnest(fp) AS f FROM w_sel) a
JOIN (SELECT doc_id, unnest(fp) AS f FROM w_sel) b
  ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {min_shared}
"""


@query(
    "dedup_jaccard",
    covers=(
        "EXT-dedup (tagged union, r8. method='jaccard': n-gram Jaccard "
        "verification of LSH candidates — FULL oracle: all-pairs Jaccard in "
        "SQL, also proves LSH recall. method='winnow': rolling-hash document "
        "fingerprinting (Schleimer et al. winnowing, char k-grams + window "
        "minima) pairing docs by shared fingerprints — the partial-overlap/"
        "containment detector resemblance sketches miss; FULL oracle: md5_60 "
        "gram hashes, window selection, and shared counts replayed in SQL)"
    ),
    oracle=(
        "SELECT 'jaccard' AS method, id_a, id_b, jaccard AS score FROM ("
        + _jaccard_pairs_sql(0.5)
        + ")\nUNION ALL\nSELECT 'winnow' AS method, id_a, id_b, score FROM ("
        + _winnow_oracle_sql()
        + ")"
    ),
)
def dedup_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cod_stats_spark.operators.dedup import winnow_overlap_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    cands = minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=32, bands=16)
    jac = ngram_jaccard_pairs(docs, "text", "doc_id", cands, threshold=0.5).select(
        F.lit("jaccard").alias("method"),
        "id_a",
        "id_b",
        F.col("jaccard").alias("score"),
    )
    win = winnow_overlap_pairs(
        docs, "text", "doc_id", k=8, w=4, min_shared=2, max_fp_df=None,
        base_hash="md5_60",
    ).select(
        F.lit("winnow").alias("method"),
        "id_a",
        "id_b",
        F.col("shared").cast("double").alias("score"),
    )
    return jac.unionByName(win)


_ANN_BRUTE_ORACLE = """
SELECT vec_id AS id,
       round(list_cosine_similarity(embedding::DOUBLE[],
             (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS cosine
FROM embeddings
ORDER BY cosine DESC, id ASC
LIMIT 10
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    return brute_force_topk(emb, "embedding", "vec_id", qvec, k=10)


def _lsh_oracle_sql(dim: int = 64, n_planes: int = 4, multiprobe: int = 2, k: int = 10) -> str:
    """Generated DuckDB oracle for LSH-ANN: the hyperplanes are
    deterministic driver-side constants, so the ENTIRE approximate
    search — sign-bit bucketing, multiprobe set, candidate scoring —
    is expressible in SQL and the approximation itself gets verified,
    not just its row count."""
    from cod_stats_spark.operators.similarity import _hyperplane

    def plane_lit(i):
        return "[" + ", ".join(repr(v) for v in _hyperplane(dim, i)) + "]"

    bucket_of = lambda col: " + ".join(
        f"(CASE WHEN list_dot_product({col}, {plane_lit(i)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    probes = ", ".join(
        ["(SELECT qb FROM qbucket)"]
        + [f"xor((SELECT qb FROM qbucket), {1 << i})" for i in range(multiprobe)]
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qbucket AS (SELECT {bucket_of('qv')} AS qb FROM q),
bucketed AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {bucket_of('embedding::DOUBLE[]')} AS bucket
  FROM embeddings
)
SELECT vec_id AS id,
       round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cosine
FROM bucketed
WHERE bucket IN ({probes})
ORDER BY cosine DESC, id ASC
LIMIT {k}
"""


def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: served FROM A WRITTEN LSH INDEX — the corpus is written
    bucket-partitioned to a throwaway dir and probed with
    `ann_lsh_topk_indexed` (partition-pruned read), so the generated
    LSH oracle value-verifies the on-disk bucketing/probe/scoring path
    end to end (indexed and in-memory answers are parity-tested equal;
    the oracle pins them both)."""
    import os
    import tempfile

    from cod_stats_spark.operators.similarity import (
        ann_lsh_topk_indexed,
        write_lsh_index,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    dim = len(qvec)
    idx = os.path.join(tempfile.mkdtemp(prefix="lsh_gate_"), "idx")
    write_lsh_index(emb, idx, "embedding", "vec_id", dim=dim, n_planes=4)
    return ann_lsh_topk_indexed(
        spark, idx, "embedding", "vec_id", qvec, k=10, n_planes=4, multiprobe=2
    )


def _sql_tokens(expr: str) -> str:
    return f"list_filter(string_split_regex(trim(lower({expr})), '\\s+'), t -> t <> '')"


def _sql_marker_hits(markers: list[str]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_sql_tokens('text')}, t -> t IN ({inlist})))"


_LANG_HIT_COLS = ",\n       ".join(
    f"{_sql_marker_hits(T.LANG_MARKERS[lang])} AS {lang}_hits" for lang in sorted(T.LANG_MARKERS)
)
_LANG_GREATEST = "greatest(" + ", ".join(f"{lang}_hits" for lang in sorted(T.LANG_MARKERS)) + ")"
_LANG_CASE = (
    "CASE WHEN " + _LANG_GREATEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN {lang}_hits = {_LANG_GREATEST} THEN '{lang}'" for lang in sorted(T.LANG_MARKERS)
    )
    + " END"
)

LANG_ID_ORACLE = f"""
WITH hits AS (
  SELECT doc_id, lang AS lang_claimed,
       {_LANG_HIT_COLS}
  FROM documents
)
SELECT doc_id, lang_claimed, de_hits, en_hits, es_hits, fr_hits, zh_hits,
       {_LANG_CASE} AS lang_pred
FROM hits
"""


@query(
    "lang_id",
    covers="EXT-text (language-ID heuristic: per-language marker hits + deterministic argmax)",
    oracle=LANG_ID_ORACLE,
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    scores = T.lang_scores(F.col("text"))
    cols = [scores[lang].alias(f"{lang}_hits") for lang in sorted(T.LANG_MARKERS)]
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_claimed"),
        *cols,
        T.lang_id(F.col("text")).alias("lang_pred"),
    )


def _qc_gate_model():
    """Fixed-weight classifier for the gate's qc_score column: the
    FORWARD pass (hashing trick, bigram features, mean-pooled dot
    product, sigmoid) is what the oracle can replay — fixed literal
    weights make it exact in SQL (the ann_topk 'rp' projection-literal
    precedent); TRAINING is an iterative optimizer, property-tested in
    tests/test_quality_classifier.py and timed by the
    `quality_classifier` bench entry (the BPE factoring). Seeded so
    Spark body and oracle SQL embed identical literals."""
    import random

    from cod_stats_spark.operators.quality_classifier import (
        QualityClassifierModel,
    )

    rng = random.Random(20260815)
    return QualityClassifierModel(
        dim=64,
        ngrams=2,
        base_hash="md5_60",
        bias=-0.25,
        weights=[round(rng.uniform(-1.5, 1.5), 6) for _ in range(64)],
    )


def _qc_oracle_join() -> str:
    from cod_stats_spark.operators.quality_classifier import (
        quality_classifier_oracle_sql,
    )

    return quality_classifier_oracle_sql(_qc_gate_model())


def _dsir_gate_model():
    """Fixed-λ DSIR model for the gate's 'dsir' arm: the SCORING and
    SELECTION passes (hashed bag-of-bigrams integer micro-unit sums,
    md5-derived Gumbel top-k) are what the oracle replays exactly —
    fixed literal log-ratios make them bit-identical in SQL (the
    qc_score/lang_pred precedent); FITTING is counting + driver-side
    ln(), property-tested in tests/test_dsir.py and timed by the
    `dsir_select` bench entry. Seeded so Spark body and oracle embed
    identical literals."""
    import random

    from cod_stats_spark.operators.dsir import DsirModel

    rng = random.Random(20260816)
    return DsirModel(
        dim=64,
        ngrams=2,
        base_hash="md5_60",
        log_ratio6=[rng.randint(-2_000_000, 2_000_000) for _ in range(64)],
    )


def _lang_gate_model():
    """Fixed-weight multiclass lang-id for the gate's lang_pred/
    lang_margin columns (r13): the FORWARD pass — padded char-n-grams,
    md5_60 bucket hash, integer micro-unit weight sums, greatest/CASE
    ascending-code argmax — is what the oracle replays exactly
    (operators/lang_classifier.py quantizes weights to 6-dp micro-
    units, so both engines sum INTEGERS: bit-identical margins, exact
    argmax, no rounding fuzz). TRAINING is the iterative optimizer,
    property-tested in tests/test_lang_classifier.py (the qc_score
    factoring). Seeded so Spark body and oracle embed identical
    literals."""
    import random

    from cod_stats_spark.operators.lang_classifier import (
        LangClassifierModel,
    )

    classes = sorted(T.LANG_MARKERS)
    rng = random.Random(20260817)
    return LangClassifierModel(
        dim=64,
        classes=classes,
        orders=(1, 2, 3),
        base_hash="md5_60",
        biases=[round(rng.uniform(-0.5, 0.5), 6) for _ in classes],
        weights=[
            [round(rng.uniform(-1.0, 1.0), 6) for _ in range(64)]
            for _ in classes
        ],
    )


def _lang_oracle_join() -> str:
    from cod_stats_spark.operators.lang_classifier import (
        lang_classifier_oracle_sql,
    )

    return lang_classifier_oracle_sql(_lang_gate_model())


# r15: a FIXED order-5 ARPA backoff model over the corpus vocabulary
# plus <unk>-rich n-grams — under the ~31-word synthetic vocabulary a
# 13-word model vocab makes OOV→<unk> substitution constant, so every
# listed <unk> n-gram, every backoff-weight hop, and the deep 4/5-gram
# chains are all consulted on real rows. Values are DYADIC rationals
# (exact in both engines); the same rows feed the Spark ArpaModel and
# arpa_lm_oracle_sql verbatim (single source of truth).
_ARPA_GATE_ROWS = {
    1: [
        ("the", -0.5, -0.125), ("a", -0.625, -0.25), ("data", -0.75, None),
        ("join", -0.875, -0.0625), ("table", -1.0, -0.5),
        ("merge", -1.125, None), ("fast", -1.25, -0.1875),
        ("row", -0.9375, None), ("scan", -1.375, -0.375),
        ("key", -1.5, None), ("sort", -1.0625, -0.03125),
        ("batch", -1.1875, None), ("<unk>", -1.75, -0.15625),
    ],
    2: [
        ("the", "<unk>", -0.5, -0.125), ("<unk>", "the", -0.4375, -0.1875),
        ("<unk>", "<unk>", -0.375, -0.0625), ("a", "<unk>", -0.5625, None),
        ("<unk>", "a", -0.46875, -0.09375), ("the", "a", -0.53125, None),
        ("data", "<unk>", -0.625, -0.28125),
        ("join", "table", -0.71875, None),
    ],
    3: [
        ("<unk>", "<unk>", "<unk>", -0.34375, -0.046875),
        ("<unk>", "the", "<unk>", -0.40625, None),
        ("the", "<unk>", "<unk>", -0.390625, -0.078125),
        ("<unk>", "<unk>", "the", -0.421875, None),
        ("<unk>", "<unk>", "a", -0.453125, -0.015625),
    ],
    4: [
        ("<unk>", "<unk>", "<unk>", "<unk>", -0.328125, -0.0234375),
        ("<unk>", "<unk>", "<unk>", "the", -0.359375, None),
        ("the", "<unk>", "<unk>", "<unk>", -0.34375, None),
    ],
    5: [
        ("<unk>", "<unk>", "<unk>", "<unk>", "<unk>", -0.3125, None),
        ("<unk>", "<unk>", "<unk>", "<unk>", "the", -0.296875, None),
    ],
}


def _arpa_gate_model(spark):
    """The gate's ArpaModel built from _ARPA_GATE_ROWS verbatim (the
    file-parse round trip is tested in tests/test_arpa.py; the gate
    verifies the SCORING recursion against real rows)."""
    from cod_stats_spark.operators.lm_score import ArpaModel

    grams = {}
    for k, rows in _ARPA_GATE_ROWS.items():
        cols = ", ".join(
            [f"w{i} string" for i in range(1, k + 1)]
            + ["log10p double", "backoff double"]
        )
        grams[k] = spark.createDataFrame(rows, cols)
    # local_rows: the literal rows ARE driver-side — the literal-map
    # scoring path reads them directly instead of collecting the
    # just-created relations back (r16; semantics unchanged)
    return ArpaModel(
        grams,
        {k: len(v) for k, v in _ARPA_GATE_ROWS.items()},
        local_rows=_ARPA_GATE_ROWS,
    )


_SQL_TOKS = _sql_tokens("text")
QUALITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks,
         length(text) AS n_chars_calc
  FROM documents
), m AS (
  SELECT doc_id, n_chars_calc,
         len(toks) AS n_tokens_ws,
         CASE WHEN len(toks) > 0
              THEN list_aggregate(list_transform(toks, t -> len(t)), 'sum')::DOUBLE / len(toks)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                   / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> t IN ({", ".join(f"'{s}'" for s in T.STOPWORDS)})))::DOUBLE
                   / len(toks)
              ELSE 0.0 END AS stopword_ratio
  FROM tok
)
SELECT m.doc_id, n_chars_calc, n_tokens_ws,
       round(mean_word_len, 6)   AS mean_word_len,
       round(punct_ratio, 6)     AS punct_ratio,
       round(stopword_ratio, 6)  AS stopword_ratio,
       round((least(n_tokens_ws / 100.0, 1.0)
            + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1.0 ELSE 0.5 END)
            + (1.0 - least(punct_ratio * 4.0, 1.0))
            + (CASE WHEN stopword_ratio >= 0.05 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.5 END)
            ) / 4.0, 6)          AS quality,
       md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp,
       lm.lm_tokens, round(lm.lm_nll, 6) AS lm_nll,
       lm2.lm2_tokens, round(lm2.lm2_nll, 6) AS lm2_nll,
       lm3.lm3_tokens, round(lm3.lm3_nll, 6) AS lm3_nll,
       kn5.kn_tokens AS kn5_tokens, round(kn5.kn_nll, 6) AS kn5_nll,
       arpa.arpa_tokens, round(arpa.arpa_nll, 6) AS arpa_nll,
       qc.qc_score,
       ppl.ppl_bucket,
       lc.lang_pred, lc.lang_margin
FROM m JOIN documents d ON m.doc_id = d.doc_id
JOIN ({unigram_lm_oracle_sql("documents")}) lm ON lm.doc_id = m.doc_id
JOIN ({bigram_lm_oracle_sql("documents")}) lm2 ON lm2.doc_id = m.doc_id
JOIN ({kn_lm_oracle_sql("documents")}) lm3 ON lm3.doc_id = m.doc_id
JOIN ({kn_ngram_oracle_sql("documents", order=5)}) kn5
  ON kn5.doc_id = m.doc_id
JOIN ({arpa_lm_oracle_sql(_ARPA_GATE_ROWS, "documents")}) arpa
  ON arpa.doc_id = m.doc_id
JOIN ({_qc_oracle_join()}) qc ON qc.doc_id = m.doc_id
JOIN ({perplexity_partition_oracle_sql(unigram_lm_oracle_sql("documents"), "documents", by="lang")}) ppl
  ON ppl.doc_id = m.doc_id
JOIN ({_lang_oracle_join()}) lc ON lc.doc_id = m.doc_id
"""


@query(
    "quality_tokens",
    covers=(
        "EXT-text (token counting + quality scoring: length/punct/stopword "
        "ratios; deterministic document fingerprinting; r8: unigram-LM "
        "mean negative log-likelihood — operators/lm_score.py fit∘score "
        "with the smoothed ratio and per-doc mean replayed in SQL; r9: "
        "Jelinek-Mercer interpolated BIGRAM mean NLL [lm2_*] — pair "
        "counts, context totals, the λ·c12/c1 + (1−λ)·P_uni interpolation "
        "and the no-context first-token term all replayed in SQL; r10: "
        "trained hashed-bigram logistic quality classifier [qc_score] — "
        "operators/quality_classifier.py, fixed-literal-weight forward "
        "pass: md5_60 bucket hash, mean pooling, sigmoid all in SQL; "
        "r13: interpolated Kneser-Ney TRIGRAM mean NLL [lm3_*] — "
        "operators/lm_score.kn_lm_score, the KenLM/CCNet model family "
        "one order up: continuation counts N1+(·w)/N1+(·vw)/N1+(v·)/"
        "N1+(uv·), fixed-discount absolute discounting, and the "
        "two-layer backoff all recomputed from scratch in SQL; "
        "r12: CCNet perplexity partitioning [ppl_bucket] — per-language "
        "head/middle/tail split by exact quantile CUT POINTS broadcast "
        "back [no global ntile window], cuts + strict-greater bucket "
        "rule replayed via quantile_cont in SQL; r13: trained multiclass "
        "lang-id [lang_pred, lang_margin] — operators/lang_classifier.py "
        "RELATION path (broadcast wide weight table, integer micro-unit "
        "sums -> bit-identical margins), padded char-n-grams, md5_60 "
        "bucket hash, greatest/CASE ascending-code argmax all replayed "
        "in SQL; r15: imported ARPA backoff-LM scoring [arpa_*] — "
        "operators/lm_score.arpa_lm_score under a FIXED order-5 model "
        "with <unk>-rich n-grams (model rows verbatim in both engines, "
        "dyadic values): OOV→<unk> substitution in target AND context "
        "positions, logp lookup per order, every backoff hop's weight "
        "incl. b(<unk>) and omitted→0, the position-order selection, "
        "and the mean-NLL arithmetic all replayed in SQL; "
        "r16: order-5 interpolated Kneser-Ney mean NLL [kn5_*] — the "
        "generalized FIT (operators/lm_score.kn_ngram_score over "
        "ngram_lm_fit orders 1..5, the CCNet 5-gram posture the engine "
        "previously only scored as imported artifacts): continuation "
        "statistics at every middle layer, raw-count top layer, and "
        "all four backoff hops re-derived from scratch in SQL by "
        "kn_ngram_oracle_sql(order=5))"
    ),
    oracle=QUALITY_ORACLE,
)
def quality_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality/token metrics + the rolling-hash fingerprint in one
    projection — merged from the former separate quality_tokens /
    fingerprint_docs gates (registry ≤ 50) — joined with the r8
    unigram-LM corpus-likelihood score (model fit on the same corpus,
    broadcast back over it; the timed plan history stays split:
    BENCH_ONLY `quality_tokens` keeps the one-projection body, the
    model path is timed as `lm_score`)."""
    from cod_stats_spark.operators.lm_score import (
        bigram_lm_fit,
        bigram_lm_score,
        unigram_lm_fit,
        unigram_lm_score,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    txt = F.col("text")
    base = docs.select(
        "doc_id",
        T.char_count(txt).alias("n_chars_calc"),
        T.token_count_ws(txt).alias("n_tokens_ws"),
        F.round(T.mean_word_length(txt), 6).alias("mean_word_len"),
        F.round(T.punct_ratio(txt), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(txt), 6).alias("stopword_ratio"),
        T.quality_score(txt).alias("quality"),
        T.fingerprint(txt).alias("fp"),
    )
    uni = unigram_lm_fit(docs)
    lm = unigram_lm_score(docs, uni).select(
        "doc_id", "lm_tokens", F.round("lm_nll", 6).alias("lm_nll")
    )
    bi_fit = bigram_lm_fit(docs)
    lm2 = bigram_lm_score(docs, uni, bi_fit).select(
        "doc_id", "lm2_tokens", F.round("lm2_nll", 6).alias("lm2_nll")
    )
    # r13: interpolated Kneser-Ney TRIGRAM mean NLL — the KenLM/CCNet
    # model family one order up from the r9 bigram; continuation
    # counts, discounting, and the two backoff layers all replayed in
    # SQL (operators/lm_score.kn_lm_score docstring)
    from cod_stats_spark.operators.lm_score import (
        kn_lm_score,
        trigram_lm_fit,
    )

    lm3 = kn_lm_score(docs, uni, bi_fit, trigram_lm_fit(docs)).select(
        "doc_id", "lm3_tokens", F.round("lm3_nll", 6).alias("lm3_nll")
    )
    # r16: order-5 interpolated KN [kn5_*] — the generalized fit
    # (kn_ngram_score over ngram_lm_fit orders 1..5, the CCNet 5-gram
    # posture the engine previously only SCORED as imported artifacts);
    # all four backoff layers' continuation statistics re-derived in
    # SQL by kn_ngram_oracle_sql(order=5)
    from cod_stats_spark.operators.lm_score import (
        kn_ngram_score,
        ngram_lm_fit,
    )

    kn5 = kn_ngram_score(
        docs, [uni, bi_fit] + [ngram_lm_fit(docs, k) for k in (3, 4, 5)]
    ).select(
        "doc_id",
        F.col("kn_tokens").alias("kn5_tokens"),
        F.round("kn_nll", 6).alias("kn5_nll"),
    )
    # r15: imported-ARPA backoff scoring under the fixed order-5 gate
    # model — the published-artifact posture (KenLM/CCNet), every
    # backoff hop and the <unk> substitution value-verified in SQL
    from cod_stats_spark.operators.lm_score import arpa_lm_score

    arpa = arpa_lm_score(docs, _arpa_gate_model(spark)).select(
        "doc_id", "arpa_tokens", F.round("arpa_nll", 6).alias("arpa_nll")
    )
    from cod_stats_spark.operators.quality_classifier import (
        quality_classifier_expr,
    )

    qc = docs.select(
        "doc_id",
        F.round(
            quality_classifier_expr(_qc_gate_model(), "text"), 6
        ).alias("qc_score"),
    )
    # r12: CCNet perplexity partitioning per language — quantile cut
    # points (one agg, broadcast back), never a global ntile window
    from cod_stats_spark.operators.lm_score import perplexity_partition

    ppl = perplexity_partition(
        lm.join(docs.select("doc_id", "lang"), "doc_id"),
        nll_col="lm_nll",
        by="lang",
    ).select("doc_id", "ppl_bucket")
    # r13: trained multiclass lang-id — the RELATION forward pass
    # (as_expression=False: broadcast wide weight table + one doc
    # shuffle), the at-scale form, value-verified end to end; integer
    # micro-unit sums make margins bit-identical across engines
    from cod_stats_spark.operators.lang_classifier import (
        lang_classifier_score,
    )

    lc = lang_classifier_score(
        docs.select("doc_id", "text"),
        _lang_gate_model(),
        as_expression=False,
        margin_col="lang_margin",
    ).select("doc_id", "lang_pred", "lang_margin")
    return (
        base.join(lm, "doc_id")
        .join(lm2, "doc_id")
        .join(lm3, "doc_id")
        .join(kn5, "doc_id")
        .join(arpa, "doc_id")
        .join(qc, "doc_id")
        .join(ppl, "doc_id")
        .join(lc, "doc_id")
    )


def _pii_oracle() -> str:
    """Oracle for pii_redact, generated from the same PII_PATTERNS the
    operator uses (single source of truth — pattern drift fails the
    gate loudly rather than desynchronizing silently)."""
    from cod_stats_spark.functions import redact as R

    counts = R.counts_sql("aug")
    count_cols = ",\n       ".join(
        f"{expr}::INT AS n_{name}" for name, expr in counts.items()
    )
    return f"""
WITH aug AS (
  SELECT doc_id,
         substr(text, 1, 80)
         || ' contact user' || (doc_id % 97)::VARCHAR
         || '@example.com or admin@test.org, ip 10.'
         || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR
         || '.9 id ' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
         || '-45-6789 tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         AS aug
  FROM documents
)
SELECT doc_id,
       {count_cols},
       {R.redact_sql("aug")} AS redacted
FROM aug
"""


@query(
    "pii_redact",
    covers="EXT-text (PII scrubbing: portable regex tier, email/IP/SSN/phone; "
    "synthetic PII injected identically in both engines since testdata is clean)",
    oracle=_pii_oracle(),
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact synthetic PII planted deterministically per doc.

    The testdata corpus contains no PII, so the gate constructs an
    augmented column (same expression in Spark and DuckDB) carrying two
    emails, an IPv4, an SSN-shaped id, and a phone per doc, then runs
    the production redact_pii / pii_counts expressions over it. One
    codegen'd projection, zero shuffles — the 100 TB shape.
    """
    from cod_stats_spark.functions import redact as R

    docs = load_tables(spark, sf_dir)["documents"]
    did = F.col("doc_id")
    aug = F.concat(
        F.substring("text", 1, 80),
        F.lit(" contact user"),
        (did % 97).cast("string"),
        F.lit("@example.com or admin@test.org, ip 10."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
        F.lit(".9 id "),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-45-6789 tel +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    counts = R.pii_counts(aug)
    return docs.select(
        "doc_id",
        *[counts[name].alias(f"n_{name}") for name, _, _ in R.PII_PATTERNS],
        R.redact_pii(aug).alias("redacted"),
    )


def _repetition_oracle(ns=(2, 3, 5)) -> str:
    """DuckDB mirror of operators/repetition.py: same normalization,
    same n-gram windows, same short-doc semantics (k < n → no grams →
    0.0), reduced by group-by instead of Spark's tagged explode."""
    gram_parts = []
    for n in ns:
        gram_parts.append(
            f"""  SELECT doc_id, {n} AS n,
         unnest(CASE WHEN len(tk) >= {n}
                     THEN list_transform(generate_series(0, len(tk)-{n}),
                                         i -> array_to_string(tk[i+1:i+{n}], ' '))
                     ELSE [] END) AS gram
  FROM meta"""
        )
    grams_sql = "\n  UNION ALL\n".join(gram_parts)

    def frac(n: int, num: str) -> str:
        return (
            f"round(coalesce(max(CASE WHEN p.n = {n} THEN p.{num} END)::DOUBLE"
            f" / max(CASE WHEN p.n = {n} THEN p.tot END)::DOUBLE, 0.0), 6)"
        )

    metric_cols = ",\n       ".join(
        f"{frac(n, src)} AS {alias}{n}gram_frac"
        for n in ns
        for src, alias in (("mx", "top"), ("dup", "dup"))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                     t -> t <> '') AS tk
  FROM documents
), meta AS (
  SELECT doc_id, len(tk) AS n_words, len(list_distinct(tk)) AS n_distinct_words, tk
  FROM base
), g AS (
{grams_sql}
), c AS (
  SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3
), p AS (
  SELECT doc_id, n, max(cnt) AS mx, sum(cnt) AS tot,
         coalesce(sum(CASE WHEN cnt >= 2 THEN cnt END), 0) AS dup
  FROM c GROUP BY 1, 2
)
SELECT m.doc_id, m.n_words, m.n_distinct_words,
       round(CASE WHEN m.n_words > 0
                  THEN m.n_distinct_words::DOUBLE / m.n_words::DOUBLE
                  ELSE 0.0 END, 6) AS ttr,
       {metric_cols}
FROM meta m LEFT JOIN p ON p.doc_id = m.doc_id
GROUP BY m.doc_id, m.n_words, m.n_distinct_words
"""


@query(
    "repetition_metrics",
    covers="EXT-text (Gopher-style repetition quality signals: type-token "
    "ratio, modal/duplicated n-gram mass at n=2,3,5)",
    oracle=_repetition_oracle(),
)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition profile over documents — see
    operators/repetition.py for the two-aggregation distributed shape."""
    from cod_stats_spark.operators.repetition import repetition_profile

    docs = load_tables(spark, sf_dir)["documents"]
    return repetition_profile(docs, "text", "doc_id", ns=(2, 3, 5))


PACK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         len({_sql_tokens('text')})::BIGINT AS n_tokens,
         md5('pack' || doc_id::VARCHAR) AS k
  FROM documents
)
SELECT doc_id, n_tokens,
       (sum(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
        - n_tokens)::BIGINT AS start_offset,
       ((sum(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
        - n_tokens)::BIGINT // 2048) AS shard_id
FROM tok
"""


#: the 'seq:' arm's window length (small enough that sf0.001 has
#: full windows, big enough that windows span multiple docs)
_SEQ_LEN = 64

# r11: concatenate-then-split training windows (training_sequences)
# replayed literally — global tape via the same md5 order + running
# sum, token-level positions via unnest + generate_subscripts, every
# window's CONTENT verified through an md5_60 of the joined tokens
SEQ_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_sql_tokens('text')} AS toks,
         md5('pack' || doc_id::VARCHAR) AS k
  FROM documents
  WHERE len({_sql_tokens('text')}) > 0
), placed AS (
  SELECT doc_id, toks,
         (sum(len(toks)) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
          - len(toks))::BIGINT AS start
  FROM tok
), expl AS (
  SELECT doc_id,
         start + generate_subscripts(toks, 1) - 1 AS gpos,
         unnest(toks) AS t
  FROM placed
), win AS (
  SELECT gpos // {_SEQ_LEN} AS seq_id,
         string_agg(t, ' ' ORDER BY gpos) AS text_w,
         count(*)::BIGINT AS n_tokens,
         count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM expl GROUP BY 1
)
SELECT seq_id, text_w, n_tokens, n_docs
FROM win WHERE n_tokens = {_SEQ_LEN}
"""


#: 'seqinc' rows: the INCREMENTAL tape (streaming/packing.py) driven
#: on a two-batch odd/even split — the oracle replays the
#: segment-major tape (ORDER BY batch, md5 key), which sequential
#: appends must equal window for window, content included
SEQINC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_sql_tokens('text')} AS toks,
         md5('pack' || doc_id::VARCHAR) AS k,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS b
  FROM documents
  WHERE len({_sql_tokens('text')}) > 0
), placed AS (
  SELECT doc_id, toks,
         (sum(len(toks)) OVER (ORDER BY b, k, doc_id ROWS UNBOUNDED PRECEDING)
          - len(toks))::BIGINT AS start
  FROM tok
), expl AS (
  SELECT doc_id,
         start + generate_subscripts(toks, 1) - 1 AS gpos,
         unnest(toks) AS t
  FROM placed
), win AS (
  SELECT gpos // {_SEQ_LEN} AS seq_id,
         string_agg(t, ' ' ORDER BY gpos) AS text_w,
         count(*)::BIGINT AS n_tokens,
         count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM expl GROUP BY 1
)
SELECT seq_id, text_w, n_tokens, n_docs
FROM win WHERE n_tokens = {_SEQ_LEN}
"""


def _pack_gate_oracle() -> str:
    from cod_stats_spark.operators.chunking import chunk_oracle_sql

    return (
        "SELECT 'pack' AS tag, doc_id, n_tokens, start_offset, shard_id"
        " AS seq FROM ("
        + PACK_ORACLE
        + ")\nUNION ALL\nSELECT 'chunk' AS tag, doc_id,"
        " n_tokens::BIGINT AS n_tokens, chunk_start::BIGINT AS start_offset,"
        " chunk_id::BIGINT AS seq FROM ("
        + chunk_oracle_sql("documents", max_tokens=32, stride=24)
        + ")\nUNION ALL\nSELECT 'seq' AS tag, seq_id AS doc_id, n_tokens, ("
        + _HEX60_SQL.format(col="text_w")
        + ")::BIGINT AS start_offset, n_docs AS seq FROM ("
        + SEQ_ORACLE
        + ")\nUNION ALL\nSELECT 'seqinc' AS tag, seq_id AS doc_id,"
        " n_tokens, ("
        + _HEX60_SQL.format(col="text_w")
        + ")::BIGINT AS start_offset, n_docs AS seq FROM ("
        + SEQINC_ORACLE
        + ")"
    )


@query(
    "pack_sequences",
    covers="EXT-packing (tagged union, r9. 'pack': concatenation-order "
    "shard assignment on a deterministic md5 tape — distributed two-phase "
    "prefix scan, verified against the naive global-window oracle. "
    "'chunk': operators/chunking.py token-window boundaries — start "
    "offset, length, and window ordinal of every 32-token/stride-24 "
    "chunk replayed in SQL; chunk CONTENT md5s are oracled in the "
    "dedup_exact gate's 'chunk_fp' arm. r11 'seq': "
    "packing.training_sequences — concatenate-then-split fixed-length "
    "training windows over the same tape; every window's token count, "
    "contributing-doc count, and full CONTENT [md5_60 of the joined "
    "tokens] replayed against a naive global-window + token-unnest "
    "oracle. r12 'seqinc': streaming/packing.training_sequences_append "
    "— the INCREMENTAL tape, driven as two sequential odd/even "
    "appends against a fresh cursor state dir; every completed "
    "window's count, doc count, and full content replayed against the "
    "segment-major [ORDER BY batch, md5 key] one-shot oracle — the "
    "append-equals-rebuild contract value-verified, cursor handoff "
    "included)",
    oracle=_pack_gate_oracle(),
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing + chunk windowing boundaries + training
    windows. The TIMED `pack_sequences` entry keeps the r1-r8
    pack-only plan via its BENCH_ONLY override (BENCH_NOTES.md)."""
    return pack_gate_static_arms(spark, sf_dir).unionByName(
        _pack_gate_seqinc_arm(spark, sf_dir)
    )


def pack_gate_static_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate's three lazily-planned arms (pack/chunk/seq) — split
    out so test_plan_audit can inspect their plans without triggering
    the 'seqinc' arm, which EXECUTES two tape appends at build time
    (r12 review: skipping the whole gate would have dropped the
    cartesian/BNLJ audit for these arms too)."""
    from cod_stats_spark.operators.chunking import chunk_documents
    from cod_stats_spark.operators.packing import (
        pack_sequences,
        training_sequences,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", T.token_count_ws(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(toks, "n_tokens", "doc_id", budget=2048).select(
        F.lit("pack").alias("tag"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("shard_id").cast("long").alias("seq"),
    )
    chunks = chunk_documents(docs, max_tokens=32, stride=24).select(
        F.lit("chunk").alias("tag"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("chunk_start").cast("long").alias("start_offset"),
        F.col("chunk_id").cast("long").alias("seq"),
    )
    wins = training_sequences(
        docs.select("doc_id", T.words(F.col("text")).alias("_w")),
        "_w",
        "doc_id",
        seq_len=_SEQ_LEN,
    ).select(
        F.lit("seq").alias("tag"),
        F.col("seq_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "cast(conv(substring(md5(concat_ws(' ', input_ids)), 1, 15),"
            " 16, 10) as bigint)"
        ).alias("start_offset"),
        F.col("n_docs").cast("long").alias("seq"),
    )
    return packed.unionByName(chunks).unionByName(wins)


def _pack_gate_seqinc_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 'seqinc': sequential incremental appends over a fresh tape
    # cursor — batch 1 odd ids, batch 2 even — emitting each batch's
    # completed windows; must reproduce the segment-major one-shot
    # oracle exactly (window content md5'd like the 'seq' arm). The
    # append op localCheckpoints its output, so the scratch state dir
    # can be deleted before the caller collects. EXECUTES at plan
    # build — see pack_gate_static_arms.
    import os
    import shutil
    import tempfile

    from cod_stats_spark.streaming.packing import training_sequences_append

    docs = load_tables(spark, sf_dir)["documents"]
    tape_tmp = tempfile.mkdtemp(prefix="tapegate_")
    try:
        inc_parts = []
        for b, parity in ((1, 1), (2, 0)):
            inc_parts.append(
                training_sequences_append(
                    spark,
                    docs.filter(F.col("doc_id") % 2 == parity).select(
                        "doc_id", T.words(F.col("text")).alias("_w")
                    ),
                    "_w",
                    os.path.join(tape_tmp, "tape"),
                    batch_id=b,
                    seq_len=_SEQ_LEN,
                )
            )
    finally:
        shutil.rmtree(tape_tmp, ignore_errors=True)
    return (
        inc_parts[0].unionByName(inc_parts[1])
        .select(
            F.lit("seqinc").alias("tag"),
            F.col("seq_id").cast("long").alias("doc_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr(
                "cast(conv(substring(md5(concat_ws(' ', input_ids)), 1, 15),"
                " 16, 10) as bigint)"
            ).alias("start_offset"),
            F.col("n_docs").cast("long").alias("seq"),
        )
    )


KNN_JOIN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 200 = 0
), s AS (
  SELECT q.query_id, e.vec_id AS id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, id ASC) AS rank
  FROM s
)
SELECT query_id, id, cosine, rank::INT AS rank
FROM r WHERE rank <= 5
"""


@query(
    "knn_join",
    covers="EXT-similarity (batch ANN: exact top-k per query vector via "
    "broadcast scoring + two-stage pruned ranking)",
    oracle=KNN_JOIN_ORACLE,
)
def knn_join_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for every 200th vector against the whole
    embeddings table — see operators/similarity.py::knn_join for the
    broadcast + lossless two-stage top-k shape."""
    from cod_stats_spark.operators.similarity import knn_join

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    return knn_join(emb, queries, "embedding", "vec_id", k=5)


_SHARD_KEY60 = (
    "list_sum(list_transform(range(15), i -> "
    "(strpos('0123456789abcdef', md5('shard' || doc_id::VARCHAR)[i+1:i+1]) - 1)::BIGINT"
    " * (1::BIGINT << (4*(14-i)))))"
)

SHARD_ORACLE = f"""
WITH k AS (
  SELECT doc_id, md5('shard' || doc_id::VARCHAR) AS key FROM documents
), r AS (
  SELECT doc_id, key,
         (row_number() OVER (ORDER BY key, doc_id) - 1)::BIGINT AS row_idx
  FROM k
)
SELECT doc_id, row_idx,
       row_idx // 100 AS shard_fixed,
       ({_SHARD_KEY60} % 16)::BIGINT AS shard_mod
FROM r
"""


@query(
    "shard_assign",
    covers="EXT-sharding (deterministic global shuffle: md5-mod fixed-count "
    "shards and fixed-size shards via the distributed prefix scan)",
    oracle=SHARD_ORACLE,
)
def shard_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both shard assignments over documents: global row index +
    fixed-size shard (100 rows) and mod shard (16 shards) — see
    operators/sharding.py.

    r7: the mod half ROUND-TRIPS THROUGH COMPACTION — written
    deliberately fragmented (8 writer tasks × 16 shard dirs), rewritten
    by `compact_shards` into one file per shard, and read back from the
    compacted table. The oracle recomputes the assignment from scratch,
    so a row lost/duplicated/re-sharded anywhere in the
    write→compact→read path diverges the value hashes; the gate also
    asserts the compacted layout is actually one file per shard."""
    import os
    import tempfile

    from cod_stats_spark.operators.sharding import (
        assign_shards_fixed_size,
        assign_shards_mod,
        compact_shards,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    fixed = assign_shards_fixed_size(docs, "doc_id", shard_size=100).select(
        "doc_id", "row_idx", F.col("shard_id").alias("shard_fixed")
    )
    mod = assign_shards_mod(docs, "doc_id", n_shards=16)
    tmp = tempfile.mkdtemp(prefix="compact_gate_")
    src, dst = os.path.join(tmp, "src"), os.path.join(tmp, "compacted")
    # fragment on purpose: every writer task leaves a sliver in every
    # shard dir — the exact small-file mess compaction exists to fix
    (
        mod.select("doc_id", "shard_id")
        .repartition(8)
        .write.partitionBy("shard_id")
        .parquet(src)
    )
    manifest = compact_shards(spark, src, dst, "shard_id")
    bad = manifest.filter(F.col("n_files") != 1).count()
    assert bad == 0, f"compaction left {bad} multi-file shards"
    mod_rt = spark.read.parquet(dst).select(
        "doc_id", F.col("shard_id").cast("long").alias("shard_mod")
    )
    return fixed.join(mod_rt, "doc_id")


MULTIMODAL_ORACLE = """
WITH dims AS (
  SELECT doc_id, text,
    (('0x' || substr(md5(text), 1, 6))::BIGINT % 1920 + 1)::INT                    AS width,
    (('0x' || substr(md5(reverse(text)), 1, 6))::BIGINT % 1080 + 1)::INT           AS height,
    (('0x' || substr(md5(text || 'f'), 1, 6))::BIGINT % 300 + 1)::INT              AS n_frames
  FROM documents
), built AS (
  SELECT doc_id AS media_id, 'image' AS media_type, 'fake' AS format,
         width, height, n_frames,
         16000 AS sample_rate,
         'FAKE|' || width || '|' || height || '|' || n_frames || '|16000|' || text AS payload
  FROM dims
)
SELECT media_id, media_type, format, width, height, n_frames,
       octet_length(encode(payload))::BIGINT AS n_bytes,
       sha256(payload) AS sha256,
       ceil(width  * least(1.0, 512.0 / greatest(width, height)))::INT AS target_width,
       ceil(height * least(1.0, 512.0 / greatest(width, height)))::INT AS target_height,
       (floor((n_frames - 1) / 30) + 1)::INT AS n_sampled_frames
FROM built
"""


@query(
    "multimodal_decode",
    covers="EXT-multimodal (binary media column → mapInPandas decode → metadata plan; FULL oracle: header rebuilt + sha256 cross-checked)",
    oracle=MULTIMODAL_ORACLE,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads synthesized deterministically from documents (no
    media libs in this env — SURVEY-mandated stub), then Arrow-batched
    decode via mapInPandas, then codegen-side resize/frame-sample plan."""
    docs = load_tables(spark, sf_dir)["documents"]
    media = make_fake_media(docs, "doc_id", "text")
    decoded = decode_media_meta(media)
    planned = resize_plan(frame_sample(decoded, every_n=30))
    return planned.select(
        "media_id", "media_type", "format", "width", "height", "n_frames",
        "n_bytes", "sha256", "target_width", "target_height",
        F.size("sampled_frames").alias("n_sampled_frames"),
    )


def _sql_le16(expr: str) -> str:
    s = f"printf('%04X', {expr})"
    return f"(substr({s}, 3, 2) || substr({s}, 1, 2))"


def _sql_le32(expr: str) -> str:
    s = f"printf('%08X', {expr})"
    return (
        f"(substr({s}, 7, 2) || substr({s}, 5, 2) || "
        f"substr({s}, 3, 2) || substr({s}, 1, 2))"
    )


REAL_CODECS_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, text,
    (('0x' || substr(md5(text), 1, 6))::BIGINT % 1920 + 1)::INT          AS width,
    (('0x' || substr(md5(reverse(text)), 1, 6))::BIGINT % 1080 + 1)::INT AS height,
    ((('0x' || substr(md5(text), 1, 6))::BIGINT % 4 + 1) * 8000)::INT    AS rate,
    (('0x' || substr(md5(reverse(text)), 1, 6))::BIGINT % 2 + 1)::INT    AS channels,
    octet_length(encode(text))::INT                                      AS data_size
  FROM documents
), built AS (
  SELECT doc_id AS media_id, 'image' AS media_type, 'png' AS format,
         width, height, 1::INT AS n_frames, NULL::INT AS sample_rate,
         unhex('89504E470D0A1A0A' || '0000000D' || '49484452'
               || printf('%08X', width) || printf('%08X', height)
               || '0802000000' || '00000000') || encode(text) AS payload
  FROM dims
  UNION ALL
  SELECT doc_id, 'image', 'jpeg',
         width, height, 1::INT, NULL::INT,
         unhex('FFD8FFC0001108'
               || printf('%04X', height) || printf('%04X', width)
               || '03011100021101031101') || encode(text)
  FROM dims
  UNION ALL
  SELECT doc_id, 'audio', 'wav',
         NULL::INT, NULL::INT,
         (data_size // (channels * 2))::INT, rate,
         unhex('52494646' || {_sql_le32('data_size + 36')}
               || '57415645' || '666D7420' || '10000000' || '0100'
               || {_sql_le16('channels')} || {_sql_le32('rate')}
               || {_sql_le32('rate * channels * 2')} || {_sql_le16('channels * 2')}
               || '1000' || '64617461' || {_sql_le32('data_size')}) || encode(text)
  FROM dims
)
SELECT media_id, media_type, format, width, height, n_frames, sample_rate,
       octet_length(payload)::BIGINT AS n_bytes,
       sha256(hex(payload)) AS payload_hex_sha256,
       ceil(width  * least(1.0, 512.0 / greatest(width, height)))::INT AS target_width,
       ceil(height * least(1.0, 512.0 / greatest(width, height)))::INT AS target_height
FROM built
"""


@query(
    "multimodal_codecs",
    covers="EXT-multimodal (REAL-format codecs through the registry seam: "
    "pure-Python PNG IHDR, JPEG SOF0 marker-walk, and RIFF/WAVE fmt-chunk "
    "decoders in one tagged gate; FULL oracle rebuilds all three blobs "
    "byte-for-byte with unhex in SQL and sha256-cross-checks their hex "
    "rendering. Formerly the PNG-only multimodal_png_decode gate.)",
    oracle=REAL_CODECS_ORACLE,
)
def multimodal_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format payloads (PNG signature+IHDR, JPEG SOI+SOF0, WAV
    RIFF+fmt+data — all built JVM-side from hex/unhex), decoded by the
    registry's pure-Python codecs via ONE mapInPandas pass over the
    union. payload_hex_sha256 is computed JVM-side from the exact
    bytes, proving Spark's blob construction and DuckDB's agree
    byte-for-byte."""
    docs = load_tables(spark, sf_dir)["documents"]
    sources = [
        ("png", make_png_media(docs, "doc_id", "text")),
        ("jpeg", make_jpeg_media(docs, "doc_id", "text")),
        ("wav", make_wav_media(docs, "doc_id", "text")),
    ]
    media = sources[0][1]
    for _, m in sources[1:]:
        media = media.unionByName(m)
    hexsha = None
    for fmt, m in sources:
        h = m.select(
            "media_id", F.lit(fmt).alias("format"),
            F.sha2(F.hex("media_bytes"), 256).alias("payload_hex_sha256"),
        )
        hexsha = h if hexsha is None else hexsha.unionByName(h)
    planned = resize_plan(decode_media_meta(media))
    return planned.join(hexsha, ["media_id", "format"]).select(
        "media_id", "media_type", "format", "width", "height", "n_frames",
        "sample_rate", "n_bytes", "payload_hex_sha256",
        "target_width", "target_height",
    )


@query(
    "session_window_batch",
    covers="ST1 (native session_window operator, batch execution)",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) >= {SESSION_GAP_SECONDS} * 1000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_number
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_SECONDS} SECONDS AS session_end,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM numbered
GROUP BY user_id, session_number
""",
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (usable in batch AND streaming):
    window end = last event + gap; a gap >= threshold closes the window
    — byte-identical to the gaps-and-islands oracle."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "streaming_daily_counts",
    cache_plan=False,
    covers=(
        "ST2 ST3 (r8 tagged union. 'stream': Structured Streaming file "
        "source → tumbling-day agg → memory sink. 'inc': the SAME daily "
        "rollup maintained incrementally from three ingest batches via "
        "operators/rollup_state.py — partial-agg state written to parquet "
        "and read back between merges, then finalized (avg/variance from "
        "sum/sumsq/count), so the stored-continuous-aggregate contract is "
        "value-verified end to end against the one-shot SQL. 'gapfill': "
        "operators/gapfill.py resample_daily over a deliberately-holed "
        "slice — sequence-exploded calendar, zero-fill for additive "
        "metrics, IGNORE-NULLS window forward-fill for state metrics, "
        "replayed with generate_series + the same window in SQL. r9 "
        "'ohlc:<type>' / 'twa:<type>' arms: operators/timeseries_agg.py "
        "hyperfunctions per event_type per day — OHLC downsample (open/"
        "close = values at the bucket's first/last observation; ties "
        "pre-aggregated to unique (key, ts) like the as-of gate) mapped "
        "onto the gate shape as sum_value=open, avg_value=close, min/max="
        "low/high, n_events=n_obs; and the LOCF time-weighted average — "
        "integer-microsecond segment/clip arithmetic — as avg_value=twa, "
        "sum_value=weight_seconds; both replayed exactly in SQL)"
    ),
    oracle="""
SELECT 'stream' AS tag, CAST(ts AS DATE) AS day, count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       min(value) AS min_value, max(value) AS max_value,
       round(sum(value) / count(*), 4) AS avg_value,
       round((sum(value * value) - sum(value) * sum(value) / count(*))
             / count(*), 4) AS var_value
FROM events GROUP BY day
UNION ALL
SELECT 'inc' AS tag, CAST(ts AS DATE) AS day, count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       min(value) AS min_value, max(value) AS max_value,
       round(sum(value) / count(*), 4) AS avg_value,
       round((sum(value * value) - sum(value) * sum(value) / count(*))
             / count(*), 4) AS var_value
FROM events GROUP BY day
UNION ALL
SELECT 'gapfill' AS tag, day, n_events, sum_value, min_value, max_value,
       avg_value, var_value
FROM (
  WITH roll AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS n, sum(value) AS s,
           sum(value * value) AS ss, min(value) AS mn, max(value) AS mx
    FROM events
    WHERE event_type = 'purchase' AND day(ts) % 3 <> 0
    GROUP BY day
  ), cal AS (
    SELECT unnest(generate_series((SELECT min(day) FROM roll),
                                  (SELECT max(day) FROM roll),
                                  INTERVAL 1 DAY))::DATE AS day
  ), dense AS (
    SELECT c.day, coalesce(r.n, 0) AS n, coalesce(r.s, 0.0) AS s,
           coalesce(r.ss, 0.0) AS ss,
           last_value(r.mn IGNORE NULLS) OVER (
             ORDER BY c.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS mn,
           last_value(r.mx IGNORE NULLS) OVER (
             ORDER BY c.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS mx
    FROM cal c LEFT JOIN roll r ON c.day = r.day
  )
  SELECT day, n AS n_events, round(s, 4) AS sum_value, mn AS min_value,
         mx AS max_value,
         CASE WHEN n > 0 THEN round(s / n, 4) END AS avg_value,
         CASE WHEN n > 0 THEN round((ss - s * s / n) / n, 4) END AS var_value
  FROM dense
)
UNION ALL
SELECT 'ohlc:' || k AS tag, CAST(to_timestamp(bucket_start) AS DATE) AS day,
       n_obs AS n_events, round(open, 4) AS sum_value,
       low AS min_value, high AS max_value,
       round(close, 4) AS avg_value, NULL::DOUBLE AS var_value
FROM ("""
        + ohlc_oracle_sql(
            "(SELECT event_type, ts, max(value) AS value FROM events"
            " GROUP BY 1, 2)",
            "ts", "event_type", "value", 86400,
        )
        + """)
UNION ALL
SELECT 'twa:' || k AS tag, CAST(to_timestamp(bucket_start) AS DATE) AS day,
       NULL::BIGINT AS n_events, round(weight_seconds, 4) AS sum_value,
       NULL::DOUBLE AS min_value, NULL::DOUBLE AS max_value,
       round(twa, 4) AS avg_value, NULL::DOUBLE AS var_value
FROM ("""
        + twa_oracle_sql(
            "(SELECT event_type, ts, max(value) AS value FROM events"
            " GROUP BY 1, 2)",
            "ts", "event_type", "value", 86400,
        )
        + ")",
)
def streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming execution driven to completion on static files:
    readStream(parquet) → day agg (complete mode) → memory sink. The
    same plan runs unchanged against a live file/Kafka source.

    The 'inc' arm is the batch production posture for the same rollup:
    never re-aggregate history — three event_id%3 ingest batches each
    reduce to a partial state (count/sum/sumsq/min/max per day), the
    state round-trips through parquet between sequential merges
    (exactly how a stored continuous aggregate lives), and the report
    finalizes avg/variance from the merged state."""
    import os
    import tempfile
    import uuid

    from cod_stats_spark.tables import _nanos_ts_cols

    path = f"{sf_dir}/events.parquet"
    ns_cols = _nanos_ts_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    # The file streaming source requires a DIRECTORY; stage a symlink.
    stage = tempfile.mkdtemp(prefix="stream_events_")
    os.symlink(path, os.path.join(stage, "events.parquet"))
    name = f"stream_daily_{uuid.uuid4().hex[:8]}"
    src = spark.readStream.schema(raw_schema).parquet(stage)
    for c in ns_cols:
        src = src.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    stream = src.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq_value"),
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from cod_stats_spark.operators.rollup_state import (
        finalize_avg,
        finalize_var,
        rollup_merge,
        rollup_partial,
    )

    def report(state: DataFrame, tag: str) -> DataFrame:
        return state.select(
            F.lit(tag).alias("tag"),
            "day",
            "n_events",
            F.round(F.col("sum_value"), 4).alias("sum_value"),
            "min_value",
            "max_value",
            F.round(finalize_avg("sum_value", "n_events"), 4).alias("avg_value"),
            F.round(
                finalize_var("sumsq_value", "sum_value", "n_events"), 4
            ).alias("var_value"),
        )

    streamed = report(spark.table(name), "stream")

    # incremental arm: three ingest batches maintained sequentially,
    # the state persisted to parquet between merges
    metrics = {
        "n_events": ("count", None),
        "sum_value": ("sum", "value"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
        "sumsq_value": ("sumsq", "value"),
    }
    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "day", F.to_date("ts")
    )
    store = tempfile.mkdtemp(prefix="rollup_state_")
    state = rollup_partial(ev.where(F.col("event_id") % 3 == 0), ["day"], metrics)
    for batch_no in (1, 2):
        state.write.mode("overwrite").parquet(store)
        stored = spark.read.parquet(store)
        batch = ev.where(F.col("event_id") % 3 == batch_no)
        state = rollup_merge(
            ["day"], metrics, stored, rollup_partial(batch, ["day"], metrics)
        )

    # gapfill arm: a deliberately-holed slice (purchase events on
    # day-of-month % 3 != 0) densified back to the full calendar
    from cod_stats_spark.operators.gapfill import resample_daily

    holed = ev.where(
        (F.col("event_type") == "purchase") & (F.dayofmonth("ts") % 3 != 0)
    )
    roll = holed.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    dense = resample_daily(
        roll, "day", [],
        {"n": "zero", "s": "zero", "ss": "zero", "mn": "ffill", "mx": "ffill"},
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    gap = dense.select(
        F.lit("gapfill").alias("tag"),
        "day",
        n.alias("n_events"),
        F.round(s, 4).alias("sum_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
        F.when(n > 0, F.round(s / n, 4)).alias("avg_value"),
        F.when(n > 0, F.round((ss - s * s / n) / n, 4)).alias("var_value"),
    )
    # r9 hyperfunction arms: OHLC + LOCF time-weighted average per
    # event_type per day (operators/timeseries_agg.py) — ties
    # pre-aggregated to unique (key, ts), the as-of gate discipline
    from cod_stats_spark.operators.timeseries_agg import (
        ohlc_downsample,
        time_weighted_avg,
    )

    series = ev.groupBy("event_type", "ts").agg(
        F.max("value").alias("value")
    )
    day_of = F.to_date(F.timestamp_seconds(F.col("bucket_start")))
    null_d = F.lit(None).cast("double")
    ohlc = ohlc_downsample(
        series, "ts", ["event_type"], "value", 86400
    ).select(
        F.concat(F.lit("ohlc:"), F.col("event_type")).alias("tag"),
        day_of.alias("day"),
        F.col("n_obs").alias("n_events"),
        F.round("open", 4).alias("sum_value"),
        F.col("low").alias("min_value"),
        F.col("high").alias("max_value"),
        F.round("close", 4).alias("avg_value"),
        null_d.alias("var_value"),
    )
    twa = time_weighted_avg(
        series, "ts", ["event_type"], "value", 86400
    ).select(
        F.concat(F.lit("twa:"), F.col("event_type")).alias("tag"),
        day_of.alias("day"),
        F.lit(None).cast("long").alias("n_events"),
        F.round("weight_seconds", 4).alias("sum_value"),
        null_d.alias("min_value"),
        null_d.alias("max_value"),
        F.round("twa", 4).alias("avg_value"),
        null_d.alias("var_value"),
    )
    return (
        streamed.unionByName(report(state, "inc"))
        .unionByName(gap)
        .unionByName(ohlc)
        .unionByName(twa)
    )


def _near_dup_oracle_sql(dim: int = 64, n_planes: int = 4, threshold: float = 0.3,
                         max_bucket: int = 2000) -> str:
    """Generated oracle for LSH-bucketed near-dup pairs: same
    deterministic hyperplanes, bucket self-join, cosine threshold."""
    from cod_stats_spark.operators.similarity import _hyperplane

    def plane_lit(i):
        return "[" + ", ".join(repr(v) for v in _hyperplane(dim, i)) + "]"

    bucket_of = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane_lit(i)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {bucket_of} AS bucket FROM embeddings
), sized AS (
  SELECT bucket FROM b GROUP BY bucket HAVING count(*) BETWEEN 2 AND {max_bucket}
)
SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
       round(list_cosine_similarity(x.v, y.v), 6) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
JOIN sized s ON s.bucket = x.bucket
WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
"""


@query(
    "embedding_near_dup",
    covers="EXT-dedup EXT-similarity (embedding-cosine near-dup pairs, LSH-bucketed; FULL oracle)",
    oracle=_near_dup_oracle_sql(),
)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cod_stats_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_tables(spark, sf_dir)["embeddings"]
    dim = len(emb.select("embedding").first()["embedding"])
    # threshold 0.3: random embeddings have no true near-dups, so a
    # production-strength 0.9 passes vacuously (0 rows both sides);
    # 0.3 makes the oracle compare a real pair set (~130 pairs)
    return embedding_near_dup_pairs(
        emb, "embedding", "vec_id", dim=dim, threshold=0.3, n_planes=4
    )


IVF_N_CENTROIDS = 24
IVF_NPROBE = 3


def _ivf_oracle_sql(n_centroids: int = IVF_N_CENTROIDS, nprobe: int = IVF_NPROBE, k: int = 10) -> str:
    """Generated oracle for IVF probe search. The centroid sample is a
    deterministic fixed-count rule (md5-hashed id order) reproduced
    verbatim in SQL, so centroid choice, nearest-centroid assignment
    (argmax cosine, earlier-sample-order tiebreak), probe-set selection
    (dot product to the query), and the final pruned top-k are ALL
    verified — the ann_lsh_topk technique applied to IVF."""
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS ord
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id
  LIMIT {n_centroids}
), q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cid FROM cent
  ORDER BY list_dot_product(cv, (SELECT qv FROM q)) DESC, ord ASC
  LIMIT {nprobe}
), assigned AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC, c.ord ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cent c
)
SELECT vec_id AS id,
       round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cosine
FROM assigned
WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
ORDER BY cosine DESC, id ASC
LIMIT {k}
"""


def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cod_stats_spark.operators.similarity import ivf_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    # Fixed-count deterministic sample (NOT id % k, whose size grows
    # with the table): order by md5(id) and take the first N — a bounded
    # driver collect at any scale, and reproducible in the oracle SQL.
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id"))
        .limit(IVF_N_CENTROIDS)
        .collect()
    )
    centroids = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in sample]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    return ivf_topk(emb, "embedding", "vec_id", qvec, centroids, k=10, nprobe=IVF_NPROBE)


KMEANS_FOLD_K = 8  # literal-centroid count for the kmeans oracle slice
KMEANS_FOLD_MOD = 20  # every 20th vector gets an oracled assignment row


def _kmeans_assign_oracle_sql(k: int = KMEANS_FOLD_K, mod: int = KMEANS_FOLD_MOD) -> str:
    """Oracle for ``clustering.kmeans_assign``: centroids are the same
    deterministic md5-ordered fixed-count sample the IVF oracle uses,
    and the argmin ``||c||² − 2·x·c`` (ties → lowest centroid index,
    the Column path's (score, j) struct order) is replayed with SQL
    dot products. The cluster index rides the union's ``cosine``
    column as an exact double."""
    return f"""
WITH cent AS (
  SELECT embedding::DOUBLE[] AS cv,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j
  FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id
  LIMIT {k}
), pts AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % {mod} = 0
), scored AS (
  SELECT p.vec_id, c.j,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY (list_dot_product(c.cv, c.cv)
                     - 2.0 * list_dot_product(p.v, c.cv)) ASC, c.j ASC
         ) AS rn
  FROM pts p CROSS JOIN cent c
)
SELECT vec_id AS id, j::DOUBLE AS cosine FROM scored WHERE rn = 1
"""


def ann_kmeans_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kmeans_assign (operators/clustering.py Column path) over every
    KMEANS_FOLD_MOD-th embedding, with the md5-sample centroid rule
    the IVF gate established (bounded driver collect, SQL-replayable)."""
    from cod_stats_spark.operators.clustering import kmeans_assign

    emb = load_tables(spark, sf_dir)["embeddings"]
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id"))
        .limit(KMEANS_FOLD_K)
        .collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in sample]
    out = kmeans_assign(
        emb.filter(F.col("vec_id") % KMEANS_FOLD_MOD == 0), "embedding", centroids
    )
    return out.select(
        F.col("vec_id").alias("id"),
        F.col("cluster").cast("double").alias("cosine"),
    )


PQ_FOLD_M = 4   # subspaces for the PQ oracle slice (64-dim → 16/sub)
PQ_FOLD_K = 8   # codewords per subspace (md5-sampled, SQL-replayable)


def _pq_oracle_sql(
    m: int = PQ_FOLD_M, kc: int = PQ_FOLD_K, mod: int = KMEANS_FOLD_MOD, dim: int = 64
) -> str:
    """Oracle for ``operators/quantization.py``: codebooks are the
    md5-sample rule's first ``kc`` vectors SPLIT per subspace (the
    same deterministic-centroid trick as the IVF/k-means folds — PQ
    TRAINING is numpy Lloyd's and not SQL-expressible, but encode and
    ADC over FIXED codebooks are pure arithmetic). Two tagged rows per
    sampled doc: 'pq_code' packs the m per-subspace argmin indices
    into one exact double (Σ code_j·kc^j), 'pq_adc' replays the
    asymmetric inner-product Σ_j q_j·cb[j][code_j] against the
    vec_id=0 query. list_slice bounds are 1-based inclusive.

    r8 (+ 'pq_adc_res'): the RESIDUAL IVF-PQ mode — the FAISS
    training shape, written/served via write_ivfpq_index(...,
    residual=True). Coarse centroids are the sample's first
    ``n_coarse`` vectors; every point (and every codebook source
    vector) assigns to its nearest coarse centroid by the same
    ``||c||² − 2·x·c`` argmin `kmeans_assign` computes (ties →
    smallest index), residuals are element-wise v − centroid, the
    residual codebooks are the sample residuals split per subspace,
    and the score replays the exact decomposition
    q·x̂ = q·c_cluster + Σ_j q_j·rcb[j][code_j].

    r8 (+ 'pq_refine'): the two-stage refine serving pattern
    (`ivfpq_topk_refined`) — the ADC-top-``refine_rerank`` candidate
    set re-scored with EXACT cosine, top-``refine_k`` returned. The
    oracle takes the same top-R slice of the adcres CTE (same
    (rounded score, id) total order) and exact-scores it from the
    embeddings table."""
    n_coarse = 4
    refine_rerank, refine_k = 15, 10
    sub = dim // m
    weights = " ".join(f"WHEN {j} THEN {kc**j}" for j in range(m))
    packed = f"cidx * (CASE j {weights} END)"

    def slc(col: str) -> str:
        return f"list_slice({col}, s.j*{sub}+1, (s.j+1)*{sub})"

    assign_order = (
        "(list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product({v}, c.cv))"
        " ASC, c.cidx ASC"
    )
    residual = f"list_transform(generate_series(1, {dim}), i -> {{v}}[i] - c.cv[i])"
    return f"""
WITH cent AS (
  SELECT embedding::DOUBLE[] AS cv,
         row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cidx
  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {kc}
), pts AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % {mod} = 0
), subs AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
scored AS (
  SELECT p.vec_id, s.j, c.cidx,
         row_number() OVER (
           PARTITION BY p.vec_id, s.j
           ORDER BY (list_dot_product(list_slice(c.cv, s.j*{sub}+1, (s.j+1)*{sub}),
                                      list_slice(c.cv, s.j*{sub}+1, (s.j+1)*{sub}))
                     - 2.0 * list_dot_product(list_slice(p.v, s.j*{sub}+1, (s.j+1)*{sub}),
                                              list_slice(c.cv, s.j*{sub}+1, (s.j+1)*{sub}))) ASC,
                    c.cidx ASC) AS rn
  FROM pts p CROSS JOIN cent c CROSS JOIN subs s
), codes AS (SELECT vec_id, j, cidx FROM scored WHERE rn = 1),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
coarse AS (SELECT cidx, cv FROM cent WHERE cidx < {n_coarse}),
passign AS (
  SELECT p.vec_id, p.v, c.cidx AS cl,
         row_number() OVER (PARTITION BY p.vec_id
                            ORDER BY {assign_order.format(v="p.v")}) AS rn
  FROM pts p CROSS JOIN coarse c
),
pres AS (
  SELECT p.vec_id, p.cl, {residual.format(v="p.v")} AS rv
  FROM (SELECT vec_id, v, cl FROM passign WHERE rn = 1) p
  JOIN coarse c ON c.cidx = p.cl
),
cassign AS (
  SELECT t.cidx AS scidx, t.cv, c.cidx AS cl,
         row_number() OVER (PARTITION BY t.cidx
                            ORDER BY {assign_order.format(v="t.cv")}) AS rn
  FROM cent t CROSS JOIN coarse c
),
rcb AS (
  SELECT t.scidx AS cidx, {residual.format(v="t.cv")} AS rv
  FROM (SELECT scidx, cv, cl FROM cassign WHERE rn = 1) t
  JOIN coarse c ON c.cidx = t.cl
),
rscored AS (
  SELECT p.vec_id, p.cl, s.j, r.cidx,
         row_number() OVER (
           PARTITION BY p.vec_id, s.j
           ORDER BY (list_dot_product({slc("r.rv")}, {slc("r.rv")})
                     - 2.0 * list_dot_product({slc("p.rv")}, {slc("r.rv")})) ASC,
                    r.cidx ASC) AS rn
  FROM pres p CROSS JOIN rcb r CROSS JOIN subs s
), rcodes AS (SELECT vec_id, cl, j, cidx FROM rscored WHERE rn = 1),
adcres AS (
  SELECT c.vec_id AS id,
         round(any_value(list_dot_product(q.qv, co.cv))
               + sum(list_dot_product(list_slice(q.qv, c.j*{sub}+1, (c.j+1)*{sub}),
                                      list_slice(cb.rv, c.j*{sub}+1, (c.j+1)*{sub}))), 6) AS cosine
  FROM rcodes c JOIN rcb cb ON cb.cidx = c.cidx
  JOIN coarse co ON co.cidx = c.cl
  CROSS JOIN q
  GROUP BY c.vec_id
)
SELECT 'pq_code' AS method, vec_id AS id,
       sum({packed})::DOUBLE AS cosine
FROM codes GROUP BY vec_id
UNION ALL
SELECT 'pq_adc' AS method, c.vec_id AS id,
       round(sum(list_dot_product(list_slice(q.qv, c.j*{sub}+1, (c.j+1)*{sub}),
                                  list_slice(cb.cv, c.j*{sub}+1, (c.j+1)*{sub}))), 6) AS cosine
FROM codes c JOIN cent cb ON cb.cidx = c.cidx CROSS JOIN q
GROUP BY c.vec_id
UNION ALL
SELECT 'pq_adc_res' AS method, id, cosine FROM adcres
UNION ALL
SELECT 'pq_refine' AS method, id, cosine FROM (
  SELECT e.vec_id AS id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine
  FROM (SELECT id FROM adcres ORDER BY cosine DESC, id ASC LIMIT {refine_rerank}) r
  JOIN embeddings e ON e.vec_id = r.id
  CROSS JOIN q
  ORDER BY cosine DESC, id ASC LIMIT {refine_k}
)
"""


def ann_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC (operators/quantization.py) over every
    KMEANS_FOLD_MOD-th embedding, codebooks = the md5-sample rule's
    vectors split per subspace (training itself is numpy Lloyd's —
    oracled here over FIXED codebooks, exactly like the k-means fold
    oracles assignment rather than the iterative fit).

    The 'pq_adc' rows are served FROM A WRITTEN IVF-PQ INDEX: the
    sampled slice is written via `write_ivfpq_index` (4 md5-sample
    centroids) to a throwaway dir and read back with every cluster
    probed, so the oracle value-verifies the index's write → Hive
    layout → read → ADC-over-stored-codes path end to end — codes on
    disk must round-trip exactly or the hashes diverge.

    r8 (+ 'pq_adc_res' rows): the same round-trip with
    ``residual=True`` — the FAISS IVF-PQ shape with the trickiest
    arithmetic (r7 verdict Missing #2). Residual codebooks come from
    the SAME deterministic rule (the md5-sample's residuals against
    their nearest coarse centroid, split per subspace; training
    proper stays numpy Lloyd's and is pytest-covered), and the score
    replays the exact decomposition q·x̂ = q·c_cluster + q·residual̂,
    with the per-cluster offset gathered from the stored partition
    column — so cluster assignment, residual encode, Hive layout,
    and the offset arithmetic are ALL hash-verified in SQL."""
    import os
    import tempfile

    import numpy as np

    from cod_stats_spark.operators.quantization import (
        pq_encode,
        write_ivfpq_index,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id"))
        .limit(PQ_FOLD_K)
        .collect()
    )
    vecs = np.array([[float(x) for x in r["embedding"]] for r in sample])
    dim = vecs.shape[1]
    sub = dim // PQ_FOLD_M
    books = np.stack(
        [vecs[:, j * sub : (j + 1) * sub] for j in range(PQ_FOLD_M)]
    )  # (m, k, sub)
    pts = emb.filter(F.col("vec_id") % KMEANS_FOLD_MOD == 0)
    codes = pq_encode(pts, "embedding", books)
    # IVF-PQ round-trip for the ADC rows: 4 coarse centroids from the
    # same sample; probing ALL clusters makes the candidate set the
    # full slice, so the SQL oracle needs no IVF arithmetic
    centroids = [[float(x) for x in vecs[c]] for c in range(4)]
    idx_dir = os.path.join(tempfile.mkdtemp(prefix="ivfpq_gate_"), "idx")
    write_ivfpq_index(pts, idx_dir, "embedding", "vec_id", centroids, books)
    stored = spark.read.parquet(idx_dir)
    qvec = np.array(
        [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    )
    lut = np.array(
        [books[j] @ qvec[j * sub : (j + 1) * sub] for j in range(PQ_FOLD_M)]
    )  # (m, k)
    packed = sum(
        (F.element_at("pq_code", j + 1).cast("long") * (PQ_FOLD_K**j) for j in range(PQ_FOLD_M)),
        start=F.lit(0).cast("long"),
    )
    adc = F.round(
        sum(
            (
                F.element_at(
                    F.array(*[F.lit(float(x)) for x in lut[j]]),
                    F.element_at("pq_code", j + 1).cast("int") + 1,
                )
                for j in range(PQ_FOLD_M)
            ),
            start=F.lit(0.0),
        ),
        6,
    )
    code_rows = codes.select(
        F.lit("pq_code").alias("method"),
        F.col("vec_id").alias("id"),
        packed.cast("double").alias("cosine"),
    )
    adc_rows = stored.select(
        F.lit("pq_adc").alias("method"),
        F.col("vec_id").alias("id"),
        adc.alias("cosine"),
    )
    # residual round-trip: same coarse centroids; residual codebooks =
    # the sample's residuals vs its nearest coarse centroid (same
    # ||c||²−2x·c argmin kmeans_assign uses, first-min tiebreak — the
    # decomposition matters for float-exact oracle agreement), split
    # per subspace
    M = vecs[:4]
    d2s = (M**2).sum(axis=1)[None, :] - 2.0 * (vecs @ M.T)
    res_vecs = vecs - M[d2s.argmin(axis=1)]
    books_res = np.stack(
        [res_vecs[:, j * sub : (j + 1) * sub] for j in range(PQ_FOLD_M)]
    )
    idx_res = os.path.join(tempfile.mkdtemp(prefix="ivfpq_gate_res_"), "idx")
    write_ivfpq_index(
        pts, idx_res, "embedding", "vec_id", centroids, books_res, residual=True
    )
    stored_res = spark.read.parquet(idx_res)
    lut_res = np.array(
        [books_res[j] @ qvec[j * sub : (j + 1) * sub] for j in range(PQ_FOLD_M)]
    )
    offs = [float(M[c] @ qvec) for c in range(4)]
    adc_res = F.round(
        F.element_at(
            F.array(*[F.lit(o) for o in offs]),
            F.col("ivf_cluster").cast("int") + 1,
        )
        + sum(
            (
                F.element_at(
                    F.array(*[F.lit(float(x)) for x in lut_res[j]]),
                    F.element_at("pq_code", j + 1).cast("int") + 1,
                )
                for j in range(PQ_FOLD_M)
            ),
            start=F.lit(0.0),
        ),
        6,
    )
    res_rows = stored_res.select(
        F.lit("pq_adc_res").alias("method"),
        F.col("vec_id").alias("id"),
        adc_res.alias("cosine"),
    )
    # refine stage (r8): exact cosine re-rank of the residual-ADC
    # top-15 — candidate selection runs through the WRITTEN index via
    # ivfpq_topk_indexed (all 4 clusters probed, so the oracle needs
    # no probe arithmetic), the re-rank reads raw vectors via a
    # broadcast semi join
    from cod_stats_spark.operators.quantization import ivfpq_topk_refined

    refined = ivfpq_topk_refined(
        spark,
        idx_res,
        pts,
        "embedding",
        "vec_id",
        [float(x) for x in qvec],
        centroids,
        books_res,
        k=10,
        rerank=15,
        nprobe=4,
        residual=True,
    )
    ref_rows = refined.select(
        F.lit("pq_refine").alias("method"), "id", "cosine"
    )
    return (
        code_rows.unionByName(adc_rows)
        .unionByName(res_rows)
        .unionByName(ref_rows)
    )


RP_DIM_OUT = 8


def _rp_oracle_sql(dim: int = 64, d_out: int = RP_DIM_OUT, k: int = 10) -> str:
    """Generated oracle for random-projection ANN: the JL matrix is a
    deterministic driver-side constant (operators/projection.py), so
    the projection itself, the reduced-space cosine, and the pruned
    top-k are all expressible in SQL — the approximation is verified,
    not just its row count."""
    from cod_stats_spark.operators.projection import projection_planes

    planes = projection_planes(dim, d_out)

    def plane_lit(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"

    proj = ", ".join(
        f"list_dot_product(embedding::DOUBLE[], {plane_lit(p)})" for p in planes
    )
    return f"""
WITH rp AS (
  SELECT vec_id, [{proj}] AS y FROM embeddings
), q AS (SELECT y AS qy FROM rp WHERE vec_id = 0)
SELECT vec_id AS id,
       round(list_cosine_similarity(rp.y, (SELECT qy FROM q)), 6) AS cosine
FROM rp
ORDER BY cosine DESC, id ASC
LIMIT {k}
"""


def ann_rp_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k in the JL-reduced space: project with the pure-Column
    path (the JVM arithmetic the oracle replays), then cosine against
    the projected query and the (rounded score, id) deterministic
    top-k. The production shape projects once with project_gemm and
    runs ANY of the ANN strategies over the narrow column — this gate
    row proves the reduced-space geometry end to end."""
    from cod_stats_spark.operators.projection import random_project

    emb = load_tables(spark, sf_dir)["embeddings"]
    dim = len(emb.select("embedding").first()["embedding"])
    rp = random_project(emb, "embedding", dim, RP_DIM_OUT, out_col="y")
    qy = [float(v) for v in rp.filter(F.col("vec_id") == 0).first()["y"]]
    qlit = "array(" + ", ".join(repr(v) for v in qy) + ")"
    dot = (
        f"aggregate(zip_with(y, {qlit}, (a, b) -> a * b),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    nrm = (
        "aggregate(transform(y, v -> v * v),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    qn = sum(v * v for v in qy) ** 0.5
    cos = F.expr(dot) / (F.sqrt(F.expr(nrm)) * F.lit(qn))
    return (
        rp.select(
            F.col("vec_id").alias("id"), F.round(cos, 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(10)
    )


_SEMDEDUP_T = 0.995      # pair-cosine threshold for the semdedup arm
_SEMDEDUP_MOD = 25       # every 25th vector gets a synthetic near-dup
_SEMDEDUP_OFF = 100_000_000  # synthetic-copy id offset, far above
                             # any real vec_id at any stratum (the
                             # 2 GB replica corpus tops out ~2e5 —
                             # a colliding offset would alias copies
                             # onto live ids and corrupt pair identity


def _semdedup_pts_sql() -> str:
    """The semdedup arm's point set: the corpus ∪ synthetic near-dup
    copies (element 0 scaled 1.01 — the same double arithmetic on the
    same values in both engines). The natural gate embeddings have NO
    near-dup pairs (max pair cosine ≈ 0.46 at sf0.01), so the copies
    are what exercises the drop logic; cosine(v, copy) ≈ 0.9999."""
    return f"""(
  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_SEMDEDUP_OFF},
         list_transform(embedding::DOUBLE[],
                        (x, i) -> CASE WHEN i = 1 THEN x * 1.01 ELSE x END)
  FROM embeddings WHERE vec_id % {_SEMDEDUP_MOD} = 0
)"""


def ann_semdedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semantic.py) over the augmented corpus with
    the md5-sample deterministic centroids — survivors with their
    rounded centroid cosine; the synthetic copies and/or their
    originals die by the worse-side (closer-to-centroid) rule."""
    from cod_stats_spark.operators.semantic import semantic_dedup

    emb = load_tables(spark, sf_dir)["embeddings"]
    vec = F.col("embedding").cast("array<double>")
    copies = emb.where(F.col("vec_id") % _SEMDEDUP_MOD == 0).select(
        (F.col("vec_id") + _SEMDEDUP_OFF).alias("vec_id"),
        F.transform(
            vec, lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("embedding"),
    )
    aug = emb.select("vec_id", vec.alias("embedding")).unionByName(copies)
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")),
            F.col("vec_id"),
        )
        .limit(KMEANS_FOLD_K)
        .collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in sample]
    out = semantic_dedup(
        aug, "embedding", "vec_id", centroids, threshold=_SEMDEDUP_T
    )
    return out.select(
        F.col("vec_id").alias("id"), F.col("centroid_cosine").alias("cosine")
    )


_SEMDECON_BENCH_N = 15  # md5-ordered deterministic "eval set" split
_SEMDECON_T = 0.3       # random embeddings: ~50 of 485 docs flag


def ann_semdecon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination arm (r13): the first
    ``_SEMDECON_BENCH_N`` embeddings in md5-id order play the eval
    set (the IVF centroid-sample rule — reproducible in SQL), the
    rest are the corpus; flagged = max benchmark cosine >= threshold
    via the broadcast "pairs" path (operators/decontaminate.py
    semantic_contaminated_docs)."""
    from cod_stats_spark.operators.decontaminate import (
        semantic_contaminated_docs,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    bench = emb.orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")),
        F.col("vec_id"),
    ).limit(_SEMDECON_BENCH_N)
    bids = [int(r["vec_id"]) for r in bench.select("vec_id").collect()]
    rest = emb.filter(~F.col("vec_id").isin(bids))
    return semantic_contaminated_docs(
        rest, bench, "embedding", "vec_id", threshold=_SEMDECON_T
    ).select(
        F.col("doc_id").alias("id"), F.col("max_cosine").alias("cosine")
    )


def _semdecon_oracle_sql() -> str:
    from cod_stats_spark.operators.decontaminate import (
        semantic_contamination_oracle_sql,
    )

    bench = (
        "(SELECT vec_id, embedding FROM embeddings"
        f" ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_SEMDECON_BENCH_N})"
    )
    corpus = (
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id NOT IN"
        f" (SELECT vec_id FROM {bench} b))"
    )
    inner = semantic_contamination_oracle_sql(_SEMDECON_T, corpus, bench)
    return f"SELECT doc_id AS id, max_cosine AS cosine FROM ({inner})"


def _ann_merged_oracle() -> str:
    """Union of the FULL ANN/clustering/quantization oracles (brute /
    LSH / IVF / k-means assignment / PQ encode+ADC / JL random
    projection / SemDeDup survivors / semantic decontamination), each
    tagged with its method — every approximation stays
    value-verified."""
    from cod_stats_spark.operators.semantic import semantic_dedup_oracle_sql

    parts = [
        ("brute", _ANN_BRUTE_ORACLE),
        ("lsh", _lsh_oracle_sql()),
        ("ivf", _ivf_oracle_sql()),
        ("kmeans", _kmeans_assign_oracle_sql()),
        ("rp", _rp_oracle_sql()),
        (
            "semdedup",
            semantic_dedup_oracle_sql(
                KMEANS_FOLD_K, _SEMDEDUP_T, pts_src=_semdedup_pts_sql()
            ),
        ),
        ("semdecon", _semdecon_oracle_sql()),
    ]
    tagged = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, id, cosine FROM ({sql})" for m, sql in parts
    )
    # the PQ oracle emits its own method tags ('pq_code'/'pq_adc');
    # its WITH chain nests in a subquery so the UNION ALL parses
    return (
        tagged
        + "\nUNION ALL\nSELECT method, id, cosine FROM (\n"
        + _pq_oracle_sql()
        + "\n)"
    )


@query(
    "ann_topk",
    covers=(
        "EXT-similarity (ANN over embeddings, all strategies in one gate: "
        "exact brute-force cosine baseline; LSH sign-bucket multiprobe — the "
        "pruned-scan scale path; IVF probe search with deterministic centroid "
        "sample + nprobe pruning; r7: + clustering.kmeans_assign argmin with "
        "md5-sampled centroids, + quantization.py PQ encode (per-subspace "
        "argmin packed exactly) and ADC inner-product scoring over fixed "
        "codebooks; r8: + JL random-projection reduced-space top-k "
        "(operators/projection.py — deterministic hash-generated matrix, so "
        "projection, reduced-space cosine, and the pruned top-k replay in "
        "SQL); r10: + SemDeDup (operators/semantic.py — cluster-restricted "
        "embedding near-dup removal keeping the farthest-from-centroid "
        "member; assignment, centroid-cosine ranks, pair decisions, and "
        "survivors replayed in SQL over synthetic near-dup copies); r13: "
        "+ semantic decontamination (operators/decontaminate.py "
        "semantic_contaminated_docs — flag corpus docs within a cosine "
        "threshold of ANY eval-set embedding, the cross-dataset SemDeDup "
        "posture; md5-split eval set, broadcast pairs path, "
        "round-6-before-max rule replayed in SQL). FULL "
        "oracle incl. bucketing/assignment/quantization — "
        "merged from the former ann_cosine_topk / ann_lsh_topk / ann_ivf_topk "
        "gates, registry ≤ 50)"
    ),
    oracle=_ann_merged_oracle(),
)
def ann_topk_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = ann_cosine_topk(spark, sf_dir).select(F.lit("brute").alias("method"), "id", "cosine")
    lsh = ann_lsh_topk_q(spark, sf_dir).select(F.lit("lsh").alias("method"), "id", "cosine")
    ivf = ann_ivf_topk_q(spark, sf_dir).select(F.lit("ivf").alias("method"), "id", "cosine")
    km = ann_kmeans_assign_q(spark, sf_dir).select(F.lit("kmeans").alias("method"), "id", "cosine")
    pq = ann_pq_q(spark, sf_dir)
    rp = ann_rp_topk_q(spark, sf_dir).select(F.lit("rp").alias("method"), "id", "cosine")
    sd = ann_semdedup_q(spark, sf_dir).select(
        F.lit("semdedup").alias("method"), "id", "cosine"
    )
    sdc = ann_semdecon_q(spark, sf_dir).select(
        F.lit("semdecon").alias("method"), "id", "cosine"
    )
    return (
        brute.unionByName(lsh).unionByName(ivf).unionByName(km)
        .unionByName(pq).unionByName(rp).unionByName(sd)
        .unionByName(sdc)
    )


def _scd2_dim_oracle() -> str:
    """The SCD2 priority dimension replayed in SQL: change log = max
    priority per (custkey, orderdate), collapsed runs, closed
    intervals (operators/scd.scd2_oracle_sql)."""
    from cod_stats_spark.operators.scd import scd2_oracle_sql

    return scd2_oracle_sql(
        "(SELECT o_custkey AS ck, o_orderdate AS od,"
        " max(o_orderpriority) AS pr FROM orders GROUP BY 1, 2)",
        "ck", "od", "pr",
    )


def _asof_gate_oracle() -> str:
    scd_lookup = f"""
SELECT e.event_id, e.user_id, e.ts,
       CAST(substring(d.attr, 1, 1) AS DOUBLE) AS val
FROM events e
ASOF LEFT JOIN ({_scd2_dim_oracle()}) d
  ON e.user_id = d.k AND e.ts >= d.valid_from
"""
    return f"""
SELECT 'asof' AS tag, e.event_id, e.user_id, e.ts, o.last_order_price AS val
FROM events e
ASOF LEFT JOIN (
  SELECT o_custkey, o_orderdate, max(o_totalprice) AS last_order_price
  FROM orders GROUP BY o_custkey, o_orderdate
) o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
UNION ALL
SELECT 'scd2' AS tag, * FROM ({scd_lookup})
UNION ALL
SELECT 'scd2_inc' AS tag, * FROM ({scd_lookup})
"""


@query(
    "asof_join_orders",
    covers=(
        "EXT-asof EXT-scd2 (tagged union, r9. 'asof': as-of join — latest "
        "order state at each event, union+window implementation. 'scd2': "
        "operators/scd.py — SCD2 dimension history (collapse + interval "
        "close) built from the order-priority change log, point-in-time "
        "lookup of every event against it; interval construction is "
        "verified because every lookup value rides the intervals. "
        "'scd2_inc': the SAME lookups against a dimension maintained as "
        "scd2_apply(scd2_build(priority-1-2 rows), priority-3-5 rows) — an "
        "adversarially interleaved retroactive batch, collapse=False so "
        "apply == rebuild holds exactly (scd2_apply docstring); the oracle "
        "arm is identical SQL, so the maintenance path is hash-verified "
        "through every lookup)"
    ),
    oracle=_asof_gate_oracle(),
)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of + SCD2 point-in-time arms. The TIMED `asof_join_orders`
    entry keeps the r1-r8 asof-only plan via its BENCH_ONLY override
    (BENCH_NOTES.md). Right sides pre-aggregated to unique (key, ts)
    so ties are impossible (deterministic in both engines)."""
    from cod_stats_spark.operators.asof_join import asof_join
    from cod_stats_spark.operators.scd import (
        scd2_apply,
        scd2_build,
        scd2_lookup,
    )

    t = load_tables(spark, sf_dir)
    right = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ots"))
        .agg(F.max("o_totalprice").alias("last_order_price"))
    )
    left = t["events"].select("event_id", "user_id", "ts")
    asof_rows = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ots",
        right_payload=["last_order_price"],
    ).select(
        F.lit("asof").alias("tag"), "event_id", "user_id", "ts",
        F.col("last_order_price").alias("val"),
    )
    log = (
        t["orders"]
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("chg_ts"),
        )
        .agg(F.max("o_orderpriority").alias("attr"))
    )
    dim = scd2_build(log, ["user_id"], "chg_ts", ["attr"])
    # incremental: split the change log by ATTRIBUTE (priorities 1-2
    # vs 3-5) so the second batch is heavily retroactive and
    # interleaved within every key — the hardest apply shape.
    # collapse=False on this path: the identity apply == rebuild
    # holds for arbitrary interleave exactly when nothing is dropped
    # (scd2_apply docstring); lookups through the uncollapsed
    # dimension equal lookups through the oracle's collapsed one, so
    # the SAME SQL arm hash-verifies the whole maintenance path.
    batch1 = F.substring("attr", 1, 1).cast("int") <= 2
    dim_inc = scd2_apply(
        scd2_build(
            log.where(batch1), ["user_id"], "chg_ts", ["attr"],
            collapse=False,
        ),
        log.where(~batch1),
        ["user_id"],
        "chg_ts",
        ["attr"],
        collapse=False,
    )
    def scd_arm(d: DataFrame, tag: str) -> DataFrame:
        return scd2_lookup(left, d, ["user_id"], "ts", ["attr"]).select(
            F.lit(tag).alias("tag"), "event_id", "user_id", "ts",
            F.substring("attr", 1, 1).cast("double").alias("val"),
        )
    return (
        asof_rows
        .unionByName(scd_arm(dim, "scd2"))
        .unionByName(scd_arm(dim_inc, "scd2_inc"))
    )


def _quantiles_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based; percentile_approx is the sketch
    variant for 100 TB — exact kept here for oracle comparability).

    Registered as the timed `quantiles` bench entry (unchanged plan
    since r1); its ORACLE rows moved into the `stat_aggregates`
    tagged union in r6 to free a registry slot for `retrieval_bm25`
    (registry ≤ 50, BENCH_NOTES.md)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("qty_p50"),
    )


@query(
    "rollup_cube",
    covers="EXT-olap (ROLLUP + CUBE + explicit GROUPING SETS, each with grouping_id, one tagged gate)",
    oracle="""
SELECT 'rollup' AS variant, l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube', l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus),
       count(*), round(sum(l_quantity), 2)
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'gsets', l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus),
       count(*), round(sum(l_quantity), 2)
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
)
def rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three multi-dimensional grouping shapes over one fact scan,
    tagged. Catalyst expands each to a single Expand + aggregate —
    no per-grouping-set rescans."""
    li = load_tables(spark, sf_dir)["lineitem"]

    def _agg(grouped, tag):
        return grouped.agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        ).select(
            F.lit(tag).alias("variant"),
            "l_returnflag", "l_linestatus", "gid", "n", "sum_qty",
        )

    rolled = _agg(li.rollup("l_returnflag", "l_linestatus"), "rollup")
    cubed = _agg(li.cube("l_returnflag", "l_linestatus"), "cube")
    gsets = _agg(
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        ),
        "gsets",
    )
    return rolled.unionByName(cubed).unionByName(gsets)


@query(
    "unpivot_metrics",
    covers="EXT-olap (unpivot/melt wide→long)",
    oracle="""
WITH agg AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2)      AS qty,
         round(sum(l_discount), 2)      AS disc,
         round(sum(l_tax), 2)           AS tax
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'qty' AS metric, qty AS value FROM agg
UNION ALL SELECT l_returnflag, 'disc', disc FROM agg
UNION ALL SELECT l_returnflag, 'tax', tax FROM agg
""",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_discount"), 2).alias("disc"),
        F.round(F.sum("l_tax"), 2).alias("tax"),
    )
    return wide.unpivot("l_returnflag", ["qty", "disc", "tax"], "metric", "value")


@query(
    "ranking_windows",
    covers="EXT-olap (ntile / percent_rank / dense_rank / cume_dist / first_value / last_value / nth_value / lead+lag offsets over a total order)",
    oracle="""
SELECT c_custkey, c_mktsegment,
       ntile(4)       OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       dense_rank()   OVER w AS drank,
       round(cume_dist() OVER w, 6) AS cdist,
       first_value(c_custkey) OVER w AS seg_top,
       last_value(c_custkey) OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING) AS seg_bottom,
       nth_value(c_custkey, 2) OVER w AS seg_second,
       lead(c_custkey, 1) OVER w AS next_key,
       lag(c_custkey, 2, -1) OVER w AS prev2_key
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
""",
)
def ranking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ranking + positional window functions in ONE window spec
    (single shuffle+sort; Catalyst evaluates every column in the same
    pass — only seg_bottom needs the explicit unbounded-following
    frame, since last_value under the default frame is just the
    current row)."""
    from pyspark.sql import Window

    c = load_tables(spark, sf_dir)["customer"]
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("c_custkey").over(w).alias("seg_top"),
        F.last("c_custkey").over(w_full).alias("seg_bottom"),
        F.nth_value("c_custkey", 2).over(w).alias("seg_second"),
        F.lead("c_custkey", 1).over(w).alias("next_key"),
        F.lag("c_custkey", 2, -1).over(w).alias("prev2_key"),
    )


@query(
    "stateful_sessions",
    cache_plan=False,
    covers=(
        "ST1 §2.10 EXT-analytics (applyInPandasWithState custom stateful "
        "operators, streaming execution, tagged union r9. 'session': "
        "closed sessions, FULL oracle. 'funnel': streaming/funnel.py "
        "stateful_funnel — per-user step-completion vectors folded "
        "incrementally, one appended row per newly completed step; the "
        "oracle replays the BATCH funnel recurrence as chained CTEs, so "
        "the streaming fold must agree with it exactly. 'anomaly' (r10): "
        "streaming/anomaly.py stateful_anomaly — per-key trailing-window "
        "z-scores folded incrementally with pruned (ts, value) state; the "
        "oracle replays the batch exclusive-RANGE-frame recurrence "
        "(sum/sumsq, clamp, warm-up and zero-variance guards) in SQL)"
    ),
    oracle=(
        f"""
SELECT 'session' AS tag, user_id, session_number AS k,
       session_start AS ts_a, session_end AS ts_b,
       n_events AS v1, sum_value AS v2
FROM (
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) >= {SESSION_GAP_SECONDS} * 1000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_number
  FROM flagged
), sessions AS (
  SELECT user_id, session_number,
         min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events,
         round(sum(CAST(value AS DECIMAL(30,8))), 4)::DOUBLE AS sum_value
  FROM numbered GROUP BY user_id, session_number
)
SELECT * FROM sessions s
WHERE session_number < (SELECT max(session_number) FROM sessions m
                        WHERE m.user_id = s.user_id)
)
UNION ALL
SELECT 'funnel' AS tag, user_id, step::BIGINT AS k,
       step_ts AS ts_a, NULL::TIMESTAMP AS ts_b,
       NULL::BIGINT AS v1, NULL::DOUBLE AS v2
FROM ("""
        + funnel_steps_oracle_sql(_FUNNEL_STEPS)
        + f""")
UNION ALL
SELECT 'anomaly' AS tag, user_id,
       (CASE WHEN az IS NOT NULL AND abs(az) > {_ANOM_K}
             THEN 1 ELSE 0 END)::BIGINT AS k,
       ts AS ts_a, NULL::TIMESTAMP AS ts_b, NULL::BIGINT AS v1,
       round(az, 6) AS v2
FROM (
  SELECT user_id, ts,
         CASE WHEN n >= {_ANOM_MIN_POINTS} AND var > 0
              THEN (value - s / n) / sqrt(var) END AS az
  FROM (
    SELECT user_id, ts, value, n, s,
           CASE WHEN n >= 2
                THEN greatest((ss - s * s / n) / (n - 1), 0.0) END AS var
    FROM (
      SELECT user_id, ts, value,
             count(value) OVER w AS n,
             sum(value) OVER w AS s,
             sum(value * value) OVER w AS ss
      FROM (SELECT user_id, ts, value, epoch_us(ts) AS e FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY e
                   RANGE BETWEEN {_ANOM_WINDOW_S * 1_000_000} PRECEDING
                         AND 1 PRECEDING)
    )
  )
)"""
    ),
)
def stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operators run for real (micro-batch
    execution over the file source) and oracle-checked. 'session':
    every session CLOSED by a later event — the batch gaps-and-islands
    sessions minus each user's final (still-open) one. 'funnel': the
    incremental per-user funnel fold — over a single-source static
    replay its appended (user, step, ts) rows must equal the batch
    recurrence exactly."""
    from cod_stats_spark.streaming import (
        run_stream_to_memory,
        stateful_funnel,
        stateful_sessionize,
        stream_events,
    )

    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    out = run_stream_to_memory(
        stateful_sessionize(stream, gap_seconds=SESSION_GAP_SECONDS), "append"
    )
    sess = out.select(
        F.lit("session").alias("tag"),
        "user_id",
        F.col("session_number").alias("k"),
        F.col("session_start").alias("ts_a"),
        F.col("session_end").alias("ts_b"),
        F.col("n_events").alias("v1"),
        F.col("sum_value").alias("v2"),
    )
    stream2 = stream_events(spark, f"{sf_dir}/events.parquet")
    fun = run_stream_to_memory(
        stateful_funnel(stream2, _FUNNEL_STEPS), "append"
    ).select(
        F.lit("funnel").alias("tag"),
        "user_id",
        F.col("step").cast("long").alias("k"),
        F.col("step_ts").alias("ts_a"),
        F.lit(None).cast("timestamp").alias("ts_b"),
        F.lit(None).cast("long").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    # r10 'anomaly' arm: the streaming monitor run for real; k carries
    # the flag, v2 the rounded score — the oracle replays the batch
    # exclusive-frame recurrence, so the incremental fold must agree
    from cod_stats_spark.streaming import stateful_anomaly

    stream3 = stream_events(spark, f"{sf_dir}/events.parquet")
    anom = run_stream_to_memory(
        stateful_anomaly(
            stream3,
            window_seconds=_ANOM_WINDOW_S,
            k=_ANOM_K,
            min_points=_ANOM_MIN_POINTS,
        ),
        "append",
    ).select(
        F.lit("anomaly").alias("tag"),
        "user_id",
        F.col("is_anomaly").cast("long").alias("k"),
        F.col("ts").alias("ts_a"),
        F.lit(None).cast("timestamp").alias("ts_b"),
        F.lit(None).cast("long").alias("v1"),
        F.round("zscore", 6).alias("v2"),
    )
    return sess.unionByName(fun).unionByName(anom)


@query(
    "sketch_aggregates",
    covers=(
        "EXT-olap (approximate sketches, r8 tagged union. 'n'/'exact_users': "
        "exact values. 'hll_md5_p10': operators/sketches.py — EXPLICIT "
        "mergeable HLL state (the persist-a-batch-sketch, merge-any-window "
        "pattern approx_count_distinct's opaque state can't do), served from "
        "TWO merged parity-split partials and VALUE-verified digit-for-digit "
        "(state, register max, exact-integer register sum, both estimator "
        "branches replayed in SQL). 'hll_trail7': trailing-7-day distincts "
        "merged from STORED per-day states via the range-join sliding merge "
        "— events never rescanned, equals the one-shot replay by merge "
        "associativity. 'cms_probe'/'cms_hh_n': the mergeable "
        "count-min sketch — parity-split partials, sum-merge, broadcast "
        "point query, and the heavy-hitter probe, all integer counters "
        "replayed exactly in SQL. 'hist_q50'/'hist_q90': the mergeable "
        "fixed-bin histogram quantile state — clamp, sum-merge, cumulative "
        "walk, and linear interpolation, deterministic rational arithmetic "
        "replayed exactly. 'hll_inter': r9 set algebra — |A∩B| of the parity-half user sets by inclusion-exclusion over the stored states (three estimates, each replayed in SQL at 10 decimals, combined and floored identically). 'hll_builtin_ok'/'median_ok': Spark's builtin "
        "HLL++/KLL estimates bounds-checked as before)"
    ),
    oracle=(
        """
SELECT 'n' AS tag, event_type, count(*)::DOUBLE AS value
FROM events GROUP BY event_type
UNION ALL
SELECT 'exact_users' AS tag, event_type, count(DISTINCT user_id)::DOUBLE AS value
FROM events GROUP BY event_type
UNION ALL
SELECT 'hll_builtin_ok' AS tag, event_type, 1.0 AS value
FROM events GROUP BY event_type
UNION ALL
SELECT 'median_ok' AS tag, event_type, 1.0 AS value
FROM events GROUP BY event_type
UNION ALL
SELECT 'hll_md5_p10' AS tag, g AS event_type, approx_distinct AS value
FROM ("""
        + hll_oracle_sql("events", "user_id::VARCHAR", "event_type", p=10)
        + """)
UNION ALL
SELECT 'cms_probe' AS tag, c.g AS event_type, c.est_count::DOUBLE AS value
FROM ("""
        + cms_oracle_sql("events", "user_id::VARCHAR", "event_type",
                         depth=4, width=512)
        + """) c
JOIN (SELECT event_type AS g, min(user_id)::VARCHAR AS v
      FROM events GROUP BY event_type) p
  ON c.g = p.g AND c.v = p.v
UNION ALL
SELECT 'cms_hh_n' AS tag, c.g AS event_type, count(*)::DOUBLE AS value
FROM ("""
        + cms_oracle_sql("events", "user_id::VARCHAR", "event_type",
                         depth=4, width=512)
        + """) c
JOIN (SELECT event_type AS g, greatest(count(*) * 0.01, 2.0) AS thr
      FROM events GROUP BY event_type) t
  ON c.g = t.g
WHERE c.est_count >= t.thr
GROUP BY c.g
UNION ALL
SELECT 'hll_trail7' AS tag, g AS event_type, approx_distinct AS value
FROM ("""
        + hll_oracle_sql(
            "events", "user_id::VARCHAR", "event_type", p=10,
            where=(
                "CAST(ts AS DATE) >= "
                "(SELECT max(CAST(ts AS DATE)) - 6 FROM events)"
            ),
        )
        + """)
UNION ALL
SELECT 'hll_inter' AS tag, a.g AS event_type,
       round(greatest(a.approx_distinct + b.approx_distinct
                      - u.approx_distinct, 0.0), 4) AS value
FROM ("""
        + hll_oracle_sql("events", "user_id::VARCHAR", "event_type", p=10,
                         where="event_id % 2 = 0", decimals=10)
        + """) a
JOIN ("""
        + hll_oracle_sql("events", "user_id::VARCHAR", "event_type", p=10,
                         where="event_id % 2 = 1", decimals=10)
        + """) b ON a.g = b.g
JOIN ("""
        + hll_oracle_sql("events", "user_id::VARCHAR", "event_type", p=10,
                         decimals=10)
        + """) u ON a.g = u.g
UNION ALL
SELECT 'hist_q50' AS tag, g AS event_type, approx_quantile AS value
FROM ("""
        + hist_oracle_sql("events", "value", "event_type", q=0.5,
                          lo=0.0, hi=500.0, nbins=200)
        + """)
UNION ALL
SELECT 'hist_q90' AS tag, g AS event_type, approx_quantile AS value
FROM ("""
        + hist_oracle_sql("events", "value", "event_type", q=0.9,
                          lo=0.0, hi=500.0, nbins=200)
        + ")"
    ),
)
def sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for distincts/quantiles: approx_count_distinct
    (HyperLogLog++) and percentile_approx (KLL-style) — mergeable
    partial states, constant memory, one pass. The BUILTIN estimates
    are engine-specific, so those arms stay bounds-checked (booleans
    as 0/1); the r8 'hll_md5_p10' arm is this repo's OWN mergeable
    HLL (operators/sketches.py) whose md5-member estimate is a
    deterministic function of the data — state construction, merge of
    two parity-split partials, and both estimator branches are
    value-verified against the SQL replica exactly."""
    from cod_stats_spark.operators.sketches import (
        cms_heavy_hitters,
        cms_merge,
        cms_partial,
        cms_query,
        hist_merge,
        hist_partial,
        hist_quantile,
        hll_estimate,
        hll_intersection_estimate,
        hll_merge,
        hll_partial,
    )

    ev = load_tables(spark, sf_dir)["events"]
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("_approx_median"),
        F.percentile("value", 0.4).alias("_p40"),
        F.percentile("value", 0.6).alias("_p60"),
    )

    def tag_rows(tag: str, value) -> DataFrame:
        return agg.select(
            F.lit(tag).alias("tag"),
            "event_type",
            value.cast("double").alias("value"),
        )

    hll_ok = (
        F.abs(F.col("_approx_users") - F.col("exact_users"))
        <= F.greatest(F.col("exact_users") * 0.10, F.lit(3.0))
    ).cast("int")
    median_ok = F.col("_approx_median").between(
        F.col("_p40"), F.col("_p60")
    ).cast("int")
    # the explicit mergeable sketch: two parity-split partial states
    # merged (daily-sketch pattern), then estimated — merge is max per
    # register, so this MUST equal the oracle's one-shot replay
    halves = [
        hll_partial(
            ev.filter(F.col("event_id") % 2 == par),
            "user_id",
            ["event_type"],
            p=10,
            base_hash="md5_60",
        )
        for par in (0, 1)
    ]
    est = hll_estimate(
        hll_merge(["event_type"], *halves),
        ["event_type"],
        p=10,
        base_hash="md5_60",
    )
    # the mergeable count-min state, same parity-split merge pattern;
    # integer counters, so the SQL replay is exact with no rounding
    cms_halves = [
        cms_partial(
            ev.filter(F.col("event_id") % 2 == par),
            "user_id",
            ["event_type"],
            depth=4,
            width=512,
            base_hash="md5_60",
        )
        for par in (0, 1)
    ]
    cms_state = cms_merge(["event_type"], *cms_halves)
    probe = ev.groupBy("event_type").agg(F.min("user_id").alias("user_id"))
    cms_probe = cms_query(
        cms_state, probe, ["event_type"], "user_id",
        depth=4, width=512, base_hash="md5_60",
    )
    thr = ev.groupBy("event_type").agg(
        F.greatest(F.count(F.lit(1)) * 0.01, F.lit(2.0)).alias("_thr")
    )
    hh = cms_heavy_hitters(
        cms_state,
        ev.select("event_type", "user_id").distinct(),
        ["event_type"],
        "user_id",
        threshold=2.0,  # the floor; the per-group 1% cut tightens below
        depth=4, width=512, base_hash="md5_60",
    )
    hh_n = (
        hh.join(F.broadcast(thr), "event_type")
        .where(F.col("est_count") >= F.col("_thr"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_hh_n"))
    )
    # sliding-window distincts from STORED per-day states: merge the
    # trailing 7 days' registers (range join over the tiny state, the
    # events never rescanned) — by merge associativity this MUST equal
    # the oracle's one-shot replay over the same day span
    from cod_stats_spark.operators.sketches import hll_sliding_estimate

    day_states = hll_partial(
        ev.withColumn("_day", F.to_date("ts")),
        "user_id",
        ["event_type", "_day"],
        p=10,
        base_hash="md5_60",
    )
    last_day = ev.agg(F.max(F.to_date("ts"))).first()[0]
    trail = hll_sliding_estimate(
        day_states, ["event_type"], "_day", 7, p=10, base_hash="md5_60"
    ).where(F.col("_day") == F.lit(last_day))
    # the mergeable fixed-bin histogram state, same parity-split merge
    hist_halves = [
        hist_partial(
            ev.filter(F.col("event_id") % 2 == par),
            "value",
            ["event_type"],
            lo=0.0, hi=500.0, nbins=200,
        )
        for par in (0, 1)
    ]
    hist_state = hist_merge(["event_type"], *hist_halves)
    hist_rows = [
        hist_quantile(
            hist_state, ["event_type"], q, lo=0.0, hi=500.0, nbins=200
        ).select(
            F.lit(tag).alias("tag"),
            "event_type",
            F.col("approx_quantile").alias("value"),
        )
        for tag, q in (("hist_q50", 0.5), ("hist_q90", 0.9))
    ]
    return (
        tag_rows("n", F.col("n"))
        .unionByName(tag_rows("exact_users", F.col("exact_users")))
        .unionByName(tag_rows("hll_builtin_ok", hll_ok))
        .unionByName(tag_rows("median_ok", median_ok))
        .unionByName(
            est.select(
                F.lit("hll_md5_p10").alias("tag"),
                "event_type",
                F.col("approx_distinct").alias("value"),
            )
        )
        .unionByName(
            cms_probe.select(
                F.lit("cms_probe").alias("tag"),
                "event_type",
                F.col("est_count").cast("double").alias("value"),
            )
        )
        .unionByName(
            hh_n.select(
                F.lit("cms_hh_n").alias("tag"),
                "event_type",
                F.col("_hh_n").cast("double").alias("value"),
            )
        )
        .unionByName(
            trail.select(
                F.lit("hll_trail7").alias("tag"),
                "event_type",
                F.col("approx_distinct").alias("value"),
            )
        )
        .unionByName(hist_rows[0])
        .unionByName(hist_rows[1])
        .unionByName(
            # r9: HLL set algebra — |odd-half users ∩ even-half users|
            # by inclusion-exclusion over the SAME stored parity
            # states (three estimates, no event rescanned)
            hll_intersection_estimate(
                halves[0], halves[1], ["event_type"], p=10,
                base_hash="md5_60",
            ).select(
                F.lit("hll_inter").alias("tag"),
                "event_type",
                F.col("approx_intersection").alias("value"),
            )
        )
    )


def _dedup_pipeline_oracle_sql(threshold: float = 0.7) -> str:
    """Full-pipeline oracle: exact dedup, all-pairs Jaccard among the
    keepers (== LSH-candidates∘verify, see _jaccard_pairs_sql), then
    connected components via a recursive CTE (min-label closure), then
    canonical survivors."""
    sh = _SHINGLES_SQL.format(src="keepers_docs")
    return f"""
WITH RECURSIVE keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
), keepers_docs AS (
  SELECT d.* FROM documents d JOIN keepers k USING (doc_id)
), sh AS ({sh}),
scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE AS i,
         len(a.s) + len(b.s) AS ab
  FROM sh a JOIN sh b
    ON a.doc_id < b.doc_id
   AND least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s)) >= {threshold} - 1e-6
), confirmed AS (
  SELECT id_a, id_b FROM scored
  WHERE (ab - i) > 0 AND round(i / (ab - i), 6) >= {threshold}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM confirmed
  UNION SELECT id_b, id_a FROM confirmed
), reach(id, lab) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.id
), removed AS (
  SELECT id FROM reach GROUP BY id HAVING min(lab) < id
)
SELECT k.doc_id, k.doc_id AS cluster_id, k.lang, k.source, k.n_chars
FROM keepers_docs k
WHERE k.doc_id NOT IN (SELECT id FROM removed)
"""


def _funnel_grams_sql(rel: str, ngram_n: int) -> str:
    """(doc_id, ngram) — distinct word n-grams per document, the
    decontaminate gate's gram expression; shared by both funnel
    replays (r7 f-chain, r14 g-chain)."""
    return f"""
    SELECT doc_id, unnest(s) AS ngram
    FROM (
      SELECT doc_id,
             CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(
                         generate_series(0, greatest(len(tk)-{ngram_n}, 0)),
                         i -> array_to_string(tk[i+1:i+{ngram_n}], ' ')))
             END AS s
      FROM (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                           t -> t <> '') AS tk
        FROM {rel}
      )
    )"""


def _funnel_quality_sql(src: str) -> str:
    """(doc_id, quality) — the functions/text.quality_score heuristic
    (length, mean word length, punctuation ratio, stopword ratio),
    value-proven by the quality_tokens gate; shared by both funnel
    replays."""
    stop_in = ", ".join(f"'{s}'" for s in T.STOPWORDS)
    return f"""
  SELECT doc_id,
         round((least(len(toks) / 100.0, 1.0)
              + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + (1.0 - least(pr * 4.0, 1.0))
              + (CASE WHEN sr >= 0.05 AND sr <= 0.6 THEN 1.0 ELSE 0.5 END)
              ) / 4.0, 6) AS quality
  FROM (
    SELECT doc_id, toks,
           CASE WHEN len(toks) > 0
                THEN list_aggregate(list_transform(toks, t -> len(t)), 'sum')::DOUBLE / len(toks)
                ELSE 0.0 END AS mwl,
           CASE WHEN length(text) > 0
                THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                     / length(text)
                ELSE 0.0 END AS pr,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, t -> t IN ({stop_in})))::DOUBLE / len(toks)
                ELSE 0.0 END AS sr
    FROM (SELECT doc_id, text, {_sql_tokens('text')} AS toks FROM {src})
  )"""


def _curation_funnel_oracle_sql(
    threshold: float = 0.7,
    min_quality: float = 0.25,
    ngram_n: int = 3,
    min_overlap: int = 2,
    budget: int = 2048,
    salt: str = "curate",
    mod: int = 7,
) -> str:
    """CTE chain replaying plans/curation.curate_corpus stage by stage
    (quality gate → exact + near dedup → decontamination → pack) so
    the funnel's five survivor counts are SQL-verified. Every block
    reuses an expression already value-proven by its own gate
    (quality_tokens / dedup_pipeline / decontaminate / pack_sequences);
    this oracle composes them over the same %-split the decontaminate
    gate uses (corpus = doc_id %% {mod} != 0, benchmark = the rest)."""
    sh = _SHINGLES_SQL.format(src="f_keepers_docs")

    def grams(rel: str) -> str:
        return _funnel_grams_sql(rel, ngram_n)

    return f"""
f_corpus AS (SELECT * FROM documents WHERE doc_id % {mod} <> 0),
f_bench AS (SELECT * FROM documents WHERE doc_id % {mod} = 0),
f_qual AS (
{_funnel_quality_sql('f_corpus')}
),
f_gated AS (
  SELECT c.* FROM f_corpus c JOIN f_qual q USING (doc_id)
  WHERE q.quality >= {min_quality}
),
f_keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM f_gated
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
f_keepers_docs AS (
  SELECT g.* FROM f_gated g JOIN f_keepers k USING (doc_id)
),
f_sh AS ({sh}),
f_scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE AS i,
         len(a.s) + len(b.s) AS ab
  FROM f_sh a JOIN f_sh b
    ON a.doc_id < b.doc_id
   AND least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s)) >= {threshold} - 1e-6
),
f_confirmed AS (
  SELECT id_a, id_b FROM f_scored
  WHERE (ab - i) > 0 AND round(i / (ab - i), 6) >= {threshold}
),
f_edges AS (
  SELECT id_a AS u, id_b AS v FROM f_confirmed
  UNION SELECT id_b, id_a FROM f_confirmed
),
f_reach(id, lab) AS (
  SELECT u, u FROM f_edges
  UNION
  SELECT e.v, r.lab FROM f_reach r JOIN f_edges e ON e.u = r.id
),
f_removed AS (
  SELECT id FROM f_reach GROUP BY id HAVING min(lab) < id
),
f_deduped AS (
  SELECT k.* FROM f_keepers_docs k
  WHERE k.doc_id NOT IN (SELECT id FROM f_removed)
),
f_cg AS ({grams('f_deduped')}),
f_bg AS ({grams('f_bench')}),
f_contam AS (
  SELECT doc_id
  FROM f_cg
  WHERE ngram IN (SELECT DISTINCT ngram FROM f_bg)
  GROUP BY doc_id
  HAVING count(*) >= {min_overlap}
),
f_clean AS (
  SELECT d.* FROM f_deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM f_contam)
),
f_packed AS (
  SELECT doc_id,
         ((sum(n_tokens) OVER (ORDER BY kk, doc_id ROWS UNBOUNDED PRECEDING)
           - n_tokens)::BIGINT // {budget}) AS shard_id
  FROM (
    SELECT doc_id, len({_sql_tokens('text')})::BIGINT AS n_tokens,
           md5('{salt}' || doc_id::VARCHAR) AS kk
    FROM f_clean
  )
)
"""


_FUNNEL_ROWS_SQL = """
SELECT 'funnel_input' AS tag, (SELECT count(*) FROM f_corpus) AS doc_id,
       NULL::BIGINT AS cluster_id, NULL::VARCHAR AS lang,
       NULL::VARCHAR AS source, NULL::BIGINT AS n_chars
UNION ALL
SELECT 'funnel_after_quality', (SELECT count(*) FROM f_gated),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel_after_dedup', (SELECT count(*) FROM f_deduped),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel_after_decontamination', (SELECT count(*) FROM f_clean),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel_shards', (SELECT count(DISTINCT shard_id) FROM f_packed),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
"""


# the full-composition funnel's shared parameters (Spark invocation +
# SQL replay read the SAME dict — a drifting literal would silently
# fail the gate). Thresholds picked against the sf0.001/sf0.01
# documents table (re-probed in r15 over the line-decorated corpus)
# so every stage KEEPS >0 and (post-quality) DROPS >0 rows — incl.
# near-dup pairs surviving all three model gates so the dedup stage's
# arithmetic is exercised in composition, and pure-boilerplate pages
# surviving them so the LINE stage drops whole documents — and every
# cut sits ≥ 5.1e-5 from the nearest document's score (FP-boundary
# safe; probed at both SFs).
_FUNNEL2 = {
    "min_quality": 0.25,
    # r15 re-probe (the decoration shifts every model-gate score):
    # min_qc/min_dsir sit BELOW the boiler pages' shared scores
    # (qc 0.47774748, dsir 5.226848) so pure-boilerplate docs reach
    # the line stage and die THERE — while each gate still drops >0
    # rows at both SFs (min gaps 5.17e-5 qc / 1.18e-4 lm / 0.67 ds)
    "min_qc": 0.4771,
    "max_nll": 3.44,
    "min_dsir": 4.0,
    "threshold": 0.7,
    "ngram_n": 8,
    "min_overlap": 1,
    "sem_t": 0.40,
    "alpha": 0.5,
    "cap": 3.0,
    "budget": 2048,
    "salt": "curate2",
    "mod": 7,
    # r15: the line-dedup stage (after the model gates, before doc
    # dedup — the published ordering). The synthetic documents carry
    # no newlines, so the gate DECORATES the corpus identically in
    # both engines (the 'fertb:'/_lined_docs_sql precedent): every
    # doc gains a trailing boilerplate line, and docs with
    # doc_id % line_mod == line_rem become PURE-boilerplate pages —
    # the RefinedWeb scenario where the line scrub empties and drops
    # whole documents in composition. The boiler lines are built from
    # CORPUS vocabulary: OOV boilerplate scores worst on all three
    # model gates (probed — min qc, max nll), so out-of-vocab pages
    # could never both reach the line stage and leave the gates
    # anything to drop.
    "line_sep": "\n",
    "line_min_chars": 1,
    "line_mod": 11,
    "line_rem": 3,
    "boiler1": "the fast data merge join table",
    "boiler2": "slow query scan filter window group",
}


def _line_deco_col():
    """The line-stage corpus decoration as a Spark Column — trailing
    boilerplate line on every doc, pure-boilerplate pages at
    line_mod/line_rem (see the _FUNNEL2 comment). ONE definition with
    :func:`_line_deco_sql` so the dedup_pipeline and incremental_dedup
    gates cannot drift from their oracles."""
    p = _FUNNEL2
    return F.when(
        F.col("doc_id") % p["line_mod"] == p["line_rem"],
        F.lit(p["boiler1"] + "\n" + p["boiler2"]),
    ).otherwise(F.concat(F.col("text"), F.lit("\n" + p["boiler1"])))


def _line_deco_sql(alias: str = "d") -> str:
    """The same decoration as a DuckDB expression over ``alias``.
    Boiler lines enter as _sql_str-rendered literals (the r13
    escaping trap — a future re-probe picking a line with an
    apostrophe must not silently corrupt the generated SQL)."""
    from cod_stats_spark.operators.line_dedup import _sql_str

    p = _FUNNEL2
    b1s, b2s = _sql_str(p["boiler1"]), _sql_str(p["boiler2"])
    return (
        f"CASE WHEN {alias}.doc_id % {p['line_mod']} = {p['line_rem']}"
        f" THEN {b1s} || chr(10) || {b2s}"
        f" ELSE {alias}.text || chr(10) || {b1s} END"
    )


def _curation_funnel2_oracle_sql() -> str:
    """CTE chain replaying the FULL curate_corpus composition — the
    configuration a real curation run uses: heuristic quality gate →
    trained-classifier gate → CCNet LM-perplexity gate → DSIR
    domain-match gate → exact + near dedup → n-gram decontamination →
    semantic (embedding) decontamination → temperature mixture →
    epoch_key-keyed packing. Every block is the component's own
    already-green oracle SQL (quality_classifier_oracle_sql /
    unigram_lm_oracle_sql / dsir_oracle_sql /
    semantic_contamination_oracle_sql / temperature_mixture_oracle_sql)
    composed over the decontaminate %-split, with the corpus joined to
    its embeddings (the semantic stage's input contract). Stage CTEs
    are MATERIALIZED: DuckDB otherwise inlines each per reference and
    the gate-chain nesting multiplies parquet re-opens past the fd
    limit (and re-runs the model scans)."""
    p = _FUNNEL2
    sh = _SHINGLES_SQL.format(src="g_keepers_docs")
    from cod_stats_spark.operators.decontaminate import (
        semantic_contamination_oracle_sql,
    )
    from cod_stats_spark.operators.dsir import dsir_oracle_sql
    from cod_stats_spark.operators.lm_score import unigram_lm_oracle_sql
    from cod_stats_spark.operators.quality_classifier import (
        quality_classifier_oracle_sql,
    )
    from cod_stats_spark.operators.sampling import (
        temperature_mixture_oracle_sql,
    )

    from cod_stats_spark.operators.line_dedup import line_dedup_oracle_sql

    qc = quality_classifier_oracle_sql(_qc_gate_model(), src="g_gated")
    lm = unigram_lm_oracle_sql("g_corpus")
    ds = dsir_oracle_sql(_dsir_gate_model(), src="g_lmkept")
    ld = line_dedup_oracle_sql(
        "g_dskept", sep=p["line_sep"], min_chars=p["line_min_chars"],
        keep_first=True,
    )
    sem = semantic_contamination_oracle_sql(
        p["sem_t"], "g_clean", "g_bench", id_expr="doc_id"
    )
    mix = temperature_mixture_oracle_sql(
        "g_sclean", "doc_id", "lang", alpha=p["alpha"],
        salt=p["salt"] + "|tmix", max_weight=p["cap"],
    )
    # the decorated text — the gate's Spark invocation applies the
    # SAME expression before splitting (one definition: _line_deco_*)
    deco = _line_deco_sql("d")
    return f"""
g_corpus AS MATERIALIZED (
  SELECT d.* EXCLUDE (text), {deco} AS text, e.embedding
  FROM documents d
  JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id % {p['mod']} <> 0
),
g_bench AS MATERIALIZED (
  SELECT d.* EXCLUDE (text), {deco} AS text, e.embedding
  FROM documents d
  JOIN embeddings e ON e.vec_id = d.doc_id
  WHERE d.doc_id % {p['mod']} = 0
),
g_qual AS (
{_funnel_quality_sql('g_corpus')}
),
g_gated AS MATERIALIZED (
  SELECT c.* FROM g_corpus c JOIN g_qual q USING (doc_id)
  WHERE q.quality >= {p['min_quality']}
),
g_qc AS ({qc}),
g_qckept AS MATERIALIZED (
  SELECT g.* FROM g_gated g JOIN g_qc q USING (doc_id)
  WHERE q.qc_score >= {p['min_qc']}
),
g_lm AS ({lm}),
g_lmkept AS MATERIALIZED (
  SELECT g.* FROM g_qckept g JOIN g_lm s USING (doc_id)
  WHERE s.lm_tokens > 0 AND s.lm_nll <= {p['max_nll']}
),
g_ds AS ({ds}),
g_dskept AS MATERIALIZED (
  SELECT g.* FROM g_lmkept g JOIN g_ds s USING (doc_id)
  WHERE s.dsir_logw >= {p['min_dsir']}
),
g_ld AS ({ld}),
g_lined AS MATERIALIZED (
  SELECT g.* EXCLUDE (text), l.clean_text AS text
  FROM g_dskept g JOIN g_ld l USING (doc_id)
  WHERE length(l.clean_text) > 0
),
g_keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM g_lined
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
g_keepers_docs AS MATERIALIZED (
  SELECT g.* FROM g_lined g JOIN g_keepers k USING (doc_id)
),
g_sh AS MATERIALIZED ({sh}),
g_scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE AS i,
         len(a.s) + len(b.s) AS ab
  FROM g_sh a JOIN g_sh b
    ON a.doc_id < b.doc_id
   AND least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s)) >= {p['threshold']} - 1e-6
),
g_confirmed AS (
  SELECT id_a, id_b FROM g_scored
  WHERE (ab - i) > 0 AND round(i / (ab - i), 6) >= {p['threshold']}
),
g_edges AS (
  SELECT id_a AS u, id_b AS v FROM g_confirmed
  UNION SELECT id_b, id_a FROM g_confirmed
),
g_reach(id, lab) AS (
  SELECT u, u FROM g_edges
  UNION
  SELECT e.v, r.lab FROM g_reach r JOIN g_edges e ON e.u = r.id
),
g_removed AS (
  SELECT id FROM g_reach GROUP BY id HAVING min(lab) < id
),
g_deduped AS MATERIALIZED (
  SELECT k.* FROM g_keepers_docs k
  WHERE k.doc_id NOT IN (SELECT id FROM g_removed)
),
g_cg AS ({_funnel_grams_sql('g_deduped', p['ngram_n'])}),
g_bg AS ({_funnel_grams_sql('g_bench', p['ngram_n'])}),
g_contam AS (
  SELECT doc_id
  FROM g_cg
  WHERE ngram IN (SELECT DISTINCT ngram FROM g_bg)
  GROUP BY doc_id
  HAVING count(*) >= {p['min_overlap']}
),
g_clean AS MATERIALIZED (
  SELECT d.* FROM g_deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM g_contam)
),
g_semflag AS ({sem}),
g_sclean AS MATERIALIZED (
  SELECT c.* FROM g_clean c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM g_semflag)
),
g_mix AS MATERIALIZED ({mix}),
g_packed AS (
  SELECT epoch_key,
         ((sum(n_tokens) OVER (ORDER BY kk, epoch_key ROWS UNBOUNDED PRECEDING)
           - n_tokens)::BIGINT // {p['budget']}) AS shard_id
  FROM (
    SELECT m.id::VARCHAR || ':' || m.epoch::VARCHAR AS epoch_key,
           len({_sql_tokens('s.text')})::BIGINT AS n_tokens,
           md5('{p['salt']}' || m.id::VARCHAR || ':' || m.epoch::VARCHAR) AS kk
    FROM g_mix m JOIN g_sclean s ON s.doc_id = m.id
  )
)
"""


_FUNNEL2_ROWS_SQL = """
SELECT 'funnel2_input' AS tag, (SELECT count(*) FROM g_corpus) AS doc_id,
       NULL::BIGINT AS cluster_id, NULL::VARCHAR AS lang,
       NULL::VARCHAR AS source, NULL::BIGINT AS n_chars
UNION ALL
SELECT 'funnel2_after_quality', (SELECT count(*) FROM g_gated),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_model_gate', (SELECT count(*) FROM g_qckept),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_lm_gate', (SELECT count(*) FROM g_lmkept),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_dsir_gate', (SELECT count(*) FROM g_dskept),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_line_dedup', (SELECT count(*) FROM g_lined),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_dedup', (SELECT count(*) FROM g_deduped),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_decontamination', (SELECT count(*) FROM g_clean),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_semantic_decon', (SELECT count(*) FROM g_sclean),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_after_mixture', (SELECT count(*) FROM g_mix),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
UNION ALL
SELECT 'funnel2_shards', (SELECT count(DISTINCT shard_id) FROM g_packed),
       NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
"""


def _dedup_pipeline_merged_oracle() -> str:
    """Survivor rows (the r1–r6 dedup_pipeline oracle, unchanged) +
    the r7 curation funnel's five stage counts + the r14
    FULL-composition funnel's ten stage counts, as one tagged union.
    The survivor part's WITH RECURSIVE prefix is reused to host both
    funnel CTE chains (DuckDB allows several recursive CTEs per
    clause)."""
    base = _dedup_pipeline_oracle_sql()
    head, body = base.split("WITH RECURSIVE", 1)
    # body = "<survivor CTEs> SELECT <survivor select>"
    ctes, select = body.rsplit("\nSELECT ", 1)
    return (
        "WITH RECURSIVE "
        + ctes
        + ",\n"
        + _curation_funnel_oracle_sql().strip().lstrip()
        + ",\n"
        + _curation_funnel2_oracle_sql().strip().lstrip()
        + "\nSELECT 'survivor' AS tag, "
        + select
        + "\nUNION ALL\n"
        + _FUNNEL_ROWS_SQL
        + "\nUNION ALL\n"
        + _FUNNEL2_ROWS_SQL
    )


@query(
    "dedup_pipeline",
    covers="EXT-dedup (composite pipeline: exact -> MinHash-LSH -> Jaccard verify -> connected-component clusters -> canonical survivors; FULL oracle via recursive-CTE components. r7: + plans/curation.curate_corpus funnel — quality/dedup/decontamination/pack stage counts each replayed in SQL. r14: + the FULL curate_corpus composition — trained-classifier gate + CCNet LM gate + DSIR gate + semantic decontamination + temperature mixture + epoch_key packing all enabled, every after_* stage count and the epoch_key shard count replayed in SQL from the components' own oracle builders. r15: + the line_sep duplicate-LINE stage in the same full composition — the corpus decorated identically in both engines with a boilerplate trailer + pure-boilerplate pages, the stage's scrub decisions, rebuilt text, and emptied-doc drops replayed via line_dedup_oracle_sql between the DSIR gate and doc dedup, shifting every downstream count)",
    oracle=_dedup_pipeline_merged_oracle(),
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r1–r6 survivors output (tag='survivor') unioned with TWO
    curate_corpus funnel replays (count in the doc_id column):

    - tag='funnel_*' (r7): the five-stage base configuration.
    - tag='funnel2_*' (r14): the FULL composition a real curation run
      configures — heuristic quality + trained classifier + LM
      perplexity + DSIR gates, duplicate-line scrub (r15), lexical
      dedup, n-gram AND semantic decontamination, temperature
      mixture, epoch_key-keyed packing — so the composed stage
      arithmetic (ordering, handoffs, the epoch_key export keying) is
      oracle-verified end-to-end, not just per-component. Models are
      the gates' fixed seeded ones (_qc_gate_model/_dsir_gate_model)
      plus a unigram LM fit on the corpus itself (training == scoring
      corpus, the lm2 oracle convention); parameters live in
      _FUNNEL2, shared verbatim with the SQL builder. r15: the corpus
      is DECORATED identically in both engines (trailing boilerplate
      line everywhere, pure-boilerplate pages at line_mod/line_rem)
      so the line stage both scrubs cross-document boilerplate and
      drops emptied docs in composition.

    Both funnels run on the decontaminate gate's %-split (corpus =
    doc_id %% 7 != 0, benchmark = the rest; funnel2's corpus is
    additionally joined to its embeddings — lossless at gate SFs,
    replayed by the oracle at any SF) and write shards to throwaway
    temp dirs. The timed bench entry keeps the r1–r6 survivors-only
    plan via a BENCH_ONLY override (BENCH_NOTES.md)."""
    import os
    import tempfile

    from cod_stats_spark.operators.lm_score import unigram_lm_fit
    from cod_stats_spark.plans.curation import curate_corpus

    survivors = _dedup_pipeline_survivors(spark, sf_dir)
    tables = load_tables(spark, sf_dir)
    docs = tables["documents"]
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    out_dir = tempfile.mkdtemp(prefix="curation_gate_")
    _, stats = curate_corpus(
        corpus,
        bench,
        os.path.join(out_dir, "shards"),
        min_quality=0.25,
        jaccard_threshold=0.7,
        num_hashes=32,
        bands=8,
        decontam_ngram_n=3,
        decontam_min_overlap=2,
        token_budget=2048,
        salt="curate",
    )

    p = _FUNNEL2
    # r15 decoration (the oracle's g_corpus/g_bench twin): a trailing
    # boilerplate line on every doc + pure-boilerplate pages at
    # line_mod/line_rem, so the line stage scrubs cross-document
    # boilerplate AND drops emptied docs in composition
    docs2 = docs.withColumn("text", _line_deco_col()).join(
        tables["embeddings"].select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
    )
    corpus2 = docs2.filter(F.col("doc_id") % p["mod"] != 0)
    bench2 = docs2.filter(F.col("doc_id") % p["mod"] == 0)
    out_dir2 = tempfile.mkdtemp(prefix="curation_gate2_")
    _, stats2 = curate_corpus(
        corpus2,
        bench2,
        os.path.join(out_dir2, "shards"),
        min_quality=p["min_quality"],
        jaccard_threshold=p["threshold"],
        num_hashes=32,
        bands=8,
        decontam_ngram_n=p["ngram_n"],
        decontam_min_overlap=p["min_overlap"],
        token_budget=p["budget"],
        salt=p["salt"],
        qc_model=_qc_gate_model(),
        min_qc_score=p["min_qc"],
        lm_model=unigram_lm_fit(corpus2),
        max_lm_nll=p["max_nll"],
        dsir_model=_dsir_gate_model(),
        min_dsir_logw=p["min_dsir"],
        line_sep=p["line_sep"],
        line_min_chars=p["line_min_chars"],
        semantic_benchmark=bench2,
        semantic_decon_threshold=p["sem_t"],
        semantic_decon_method="gemm",
        mixture_alpha=p["alpha"],
        mixture_domain_col="lang",
        mixture_max_weight=p["cap"],
    )

    rows = [(f"funnel_{k}", int(v)) for k, v in stats.items()] + [
        (f"funnel2_{k}", int(v)) for k, v in stats2.items()
    ]
    funnel = spark.createDataFrame(
        rows,
        "tag string, doc_id long",
    ).select(
        "tag",
        "doc_id",
        F.lit(None).cast("long").alias("cluster_id"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    tagged = survivors.select(
        F.lit("survivor").alias("tag"),
        "doc_id",
        "cluster_id",
        "lang",
        "source",
        "n_chars",
    )
    return tagged.unionByName(funnel)


def _dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal as a single lazy plan: exact dedup
    picks canonical ids, MinHash-LSH proposes candidate pairs among
    survivors, Jaccard >= 0.7 confirms, and confirmed duplicates (the
    higher id of each pair) are anti-joined away. Returns the surviving
    doc ids with their dup statistics."""
    from cod_stats_spark.operators.components import dedup_clusters

    from pyspark.storagelevel import StorageLevel

    docs = load_tables(spark, sf_dir)["documents"]
    exact = exact_dedup(docs, "text", "doc_id")  # fp -> keep_id, n_copies
    from cod_stats_spark.operators._util import spread

    # keepers feeds FOUR consumers (minhash signatures, both Jaccard
    # join sides, the final cluster join) — materialize once instead of
    # re-running scan+exact-dedup per consumer, already spread wide so
    # downstream CPU-heavy projections skip their own repartition. The
    # persisted projection INCLUDES the shingle array (NON-distinct:
    # array_distinct is O(k²) per doc and min-hash is duplicate-
    # invariant, so the cheap form is shared; the Jaccard stage
    # restores set semantics over the involved docs only). The corpus
    # is tokenized+shingled exactly once. At 100 TB this persist is
    # the silver-layer write every real pipeline does here, shingles
    # included.
    from cod_stats_spark.functions.text import shingles

    # text itself is dropped from the persist: with _sh materialized,
    # no downstream stage reads it — the cached silver layer carries
    # the shingles, not the (larger) raw documents.
    #
    # materialize(): heap-cache when the deserialized shingle arrays
    # fit (~24x the parquet bytes — byte-identical plan to the old
    # .persist() then), scratch-parquet when they don't. The r8
    # forced-spill audit measured the heap-cache path OOM-ing a 2 GB
    # JVM on the 2 GB stratum — the columnar cache has no graceful
    # degradation for fat rows; the parquet break does (SCALING.md).
    from cod_stats_spark.operators._util import materialize

    keepers = materialize(
        spread(
            docs.join(
                exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
            )
        )
        .withColumn("_sh", shingles("text", 3, distinct=False))
        .drop("text"),
        expansion=24,
        label="keepers",
    )
    cands = minhash_lsh_pairs(
        keepers, "text", "doc_id", num_hashes=32, bands=8, shingle_col="_sh"
    )
    confirmed = ngram_jaccard_pairs(
        keepers, "text", "doc_id", cands, threshold=0.7, shingle_col="_sh"
    )
    # transitive closure: duplicates cluster via connected components,
    # one canonical survivor per cluster (min doc_id)
    clustered = dedup_clusters(keepers, confirmed.select("id_a", "id_b"), "doc_id")
    survivors = clustered.filter(F.col("is_canonical"))
    return survivors.select("doc_id", "cluster_id", "lang", "source", "n_chars")


def _incremental_curate_line_ctes(
    threshold: float,
    mod: int = 7,
    min_quality: float = 0.25,
    ngram_n: int = 3,
    min_overlap: int = 2,
) -> str:
    """CTE block replaying curate_corpus_append WITH the duplicate-
    LINE census stage ON (r15 — the r10 'curate_ss' pattern applied to
    the round-14 stage): the corpus is DECORATED identically in both
    engines (_line_deco_sql — trailing boilerplate + pure-boilerplate
    pages), the two arrival batches are a RANGE split on doc_id (ids
    increase across batches, so the incremental keep-FIRST-IN-TIME
    census equals the one-shot keep_first (doc, pos) argmin — the
    contract streaming/line_dedup.py proves), the scrub replays as the
    already-verified one-shot line oracle over the quality-gated
    corpus, and the sequential two-batch dedup + decontamination run
    over the SCRUBBED text exactly as the funnel does. ln_scrub
    carries md5(clean_text), so the gate value-verifies every line
    decision and the rebuilt text through the census state
    maintenance, fragment shard write, and compaction."""
    from cod_stats_spark.operators.line_dedup import line_dedup_oracle_sql

    p = _FUNNEL2
    sh = _SHINGLES_SQL.format(src="ln_scrubdocs")
    prune = (
        "least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s))"
        f" >= {threshold} - 1e-6"
    )
    jac = (
        "round(len(list_intersect(a.s, b.s))::DOUBLE / (len(a.s) + len(b.s)"
        f" - len(list_intersect(a.s, b.s))), 6) >= {threshold}"
    )
    ld = line_dedup_oracle_sql(
        "ln_gated", sep=p["line_sep"], min_chars=p["line_min_chars"],
        keep_first=True,
    )

    def grams(rel: str, text: str) -> str:
        return f"""
    SELECT doc_id, unnest(s) AS ngram
    FROM (
      SELECT doc_id,
             CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(
                         generate_series(0, greatest(len(tk)-{ngram_n}, 0)),
                         i -> array_to_string(tk[i+1:i+{ngram_n}], ' ')))
             END AS s
      FROM (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower({text}), '\\s+', ' ', 'g')), ' '),
                           t -> t <> '') AS tk
        FROM {rel}
      )
    )"""

    return f"""
ln_corpus AS (
  SELECT d.* EXCLUDE (text), {_line_deco_sql('d')} AS text
  FROM documents d WHERE d.doc_id % {mod} <> 0
),
ln_bench AS (
  SELECT d.* EXCLUDE (text), {_line_deco_sql('d')} AS text
  FROM documents d WHERE d.doc_id % {mod} = 0
),
ln_qual AS (
{_funnel_quality_sql('ln_corpus')}
),
ln_gated AS (
  SELECT c.* FROM ln_corpus c JOIN ln_qual q USING (doc_id)
  WHERE q.quality >= {min_quality}
),
ln_ld AS ({ld}),
ln_scrubdocs AS (
  SELECT g.* EXCLUDE (text), l.clean_text AS text
  FROM ln_gated g JOIN ln_ld l USING (doc_id)
  WHERE length(l.clean_text) > 0
),
ln_sh AS ({sh}),
ln_fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM ln_scrubdocs
),
ln_b1e AS (
  SELECT min(doc_id) AS doc_id FROM ln_fp
  WHERE doc_id * 2 <= (SELECT mx FROM r_mx) GROUP BY fp
),
ln_p1 AS (
  SELECT b.doc_id AS id_b
  FROM ln_sh a JOIN ln_sh b ON a.doc_id < b.doc_id
  JOIN ln_b1e ka ON ka.doc_id = a.doc_id
  JOIN ln_b1e kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
ln_s1 AS (
  SELECT doc_id FROM ln_b1e WHERE doc_id NOT IN (SELECT id_b FROM ln_p1)
),
ln_b2e AS (
  SELECT min(doc_id) AS doc_id FROM ln_fp
  WHERE doc_id * 2 > (SELECT mx FROM r_mx) GROUP BY fp
),
ln_e2 AS (
  SELECT b.doc_id FROM ln_b2e b JOIN ln_fp f USING (doc_id)
  WHERE f.fp NOT IN (SELECT f1.fp FROM ln_s1 JOIN ln_fp f1 USING (doc_id))
),
ln_p2 AS (
  SELECT b.doc_id AS id_b
  FROM ln_sh a JOIN ln_sh b ON a.doc_id < b.doc_id
  JOIN ln_e2 ka ON ka.doc_id = a.doc_id
  JOIN ln_e2 kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
ln_n2 AS (
  SELECT doc_id FROM ln_e2 WHERE doc_id NOT IN (SELECT id_b FROM ln_p2)
),
ln_px AS (
  SELECT b.doc_id AS id_b
  FROM ln_sh a JOIN ln_sh b ON true
  JOIN ln_s1 ON ln_s1.doc_id = a.doc_id
  JOIN ln_n2 ON ln_n2.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
ln_kept AS (
  SELECT doc_id FROM ln_s1
  UNION ALL
  SELECT doc_id FROM ln_n2 WHERE doc_id NOT IN (SELECT id_b FROM ln_px)
),
ln_keptdocs AS (
  SELECT s.* FROM ln_scrubdocs s JOIN ln_kept USING (doc_id)
),
ln_cg AS ({grams('ln_keptdocs', 'text')}),
ln_bg AS ({grams('ln_bench', 'text')}),
ln_contam AS (
  SELECT doc_id
  FROM ln_cg
  WHERE ngram IN (SELECT DISTINCT ngram FROM ln_bg)
  GROUP BY doc_id
  HAVING count(*) >= {min_overlap}
),
ln_scrub AS (
  SELECT doc_id, md5(text) AS fp FROM ln_keptdocs
)"""


def _incremental_dedup_oracle_sql(threshold: float = 0.7) -> str:
    """Sequential replay of the streaming incremental dedup in SQL.

    Batch 1 (odd doc_ids) is exact-deduped (min id per fingerprint)
    then near-deduped within itself and becomes the corpus; batch 2
    (even doc_ids) repeats that within itself, then drops docs whose
    fingerprint or near-dup partner is already in the corpus. The
    all-pairs Jaccard stands in for the LSH band probe under the same
    recall argument as _jaccard_pairs_sql. "Dropped" is deliberately
    non-transitive — any doc with a lower-id >= t partner in scope
    dies, even if that partner dies too — mirroring the operator's
    anti-join-on-id_b semantics exactly.
    """
    sh = _SHINGLES_SQL.format(src="documents")
    prune = (
        "least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s))"
        f" >= {threshold} - 1e-6"
    )
    jac = (
        "round(len(list_intersect(a.s, b.s))::DOUBLE / (len(a.s) + len(b.s)"
        f" - len(list_intersect(a.s, b.s))), 6) >= {threshold}"
    )
    return f"""
WITH sh AS ({sh}),
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
b1e AS (SELECT min(doc_id) AS doc_id FROM fp WHERE doc_id % 2 = 1 GROUP BY fp),
p1 AS (
  SELECT b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  JOIN b1e ka ON ka.doc_id = a.doc_id
  JOIN b1e kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
s1 AS (SELECT doc_id FROM b1e WHERE doc_id NOT IN (SELECT id_b FROM p1)),
b2e AS (SELECT min(doc_id) AS doc_id FROM fp WHERE doc_id % 2 = 0 GROUP BY fp),
e2 AS (
  SELECT b.doc_id FROM b2e b JOIN fp f USING (doc_id)
  WHERE f.fp NOT IN (SELECT f1.fp FROM s1 JOIN fp f1 USING (doc_id))
),
p2 AS (
  SELECT b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  JOIN e2 ka ON ka.doc_id = a.doc_id
  JOIN e2 kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
n2 AS (SELECT doc_id FROM e2 WHERE doc_id NOT IN (SELECT id_b FROM p2)),
px AS (
  SELECT b.doc_id AS id_b
  FROM sh a JOIN sh b ON true
  JOIN s1 ON s1.doc_id = a.doc_id
  JOIN n2 ON n2.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
kept AS (
  SELECT doc_id FROM s1
  UNION ALL
  SELECT doc_id FROM n2 WHERE doc_id NOT IN (SELECT id_b FROM px)
),
{_incremental_curate_ctes(threshold)},
{_incremental_curate_ss_ctes(threshold)},
{_incremental_curate_line_ctes(threshold)}
SELECT 'dedup' AS tag, d.doc_id,
       CASE WHEN d.doc_id % 2 = 1 THEN 1 ELSE 2 END::INT AS arrival_batch,
       d.lang, d.source, d.n_chars, NULL::VARCHAR AS fp
FROM documents d JOIN kept USING (doc_id)
UNION ALL
SELECT 'curate' AS tag, d.doc_id,
       CASE WHEN d.doc_id % 2 = 1 THEN 1 ELSE 2 END::INT AS arrival_batch,
       d.lang, d.source, d.n_chars, NULL::VARCHAR AS fp
FROM c_keptdocs d
WHERE d.doc_id NOT IN (SELECT doc_id FROM c_contam)
UNION ALL
SELECT 'curate_ss' AS tag, d.doc_id,
       CASE WHEN d.doc_id * 2 <= (SELECT mx FROM r_mx)
            THEN 1 ELSE 2 END::INT AS arrival_batch,
       d.lang, d.source, d.n_chars, s.fp
FROM documents d JOIN r_scrub s USING (doc_id)
WHERE d.doc_id NOT IN (SELECT doc_id FROM r_contam)
UNION ALL
SELECT 'curate_line' AS tag, d.doc_id,
       CASE WHEN d.doc_id * 2 <= (SELECT mx FROM r_mx)
            THEN 1 ELSE 2 END::INT AS arrival_batch,
       d.lang, d.source, d.n_chars, s.fp
FROM documents d JOIN ln_scrub s USING (doc_id)
WHERE d.doc_id NOT IN (SELECT doc_id FROM ln_contam)
"""


def _incremental_curate_ctes(
    threshold: float,
    mod: int = 7,
    min_quality: float = 0.25,
    ngram_n: int = 3,
    min_overlap: int = 2,
) -> str:
    """CTE block replaying plans/curation.curate_corpus_append over two
    sequential parity batches in SQL: quality gate (the funnel
    oracle's expression), then the SAME sequential exact+near dedup
    replay as the 'dedup' tag but restricted to the quality-gated
    %-split corpus, then benchmark-gram decontamination. The final
    survivor set is exactly what the append path's compacted shard
    tree must contain — so state maintenance, index probe, fragment
    write, and compaction are all value-verified end to end."""
    sh = _SHINGLES_SQL.format(src="c_gated")
    stop_in = ", ".join(f"'{s}'" for s in T.STOPWORDS)
    prune = (
        "least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s))"
        f" >= {threshold} - 1e-6"
    )
    jac = (
        "round(len(list_intersect(a.s, b.s))::DOUBLE / (len(a.s) + len(b.s)"
        f" - len(list_intersect(a.s, b.s))), 6) >= {threshold}"
    )

    def grams(rel: str) -> str:
        return f"""
    SELECT doc_id, unnest(s) AS ngram
    FROM (
      SELECT doc_id,
             CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(
                         generate_series(0, greatest(len(tk)-{ngram_n}, 0)),
                         i -> array_to_string(tk[i+1:i+{ngram_n}], ' ')))
             END AS s
      FROM (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                           t -> t <> '') AS tk
        FROM {rel}
      )
    )"""

    return f"""
c_corpus AS (SELECT * FROM documents WHERE doc_id % {mod} <> 0),
c_bench AS (SELECT * FROM documents WHERE doc_id % {mod} = 0),
c_qual AS (
  SELECT doc_id,
         round((least(len(toks) / 100.0, 1.0)
              + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + (1.0 - least(pr * 4.0, 1.0))
              + (CASE WHEN sr >= 0.05 AND sr <= 0.6 THEN 1.0 ELSE 0.5 END)
              ) / 4.0, 6) AS quality
  FROM (
    SELECT doc_id, toks,
           CASE WHEN len(toks) > 0
                THEN list_aggregate(list_transform(toks, t -> len(t)), 'sum')::DOUBLE / len(toks)
                ELSE 0.0 END AS mwl,
           CASE WHEN length(text) > 0
                THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                     / length(text)
                ELSE 0.0 END AS pr,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, t -> t IN ({stop_in})))::DOUBLE / len(toks)
                ELSE 0.0 END AS sr
    FROM (SELECT doc_id, text, {_sql_tokens('text')} AS toks FROM c_corpus)
  )
),
c_gated AS (
  SELECT c.* FROM c_corpus c JOIN c_qual q USING (doc_id)
  WHERE q.quality >= {min_quality}
),
c_sh AS ({sh}),
c_fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM c_gated
),
c_b1e AS (SELECT min(doc_id) AS doc_id FROM c_fp WHERE doc_id % 2 = 1 GROUP BY fp),
c_p1 AS (
  SELECT b.doc_id AS id_b
  FROM c_sh a JOIN c_sh b ON a.doc_id < b.doc_id
  JOIN c_b1e ka ON ka.doc_id = a.doc_id
  JOIN c_b1e kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
c_s1 AS (SELECT doc_id FROM c_b1e WHERE doc_id NOT IN (SELECT id_b FROM c_p1)),
c_b2e AS (SELECT min(doc_id) AS doc_id FROM c_fp WHERE doc_id % 2 = 0 GROUP BY fp),
c_e2 AS (
  SELECT b.doc_id FROM c_b2e b JOIN c_fp f USING (doc_id)
  WHERE f.fp NOT IN (SELECT f1.fp FROM c_s1 JOIN c_fp f1 USING (doc_id))
),
c_p2 AS (
  SELECT b.doc_id AS id_b
  FROM c_sh a JOIN c_sh b ON a.doc_id < b.doc_id
  JOIN c_e2 ka ON ka.doc_id = a.doc_id
  JOIN c_e2 kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
c_n2 AS (SELECT doc_id FROM c_e2 WHERE doc_id NOT IN (SELECT id_b FROM c_p2)),
c_px AS (
  SELECT b.doc_id AS id_b
  FROM c_sh a JOIN c_sh b ON true
  JOIN c_s1 ON c_s1.doc_id = a.doc_id
  JOIN c_n2 ON c_n2.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
c_kept AS (
  SELECT doc_id FROM c_s1
  UNION ALL
  SELECT doc_id FROM c_n2 WHERE doc_id NOT IN (SELECT id_b FROM c_px)
),
c_keptdocs AS (SELECT g.* FROM c_gated g JOIN c_kept USING (doc_id)),
c_cg AS ({grams('c_keptdocs')}),
c_bg AS ({grams('c_bench')}),
c_contam AS (
  SELECT doc_id
  FROM c_cg
  WHERE ngram IN (SELECT DISTINCT ngram FROM c_bg)
  GROUP BY doc_id
  HAVING count(*) >= {min_overlap}
)"""


def _incremental_curate_ss_ctes(
    threshold: float,
    substring_n: int = 8,
    substring_min_count: int = 2,
    ngram_n: int = 3,
    min_overlap: int = 2,
) -> str:
    """CTE block replaying curate_corpus_append WITH the ExactSubstr
    census stage on (r10): same quality gate and corpus/bench split as
    the 'curate' arm (c_gated / c_sh / c_fp / c_bg are reused), but the
    two arrival batches are a RANGE split on doc_id — ids increase
    across batches, so the incremental keep-first-in-time census
    equals the ONE-SHOT keep_first packed-key argmin (the contract
    streaming/substring.py proves), and the scrub replays as the
    already-verified one-shot substring oracle over the sequential
    dedup survivors. Decontamination then runs on the SCRUBBED text,
    exactly as the funnel does. r_scrub carries md5(clean_text), so
    the gate value-verifies every span boundary through the funnel's
    state maintenance, shard write, and compaction."""
    from cod_stats_spark.operators.substring import substring_oracle_sql

    prune = (
        "least(len(a.s), len(b.s))::DOUBLE / greatest(len(a.s), len(b.s))"
        f" >= {threshold} - 1e-6"
    )
    jac = (
        "round(len(list_intersect(a.s, b.s))::DOUBLE / (len(a.s) + len(b.s)"
        f" - len(list_intersect(a.s, b.s))), 6) >= {threshold}"
    )
    ss = substring_oracle_sql(
        "r_keptdocs",
        n=substring_n,
        min_count=substring_min_count,
        keep_first=True,
        emit_text=True,
    )
    return f"""
r_mx AS (SELECT max(doc_id) AS mx FROM documents),
r_b1e AS (
  SELECT min(doc_id) AS doc_id FROM c_fp
  WHERE doc_id * 2 <= (SELECT mx FROM r_mx) GROUP BY fp
),
r_p1 AS (
  SELECT b.doc_id AS id_b
  FROM c_sh a JOIN c_sh b ON a.doc_id < b.doc_id
  JOIN r_b1e ka ON ka.doc_id = a.doc_id
  JOIN r_b1e kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
r_s1 AS (SELECT doc_id FROM r_b1e WHERE doc_id NOT IN (SELECT id_b FROM r_p1)),
r_b2e AS (
  SELECT min(doc_id) AS doc_id FROM c_fp
  WHERE doc_id * 2 > (SELECT mx FROM r_mx) GROUP BY fp
),
r_e2 AS (
  SELECT b.doc_id FROM r_b2e b JOIN c_fp f USING (doc_id)
  WHERE f.fp NOT IN (SELECT f1.fp FROM r_s1 JOIN c_fp f1 USING (doc_id))
),
r_p2 AS (
  SELECT b.doc_id AS id_b
  FROM c_sh a JOIN c_sh b ON a.doc_id < b.doc_id
  JOIN r_e2 ka ON ka.doc_id = a.doc_id
  JOIN r_e2 kb ON kb.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
r_n2 AS (SELECT doc_id FROM r_e2 WHERE doc_id NOT IN (SELECT id_b FROM r_p2)),
r_px AS (
  SELECT b.doc_id AS id_b
  FROM c_sh a JOIN c_sh b ON true
  JOIN r_s1 ON r_s1.doc_id = a.doc_id
  JOIN r_n2 ON r_n2.doc_id = b.doc_id
  WHERE {prune} AND {jac}
),
r_kept AS (
  SELECT doc_id FROM r_s1
  UNION ALL
  SELECT doc_id FROM r_n2 WHERE doc_id NOT IN (SELECT id_b FROM r_px)
),
r_keptdocs AS (SELECT g.* FROM c_gated g JOIN r_kept USING (doc_id)),
r_ss AS ({ss}),
r_scrub AS (
  SELECT keep_id AS doc_id, fp, clean_text
  FROM r_ss WHERE length(clean_text) > 0
),
r_cg AS (
    SELECT doc_id, unnest(s) AS ngram
    FROM (
      SELECT doc_id,
             CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(
                         generate_series(0, greatest(len(tk)-{ngram_n}, 0)),
                         i -> array_to_string(tk[i+1:i+{ngram_n}], ' ')))
             END AS s
      FROM (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(clean_text), '\\s+', ' ', 'g')), ' '),
                           t -> t <> '') AS tk
        FROM r_scrub
      )
    )
),
r_contam AS (
  SELECT doc_id
  FROM r_cg
  WHERE ngram IN (SELECT DISTINCT ngram FROM c_bg)
  GROUP BY doc_id
  HAVING count(*) >= {min_overlap}
)"""


@query(
    "incremental_dedup",
    cache_plan=False,
    covers=(
        "EXT-dedup-streaming / S3+P6 analog (incremental batch-vs-corpus "
        "dedup over a persistent fingerprint/band index; FULL oracle: "
        "sequential two-batch replay in SQL. r8: + 'curate' rows — "
        "plans/curation.curate_corpus_append, the INCREMENTAL curation "
        "funnel: quality gate -> dedup-vs-state -> decontaminate -> "
        "fragment shard write -> compact_curated_shards maintenance, "
        "survivors read back FROM the compacted shard tree and replayed "
        "sequentially in SQL. r10: + 'curate_ss' rows — the same funnel "
        "with the ExactSubstr census stage ON (streaming/substring.py "
        "under the funnel's state_dir) on a range split, fp = md5 of the "
        "scrubbed shard text, every span boundary replayed in SQL. "
        "r15: + 'curate_line' rows — the same funnel with the duplicate-"
        "LINE census stage ON (streaming/line_dedup.py under the "
        "funnel's state_dir) over the _line_deco corpus on the same "
        "range split (keep-first-in-time == one-shot keep_first), fp = "
        "md5 of the line-scrubbed shard text, every line decision and "
        "the rebuilt text replayed in SQL through census state "
        "maintenance, fragment write, and compaction)"
    ),
    oracle=_incremental_dedup_oracle_sql(),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replays the documents table as two ingest micro-batches through
    streaming/dedup.dedup_batch_against_corpus: odd doc_ids arrive
    first and become the corpus plus its fingerprint/band index; even
    doc_ids are then deduped within-batch and against the index via
    the band probe — without re-sketching the corpus. The final corpus
    is the verified surface.

    r8 'curate' rows: the same two-batch arrival driven through the
    WHOLE incremental curation funnel (curate_corpus_append) on the
    decontaminate gate's %-split, with the survivors read back from
    the COMPACTED per-batch shard tree — so the state-maintenance
    wiring (fingerprint/band index appends, fragment shard sequences,
    global renumber + clustered rewrite) is value-verified, not just
    the dedup arithmetic.

    Reference: extends the incremental INSERT OR IGNORE contract
    (parser/parse_matches.sh:613) to content-level near-duplicates.
    """
    import os
    import shutil
    import tempfile

    from cod_stats_spark.plans.curation import (
        compact_curated_shards,
        curate_corpus_append,
    )
    from cod_stats_spark.streaming.dedup import dedup_batch_against_corpus

    docs = load_tables(spark, sf_dir)["documents"]
    arrival = (
        F.when(F.col("doc_id") % 2 == 1, F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
        .alias("arrival_batch")
    )
    tmp = tempfile.mkdtemp(prefix="incdedup_")
    corpus, index = os.path.join(tmp, "corpus"), os.path.join(tmp, "index")
    try:
        for parity in (1, 0):
            dedup_batch_against_corpus(
                spark,
                docs.filter(F.col("doc_id") % 2 == parity),
                "text",
                "doc_id",
                corpus,
                index,
                threshold=0.7,
                num_hashes=32,
                bands=16,
            )
        # checkpoint so the scratch dir can be deleted before the caller
        # collects (the result is bounded: surviving docs only)
        null_fp = F.lit(None).cast("string").alias("fp")
        dedup_rows = (
            spark.read.parquet(corpus)
            .select(
                F.lit("dedup").alias("tag"),
                "doc_id",
                arrival,
                "lang",
                "source",
                "n_chars",
                null_fp,
            )
            .localCheckpoint(eager=True)
        )

        # incremental curation: same two-batch arrival, full funnel
        # against the state dir, survivors read from the compacted
        # shard tree
        c_corpus = docs.filter(F.col("doc_id") % 7 != 0)
        c_bench = docs.filter(F.col("doc_id") % 7 == 0)
        state = os.path.join(tmp, "curate_state")
        for batch_id, parity in ((1, 1), (2, 0)):
            curate_corpus_append(
                spark,
                c_corpus.filter(F.col("doc_id") % 2 == parity),
                c_bench,
                state,
                batch_id=batch_id,
                min_quality=0.25,
                jaccard_threshold=0.7,
                num_hashes=32,
                bands=16,
                decontam_ngram_n=3,
                decontam_min_overlap=2,
                token_budget=2048,
                salt="curate",
            )
            # compact INSIDE the loop (r12): cycle 2 must continue the
            # global shard sequence from cycle 1's _APPLIED markers and
            # rewrite only batch 2's dirs — the oracle then value-
            # verifies the incremental consumption, not just the merge
            compacted = compact_curated_shards(spark, state)
        curate_rows = (
            compacted.select("doc_id")
            .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
            .select(
                F.lit("curate").alias("tag"),
                "doc_id",
                arrival,
                "lang",
                "source",
                "n_chars",
                null_fp,
            )
            .localCheckpoint(eager=True)
        )

        # r10 'curate_ss' rows: the same funnel with the ExactSubstr
        # census stage ON, driven on a RANGE split (doc ids increase
        # across batches) so keep-first-in-time coincides with the
        # one-shot keep_first argmin the oracle replays; fp = md5 of
        # the scrubbed text read back from the compacted shard tree —
        # one hash value-verifies every span boundary through census
        # state maintenance, fragment write, and compaction.
        mx = int(docs.agg(F.max("doc_id")).first()[0])
        state_ss = os.path.join(tmp, "curate_ss_state")
        for batch_id, pred in (
            (1, F.col("doc_id") * 2 <= mx),
            (2, F.col("doc_id") * 2 > mx),
        ):
            curate_corpus_append(
                spark,
                c_corpus.filter(pred),
                c_bench,
                state_ss,
                batch_id=batch_id,
                min_quality=0.25,
                jaccard_threshold=0.7,
                num_hashes=32,
                bands=16,
                decontam_ngram_n=3,
                decontam_min_overlap=2,
                token_budget=2048,
                salt="curate",
                substring_n=8,
            )
            # same in-loop incremental compaction as the 'curate' arm
            compacted_ss = compact_curated_shards(spark, state_ss)
        arrival_ss = (
            F.when(F.col("doc_id") * 2 <= mx, F.lit(1))
            .otherwise(F.lit(2))
            .cast("int")
            .alias("arrival_batch")
        )
        curate_ss_rows = (
            compacted_ss.select("doc_id", F.md5(F.col("text")).alias("fp"))
            .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
            .select(
                F.lit("curate_ss").alias("tag"),
                "doc_id",
                arrival_ss,
                "lang",
                "source",
                "n_chars",
                "fp",
            )
            .localCheckpoint(eager=True)
        )

        # r15 'curate_line' rows: the same funnel with the duplicate-
        # LINE census stage ON (streaming/line_dedup.py under the
        # funnel's state_dir), driven on the SAME range split so the
        # keep-first-in-time census coincides with the one-shot
        # keep_first argmin the oracle replays; the corpus is
        # decorated via _line_deco_col (the funnel2 decoration — the
        # testdata docs carry no newlines); fp = md5 of the scrubbed
        # text read back from the compacted shard tree — one hash
        # value-verifies every line decision and the rebuilt text
        # through census state maintenance, fragment write, and
        # compaction.
        p = _FUNNEL2
        deco_docs = docs.withColumn("text", _line_deco_col())
        ln_corpus = deco_docs.filter(F.col("doc_id") % 7 != 0)
        ln_bench = deco_docs.filter(F.col("doc_id") % 7 == 0)
        state_ln = os.path.join(tmp, "curate_line_state")
        for batch_id, pred in (
            (1, F.col("doc_id") * 2 <= mx),
            (2, F.col("doc_id") * 2 > mx),
        ):
            curate_corpus_append(
                spark,
                ln_corpus.filter(pred),
                ln_bench,
                state_ln,
                batch_id=batch_id,
                min_quality=0.25,
                jaccard_threshold=0.7,
                num_hashes=32,
                bands=16,
                decontam_ngram_n=3,
                decontam_min_overlap=2,
                token_budget=2048,
                salt="curate",
                line_sep=p["line_sep"],
                line_min_chars=p["line_min_chars"],
            )
            compacted_ln = compact_curated_shards(spark, state_ln)
        curate_line_rows = (
            compacted_ln.select("doc_id", F.md5(F.col("text")).alias("fp"))
            .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
            .select(
                F.lit("curate_line").alias("tag"),
                "doc_id",
                arrival_ss,
                "lang",
                "source",
                "n_chars",
                "fp",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        dedup_rows.unionByName(curate_rows)
        .unionByName(curate_ss_rows)
        .unionByName(curate_line_rows)
    )


def _decontaminate_oracle_sql(mod: int, ngram_n: int, min_overlap: int) -> str:
    """Generated oracle for n-gram decontamination: distinct word
    n-grams per side (same normalization as the shingle SQL, with the
    empty-doc '' shingle removed), inner join on the n-gram, and a
    per-(doc, bench) overlap count with the threshold."""

    def grams(pred: str) -> str:
        return f"""
    SELECT doc_id, unnest(s) AS ngram
    FROM (
      SELECT doc_id,
             CASE WHEN len(tk) = 0 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(
                         generate_series(0, greatest(len(tk)-{ngram_n}, 0)),
                         i -> array_to_string(tk[i+1:i+{ngram_n}], ' ')))
             END AS s
      FROM (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                           t -> t <> '') AS tk
        FROM documents WHERE {pred}
      )
    )"""

    return f"""
WITH cg AS ({grams(f"doc_id % {mod} <> 0")}),
bg AS ({grams(f"doc_id % {mod} = 0")})
SELECT cg.doc_id, bg.doc_id AS bench_id, count(*) AS n_overlap
FROM cg JOIN bg ON cg.ngram = bg.ngram
GROUP BY cg.doc_id, bg.doc_id
HAVING count(*) >= {min_overlap}
"""


def _winnow_contam_oracle_sql(
    mod: int = 7, k: int = 8, w: int = 4, min_shared: int = 2
) -> str:
    """Cross-set winnow replica: the md5_60 fingerprint selection of
    `_winnow_oracle_sql` computed per %-split side, then paired on
    fingerprint equality with a shared-count threshold."""
    md5_60 = (
        "list_sum(list_transform(range(15), q ->"
        " (strpos('0123456789abcdef', md5({e})[q+1:q+1]) - 1)::BIGINT"
        " * (1::BIGINT << (4*(14-q)))))"
    ).format(e=f"substr(s, i, {k})")

    def sel(pred: str) -> str:
        return f"""
  SELECT doc_id, unnest(fp) AS f FROM (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(hs) - {w} + 1, 1) + 1),
                                        j -> list_min(hs[j:j+{w - 1}]))) AS fp
    FROM (
      SELECT doc_id,
             list_transform(range(1, greatest(length(s) - {k} + 1, 1) + 1),
                            i -> {md5_60}) AS hs
      FROM (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents WHERE {pred}
      ) WHERE length(s) > 0
    )
  )"""

    return f"""
SELECT a.doc_id, b.doc_id AS bench_id, count(*) AS n_overlap
FROM ({sel(f"doc_id % {mod} <> 0")}) a
JOIN ({sel(f"doc_id % {mod} = 0")}) b ON a.f = b.f
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {min_shared}
"""


@query(
    "decontaminate",
    covers=(
        "EXT-decontamination (tagged union, r8. method='ngram': train/eval "
        "word-n-gram overlap — benchmark gram set against the exploded "
        "corpus, per-pair overlap count; FULL oracle. method='winnow': the "
        "verbatim-leakage report over winnowed char-gram fingerprints — "
        "~2/(w+1) the gram volume with the >= k+w-1 coverage guarantee; "
        "FULL oracle: md5_60 selection + cross-set pairing in SQL)"
    ),
    oracle=(
        "SELECT 'ngram' AS method, doc_id, bench_id, n_overlap FROM ("
        + _decontaminate_oracle_sql(mod=7, ngram_n=3, min_overlap=2)
        + ")\nUNION ALL\nSELECT 'winnow' AS method, doc_id, bench_id,"
        " n_overlap FROM ("
        + _winnow_contam_oracle_sql()
        + ")"
    ),
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): docs
    with doc_id % 7 == 0 stand in for an eval set; the rest is the
    training corpus. Production decontamination uses 8-13-grams; the
    gate uses 3-grams so the synthetic corpus yields hundreds of pairs
    and the overlap counting is value-verified broadly.

    r8: + the winnowed verbatim-overlap report
    (dedup.winnow_contamination_pairs, md5_60 member, uncapped on the
    bounded gate data) as a second tagged arm. The TIMED entry keeps
    the r1–r7 n-gram-only plan via a BENCH_ONLY override."""
    from cod_stats_spark.operators.decontaminate import contamination_pairs
    from cod_stats_spark.operators.dedup import winnow_contamination_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    ng = contamination_pairs(
        corpus, bench, "text", "doc_id", ngram_n=3, min_overlap=2
    ).select(F.lit("ngram").alias("method"), "doc_id", "bench_id", "n_overlap")
    wn = winnow_contamination_pairs(
        corpus, bench, "text", "doc_id", k=8, w=4, min_shared=2,
        max_fp_df=None, base_hash="md5_60",
    ).select(F.lit("winnow").alias("method"), "doc_id", "bench_id", "n_overlap")
    return ng.unionByName(wn)


@query(
    "json_documents",
    covers="S9 A9 (nested JSON document building — the report-sink shape: struct + ordered collect + to_json)",
    oracle="""
SELECT o_custkey,
       to_json(struct_pack(
         custkey := o_custkey,
         n_orders := count(*),
         total := round(sum(o_totalprice), 2),
         orders := list(struct_pack(orderkey := o_orderkey,
                                    price := round(o_totalprice, 2))
                        ORDER BY o_orderkey)
       )) AS doc
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY o_custkey
""",
)
def json_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's json_object/json_group_array document building
    (parse_matches.sh:250-269, generate_lookup_data.sh heredocs) as
    struct + sorted collect_list + to_json — byte-compatible with the
    DuckDB rendering, proving the serving-layer documents are portable."""
    o = load_tables(spark, sf_dir)["orders"]
    per = (
        o.filter(F.col("o_custkey") % 10 == 0)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("o_orderkey").alias("orderkey"),
                        F.round("o_totalprice", 2).alias("price"),
                    )
                )
            ).alias("orders"),
        )
    )
    doc = F.to_json(
        F.struct(
            F.col("o_custkey").alias("custkey"),
            F.col("n_orders").alias("n_orders"),
            F.col("total").alias("total"),
            F.col("orders").alias("orders"),
        )
    )
    return per.select("o_custkey", doc.alias("doc"))


#: blocklist for the 'dom:' arm — first entry matches every
#: *.example.co.uk document (subdomain semantics through a multi-part
#: suffix), second matches nothing (negative coverage)
_DOM_BLOCK = ["example.co.uk", "spam.example.net"]


def _dom_url_expr():
    """Synthetic absolute URL per document, built by identical
    arithmetic in both engines (the pii_redact convention — the
    testdata corpus has no URL column). Shape exercises every branch
    of functions/url.py: a www. prefix to strip (doc_id % 7), a
    subdomain label, and three suffix families — a multi-part ccTLD
    (example.co.uk), a platform suffix where every subdomain is its
    own registered domain (blogspot.com), and a plain .com."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(did % 7 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("sub"), (did % 5).cast("string"), F.lit("."),
        F.col("source"), F.lit("-"), (did % 23).cast("string"),
        F.when(did % 3 == 0, F.lit(".example.co.uk"))
        .when(did % 3 == 1, F.lit(".blogspot.com"))
        .otherwise(F.lit(".example.com")),
        F.lit("/p/"), did.cast("string"),
    )


def _dom_url_sql() -> str:
    return (
        "'https://' || CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END"
        " || 'sub' || (doc_id % 5)::VARCHAR || '.' || source || '-'"
        " || (doc_id % 23)::VARCHAR"
        " || CASE WHEN doc_id % 3 = 0 THEN '.example.co.uk'"
        " WHEN doc_id % 3 = 1 THEN '.blogspot.com'"
        " ELSE '.example.com' END || '/p/' || doc_id::VARCHAR"
    )


def _dom_oracle_sql() -> str:
    """'dom:' rows: host extraction + canonicalization + registered
    domain + subdomain blocklist matching + the per-domain rollup,
    all regenerated from functions/url.py's own SQL builders (single
    source of truth — suffix-list drift fails the gate loudly)."""
    from cod_stats_spark.functions.url import (
        domain_matches_sql,
        registered_domain_sql,
        url_host_sql,
    )

    return f"""
SELECT 'dom:' || coalesce(domain, '~') AS grp,
       n_chars::DOUBLE AS m1, n_blocked::DOUBLE AS m2,
       n_hosts::DOUBLE AS m3, NULL::DOUBLE AS m4, n_docs AS n
FROM (
  SELECT {registered_domain_sql('host')} AS domain,
         count(*) AS n_docs, sum(len) AS n_chars,
         count(DISTINCT host) AS n_hosts,
         sum({domain_matches_sql('host', _DOM_BLOCK)}::INT) AS n_blocked
  FROM (
    SELECT length(text) AS len, {url_host_sql('url')} AS host
    FROM (SELECT doc_id, text, source, {_dom_url_sql()} AS url
          FROM documents)
  )
  GROUP BY 1
)"""


#: >64-rule loaded PSL fixture for the 'dompsl:' arm — forces
#: _with_domain_key past _REGEX_RULE_LIMIT so the SPARK side derives
#: the registered domain via the with_registered_domain broadcast-join
#: RELATION path, while the ORACLE replays the full-rule-count regex
#: alternation (RE2 compiles it to a DFA — affordable there, measured
#: unusable in Java regex: SCALING.md r12). Shapes covered: plain
#: 2-label rule, explicit + wildcard on the SAME tail (the r12 review
#: subtlety), a wildcard-protected exception, and a www-anchored
#: exception (exercising the r13 strip_www default flip).
_PSL_GATE_SUFFIXES = sorted(
    ["alpha.zz", "wild.zz", "*.wild.zz", "*.k.zz", "*.ck.zz"]
    + [f"pad{i}.qq" for i in range(72)]
)
_PSL_GATE_EXC = ["exempt.k.zz", "www.ck.zz"]


def _dompsl_url_expr():
    """Synthetic URL per document hitting every rule class of the
    loaded-PSL fixture (identical arithmetic in the oracle)."""
    did = F.col("doc_id")
    branch = did % 6
    s = F.concat(F.lit("s"), (did % 5).cast("string"))
    m = F.concat(F.lit("m"), (did % 23).cast("string"))
    host = (
        F.when(branch == 0, F.concat(s, F.lit("."), m, F.lit(".alpha.zz")))
        .when(branch == 1, F.concat(s, F.lit("."), m, F.lit(".wild.zz")))
        .when(branch == 2, F.concat(m, F.lit(".wild.zz")))
        .when(branch == 3, F.lit("x.exempt.k.zz"))
        .when(branch == 4, F.lit("www.ck.zz"))
        .otherwise(
            F.concat(s, F.lit(".plain"), (did % 23).cast("string"),
                     F.lit(".com"))
        )
    )
    return F.concat(F.lit("https://"), host, F.lit("/p/"),
                    did.cast("string"))


def _dompsl_url_sql() -> str:
    return (
        "'https://' || CASE doc_id % 6"
        " WHEN 0 THEN 's' || (doc_id % 5)::VARCHAR || '.m'"
        " || (doc_id % 23)::VARCHAR || '.alpha.zz'"
        " WHEN 1 THEN 's' || (doc_id % 5)::VARCHAR || '.m'"
        " || (doc_id % 23)::VARCHAR || '.wild.zz'"
        " WHEN 2 THEN 'm' || (doc_id % 23)::VARCHAR || '.wild.zz'"
        " WHEN 3 THEN 'x.exempt.k.zz'"
        " WHEN 4 THEN 'www.ck.zz'"
        " ELSE 's' || (doc_id % 5)::VARCHAR || '.plain'"
        " || (doc_id % 23)::VARCHAR || '.com'"
        " END || '/p/' || doc_id::VARCHAR"
    )


def _dompsl_oracle_sql() -> str:
    """'dompsl:' rows: the loaded->64-rule registered-domain rollup —
    the oracle runs the SAME rule set through the generated full
    alternation (registered_domain_sql at full rule count) over the
    strip_www=False host; the Spark body's relation path must agree
    domain for domain."""
    from cod_stats_spark.functions.url import (
        registered_domain_sql,
        url_host_sql,
    )

    rd = registered_domain_sql(
        "host", _PSL_GATE_SUFFIXES, _PSL_GATE_EXC
    )
    return f"""
SELECT 'dompsl:' || coalesce(domain, '~') AS grp,
       n_chars::DOUBLE AS m1, n_hosts::DOUBLE AS m2,
       NULL::DOUBLE AS m3, NULL::DOUBLE AS m4, n_docs AS n
FROM (
  SELECT {rd} AS domain,
         count(*) AS n_docs, sum(len) AS n_chars,
         count(DISTINCT host) AS n_hosts
  FROM (
    SELECT length(text) AS len,
           {url_host_sql('url', strip_www=False)} AS host
    FROM (SELECT doc_id, text, {_dompsl_url_sql()} AS url
          FROM documents)
  )
  GROUP BY 1
)"""


def _html_doc_expr():
    """Synthetic HTML page per document, built by identical
    arithmetic in both engines (the pii_redact convention — the
    testdata corpus is plain text). Shape exercises every extraction
    step: a script body containing a bare ``<``, a style block, an
    HTML comment, a heading too short to keep, a ``<br>`` block
    break, a min-words casualty, a boilerplate-phrase casualty, and
    (every 4th doc) an entity-decode line — so per-doc kept-line
    counts VARY and the md5-packed group key verifies every cleaned
    byte."""
    did = F.col("doc_id")
    return F.concat(
        F.lit(
            '<html><head><title>Doc</title><script type="text/javascript">'
            "var x = 1 < 2;</script><style>.a { color: red }</style>"
            "</head><body><h1>Heading</h1><p>"
        ),
        F.substring("text", 1, 120),
        F.lit(
            ".</p><br><p>tiny line.</p><p>Footer: all rights reserved.</p>"
            "<!-- tracking comment -->"
        ),
        F.when(
            did % 4 == 0,
            F.lit(
                "<p>Entity check: 1 &lt; 2 &amp; 3 &gt; 2, a &quot;quoted"
                "&quot; claim holds.</p>"
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


def _html_doc_sql() -> str:
    return (
        "'<html><head><title>Doc</title><script type=\"text/javascript\">"
        "var x = 1 < 2;</script><style>.a { color: red }</style>"
        "</head><body><h1>Heading</h1><p>'"
        " || substr(text, 1, 120) || "
        "'.</p><br><p>tiny line.</p><p>Footer: all rights reserved.</p>"
        "<!-- tracking comment -->'"
        " || CASE WHEN doc_id % 4 = 0 THEN "
        "'<p>Entity check: 1 &lt; 2 &amp; 3 &gt; 2, a &quot;quoted&quot; "
        "claim holds.</p>' ELSE '' END"
        " || '</body></html>'"
    )


def _html_oracle_sql() -> str:
    """'html:' rows: the whole extraction + C4 cleaning stage
    (functions/html.py) replayed from the SAME pattern constants —
    the group key carries an md5 over every doc's cleaned text, so
    the gate verifies the extraction byte for byte, not just counts."""
    from cod_stats_spark.functions.html import (
        extract_text_sql,
        html_to_text_sql,
        kept_lines_sql,
        normalized_lines_sql,
    )

    return f"""
SELECT 'html:' || bucket::VARCHAR || ':'
         || substr(md5(string_agg(dct, '|' ORDER BY dct)), 1, 12) AS grp,
       sum(length(ct))::DOUBLE AS m1,
       sum(n_all)::DOUBLE AS m2,
       sum(n_kept)::DOUBLE AS m3,
       NULL::DOUBLE AS m4,
       sum(CASE WHEN length(ct) > 0 THEN 1 ELSE 0 END)::BIGINT AS n
FROM (
  SELECT doc_id % 13 AS bucket,
         doc_id::VARCHAR || '#' || ct AS dct,
         ct,
         len({normalized_lines_sql("raw")}) AS n_all,
         len({kept_lines_sql("raw")}) AS n_kept
  FROM (SELECT doc_id, {extract_text_sql("h")} AS ct,
               {html_to_text_sql("h")} AS raw
        FROM (SELECT doc_id, {_html_doc_sql()} AS h FROM documents))
)
GROUP BY bucket"""


def _fert_oracle_sql() -> str:
    """DuckDB replay of operators/tokenizer_eval.fertility_stats over
    the documents corpus: per-language corpus-level compression
    (chars/token: 'fert:' rows) and UTF-8 bytes/token (the byte-level
    tokenizer grading convention: 'fertb:' rows, strlen = octets vs
    length = codepoints — the decoration's multibyte suffix keeps the
    two genuinely different), plus fertility (sub-word tokens per
    whitespace word), all from the SAME two SQL-replayable counters
    (ws split; the sub-word-ish regex family,
    functions/text.BPE_ISH_PATTERN)."""
    from cod_stats_spark.functions.text import BPE_ISH_PATTERN

    # DuckDB string literals are standard-SQL (backslash is literal),
    # so the RE2 pattern rides verbatim — doubling the backslash would
    # turn [^\\sA-Za-z0-9]'s \\s into an escaped-backslash + literal
    # 's' and match every SPACE as a token (caught at gate bring-up)
    ws = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
    pat = BPE_ISH_PATTERN
    # wrapped: the arm splices into the gate oracle after a UNION ALL,
    # where a bare WITH would not parse
    return f"""
SELECT * FROM (
WITH fert_counts AS (
  SELECT lang, count(*) AS nd,
         sum(length(text))::BIGINT AS ch,
         sum(strlen(text))::BIGINT AS by,
         sum(len({ws}))::BIGINT AS tws,
         sum(len(regexp_extract_all(text, '{pat}')))::BIGINT AS tsub
  FROM (SELECT lang,
               text || ' #' || doc_id::VARCHAR || '%, ok! é™' AS text
        FROM documents)
  GROUP BY lang
)
SELECT 'fert:' || lang AS grp,
       round(CASE WHEN tws > 0 THEN ch::DOUBLE / tws END, 6) AS m1,
       round(CASE WHEN tsub > 0 THEN ch::DOUBLE / tsub END, 6) AS m2,
       round(CASE WHEN tws > 0 THEN tsub::DOUBLE / tws END, 6) AS m3,
       round(tws::DOUBLE / nd, 6) AS m4,
       nd AS n
FROM fert_counts
UNION ALL
SELECT 'fertb:' || lang,
       round(CASE WHEN tws > 0 THEN by::DOUBLE / tws END, 6),
       round(CASE WHEN tsub > 0 THEN by::DOUBLE / tsub END, 6),
       round(by::DOUBLE / ch, 6),
       round(by::DOUBLE / nd, 6),
       nd
FROM fert_counts
)"""


def _stat_gate_extras() -> dict[str, str]:
    from cod_stats_spark.operators.funnel import (
        cohort_oracle_sql,
        funnel_oracle_sql,
    )

    return {
        "funnel": funnel_oracle_sql(_FUNNEL_STEPS),
        "funnelgap": funnel_oracle_sql(
            _FUNNEL_STEPS, max_gap_seconds=_FUNNEL_GAP_S
        ),
        "cohort": cohort_oracle_sql(period="week"),
        "dom": _dom_oracle_sql(),
        "html": _html_oracle_sql(),
        "dompsl": _dompsl_oracle_sql(),
        "fert": _fert_oracle_sql(),
    }


@query(
    "stat_aggregates",
    covers="EXT-olap EXT-analytics (statistical aggregates: stddev/variance/corr/covar + fixed-width bucketed histogram + exact interpolated quantiles per group; r7: + operators/profiling.profile_table's per-column count/null/mean/stddev/min/max rows, recomputed from scratch in SQL; r9: + operators/funnel.py — strict-sequential funnel over the event stream ['funnel:'], the 7-day-max-gap variant ['funnelgap:'], and weekly cohort retention triangles ['cohort:'], each replayed as chained CTEs in SQL; r9: + operators/expectations.py ['dq:'] — declarative data-quality checks (not_null/range/accepted_values/regex/unique/referential) incl. a genuinely FAILING unique on the synthetic lineitem PK, every violation count recomputed from scratch in SQL; r11: + functions/url.py ['dom:'] — URL host extraction/canonicalization, eTLD+1 registered domain incl. multi-part and platform suffixes, subdomain blocklist matching, and the per-domain corpus rollup [domain_stats], every row recomputed from the same suffix constants in SQL over synthetic per-doc URLs; r12: + functions/html.py ['html:'] — HTML→text extraction with script/style/comment stripping, block-break line structure, entity decode, and C4 line cleaning over synthetic pages, the cleaned text md5-packed into the group key so every byte is value-verified from the same pattern constants in SQL; r13: + ['dompsl:'] — a loaded >64-rule PSL set driven through the with_registered_domain broadcast-join RELATION path [the at-scale form; strip_www auto-off under www-anchored exceptions], the oracle replaying the SAME rules as the full regex alternation: explicit+wildcard same-tail, wildcard-protected exception, www-anchored exception, and the two-label fallback all value-verified; r13: + operators/tokenizer_eval.py ['fert:'] — per-language tokenizer fertility/compression eval: corpus-level chars-per-token for the ws and sub-word-regex counters, sub-tokens-per-word fertility, and mean words/doc, ratios of SUMS recomputed from the same counters in SQL; r14: + ['fertb:'] — UTF-8 bytes-per-token (the byte-level-tokenizer grading convention) over a deliberately multibyte-decorated corpus so chars ≠ bytes, bytes/char density and bytes/doc, strlen-octet sums replayed in SQL)",
    oracle="""
WITH prof AS (
  SELECT 'l_quantity' AS c, count(*) AS n_rows,
         count(*) - count(l_quantity) AS n_null,
         round(avg(l_quantity), 6) AS mean,
         round(stddev_samp(l_quantity), 6) AS std,
         min(l_quantity)::DOUBLE AS mn, max(l_quantity)::DOUBLE AS mx
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
         round(avg(l_extendedprice), 6), round(stddev_samp(l_extendedprice), 6),
         min(l_extendedprice)::DOUBLE, max(l_extendedprice)::DOUBLE
  FROM lineitem
  UNION ALL
  SELECT 'l_discount', count(*), count(*) - count(l_discount),
         round(avg(l_discount), 6), round(stddev_samp(l_discount), 6),
         min(l_discount)::DOUBLE, max(l_discount)::DOUBLE
  FROM lineitem
),
stats AS (
  SELECT l_returnflag,
         round(stddev_samp(l_extendedprice), 4)            AS price_stddev,
         round(var_samp(l_quantity), 4)                    AS qty_var,
         round(corr(l_extendedprice, l_quantity), 6)       AS price_qty_corr,
         round(covar_samp(l_extendedprice, l_discount), 4) AS price_disc_covar,
         count(*)                                          AS n
  FROM lineitem
  GROUP BY l_returnflag
),
hist AS (
  SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
         count(*)                                    AS n,
         round(min(o_totalprice), 2)                 AS lo,
         round(max(o_totalprice), 2)                 AS hi
  FROM orders
  GROUP BY bucket
),
q AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
         round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
         round(quantile_cont(l_quantity, 0.5), 4)       AS qty_p50,
         count(*)                                       AS n
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT 'stat:' || l_returnflag AS grp,
       price_stddev AS m1, qty_var AS m2,
       price_qty_corr AS m3, price_disc_covar AS m4, n
FROM stats
UNION ALL
SELECT 'hist:' || bucket::VARCHAR AS grp,
       lo AS m1, hi AS m2, NULL::DOUBLE AS m3, NULL::DOUBLE AS m4, n
FROM hist
UNION ALL
SELECT 'q:' || l_returnflag AS grp,
       p50 AS m1, p95 AS m2, qty_p50 AS m3, NULL::DOUBLE AS m4, n
FROM q
UNION ALL
SELECT 'prof:' || c AS grp,
       n_null::DOUBLE AS m1, mean AS m2, std AS m3, NULL::DOUBLE AS m4,
       n_rows AS n
FROM prof
UNION ALL
SELECT 'profrange:' || c AS grp,
       mn AS m1, mx AS m2, NULL::DOUBLE AS m3, NULL::DOUBLE AS m4,
       n_rows AS n
FROM prof
UNION ALL
SELECT 'funnel:' || step::VARCHAR || ':' || step_name AS grp,
       conversion AS m1, NULL::DOUBLE AS m2, NULL::DOUBLE AS m3,
       NULL::DOUBLE AS m4, n_users AS n
FROM ({funnel})
UNION ALL
SELECT 'funnelgap:' || step::VARCHAR || ':' || step_name AS grp,
       conversion AS m1, NULL::DOUBLE AS m2, NULL::DOUBLE AS m3,
       NULL::DOUBLE AS m4, n_users AS n
FROM ({funnelgap})
UNION ALL
SELECT 'cohort:' || cohort::VARCHAR || ':' || period_offset::VARCHAR AS grp,
       retention AS m1, cohort_size::DOUBLE AS m2, NULL::DOUBLE AS m3,
       NULL::DOUBLE AS m4, n_active AS n
FROM ({cohort})
UNION ALL
SELECT 'dq:' || chk AS grp, nv::DOUBLE AS m1,
       (nv = 0)::INT::DOUBLE AS m2, NULL::DOUBLE AS m3, NULL::DOUBLE AS m4,
       nr AS n
FROM (
  SELECT 'not_null:l_quantity' AS chk,
         (count(*) - count(l_quantity))::BIGINT AS nv, count(*) AS nr
  FROM lineitem
  UNION ALL
  SELECT 'range:l_quantity:1:25',
         sum(CASE WHEN l_quantity IS NOT NULL
                  AND (l_quantity < 1 OR l_quantity > 25)
             THEN 1 ELSE 0 END)::BIGINT, count(*)
  FROM lineitem
  UNION ALL
  SELECT 'range:l_discount:0.0:0.1',
         sum(CASE WHEN l_discount IS NOT NULL
                  AND (l_discount < 0.0 OR l_discount > 0.1)
             THEN 1 ELSE 0 END)::BIGINT, count(*)
  FROM lineitem
  UNION ALL
  SELECT 'accepted_values:l_returnflag',
         sum(CASE WHEN l_returnflag IS NOT NULL
                  AND l_returnflag NOT IN ('A', 'N', 'R')
             THEN 1 ELSE 0 END)::BIGINT, count(*)
  FROM lineitem
  UNION ALL
  SELECT 'unique:l_orderkey,l_linenumber',
         (SELECT coalesce(sum(c), 0)::BIGINT FROM (
            SELECT count(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)),
         (SELECT count(*) FROM lineitem)
  UNION ALL
  -- '490f3990' == md5('^[1-5]-')[:8], the operator's pattern_tag —
  -- the check name embeds it so same-column matches checks with
  -- different patterns stay distinguishable (r10)
  SELECT 'matches:o_orderpriority:490f3990',
         sum(CASE WHEN o_orderpriority IS NOT NULL
                  AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 1 ELSE 0 END)::BIGINT, count(*)
  FROM orders
  UNION ALL
  SELECT 'unique:o_orderkey',
         (SELECT coalesce(sum(c), 0)::BIGINT FROM (
            SELECT count(*) AS c FROM orders
            GROUP BY o_orderkey HAVING count(*) > 1)),
         (SELECT count(*) FROM orders)
  UNION ALL
  SELECT 'referential:o_custkey->c_custkey',
         (SELECT count(*) FROM orders
          WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
         (SELECT count(*) FROM orders)
)
UNION ALL
{dom}
UNION ALL
{html}
UNION ALL
{dompsl}
UNION ALL
{fert}
""".format(**_stat_gate_extras()),
)
def stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates + histogram + exact quantiles in one
    tagged union — merged from the former separate stat_aggregates /
    histogram / quantiles gates (registry ≤ 50; quantiles folded r6).
    Harmonized schema: (grp, m1..m4, n). The bench still times the
    quantile plan alone under its original `quantiles` entry."""
    t = load_tables(spark, sf_dir)
    null_m = F.lit(None).cast("double")
    stats = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("m1"),
            F.round(F.var_samp("l_quantity"), 4).alias("m2"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("m3"),
            F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("m4"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.concat(F.lit("stat:"), F.col("l_returnflag")).alias("grp"),
                "m1", "m2", "m3", "m4", "n")
    )
    hist = (
        t["orders"]
        .groupBy(F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("m1"),
            F.round(F.max("o_totalprice"), 2).alias("m2"),
        )
        .select(
            F.concat(F.lit("hist:"), F.col("bucket").cast("string")).alias("grp"),
            "m1", "m2", null_m.alias("m3"), null_m.alias("m4"), "n",
        )
    )
    quant = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("m1"),
            F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("m2"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("m3"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.concat(F.lit("q:"), F.col("l_returnflag")).alias("grp"),
            "m1", "m2", "m3", null_m.alias("m4"), "n",
        )
    )
    # r7: the table profiler's ACTUAL long-form output, reshaped into
    # the gate schema — count/null/mean/stddev ('prof:') and min/max
    # ('profrange:') per numeric column are recomputed from scratch by
    # the oracle, so profile_table itself is value-verified (its HLL
    # approx_distinct column stays under the sketch gate's
    # bounded-error regime and is not hashed here)
    from cod_stats_spark.operators.profiling import profile_table

    pcols = ["l_quantity", "l_extendedprice", "l_discount"]
    profiled = profile_table(t["lineitem"], columns=pcols)
    prof = profiled.select(
        F.concat(F.lit("prof:"), F.col("column")).alias("grp"),
        F.col("n_null").cast("double").alias("m1"),
        F.col("mean").alias("m2"),
        F.col("stddev").alias("m3"),
        null_m.alias("m4"),
        F.col("n_rows").alias("n"),
    )
    prange = profiled.select(
        F.concat(F.lit("profrange:"), F.col("column")).alias("grp"),
        F.col("min_value").cast("double").alias("m1"),
        F.col("max_value").cast("double").alias("m2"),
        null_m.alias("m3"),
        null_m.alias("m4"),
        F.col("n_rows").alias("n"),
    )
    # r9: funnel + cohort-retention arms over the event stream
    from cod_stats_spark.operators.funnel import (
        cohort_retention,
        funnel_counts,
    )

    ev = t["events"]

    def funnel_arm(prefix: str, gap: int | None) -> DataFrame:
        return funnel_counts(
            ev, _FUNNEL_STEPS, max_gap_seconds=gap
        ).select(
            F.concat(
                F.lit(prefix),
                F.col("step").cast("string"),
                F.lit(":"),
                F.col("step_name"),
            ).alias("grp"),
            F.col("conversion").alias("m1"),
            null_m.alias("m2"),
            null_m.alias("m3"),
            null_m.alias("m4"),
            F.col("n_users").alias("n"),
        )

    coh = cohort_retention(ev, period="week").select(
        F.concat(
            F.lit("cohort:"),
            F.col("cohort").cast("string"),
            F.lit(":"),
            F.col("period_offset").cast("string"),
        ).alias("grp"),
        F.col("retention").alias("m1"),
        F.col("cohort_size").cast("double").alias("m2"),
        null_m.alias("m3"),
        null_m.alias("m4"),
        F.col("n_active").alias("n"),
    )
    # r9: declarative data-quality expectations (operators/
    # expectations.py) — one codegen aggregate for the row-level
    # checks, one bounded agg per set-level check, every count
    # recomputed from scratch in SQL
    from cod_stats_spark.operators.expectations import check_expectations

    dq_li = check_expectations(
        t["lineitem"],
        [
            {"check": "not_null", "column": "l_quantity"},
            {"check": "range", "column": "l_quantity", "lo": 1, "hi": 25},
            {"check": "range", "column": "l_discount", "lo": 0.0, "hi": 0.1},
            {"check": "accepted_values", "column": "l_returnflag",
             "values": ["A", "N", "R"]},
            {"check": "unique", "columns": ["l_orderkey", "l_linenumber"]},
        ],
    )
    dq_ord = check_expectations(
        t["orders"],
        [
            {"check": "matches", "column": "o_orderpriority",
             "pattern": "^[1-5]-"},
            {"check": "unique", "columns": ["o_orderkey"]},
            {"check": "referential", "column": "o_custkey",
             "ref": t["customer"], "ref_column": "c_custkey"},
        ],
    )
    dq = dq_li.unionByName(dq_ord).select(
        F.concat(F.lit("dq:"), F.col("check")).alias("grp"),
        F.col("n_violations").cast("double").alias("m1"),
        F.col("passed").cast("double").alias("m2"),
        null_m.alias("m3"),
        null_m.alias("m4"),
        F.col("n_rows").alias("n"),
    )
    # r11: URL/domain curation arm (functions/url.py) — host
    # extraction + canonicalization + registered domain + subdomain
    # blocklist + the domain_stats rollup, over synthetic per-doc
    # URLs (identical construction in the oracle)
    from cod_stats_spark.functions.url import (
        domain_matches,
        domain_stats,
        registered_domain,
        url_host,
    )

    docs_url = t["documents"].withColumn("url", _dom_url_expr())
    host = url_host(F.col("url"))
    blk = (
        docs_url.select(
            registered_domain(host).alias("domain"),
            domain_matches(host, _DOM_BLOCK).cast("int").alias("_blk"),
        )
        .groupBy("domain")
        .agg(F.sum("_blk").alias("_nblk"))
    )
    # null-safe join key: the no-parseable-host group is domain NULL
    # on BOTH sides; a plain equi-join would leave its _nblk NULL
    # while the oracle computes 0
    dom = (
        domain_stats(docs_url).alias("ds")
        .join(
            blk.alias("blk"),
            F.col("ds.domain").eqNullSafe(F.col("blk.domain")),
            "left",
        )
        .select(
            F.concat(
                F.lit("dom:"), F.coalesce(F.col("ds.domain"), F.lit("~"))
            ).alias("grp"),
            F.col("n_chars").cast("double").alias("m1"),
            F.col("_nblk").cast("double").alias("m2"),
            F.col("n_hosts").cast("double").alias("m3"),
            null_m.alias("m4"),
            F.col("n_docs").alias("n"),
        )
    )
    # r13: loaded->64-rule PSL arm — the Spark side dispatches through
    # _with_domain_key to the with_registered_domain broadcast-join
    # RELATION path (rule count > _REGEX_RULE_LIMIT), strip_www
    # auto-resolves to False (www-anchored exception present); the
    # oracle replays the same rules as the full regex alternation
    docs_psl = t["documents"].withColumn("url", _dompsl_url_expr())
    dompsl = domain_stats(
        docs_psl,
        suffixes=_PSL_GATE_SUFFIXES,
        exceptions=_PSL_GATE_EXC,
    ).select(
        F.concat(
            F.lit("dompsl:"), F.coalesce(F.col("domain"), F.lit("~"))
        ).alias("grp"),
        F.col("n_chars").cast("double").alias("m1"),
        F.col("n_hosts").cast("double").alias("m2"),
        null_m.alias("m3"),
        null_m.alias("m4"),
        F.col("n_docs").alias("n"),
    )
    # r12: HTML→text extraction arm (functions/html.py) — the whole
    # markup-strip + entity-decode + C4 line-cleaning stage over
    # synthetic pages (identical construction in the oracle); the
    # group key packs an md5 of every doc's cleaned text, so the
    # extraction is value-verified byte for byte
    from cod_stats_spark.functions.html import (
        extract_text,
        html_to_text,
        kept_lines,
        normalized_lines,
    )

    docs_html = t["documents"].withColumn("h", _html_doc_expr())
    raw_h = html_to_text(F.col("h"))
    html_per_doc = docs_html.select(
        (F.col("doc_id") % 13).alias("bucket"),
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), extract_text(F.col("h"))
        ).alias("dct"),
        extract_text(F.col("h")).alias("ct"),
        F.size(normalized_lines(raw_h)).alias("n_all"),
        F.size(kept_lines(raw_h)).alias("n_kept"),
    )
    html_arm = (
        html_per_doc.groupBy("bucket")
        .agg(
            F.md5(
                F.array_join(F.array_sort(F.collect_list("dct")), "|")
            ).alias("h32"),
            F.sum(F.length("ct")).cast("double").alias("m1"),
            F.sum("n_all").cast("double").alias("m2"),
            F.sum("n_kept").cast("double").alias("m3"),
            F.sum(F.when(F.length("ct") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n"),
        )
        .select(
            F.concat(
                F.lit("html:"),
                F.col("bucket").cast("string"),
                F.lit(":"),
                F.substring("h32", 1, 12),
            ).alias("grp"),
            "m1", "m2", "m3", null_m.alias("m4"), "n",
        )
    )
    # r13: per-language tokenizer fertility/compression eval — ratios
    # of corpus-level SUMS over the two SQL-replayable counters. The
    # synthetic corpus is pure lowercase words (sub == ws trivially),
    # so the arm decorates each doc with deterministic digits +
    # punctuation — the counters must genuinely diverge for the
    # fertility column to verify anything. r14: the decoration also
    # appends a MULTIBYTE suffix (é = 2 UTF-8 octets, ™ = 3) so the
    # 'fertb:' arm's bytes-per-token columns — the compression
    # convention byte-level tokenizers are graded on — verify against
    # text where chars ≠ bytes, not a trivially-equal ASCII corpus
    from cod_stats_spark.operators.tokenizer_eval import fertility_stats

    fert_docs = t["documents"].withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" #"),
            F.col("doc_id").cast("string"), F.lit("%, ok! é™"),
        ),
    )
    fert_base = fertility_stats(fert_docs, "text", "lang")
    fert = fert_base.select(
        F.concat(F.lit("fert:"), F.col("lang")).alias("grp"),
        F.col("chars_per_ws").alias("m1"),
        F.col("chars_per_sub").alias("m2"),
        F.col("fert_sub").alias("m3"),
        F.round(F.col("toks_ws") / F.col("n_docs"), 6).alias("m4"),
        F.col("n_docs").alias("n"),
    )
    fertb = fert_base.select(
        F.concat(F.lit("fertb:"), F.col("lang")).alias("grp"),
        F.col("bytes_per_ws").alias("m1"),
        F.col("bytes_per_sub").alias("m2"),
        F.round(F.col("n_bytes") / F.col("n_chars"), 6).alias("m3"),
        F.round(F.col("n_bytes") / F.col("n_docs"), 6).alias("m4"),
        F.col("n_docs").alias("n"),
    )
    return (
        stats.unionByName(hist).unionByName(quant)
        .unionByName(prof).unionByName(prange)
        .unionByName(funnel_arm("funnel:", None))
        .unionByName(funnel_arm("funnelgap:", _FUNNEL_GAP_S))
        .unionByName(coh)
        .unionByName(dq)
        .unionByName(dom)
        .unionByName(dompsl)
        .unionByName(html_arm)
        .unionByName(fert)
        .unionByName(fertb)
    )


#: the 'ep' arm's per-language epoch weights — exercises integer
#: replication (zh 2×+fraction), plain doubling (es), explicit single
#: epoch (en), and the unlisted-domain default (fr/de keep epoch 0)
_EP_WEIGHTS = {"zh": 2.5, "es": 2.0, "en": 1.0}


def _ep_oracle_arm() -> str:
    """DuckDB replay of sampling.epoch_expand over the same weight
    map — epoch arrays built per domain from the SAME constants
    (full copies + the md5-threshold fractional extra copy)."""
    cases = []
    for d, w in sorted(_EP_WEIGHTS.items()):
        full = int(w)
        thr = int(round(w - full, 9) * (1 << 20))
        base = "[" + ", ".join(str(i) for i in range(full)) + "]"
        if full == 0:
            base = "[]::INT[]"
        arr = base
        if thr > 0:
            arr = (
                f"list_concat({base}, CASE WHEN ('0x' || "
                f"substr(md5(doc_id::VARCHAR || 'ep'), 1, 5))::BIGINT "
                f"< {thr} THEN [{full}] ELSE []::INT[] END)"
            )
        cases.append(f"WHEN '{d}' THEN {arr}")
    return (
        "SELECT 'ep' AS tag, doc_id AS id, lang || ':' || e::VARCHAR AS info"
        " FROM (SELECT doc_id, lang, unnest(CASE lang "
        + " ".join(cases)
        + " ELSE [0] END) AS e FROM documents)"
    )


def _tmix_oracle_arm() -> str:
    """DuckDB replay of sampling.temperature_mixture (α=0.4 over
    char mass, upsampling capped at 4 epochs): per-language masses,
    the 9-dp temperature weights, and epoch_expand's replication +
    md5-threshold fractional copy all recomputed in SQL."""
    from cod_stats_spark.operators.sampling import (
        temperature_mixture_oracle_sql,
    )

    inner = temperature_mixture_oracle_sql(
        "documents", "doc_id", "lang", alpha=0.4,
        size_expr="n_chars", salt="tm13", max_weight=4.0,
    )
    return (
        "SELECT 'tmix' AS tag, id,"
        " domain || ':' || epoch::VARCHAR AS info"
        f" FROM ({inner})"
    )


def _umax_oracle_arm() -> str:
    """DuckDB replay of sampling.unimax_mixture (row-count mass,
    budget 400 docs, 3-epoch cap): the closed-form waterfill
    (capacity order, running prefix, breakpoint, one share) and the
    expansion all recomputed in SQL."""
    from cod_stats_spark.operators.sampling import unimax_mixture_oracle_sql

    inner = unimax_mixture_oracle_sql(
        "documents", "doc_id", "lang",
        budget=400.0, max_epochs=3.0, salt="um13",
    )
    return (
        "SELECT 'umax' AS tag, id,"
        " domain || ':' || epoch::VARCHAR AS info"
        f" FROM ({inner})"
    )


def _dsir_oracle_arm() -> str:
    """DuckDB replay of dsir_select over the documents corpus: exact
    integer micro-unit log weights (info column — integer formatting
    is engine-independent) and the exact Gumbel-top-300 sample."""
    from cod_stats_spark.operators.dsir import dsir_select_oracle_sql

    inner = dsir_select_oracle_sql(_dsir_gate_model(), n=300, salt="r13")
    return (
        "SELECT 'dsir' AS tag, doc_id AS id, dsir_micro::VARCHAR AS info"
        f" FROM ({inner})"
    )


@query(
    "stratified_sample",
    covers="EXT-sampling (deterministic md5-threshold stratified sampling + Efraimidis-Spirakis weighted sampling w/o replacement + train/val/test split assignment with group-level leakage guard + domain-mixture sampling — the exact samples reproduce in any engine; r11 'ep': sampling.epoch_expand per-domain UPSAMPLING — integer epoch replication + md5-selected fractional extra copies, the exact copy set replayed in SQL; r13 'dsir': operators/dsir.py DSIR importance resampling [Xie et al. 2023] — hashed bag-of-bigrams log p̂_target−log q̂_raw in integer micro-units + Gumbel top-k resampling, scoring AND the exact selected sample replayed in SQL; r13 'tmix': sampling.temperature_mixture — mC4/XLM-R p_d∝m_d^α temperature rebalancing, thinning AND upsampling in one epoch_expand pass with masses→9-dp weights→exact copy set all recomputed in SQL; r13 'umax': sampling.unimax_mixture — UniMax [Chung et al. 2023] budget waterfill with a per-domain epoch cap, the closed-form breakpoint/share arithmetic AND the copy set recomputed in SQL)",
    oracle=f"""
SELECT 'strat' AS tag, event_id AS id, event_type AS info
FROM events
WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 5))::BIGINT <
      CASE event_type
        WHEN 'view' THEN {int(0.1 * (1 << 20))}
        WHEN 'click' THEN {int(0.25 * (1 << 20))}
        ELSE {1 << 20}
      END
UNION ALL
SELECT 'wes' AS tag, event_id AS id, event_type AS info
FROM (
  SELECT event_id, event_type
  FROM events
  WHERE CAST(value AS DOUBLE) > 0
  ORDER BY round(pow(
             (CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 13))::BIGINT
                   AS DOUBLE) + 1.0) / {float(1 << 52)!r},
             1.0 / CAST(value AS DOUBLE)), 12) DESC,
           event_id ASC
  LIMIT 400
)
UNION ALL
SELECT 'split' AS tag, doc_id AS id,
       CASE WHEN ('0x' || substr(md5(source), 1, 5))::BIGINT
                 < {int(round(0.9 * (1 << 20)))} THEN 'train'
            WHEN ('0x' || substr(md5(source), 1, 5))::BIGINT
                 < {int(round(0.95 * (1 << 20)))} THEN 'val'
            ELSE 'test' END AS info
FROM documents
UNION ALL
SELECT 'mix' AS tag, d.doc_id AS id, d.lang AS info
FROM documents d
JOIN (
  WITH w(d, wt) AS (SELECT * FROM (VALUES
         ('en', 0.4), ('zh', 0.2), ('es', 0.2), ('fr', 0.2))),
  sizes AS (SELECT lang AS d, SUM(CAST(n_chars AS DOUBLE)) AS m
            FROM documents GROUP BY lang),
  st AS (SELECT min(m / wt) AS s_total FROM sizes JOIN w USING (d))
  SELECT d,
         CAST(floor(round(wt * (SELECT s_total FROM st) / m, 9)
                    * {1 << 20}) AS BIGINT) AS thr
  FROM sizes JOIN w USING (d)
) t ON d.lang = t.d
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 5))::BIGINT < t.thr
UNION ALL
{_ep_oracle_arm()}
UNION ALL
{_dsir_oracle_arm()}
UNION ALL
{_tmix_oracle_arm()}
UNION ALL
{_umax_oracle_arm()}
""",
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight deterministic-sampling shapes, tagged (widened r6, r7,
    r11, r13): 'strat' downsamples high-volume event types (view→10%,
    click→25%, rest whole) by md5 threshold; 'wes' draws a 400-row
    importance-weighted sample (weight = value) via Efraimidis-
    Spirakis keys; 'split' assigns 90/5/5 train/val/test hashed on the
    SOURCE column (the leakage guard: every doc of a source lands in
    one split); 'mix' thins the corpus to a 40/20/20/20 en/zh/es/fr
    char mixture ('de' outside the target drops, the scarcest domain
    is kept whole); 'ep' (r11) UPSAMPLES per domain — zh 2.5 epochs,
    es 2, en 1, unlisted keep their single epoch, fractional copies
    md5-selected; 'dsir' (r13) resamples 300 docs by DSIR importance
    weight (fixed-λ hashed-bigram micro-unit sums, Gumbel top-k —
    info carries the exact INTEGER micro-unit log weight); 'tmix'
    (r13) temperature-rebalances the language mixture (α=0.4 over
    char mass, cap 4 epochs — en thins, scarce languages replicate,
    the weights DERIVED FROM THE DATA and recomputed by the oracle,
    unlike 'ep''s fixed map); 'umax' (r13) UniMax-allocates a 400-doc
    budget with a 3-epoch cap (closed-form waterfill — capacity
    order, running prefix, breakpoint, one equal share — recomputed
    in SQL). All eight are pure functions of the data, so the oracle
    engine draws IDENTICAL rows."""
    from cod_stats_spark.operators.sampling import (
        assign_splits,
        epoch_expand,
        mixture_sample,
        stratified_sample,
        weighted_sample,
    )

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    docs = t["documents"]
    strat = stratified_sample(
        ev, "event_id", "event_type", {"view": 0.1, "click": 0.25}
    ).select(
        F.lit("strat").alias("tag"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("info"),
    )
    wes = weighted_sample(ev, "event_id", "value", n=400).select(
        F.lit("wes").alias("tag"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("info"),
    )
    split = assign_splits(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
        group_col="source",
    ).select(
        F.lit("split").alias("tag"),
        F.col("doc_id").alias("id"),
        F.col("split").alias("info"),
    )
    mix = mixture_sample(
        docs, "doc_id", "lang",
        {"en": 0.4, "zh": 0.2, "es": 0.2, "fr": 0.2},
        size_col="n_chars",
    ).select(
        F.lit("mix").alias("tag"),
        F.col("doc_id").alias("id"),
        F.col("lang").alias("info"),
    )
    ep = epoch_expand(docs, "doc_id", "lang", _EP_WEIGHTS).select(
        F.lit("ep").alias("tag"),
        F.col("doc_id").alias("id"),
        F.concat(
            F.col("lang"), F.lit(":"), F.col("epoch").cast("string")
        ).alias("info"),
    )
    from cod_stats_spark.operators.dsir import dsir_select
    from cod_stats_spark.operators.sampling import temperature_mixture

    dsir = dsir_select(
        docs, _dsir_gate_model(), n=300, salt="r13", micro_col="_m"
    ).select(
        F.lit("dsir").alias("tag"),
        F.col("doc_id").alias("id"),
        F.col("_m").cast("string").alias("info"),
    )
    tmix = temperature_mixture(
        docs, "doc_id", "lang", alpha=0.4,
        size_col="n_chars", salt="tm13", max_weight=4.0,
    ).select(
        F.lit("tmix").alias("tag"),
        F.col("doc_id").alias("id"),
        F.concat(
            F.col("lang"), F.lit(":"), F.col("epoch").cast("string")
        ).alias("info"),
    )
    from cod_stats_spark.operators.sampling import unimax_mixture

    umax = unimax_mixture(
        docs, "doc_id", "lang", budget=400.0, max_epochs=3.0, salt="um13"
    ).select(
        F.lit("umax").alias("tag"),
        F.col("doc_id").alias("id"),
        F.concat(
            F.col("lang"), F.lit(":"), F.col("epoch").cast("string")
        ).alias("info"),
    )
    return (
        strat.unionByName(wes).unionByName(split)
        .unionByName(mix).unionByName(ep).unionByName(dsir)
        .unionByName(tmix).unionByName(umax)
    )


_BM25_SQL_BODY = """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
ex AS (SELECT doc_id, len(ws) AS doc_len, unnest(ws) AS term FROM tok),
dtf AS (
  SELECT doc_id, term, count(*) AS tf, first(doc_len) AS doc_len
  FROM ex GROUP BY doc_id, term
),
doclens AS (SELECT doc_id, first(doc_len) AS doc_len FROM dtf GROUP BY doc_id),
st AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(doc_len) AS avg_len
  FROM doclens
),
idf AS (SELECT term, count(*) AS df FROM dtf GROUP BY term),
scored_a AS (
  SELECT d.doc_id,
         round(sum( ln(1.0 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
                    * (CAST(d.tf AS DOUBLE) * (1.2 + 1.0))
                    / (CAST(d.tf AS DOUBLE)
                       + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avg_len)) ), 6)
           AS score
  FROM dtf d JOIN idf i USING (term) CROSS JOIN st s
  WHERE d.term IN ({terms_a})
  GROUP BY d.doc_id
),
ranked_a AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS "rank"
  FROM scored_a QUALIFY "rank" <= 20
),
scored_b AS (
  SELECT d.doc_id,
         round(sum( ln(1.0 + (s.n_docs - i.df + 0.5) / (i.df + 0.5))
                    * (CAST(d.tf AS DOUBLE) * (1.2 + 1.0))
                    / (CAST(d.tf AS DOUBLE)
                       + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avg_len)) ), 6)
           AS score
  FROM dtf d JOIN idf i USING (term) CROSS JOIN st s
  WHERE d.term IN ({terms_b})
  GROUP BY d.doc_id
),
ranked_b AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS "rank"
  FROM scored_b QUALIFY "rank" <= 20
),
rrf AS (
  SELECT doc_id, round(sum(1.0 / CAST(60 + "rank" AS DOUBLE)), 6) AS score
  FROM (SELECT doc_id, "rank" FROM ranked_a
        UNION ALL
        SELECT doc_id, "rank" FROM ranked_b)
  GROUP BY doc_id
),
rrf_ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS "rank"
  FROM rrf
)
SELECT 'bm25a' AS tag, doc_id, "rank", score FROM ranked_a
UNION ALL
SELECT 'bm25b' AS tag, doc_id, "rank", score FROM ranked_b
UNION ALL
SELECT 'rrf' AS tag, doc_id, "rank", score FROM rrf_ranked
"""

_RETRIEVAL_QUERY_A = ["hash", "join", "merge"]
_RETRIEVAL_QUERY_B = ["scan", "filter", "vector"]


@query(
    "retrieval_bm25",
    covers="EXT-retrieval (BM25 top-k over a one-shuffle doc-term-frequency index, two queries + reciprocal-rank fusion; FULL value oracle replays the BM25 arithmetic in SQL)",
    oracle=_BM25_SQL_BODY.format(
        terms_a=", ".join(f"'{t}'" for t in _RETRIEVAL_QUERY_A),
        terms_b=", ".join(f"'{t}'" for t in _RETRIEVAL_QUERY_B),
    ),
)
def retrieval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval end-to-end: BM25 (k1=1.2, b=0.75, BM25+
    smoothed idf) ranks the documents corpus against two term queries,
    and reciprocal-rank fusion (k=60) combines the two rankings — the
    standard hybrid-search shape next to the embedding ANN gates.
    Scores round to 6 dp BEFORE ranking so ordering reproduces across
    engines.

    r7: the GATE serves both rankings FROM A WRITTEN DTF INDEX
    (`write_dtf_index` into a throwaway dir → `bm25_serve_multi`
    with its partition-pruned postings/terms reads), so the oracle's
    BM25 arithmetic now value-verifies the on-disk index path end to
    end — a wrong stored tf/df/doc-len diverges the hashes. The
    TIMED bench entry keeps the r6 in-memory plan via a BENCH_ONLY
    override (scope-stable; BENCH_NOTES.md)."""
    import os
    import tempfile

    from pyspark.sql import Window

    from cod_stats_spark.operators.retrieval import (
        bm25_serve_multi,
        rrf_fuse,
        write_dtf_index,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    idx = os.path.join(tempfile.mkdtemp(prefix="dtf_gate_"), "bm25")
    write_dtf_index(docs, idx)
    ranked = bm25_serve_multi(
        spark,
        idx,
        {"bm25a": _RETRIEVAL_QUERY_A, "bm25b": _RETRIEVAL_QUERY_B},
        k=20,
    ).persist()
    fused = rrf_fuse(
        [
            ranked.filter(F.col("tag") == t).select(
                F.col("doc_id").alias("id"), "rank"
            )
            for t in ("bm25a", "bm25b")
        ],
        "id",
        k=60,
    )
    wf = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    rows_f = (
        fused.select(
            F.col("id").alias("doc_id"), F.col("rrf_score").alias("score")
        )
        .withColumn("rank", F.row_number().over(wf))
        .select(F.lit("rrf").alias("tag"), "doc_id", "rank", "score")
    )
    rows_ab = ranked.select("tag", "doc_id", "rank", "score")
    return rows_ab.unionByName(rows_f)


def _retrieval_bm25_inmem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6 in-memory retrieval plan (DTF built and persisted in the
    session, one scoring pass, RRF) — kept as the TIMED `retrieval_bm25`
    bench body so cross-round timings stay scope-clean while the gate
    moved to the index-served path."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from cod_stats_spark.operators.retrieval import (
        bm25_rank_multi,
        doc_term_freqs,
        rrf_fuse,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # ONE materialized DTF index (the production posture: the DTF is
    # the index table you persist once), then ONE scoring pass ranks
    # both queries; the ≤40-row ranking is persisted because three
    # consumers read it (two RRF inputs + the tagged output rows)
    dtf = doc_term_freqs(docs).persist(StorageLevel.MEMORY_AND_DISK)
    dtf.count()  # barrier: 3 consumers race inside one action otherwise
    ranked = bm25_rank_multi(
        docs,
        {"bm25a": _RETRIEVAL_QUERY_A, "bm25b": _RETRIEVAL_QUERY_B},
        k=20,
        dtf=dtf,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    fused = rrf_fuse(
        [
            ranked.filter(F.col("tag") == t).select(
                F.col("doc_id").alias("id"), "rank"
            )
            for t in ("bm25a", "bm25b")
        ],
        "id",
        k=60,
    )
    wf = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    rows_f = (
        fused.select(
            F.col("id").alias("doc_id"), F.col("rrf_score").alias("score")
        )
        .withColumn("rank", F.row_number().over(wf))
        .select(F.lit("rrf").alias("tag"), "doc_id", "rank", "score")
    )
    rows_ab = ranked.select("tag", "doc_id", "rank", "score")
    return rows_ab.unionByName(rows_f)




# ------------------------------------------------------- bench-only
# Timed-bench variants that are deliberately NOT correctness gates:
# they exercise the PRODUCTION hash path (xxhash64 / hashed band keys)
# that a SQL oracle cannot reproduce. Correctness of that path is
# covered elsewhere — dedup_jaccard's full value oracle verifies the
# xxhash64 MinHash-LSH candidates end-to-end (all-pairs Jaccard in
# SQL == LSH∘verify on the gate data), and pytest covers xxhash64
# SimHash semantics — so these entries exist purely so BENCH_r{N}
# measures the hot path users run, per the round-2 verdict, while the
# md5-instrumented gate variants keep the driver's value oracle.

BENCH_ONLY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def _source_fingerprint(sf_dir: str, *names: str) -> str:
    """Short content fingerprint of source parquet trees: hash of the
    sorted (relative path, size, mtime_ns) listing. Used to key the
    persistent bench index cache so regenerated testdata under the
    SAME directory name can never be served from a stale index (r7
    verdict "What's wrong" #3). Listing-level only — cheap (no file
    reads), and any rewrite bumps mtime_ns."""
    import hashlib
    import os

    h = hashlib.sha256()
    for name in names:
        root = os.path.join(sf_dir, name)
        entries = []
        if os.path.isdir(root):
            for dirpath, _dirnames, filenames in os.walk(root):
                for f in filenames:
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    entries.append(
                        (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
                    )
        elif os.path.isfile(root):
            st = os.stat(root)
            entries.append((name, st.st_size, st.st_mtime_ns))
        for e in sorted(entries):
            h.update(repr(e).encode())
    return h.hexdigest()[:12]


def _bench_only(name: str):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep_session(spark)
            ship_package(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = f"bench_{name}"
        wrapped.__doc__ = fn.__doc__
        BENCH_ONLY[name] = wrapped
        return wrapped

    return deco


@_bench_only("dedup_minhash_prod_v2")
def dedup_minhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MinHash-LSH: xxhash64 base hash, per-band xxhash64
    bucket key (narrow shuffle). _v2 (r7): 8 bands × 4 rows — the
    s-curve tuning for the 0.7 near-dup threshold (midpoint
    (1/8)^(1/4) ≈ 0.6). The old 16×2 banding had its midpoint at
    0.25, so sub-threshold doc FAMILIES (boilerplate, template text —
    modeled by the sf10eq replica corpus) collided into tens of
    millions of false candidates that the verify join then paid for
    (BENCH_NOTES.md, SCALING.md r7). The md5-oracled `dedup_minhash`
    gate keeps 16×2 — its oracle replays banding exactly, and wider
    recall is the property IT proves."""
    docs = load_tables(spark, sf_dir)["documents"]
    return minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=32, bands=8)


@_bench_only("dedup_simhash_prod_v2")
def dedup_simhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SimHash near-dup pairs: xxhash64 token hash. _v2
    (r7): Manku block-combination banding (6 blocks, 3-block tables →
    20 tables of ~33-bit keys) + bucket cap 128, replacing contiguous
    4×16 / cap 1000. Two independent scale fixes (SCALING.md r7
    measurement): the wide keys kill the 16-bit scheme's n²/2¹⁶
    random-collision term AND lift recall at Hamming 4–8 (sf10eq:
    32.0M verified pairs found vs 1.9M — the family corpus really
    contains them), while the tighter cap bounds per-bucket all-pairs
    expansion to ≤64 pairs/member/table (linear in the corpus, was
    the 160M-pair / 20 GB-spill term at cap 1000). The md5-oracled
    `dedup_simhash` gate keeps contiguous banding — that is the
    scheme its SQL replays."""
    docs = load_tables(spark, sf_dir)["documents"]
    return simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=8, combo=(6, 3),
        max_bucket_size=128,
    )


@_bench_only("ann_cosine_topk")
def ann_cosine_topk_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k alone (the ann_topk gate unions all
    three strategies; the bench times each separately)."""
    return ann_cosine_topk(spark, sf_dir)


@_bench_only("ann_lsh_topk")
def ann_lsh_topk_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN alone (see ann_cosine_topk bench note) — the
    r1–r6 in-memory plan, frozen while the GATE moved to the
    written-index probe in r7 (BENCH_NOTES.md)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    return ann_lsh_topk(emb, "embedding", "vec_id", qvec, k=10, n_planes=4, multiprobe=2)


@_bench_only("sketches_only")
def sketches_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constant-memory sketch path alone (HLL + approx quantile),
    WITHOUT the exact countDistinct/percentile baselines the
    `sketch_aggregates` gate computes for its bounded-error oracle —
    so the bench measures what the sketches cost at scale, not the
    exact aggregates that dominate the gate variant."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
    )


@_bench_only("rollup_cube_v2")
def rollup_cube_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench alias for the `rollup_cube` gate. The `_v2` name marks a
    SCOPE change, not a plan change: round 5 widened the gate from one
    grouping shape to three (ROLLUP + CUBE + GROUPING SETS, tagged
    union), so its timing is not comparable to rounds 1-4's
    `rollup_cube` entry (BENCH_NOTES.md)."""
    return QUERIES["rollup_cube"](spark, sf_dir)


@_bench_only("ranking_windows_v2")
def ranking_windows_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench alias for the `ranking_windows` gate. `_v2`: round 5
    added first_value/last_value/nth_value/lead+lag offsets to the
    same single window pass — same shuffle+sort, more evaluated
    columns — so cross-round timings break at r5 (BENCH_NOTES.md)."""
    return QUERIES["ranking_windows"](spark, sf_dir)


@_bench_only("quality_tokens")
def quality_tokens_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `quality_tokens` entry — the r3–r7 single-projection plan
    (token/quality metrics + fingerprint over one scan), frozen while
    the gate widened with the unigram-LM likelihood columns in r8
    (BENCH_NOTES.md; the LM fit+score adds a model join the timed
    history never had, so the gate body and the timed body split —
    the new model path gets its own `lm_score` entry)."""
    docs = load_tables(spark, sf_dir)["documents"]
    txt = F.col("text")
    return docs.select(
        "doc_id",
        T.char_count(txt).alias("n_chars_calc"),
        T.token_count_ws(txt).alias("n_tokens_ws"),
        F.round(T.mean_word_length(txt), 6).alias("mean_word_len"),
        F.round(T.punct_ratio(txt), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(txt), 6).alias("stopword_ratio"),
        T.quality_score(txt).alias("quality"),
        T.fingerprint(txt).alias("fp"),
    )


@_bench_only("lm_score_v2")
def lm_score_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed unigram-LM scoring: fit the token→count model over the
    corpus and score every document's mean negative log-likelihood
    (operators/lm_score.py) — one token shuffle for the fit, a
    broadcast model join for the scoring. `_v2` (r9): the r8 entry
    executed the fit TWICE per call (the N/V totals action plus the
    unpersisted scoring join — ADVICE r8); the fix collects the
    driver-bounded model once and ships a literal logp relation, so
    the timed plan changed and the entry is renamed per the
    comparability protocol (BENCH_NOTES.md). Ends in a checksum
    aggregate REFERENCING the
    scored columns: bench.py's count() action would otherwise let
    Catalyst eliminate the unique-keyed left join and time only the
    scan (caught by the r8 shuffle audit — zero shuffle bytes where
    the token explode had to be)."""
    from cod_stats_spark.operators.lm_score import (
        unigram_lm_fit,
        unigram_lm_score,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    scored = unigram_lm_score(docs, unigram_lm_fit(docs))
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("lm_tokens").alias("total_tokens"),
        F.round(F.sum("lm_nll"), 4).alias("nll_checksum"),
    ).where(
        # a data-dependent predicate on the checksum: count() cannot
        # column-prune a filter, so the aggregate expressions — and
        # with them the scoring join — must evaluate (an ungrouped
        # aggregate alone gets pruned to "emit one row")
        F.col("nll_checksum") > F.lit(-1.0)
    )


@_bench_only("bpe_encode")
def bpe_encode_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed trained-BPE tokenization, whole job: corpus word counts
    (one shuffle, driver receives the bounded vocabulary), driver-side
    merge training, and the Arrow-batched memoized encode over every
    document (operators/bpe.py — new r8 entry, BENCH_NOTES.md). Not
    SQL-expressible (iterative greedy merges), so correctness is
    pinned by tests/test_bpe.py rather than an oracle slot."""
    from cod_stats_spark.operators.bpe import (
        bpe_encode,
        learn_bpe,
        word_counts,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    merges = learn_bpe(word_counts(docs), vocab_size=512)
    return bpe_encode(docs, merges).select("doc_id", "bpe_n_tokens")


@_bench_only("byte_bpe_encode")
def byte_bpe_encode_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed byte-level BPE tokenization, whole job (r13 — new entry,
    new scope; BENCH_NOTES.md "New entries (round 13)"): Arrow-batched
    pretoken counts (GPT-2 regex + bytes-to-unicode, bounded
    dictionary), driver-side merge training at eow=None (vocab 512
    past the 256-byte alphabet), and the memoized encode over every
    document (operators/byte_bpe.py — the GPT-2/tiktoken posture next
    to the subword-nmt `bpe_encode` entry). Not SQL-expressible; tests
    in tests/test_byte_bpe.py."""
    from cod_stats_spark.operators.byte_bpe import (
        byte_bpe_encode,
        train_byte_bpe,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    tok = train_byte_bpe(docs, vocab_size=512)
    return byte_bpe_encode(docs, tok).select("doc_id", "bpe_n_tokens")


@_bench_only("kn_lm_score_v2")
def kn_lm_score_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed Kneser-Ney trigram scoring, whole job (r13 — new entry,
    new scope; BENCH_NOTES.md "New entries (round 13)"): uni/bi/tri
    fits on a 20% subsample (the quality_classifier convention — the
    reference model comes from a curated slice, and it keeps the
    timed fit proportionate), then the full corpus scored through the
    five-relation broadcast forward pass. Ends in a checksum
    aggregate referencing the NLLs so count() cannot prune the
    scoring joins (the lm_score count-pruning hazard)."""
    from cod_stats_spark.operators.lm_score import (
        kn_lm_score,
        ngram_lm_fit_multi,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    ref = docs.where(F.col("doc_id") % 5 == 0)
    # r16 optimization (guide §2.4): uni/bi/tri count tables from ONE
    # tokenize+explode+GROUPING SETS pass (row-identical to the
    # separate fits, parity-pinned) instead of three passes; the
    # shared grouped table is persisted so the scorer's derived
    # statistics read one cache.
    scored = kn_lm_score(docs, *ngram_lm_fit_multi(ref, 3))
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("lm3_nll").alias("nll_checksum"),
    ).where(F.col("nll_checksum") > F.lit(-1))


@_bench_only("wordpiece_encode")
def wordpiece_encode_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed trained-WordPiece tokenization, whole job (r13 — new
    entry, new scope; BENCH_NOTES.md "New entries (round 13)"):
    corpus word counts (the shared bounded-dictionary shuffle),
    driver-side likelihood-gain merge training (vocab 512), and the
    Arrow-batched memoized greedy longest-match encode over every
    document (operators/wordpiece.py — the BERT posture next to the
    bpe_encode/unigram_encode entries). Not SQL-expressible
    (iterative trainer, greedy loop): correctness is pinned by
    tests/test_wordpiece.py rather than an oracle slot."""
    from cod_stats_spark.operators.bpe import word_counts
    from cod_stats_spark.operators.wordpiece import (
        learn_wordpiece,
        wordpiece_encode,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    vocab = learn_wordpiece(word_counts(docs), vocab_size=512)
    return wordpiece_encode(docs, vocab).select("doc_id", "wp_n_tokens")


@_bench_only("html_extract")
def html_extract_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed HTML→text extraction + C4 line cleaning (r12 — new
    entry, new scope; BENCH_NOTES.md "New entries (round 12)"): the
    whole functions/html.py stage over synthetic pages wrapping every
    document (the stat_aggregates 'html:' construction at gate scale;
    real markup byte-mass is what the regex chain's cost tracks).
    Pure projection, so it ends in a crc32 checksum aggregate with a
    data-dependent filter — bench.py's count() would otherwise prune
    the extraction entirely (the lm_score pattern; crc32 so the sum
    stays in 32-bit values and never wraps the guard, r11 review)."""
    from cod_stats_spark.functions.html import extract_text

    docs = load_tables(spark, sf_dir)["documents"]
    ct = extract_text(_html_doc_expr())
    return (
        docs.select(ct.alias("ct"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.crc32(F.col("ct"))).alias("checksum"),
            F.sum(F.length("ct")).alias("n_chars"),
        )
        .where(F.col("checksum") > F.lit(-1))
    )


@_bench_only("quantiles")
def quantiles_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `quantiles` entry — same plan as the r1–r5 gate; the
    oracle rows now live in the stat_aggregates union (BENCH_NOTES.md)."""
    return _quantiles_body(spark, sf_dir)


@_bench_only("rolling_orders")
def rolling_orders_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `rolling_orders` entry — the r3–r5 ROWS-frames plan,
    frozen while the gate widened with RANGE time frames in r6
    (BENCH_NOTES.md; bench.py merges BENCH_ONLY over QUERIES, so this
    override keeps the timed work comparable)."""
    both = _rolling_orders_rows(spark, sf_dir)
    return both.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice_sum_roll4", 2).alias("o_totalprice_sum_roll4"),
        F.round("o_totalprice_avg_roll4", 4).alias("o_totalprice_avg_roll4"),
        F.col("o_orderkey_count_roll4").alias("n_roll4"),
        F.round("o_totalprice_sum_cume", 2).alias("o_totalprice_sum_cume"),
        F.col("o_orderkey_count_cume").alias("n_cume"),
    )


@_bench_only("curate_corpus")
def curate_corpus_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone funnel as a timed entry (r6 verdict task 7):
    quality gate → exact+near dedup → decontamination → pack → shard
    WRITE, end to end including the driver-materializing stage counts
    and the on-disk shard/manifest round-trip — the whole-job number
    cross-round funnels are tracked by. Same parameters as the
    oracle-verified funnel inside the `dedup_pipeline` gate; output
    (the manifest) is computed FROM the written table."""
    import os
    import tempfile

    from cod_stats_spark.plans.curation import curate_corpus

    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tmp_root = os.path.join(repo, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    out_dir = tempfile.mkdtemp(prefix="curate_bench_", dir=tmp_root)
    manifest, _ = curate_corpus(
        corpus,
        bench,
        os.path.join(out_dir, "shards"),
        min_quality=0.25,
        jaccard_threshold=0.7,
        num_hashes=32,
        bands=8,
        decontam_ngram_n=3,
        decontam_min_overlap=2,
        token_budget=2048,
        salt="curate",
    )
    return manifest


@_bench_only("dedup_pipeline_v2")
def dedup_pipeline_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `dedup_pipeline` entry — the survivors-only composite
    plan (the GATE widened in r7 with the curation-funnel tagged
    union; bench.py merges BENCH_ONLY over QUERIES, so this override
    keeps the timed work scope-clean). _v2 (r7): LSH banding retuned
    16×2 → 8×4 for the 0.7 threshold after the sf10eq audit measured
    the old banding generating 19.8M candidates for 1,044 true dups
    (5 GB shuffle, 28 GB spill — BENCH_NOTES.md, SCALING.md)."""
    return _dedup_pipeline_survivors(spark, sf_dir)


@_bench_only("retrieval_bm25_serve")
def retrieval_bm25_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-only BM25 serving against the on-disk DTF index — the
    round-6 verdict's index-build/query split ("What's wrong" #2). The
    `retrieval_bm25` gate deliberately times DTF construction + the
    full query battery + RRF (the cold-plan protocol); THIS entry
    times what the two-query ranking battery costs once
    `write_dtf_index` has been paid: ONE action of partition-pruned
    postings/terms reads + broadcast idf + rank-limit-pushed top-k.
    The index is built on the first call per sf_dir CONTENT (that
    run's timing is discarded by bench.py's min-of-2; see
    BENCH_NOTES.md, which also records the measured job-constant
    floor this entry sits on). The cache key includes a fingerprint
    of the source parquet files (r7 verdict "What's wrong" #3:
    keying by directory NAME alone served a stale index if the
    driver regenerated testdata in place)."""
    import os

    from cod_stats_spark.operators.retrieval import (
        bm25_serve_multi,
        write_dtf_index,
    )

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    fp = _source_fingerprint(sf_dir, "documents.parquet")
    idx = os.path.join(repo, ".bench_idx", f"{tag}-{fp}", "bm25")
    if not os.path.isdir(os.path.join(idx, "stats")):
        docs = load_tables(spark, sf_dir)["documents"]
        write_dtf_index(docs, idx)
    return bm25_serve_multi(
        spark,
        idx,
        {"bm25a": _RETRIEVAL_QUERY_A, "bm25b": _RETRIEVAL_QUERY_B},
        k=20,
    )


@_bench_only("shard_assign")
def shard_assign_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `shard_assign` entry — the r3–r6 pure-assignment plan
    (fixed-size prefix scan + mod projection, no I/O), frozen while
    the GATE added the fragment→compact→read-back round-trip in r7
    (BENCH_NOTES.md)."""
    from cod_stats_spark.operators.sharding import (
        assign_shards_fixed_size,
        assign_shards_mod,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    fixed = assign_shards_fixed_size(docs, "doc_id", shard_size=100).select(
        "doc_id", "row_idx", F.col("shard_id").alias("shard_fixed")
    )
    mod = assign_shards_mod(docs, "doc_id", n_shards=16).select(
        "doc_id", F.col("shard_id").alias("shard_mod")
    )
    return fixed.join(mod, "doc_id")


@_bench_only("retrieval_bm25")
def retrieval_bm25_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `retrieval_bm25` entry — the r6 in-memory cold plan
    (session DTF build + 2 queries + RRF), frozen while the GATE
    moved to the written-index serve path in r7 (BENCH_NOTES.md)."""
    return _retrieval_bm25_inmem(spark, sf_dir)


@_bench_only("decontaminate")
def decontaminate_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed `decontaminate` entry — the r1–r7 pairwise n-gram
    reporting plan, frozen while the GATE widened into the
    ngram/winnow tagged union in r8 (BENCH_NOTES.md; bench.py merges
    BENCH_ONLY over QUERIES, so this override keeps the timed work
    scope-clean and the signature golden unchanged)."""
    from cod_stats_spark.operators.decontaminate import contamination_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return contamination_pairs(
        corpus, bench, "text", "doc_id", ngram_n=3, min_overlap=2
    )


@_bench_only("decontaminate_clean")
def decontaminate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level decontamination CLEANING path (r7): the corpus is
    anti-joined against docs whose distinct 3-grams hit the benchmark
    UNION's gram set >= 2 times — one distinct gram set, each corpus
    gram matched at most once, output linear in corpus grams. This is
    the shape `curate_corpus` and any at-scale corpus clean runs; the
    `decontaminate` gate keeps timing the per-(doc, bench) REPORTING
    join, whose intermediate is Σ_g cnt_c(g)·cnt_b(g) (the r7 sf10eq
    audit measured that superlinear — SCALING.md)."""
    from cod_stats_spark.operators.decontaminate import decontaminate

    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return decontaminate(
        corpus, bench, "text", "doc_id", ngram_n=3, min_overlap=2
    )


@_bench_only("dedup_winnow")
def dedup_winnow_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production winnowing containment detector (r8, new entry/new
    scope): xxhash64 char-8-gram hashes, window-4 minima selection,
    fingerprint-bucket pairing with the stop-fingerprint cap at 100
    (the synthetic corpus is template-generated, so boilerplate
    fingerprints dominate — the cap is what bounds pairing to
    <= cap·|fps|, the same discipline as decontaminate's
    max_gram_df; measured 9.5M pairs/18.8s uncapped-ish at cap 1000
    vs 194k/4.5s at cap 100 on sf0.1). The md5_60-instrumented gate
    variant lives in `dedup_jaccard` (method='winnow') with a FULL
    SQL oracle."""
    from cod_stats_spark.operators.dedup import winnow_overlap_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    return winnow_overlap_pairs(
        docs, "text", "doc_id", k=8, w=4, min_shared=2, max_fp_df=100
    )


@_bench_only("explode_words")
def explode_words_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed word explode — the r1-r8 word-frequency plan, frozen
    while the gate widened with the r9 event-path arms
    (BENCH_NOTES.md)."""
    docs = load_tables(spark, sf_dir)["documents"]
    exploded = docs.select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("word")
    )
    agg = exploded.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return top_k(agg, [("n_occurrences", True), ("word", False)], 20)


@_bench_only("dedup_exact")
def dedup_exact_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed exact dedup — the r1-r8 fingerprint-groupBy plan, frozen
    while the gate widened into the r9 tagged union (substring-span +
    chunk-content arms; BENCH_NOTES.md). The substring pass gets its
    own `dedup_substring` entry."""
    docs = load_tables(spark, sf_dir)["documents"]
    return exact_dedup(docs, "text", "doc_id")


@_bench_only("pack_sequences")
def pack_sequences_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed packing — the r1-r8 prefix-scan plan, frozen while the
    gate widened with the r9 'chunk' boundary arm (BENCH_NOTES.md)."""
    from cod_stats_spark.operators.packing import pack_sequences

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", T.token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(toks, "n_tokens", "doc_id", budget=2048)


@_bench_only("asof_join_orders")
def asof_join_orders_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed as-of join — the r1-r8 union+window plan, frozen while
    the gate widened with the r9 SCD2 arms (BENCH_NOTES.md)."""
    from cod_stats_spark.operators.asof_join import asof_join

    t = load_tables(spark, sf_dir)
    right = (
        t["orders"]
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
        )
        .agg(F.max("o_totalprice").alias("last_order_price"))
    )
    left = t["events"].select("event_id", "user_id", "ts")
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ots",
        right_payload=["last_order_price"],
    )
    return out.select("event_id", "user_id", "ts", "last_order_price")


@_bench_only("funnel_retention")
def funnel_retention_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed event-stream analytics pair (r9, new entry —
    BENCH_NOTES.md "New entries"): the 4-step strict-sequential
    funnel (three user-key joins over shrinking populations) plus the
    weekly cohort-retention triangle (first-touch agg + cohort-grid
    agg) over the full events table. Ends in a filtered checksum
    aggregate referencing both results — the funnel's per-step counts
    are constant-row aggregates count() would otherwise eliminate
    (the lm_score hazard)."""
    from cod_stats_spark.operators.funnel import (
        cohort_retention,
        funnel_counts,
    )

    ev = load_tables(spark, sf_dir)["events"]
    fun = funnel_counts(ev, _FUNNEL_STEPS).agg(
        F.sum("n_users").alias("_fu")
    )
    coh = cohort_retention(ev, period="week").agg(
        F.sum("n_active").alias("_ca"),
        F.round(F.sum("retention"), 4).alias("_cr"),
    )
    return (
        fun.crossJoin(coh)
        .select(
            (F.col("_fu") + F.col("_ca")).alias("users_checksum"),
            F.col("_cr").alias("retention_checksum"),
        )
        .where(F.col("users_checksum") > F.lit(-1))
    )


@_bench_only("dedup_substring")
def dedup_substring_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed ExactSubstr span dedup, production posture (r9, new
    entry — BENCH_NOTES.md "New entries"): xxhash64 gram member,
    25-token granularity (long enough that only real template
    boilerplate repeats on this corpus, short enough that the
    synthetic replicas' shared runs are actually found), remove-all
    policy, whole job through the cleaned-text rebuild. Ends in a
    checksum aggregate REFERENCING the rebuilt text + span counts —
    bench.py's count() would otherwise eliminate the unique-keyed
    per-doc left join and the rebuild projection (the lm_score
    count-pruning hazard, tests/test_plan_audit.py)."""
    from cod_stats_spark.operators.substring import substring_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    out = substring_dedup(docs, n=25, min_count=2)
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_dup_tokens").alias("dup_tokens"),
        F.sum(F.crc32(F.col("clean_text"))).alias("clean_checksum"),
    ).where(F.col("clean_checksum") > F.lit(-1))


@_bench_only("dsir_select")
def dsir_select_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed DSIR selection, whole job (r13, new entry —
    BENCH_NOTES.md "New entries"): fit the importance model at the
    production posture (dim 2^14 hashed bigram buckets, xxhash64 —
    two explode→fid count shuffles, one per corpus, ≤dim collected
    rows each) with the English documents as the TARGET and the whole
    corpus as RAW (the DSIR paper's domain-match shape), then
    Gumbel-top-k resample 20% of the corpus — dim 2^14 exceeds the
    4096 codegen-literal cap, so scoring runs the RELATION path
    (broadcast λ join + one id shuffle) into the top-k heap merge
    (the 100 TB posture). Ends in a checksum aggregate
    referencing the micro-unit weights so bench.py's count() cannot
    prune the scoring join (the lm_score count-pruning hazard,
    tests/test_plan_audit.py)."""
    from cod_stats_spark.operators.dsir import dsir_fit_tagged, dsir_select

    docs = load_tables(spark, sf_dir)["documents"]
    n = max(1, int(docs.count() * 0.2))
    # r16 optimization (guide §2.4): the target is a predicate over
    # the raw corpus, so BOTH bucket distributions come from one
    # explode+shuffle pass (dsir_fit_tagged — bit-identical λ6 to the
    # two-pass dsir_fit, parity-pinned) instead of two corpus passes
    model = dsir_fit_tagged(
        docs, F.col("lang") == "en", dim=1 << 14, ngrams=2
    )
    picked = dsir_select(docs, model, n=n, micro_col="_m")
    return picked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_m").alias("weight_checksum"),
    ).where(F.col("weight_checksum").isNotNull())


@_bench_only("line_dedup")
def line_dedup_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed duplicate-line removal, whole job (r14, new entry —
    BENCH_NOTES.md "New entries"): the corpus re-laid as 5-token
    lines (the gate's synthesis — testdata docs carry no newlines),
    then the RefinedWeb/Dolma keep-first pass: posexplode → one
    line-hash shuffle (groupBy min-struct, no global sort) → one
    doc-id shuffle reassembling survivors in order. Ends in a
    checksum over the rebuilt text + kept counts so count() cannot
    prune the reassembly (the lm_score count-pruning hazard)."""
    from cod_stats_spark.operators.chunking import chunk_documents
    from cod_stats_spark.operators.line_dedup import line_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    lined = (
        chunk_documents(docs, max_tokens=5, stride=5)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    out = line_dedup(lined, "text", "doc_id")
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_kept").alias("kept_checksum"),
        F.sum(F.crc32(F.col("clean_text").cast("binary"))).alias(
            "text_checksum"
        ),
    ).where(F.col("text_checksum").isNotNull())


@_bench_only("arpa_lm_score")
def arpa_lm_score_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed imported-ARPA scoring, whole job (r15, new entry —
    BENCH_NOTES.md "New entries"): score the corpus under the gate's
    FIXED order-5 backoff model (_ARPA_GATE_ROWS — the published
    KenLM/CCNet artifact shape) through the broadcast path: pos
    explode → 13 slim broadcast model joins (target logp, 4 context
    vocabulary probes, 4 per-order logp, 3 context-backoff) → one
    id-shuffle aggregate. Ends in a checksum referencing the NLL so
    bench.py's count() cannot prune the model joins (the lm_score
    count-pruning hazard, tests/test_plan_audit.py)."""
    from cod_stats_spark.operators.lm_score import arpa_lm_score

    docs = load_tables(spark, sf_dir)["documents"]
    out = arpa_lm_score(docs, _arpa_gate_model(spark))
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("arpa_tokens").alias("token_checksum"),
        F.round(F.sum("arpa_nll"), 4).alias("nll_checksum"),
    ).where(F.col("nll_checksum").isNotNull())


@_bench_only("kn5_score")
def kn5_score_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed order-5 Kneser-Ney scoring, whole job (r16, new entry —
    BENCH_NOTES.md "New entries"): ngram fits for orders 1..5 on a
    20% subsample (the kn_lm_score_v2 convention — the reference
    model comes from a curated slice, and it keeps the timed fit
    proportionate), then the full corpus scored through the
    nine-relation broadcast forward pass of kn_ngram_score — the
    CCNet 5-gram posture fit natively instead of imported. Ends in a
    checksum aggregate referencing the NLLs so count() cannot prune
    the scoring joins (the lm_score count-pruning hazard)."""
    from cod_stats_spark.operators.lm_score import (
        kn_ngram_score,
        ngram_lm_fit_multi,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    ref = docs.where(F.col("doc_id") % 5 == 0)
    # r16 optimization (guide §2.4): all five count tables from ONE
    # tokenize+explode+GROUPING SETS pass (ngram_lm_fit_multi — row-
    # identical to the per-order fits, parity-pinned) instead of five
    # separate explode+shuffle passes over the reference slice; the
    # shared grouped table is persisted so every model-support
    # aggregate inside kn_ngram_score reads one cache.
    scored = kn_ngram_score(docs, ngram_lm_fit_multi(ref, 5))
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kn_nll").alias("nll_checksum"),
    ).where(F.col("nll_checksum") > F.lit(-1))


@_bench_only("media_phash")
def media_phash_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed media perceptual-hash near-dup, whole job (r16, new
    entry — BENCH_NOTES.md "New entries"): synthesize the binary-PGM
    rasters from the corpus (the dedup_exact phash arms'
    construction), decode + hash every payload through the
    Arrow-batched phash_media pass, band the aHashes
    (hash64_near_pairs, the SimHash machinery), and end in a checksum
    aggregate over the verified pair set so count() cannot prune the
    hashing (the lm_score count-pruning hazard)."""
    from cod_stats_spark.operators.dedup import hash64_near_pairs
    from cod_stats_spark.operators.multimodal import (
        make_pgm_media,
        phash_media,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # scale the base-image count WITH the corpus so the expected
    # duplicate-group size stays ~82 (= 5000/61, the sf0.1 shape) at
    # every stratum — the realistic crawl posture: DISTINCT images
    # grow with the data, per-image multiplicity doesn't. A fixed
    # modulus made group size linear in corpus size and the verified
    # pair set QUADRATIC, which OOM'd the sf10eq scaling audit (r16);
    # with this the pair set is linear in n. max(..) keeps the plan
    # literal at every driver SF (≤ sf0.1 resolves to 61) identical
    # to the recorded signature; the extra count() inside the timed
    # window is a metadata job (parquet footers, not rows).
    km = max(_PHASH_KEY_MOD, docs.count() * _PHASH_KEY_MOD // 5000)
    media = make_pgm_media(
        docs.select(
            "doc_id",
            (F.col("doc_id") % F.lit(km)).cast("string").alias("_key"),
            F.when(F.col("doc_id") % 3 == 0, F.col("doc_id")).alias(
                "_noise"
            ),
        ),
        "doc_id",
        "_key",
        noise_col="_noise",
    )
    pairs = hash64_near_pairs(
        phash_media(media),
        id_col="media_id",
        hash_col="ahash",
        max_hamming=3,
        bands=4,
        max_bucket_size=100_000,
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hamming").alias("hamming_checksum"),
    ).where(F.col("n_pairs") >= 0)


@_bench_only("quality_classifier")
def quality_classifier_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed supervised-quality job, whole pipeline (r10, new entry —
    BENCH_NOTES.md "New entries"): synthesize the fluent-vs-junk
    training set (the corpus labeled 1 ∪ its reversed-text corruption
    labeled 0, disjoint ids), fit the hashed bag-of-bigrams logistic
    model (dim 2^15, 5 full-batch GD iterations — each an exact
    distributed gradient: one doc shuffle, one fid shuffle over the
    once-persisted feature matrix), then score the ORIGINAL corpus
    through the production relation path (broadcast weight join, the
    100 TB posture; the array-literal codegen path caps at dim 4096).
    Ends in the filtered checksum aggregate referencing the scores so
    bench.py's count() cannot prune the scoring join (the lm_score
    count-pruning hazard, tests/test_plan_audit.py)."""
    from cod_stats_spark.operators.quality_classifier import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # train on a 20% labeled subsample, score the WHOLE corpus — the
    # CCNet posture (the quality model trains on a curated labeled
    # set, never the full 100 TB), and what keeps the timed fit
    # proportionate while still exercising real distributed gradients
    sample = docs.where(F.col("doc_id") % 5 == 0)
    labeled = sample.select(
        "doc_id", F.lit(1).alias("label"), "text"
    ).unionByName(
        sample.select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            F.lit(0).alias("label"),
            F.reverse(F.col("text")).alias("text"),
        )
    )
    model = quality_classifier_fit(
        labeled, dim=1 << 15, ngrams=2, iters=5, lr=10.0
    )
    scored = quality_classifier_score(docs, model, as_expression=False)
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("qc_score").alias("score_checksum"),
    ).where(F.col("score_checksum") > F.lit(-1))


@_bench_only("unigram_encode")
def unigram_encode_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed unigram-LM (SentencePiece-style) tokenization, whole job
    (r11, new entry — BENCH_NOTES.md "New entries"): distributed word
    counts (one explode + shuffle, the BPE trainer's corpus-sized
    step, capped at 20k distinct words — the bounded driver-state
    contract), driver-side EM training (seed substring vocabulary →
    EM + mass-pruning rounds down to 512 pieces), then Viterbi
    encoding the WHOLE corpus through the Arrow-batched memoized
    mapInPandas path (operators/unigram_lm.py). Ends in the filtered
    checksum aggregate referencing the token counts so bench.py's
    count() cannot prune the encode (the lm_score count-pruning
    hazard)."""
    from cod_stats_spark.operators.unigram_lm import (
        unigram_encode,
        unigram_fit,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    vocab = unigram_fit(
        docs,
        vocab_size=512,
        seed_size=4096,
        max_words=20_000,
        em_iters=1,
        shrink_factor=0.5,
    )
    encoded = unigram_encode(docs, vocab)
    return encoded.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ulm_n_tokens").alias("token_checksum"),
    ).where(F.col("token_checksum") > F.lit(-1))


@_bench_only("semantic_dedup")
def semantic_dedup_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed SemDeDup (operators/semantic.py — Abbas et al. 2023),
    whole job (r11, new entry — BENCH_NOTES.md "New entries"):
    md5-sample k = max(8, n/128) deterministic centroids (clusters
    bounded to ~128 members, the paper's posture and the SAME
    parameterization as tools/audit_olap.py's semantic_dedup case, so
    the recorded sf0.1/1eq/10eq audit rows cross-check this entry),
    zero-shuffle literal-centroid assignment, within-cluster n²/k
    pairing, worse-side drop keeping the farthest-from-centroid
    exemplar. Ends in the filtered checksum aggregate referencing the
    survivor cosines so bench.py's count() cannot prune the pairing
    join (the lm_score count-pruning hazard,
    tests/test_plan_audit.py)."""
    from cod_stats_spark.operators.semantic import semantic_dedup

    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.count()
    k = max(8, n // 128)
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")),
            F.col("vec_id"),
        )
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in sample]
    out = semantic_dedup(emb, "embedding", "vec_id", cents, threshold=0.9)
    return out.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.round(F.sum("centroid_cosine"), 4).alias("cos_checksum"),
    ).where(
        # data-dependent predicate: count() cannot column-prune a
        # filter, so the aggregate — and the pairing plan under it —
        # must evaluate
        F.col("cos_checksum") > F.lit(-1e18)
    )


@_bench_only("training_sequences")
def training_sequences_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed concatenate-then-split training-window assembly
    (packing.training_sequences, r11, new entry — BENCH_NOTES.md "New
    entries"): whitespace-tokenize the whole documents table, place
    every doc on the md5 tape (two-phase prefix scan), emit the slice
    rows, and assemble every exactly-2048-token window through the
    seq_id shuffle. Ends in the filtered checksum aggregate over the
    window CONTENT (crc32 of the joined tokens — 32-bit summands, so
    the bigint sum cannot wrap negative and trip the guard the way a
    sum of 60-bit md5 values would after a handful of windows) —
    without it count() would prune the collect_list/flatten
    aggregation down to a row count (the lm_score hazard)."""
    from cod_stats_spark.operators.packing import training_sequences

    docs = load_tables(spark, sf_dir)["documents"]
    wins = training_sequences(
        docs.select("doc_id", T.words(F.col("text")).alias("_w")),
        "_w",
        "doc_id",
        seq_len=2048,
    )
    content = F.crc32(F.concat_ws(" ", "input_ids").cast("binary"))
    return wins.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(content).alias("content_checksum"),
    ).where(F.col("content_checksum") > F.lit(-1))


@_bench_only("knn_join_gemm")
def knn_join_gemm_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS-scored batch KNN (same query set as the knn_join gate; the
    r6 scale audit showed interpreted per-pair scoring is the brute-
    force path's bottleneck once |Q|x|C| grows — SCALING.md)."""
    from cod_stats_spark.operators.similarity import knn_join_gemm

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    return knn_join_gemm(emb, queries, "embedding", "vec_id", k=5)
