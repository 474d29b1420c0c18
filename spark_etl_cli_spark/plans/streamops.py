"""Structured Streaming query coverage over the ``events`` table.

Each query runs a genuine streaming pipeline — ``readStream`` file
source → stateful transformation → memory sink — driven to completion
with an ``availableNow`` trigger, then returns the materialized result
as a batch DataFrame so the driver's oracle compare applies. With
availableNow over a static dir the stream processes everything in one
epoch, so watermarks drop nothing and the results equal the batch
semantics the DuckDB oracles express.

Covered: tumbling windows, sliding windows, session windows (gap-based)
and a stream-stream interval join with watermarks on both sides — the
same shape as the reference's flagship streaming test (reference
``etl/src/test/scala/dev/mauch/spark/dfio/ETLTest.scala:143-157,174-177``).

Timestamp discipline: events.parquet carries µs-precision naive
timestamps; the stream schema reads ``ts`` as TIMESTAMP_NTZ and casts to
the session-tz TimestampType (session TZ pinned UTC, so the cast is
wall-clock identity — matching the DuckDB oracle). Outputs carry
epoch-second BIGINTs, never raw timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_etl_cli_spark.plans.registry import bcount, query

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming DataFrame with a proper timestamp."""
    from spark_etl_cli_spark.plans.registry import pin_session

    pin_session(spark)  # NTZ->LTZ cast below is TZ-sensitive
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# Spark disables AQE for stateful streaming, so the shuffle-partition
# count is taken literally as the number of state-store partitions —
# every micro-batch pays a per-partition state commit. Unlike batch
# (where AQE coalesces), this MUST be sized to state volume explicitly:
# ≈ executors x cores on a cluster, small for the sf0.1 backfill here.
STREAM_SHUFFLE_PARTITIONS = 8


def run_to_table(
    df: DataFrame,
    name: str,
    output_mode: str,
    shuffle_partitions: int = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink.

    The shuffle-partition conf is scoped to the stream's lifetime (it is
    captured at ``start()``); the session value is restored afterwards so
    batch queries keep their own sizing. The checkpoint is Spark's
    temporary one, which it deletes when the query succeeds. With
    checkpoints written through the FileSystem API
    (``session.BASE_CONFS``), the stateful probe of
    ``scripts/stream_fixed_cost.py`` ran as fast with its checkpoint on
    disk as on ``/dev/shm`` (4 vCPUs, 6 alternating runs).
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _epoch(col) -> F.Column:
    return F.unix_timestamp(col).cast("bigint")


# --- q50: tumbling 1h windowed aggregation ------------------------------
@query(
    "q50_stream_tumbling",
    oracle="""
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def q50_stream_tumbling(spark, sf_dir):
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    # streaming aggs can't COUNT(DISTINCT ...); size(collect_set()) is
    # the supported exact equivalent (state = the set, bounded per window)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        bcount("n"),
        F.size(F.collect_set("user_id")).cast("bigint").alias("n_users"),
        F.max("value").alias("max_value"),
    )
    res = run_to_table(agg, "q50_tumbling", "complete")
    return res.select(
        _epoch(F.col("w.start")).alias("window_start"),
        "event_type",
        "n",
        "n_users",
        "max_value",
    )


# --- q51: sliding 1h window, 30m slide ----------------------------------
@query(
    "q51_stream_sliding",
    oracle="""
    WITH b AS (
      SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS b30, *
      FROM events
    ),
    w AS (
      SELECT b30 - off * 1800 AS window_start, event_type, user_id
      FROM b CROSS JOIN (SELECT unnest([0, 1]) AS off)
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2
    """,
)
def q51_stream_sliding(spark, sf_dir):
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
    ).agg(bcount("n"))
    res = run_to_table(agg, "q51_sliding", "complete")
    return res.select(
        _epoch(F.col("w.start")).alias("window_start"), "event_type", "n"
    )


# --- q52: session windows (10-minute gap) --------------------------------
@query(
    "q52_stream_sessions",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL THEN 1
                  WHEN ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       + INTERVAL 10 MINUTE THEN 1
                  ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM o
    )
    SELECT user_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def q52_stream_sessions(spark, sf_dir):
    ev = stream_events(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = ev.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(bcount("n_events"))
    res = run_to_table(agg, "q52_sessions", "complete")
    return res.select(
        "user_id",
        _epoch(F.col("w.start")).alias("session_start"),
        "n_events",
    )


# --- q53: stream-stream interval join (watermarked both sides) ----------
# The reference's flagship streaming shape: equi key + time-interval
# predicate across two watermarked streams.
@query(
    "q53_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
    """,
)
def q53_stream_interval_join(spark, sf_dir):
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("c_ts")),
    ).select("click_id", "purchase_id")
    return run_to_table(joined, "q53_join", "append")


# --- q54: arbitrary stateful op (applyInPandasWithState) -----------------
# Custom per-key accumulator state — the operator class Spark's built-in
# aggregations can't express (streaming/stateful.py). Under availableNow
# the running values equal the batch aggregate, which the oracle states.
@query(
    "q54_stream_stateful",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_epoch,
           CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q54_stream_stateful(spark, sf_dir):
    from spark_etl_cli_spark.streaming.stateful import running_user_stats

    ev = stream_events(spark, sf_dir)
    out = running_user_stats(ev.select("user_id", "ts", "event_type"))
    return run_to_table(out, "q54_stateful", "update")


# --- q58: new-record detection via transformWithStateInPandas ------------
# The Spark 4 typed-state API (streaming/stateful.py RecordHighProcessor):
# emit exactly the rows that set a new per-user maximum, in event order.
# transformWithState requires the RocksDB state store provider, scoped to
# this query the same way shuffle partitions are.
@query(
    "q58_stream_record_highs",
    oracle="""
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max
      FROM events)
    WHERE prev_max IS NULL OR value > prev_max
    """,
)
def q58_stream_record_highs(spark, sf_dir):
    from spark_etl_cli_spark.streaming.stateful import (
        _tws_available,
        record_high_events,
    )

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    if _tws_available():
        # transformWithState supports only the RocksDB state store
        spark.conf.set(
            conf_key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    try:
        ev = stream_events(spark, sf_dir).select(
            "user_id", "event_id", "ts", "value"
        )
        out = record_high_events(ev)
        return run_to_table(out, "q58_record_highs", "append")
    finally:
        spark.conf.set(conf_key, prev)


# --- q55: streaming deduplication (dropDuplicates + watermark) -----------
# The stream reads events twice (self-union = every row duplicated) and
# streaming dropDuplicates restores exactly-once per event_id — state
# bounded by the watermark. Oracle = per-type distinct counts.
@query(
    "q55_stream_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q55_stream_dedup(spark, sf_dir):
    ev = stream_events(spark, sf_dir).select("event_id", "event_type", "ts")
    doubled = ev.unionByName(stream_events(spark, sf_dir).select(
        "event_id", "event_type", "ts"
    ))
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(bcount("n"))
    return run_to_table(agg, "q55_dedup", "complete")


# --- q56: stream-static join (enrichment) --------------------------------
# The standard streaming-enrichment shape: a watermarked event stream
# joined to a static dimension (customer) that Spark re-plans as a
# broadcast per micro-batch. Aggregates stay count/distinct/max-only so
# the oracle hash is float-agg-free.
@query(
    "q56_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MAX(value) AS max_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
)
def q56_stream_static_join(spark, sf_dir):
    from spark_etl_cli_spark.plans.registry import t

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        bcount("n_events"),
        F.size(F.collect_set("user_id")).cast("bigint").alias("n_users"),
        F.max("value").alias("max_value"),
    )
    return run_to_table(agg, "q56_stream_static", "complete")


# --- q120: dropDuplicatesWithinWatermark ----------------------------------
# The Spark 3.5+ bounded-state dedup: unlike q55's dropDuplicates
# (which keys state forever within the query), WithinWatermark expires
# each key's state once the watermark passes its event time — the only
# dedup that survives an unbounded stream of *new* keys. Same doubled
# input and oracle as q55: every duplicate arrives at the same event
# time, well inside the watermark delay.
@query(
    "q120_stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q120_stream_dedup_within_watermark(spark, sf_dir):
    ev = stream_events(spark, sf_dir).select("event_id", "event_type", "ts")
    doubled = ev.unionByName(
        stream_events(spark, sf_dir).select("event_id", "event_type", "ts")
    )
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(bcount("n"))
    return run_to_table(agg, "q120_dedup_ww", "complete")


# --- q148: stream-stream LEFT OUTER interval join -------------------------
# The last stream-join semantics class: unmatched clicks must emit a
# null-purchase row, but only once the (global, ms-truncated) watermark
# proves no match can still arrive — i.e. when c_ts + <interval> has
# passed min(max_click_ts, max_purchase_ts) - <delay>. availableNow
# runs a final no-data micro-batch whose watermark advance evicts and
# emits exactly those rows; clicks younger than that horizon are still
# in state at stream end and are (correctly) absent. The oracle states
# the full rule: matched pairs unconditionally, null rows iff
# epoch_us(c_ts) + 1h < floor_ms(least(max_c, max_p)) - 2h — Spark
# tracks event-time stats in MILLISECONDS, hence the floor-to-ms.
@query(
    "q148_stream_outer_join",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT (epoch_us(least(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')))
               // 1000) * 1000 - 7200000000 AS wm_us),
    j AS (SELECT c.click_id, p.purchase_id, c.c_ts
          FROM c LEFT JOIN p ON c.user_id = p.p_user
           AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)
    SELECT click_id, purchase_id
    FROM j, wm
    WHERE purchase_id IS NOT NULL
       OR epoch_us(c_ts) + 3600000000 < wm_us
    """,
)
def q148_stream_outer_join(spark, sf_dir):
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("click_id", "purchase_id")
    return run_to_table(joined, "q148_outer", "append")


# --- q149: CHAINED stateful operators (window agg -> window agg) ----------
# Spark 3.5+ multi-stateful append pipelines: per-(user, 15-min window)
# event counts feed a second tumbling-hour aggregation keyed on the
# FIRST aggregation's window column (window-on-window). Emission rule
# under availableNow: an hour emits iff hour_end <= final watermark
# (floor-to-ms of max ts, minus the 2h delay); every 15-min window
# inside an emitted hour necessarily ended earlier, so emitted hours
# are complete — which is exactly what the batch oracle states with
# its single cutoff.
@query(
    "q149_stream_chained_windows",
    oracle="""
    WITH wm AS (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 7200000000
                AS wm_us FROM events),
    s1 AS (
      SELECT user_id,
             epoch_us(time_bucket(INTERVAL 15 MINUTES, ts)) AS w15_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    s2 AS (
      SELECT (w15_us // 3600000000) * 3600000000 AS hour_us,
             CAST(COUNT(*) AS BIGINT) AS n_user_slots,
             CAST(SUM(n_events) AS BIGINT) AS n_events
      FROM s1 GROUP BY 1
    )
    SELECT hour_us AS hour_start_us, n_user_slots, n_events
    FROM s2, wm WHERE hour_us + 3600000000 <= wm_us
    """,
)
def q149_stream_chained_windows(spark, sf_dir):
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")
    s1 = ev.groupBy(
        "user_id", F.window("ts", "15 minutes").alias("w15")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    s2 = s1.groupBy(F.window(F.col("w15"), "1 hour").alias("wh")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_slots"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    out = s2.select(
        (F.unix_timestamp(F.col("wh.start")) * 1_000_000).alias(
            "hour_start_us"
        ),
        "n_user_slots",
        "n_events",
    )
    return run_to_table(out, "q149_chained", "append")
