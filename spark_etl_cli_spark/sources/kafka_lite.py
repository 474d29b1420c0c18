"""``kafka-lite://`` — a file-backed Kafka topic emulation.

The sandbox has no broker or kafka jar, so ``format("kafka")`` can only
be exercised up to the option boundary (see ``kafka_reader_contract`` /
``kafka_writer_contract`` in ``sources/optional.py``). This module
closes the rest of the gap: a topic is a directory of parquet segment
files whose rows carry EXACTLY the kafka source's record shape
(``key binary, value binary, topic, partition, offset, timestamp,
timestampType``), and reads/writes run through the SAME serde module
(``streaming/serde.py``) as the real connector — so the full
produce → serde → consume → diff pipeline of the reference's Test 1
(``etl/src/test/scala/dev/mauch/spark/dfio/ETLTest.scala:92-128``,
which needed a Testcontainers broker) runs end-to-end here with no
broker at all.

Semantics and their limits (documented, not hidden):
- Appends are atomic at segment-file granularity (a parquet part file
  is complete or absent), mirroring "a record is either in the log or
  not".
- ``offset`` is monotone ACROSS produces (the produce epoch — derived
  from the segment-file count — rides in the high bits) but NOT
  contiguous; within one produce the low bits are a deterministic
  hash tiebreak, because a batch DataFrame has no row order to
  preserve. Consumers that need ordering/uniqueness (which is what
  Kafka itself guarantees across partitions: nothing) are faithful;
  exact offset arithmetic is not emulated. Streaming produces go
  through ``foreachBatch`` so each micro-batch claims an epoch like a
  batch produce (at-least-once on restart — Kafka's own default
  producer contract).
- Streaming reads use Spark's native file streaming over the segment
  directory (new segments = new micro-batch input), giving watermarks,
  exactly-once file tracking, and checkpoint/resume for free.

Scale posture: segments are plain parquet written/read distributed;
nothing is collected. A 100 TB topic is just a 100 TB parquet dataset
with kafka's column contract.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_etl_cli_spark.sources.base import apply_watermark
from spark_etl_cli_spark.uri import ParsedUri

# the kafka source's fixed record schema (KafkaSourceProvider's output
# columns) — segment files store exactly this
KAFKA_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def _topic_dir(uri: ParsedUri) -> tuple[str, str]:
    """kafka-lite:///root/dir/topicname → (dir, topic)."""
    path = uri.path.rstrip("/")
    return path, os.path.basename(path)


@dataclass
class KafkaLiteSource:
    """``kafka-lite:///dir/topic?serde=json[:schema]|avro:...|none``."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.streaming.serde import deserialize_values

        path, topic = _topic_dir(self.uri)
        a = self.uri.args
        compacted = a["compacted"]
        if self.uri.is_stream:
            if compacted:
                raise ValueError(
                    "kafka-lite ?compacted= is a batch read (log compaction "
                    "is a whole-log view; streams see the raw log)"
                )
            raw = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(path)
        else:
            if not os.path.isdir(path):
                raise FileNotFoundError(
                    f"kafka-lite topic dir {path!r} does not exist — "
                    "produce to it first"
                )
            raw = spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(path)
        if compacted:
            raw = _compacted_view(raw)
        df = deserialize_values(
            spark, raw, a["serde"], topic=topic, include_key=a["include-key"]
        )
        return apply_watermark(df, a["watermark"])


@dataclass
class KafkaLiteSink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        from spark_etl_cli_spark.streaming.serde import serialize_values

        path, topic = _topic_dir(self.uri)
        a = self.uri.args
        serde, key_col = a["serde"], a["key-column"]
        if df.isStreaming:
            # foreachBatch so each micro-batch is a PRODUCE: it claims
            # the next topic epoch (segment-count) exactly like a batch
            # produce, making per-key recency total across batches —
            # the native file sink stamped offset=-1, leaving same-tick
            # records unordered. Delivery is at-least-once on restart
            # (a replayed batch re-appends), which is Kafka's own
            # default producer contract.
            from spark_etl_cli_spark.sources.base import (
                stream_via_foreach_batch,
            )

            if not a["checkpointLocation"]:
                a["checkpointLocation"] = os.path.join(path, "_ckpt")

            def produce(batch_df: DataFrame) -> None:
                out = serialize_values(
                    batch_df, serde, topic=topic, key_col=key_col
                )
                _frame_records(out, topic, _next_epoch(path)).write.mode(
                    "append"
                ).parquet(path)

            return stream_via_foreach_batch(df, produce, self.uri)
        out = serialize_values(df, serde, topic=topic, key_col=key_col)
        framed = _frame_records(out, topic, _next_epoch(path))
        framed.write.mode("append").parquet(path)
        return True


def _compacted_view(raw: DataFrame) -> DataFrame:
    """Kafka log compaction semantics over the segment log: latest
    record per key wins (highest offset, Kafka's contract), tombstones
    (null value) DELETE the key, unkeyed records are dropped (a
    compacted topic requires keys — Kafka itself rejects keyless
    produces there). One window per key partition-group; keys
    hash-shuffle once.
    """
    from pyspark.sql import Window

    # recency = offset desc alone: the produce epoch lives in the
    # offset's high bits (_next_epoch), so offsets are totally ordered
    # across produces — timestamp is informational (CreateTime), not
    # an ordering key, exactly like Kafka's own compaction
    w = Window.partitionBy("key").orderBy(F.col("offset").desc())
    return (
        raw.filter(F.col("key").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & F.col("value").isNotNull())
        .drop("__rn")
    )


# offset layout: the produce epoch in the high 31 bits (2^31 produces
# before overflow — a real envelope, not a toy one), a deterministic
# 32-bit in-batch tiebreak in the low bits. Within ONE produce a batch
# DataFrame has no row order to preserve, so the tiebreak is
# arbitrary-but-deterministic by construction; what MUST be exact —
# and now is — is the ordering ACROSS produces.
_EPOCH_SHIFT = 32


def _next_epoch(path: str) -> int:
    """The produce epoch: the count of existing segment files. Appends
    only ever ADD files, so this is strictly monotone across produces
    (single-writer, like a broker's log-end-offset; two truly
    concurrent produces may tie — Kafka serializes those in the
    broker, which a file-backed emulation cannot)."""
    if not os.path.isdir(path):
        return 0
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        n += sum(
            1 for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return n


def _frame_records(out: DataFrame, topic: str, epoch: int) -> DataFrame:
    """Serde output (``value`` [+ ``key``]) → full kafka record rows.

    ``offset`` carries the produce epoch in its high bits, so per-key
    recency is TOTAL across produces — two produces landing in the
    same timestamp tick order correctly, which the old
    (timestamp, restarting-offset) ordering could not guarantee.
    """
    cols = set(out.columns)
    key_col = F.col("key") if "key" in cols else F.lit(None)
    tiebreak = (
        F.abs(F.xxhash64(key_col, F.col("value"), F.spark_partition_id()))
        % F.lit(1 << _EPOCH_SHIFT)
    )
    offset = F.lit(int(epoch) << _EPOCH_SHIFT) + tiebreak
    framed = out.select(
        key_col.cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.spark_partition_id().alias("partition"),
        offset.cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),  # CREATE_TIME
    )
    return framed
