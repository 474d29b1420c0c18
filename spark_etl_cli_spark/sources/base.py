"""Source/sink abstractions shared by all connectors.

Mirrors the capability of the reference's ``DataFrameSource`` /
``DataFrameSink`` traits and its ``DefaultDataFrameSource`` /
``StreamingDataFrameSource`` helpers (reference
``core/src/main/scala/dev/mauch/spark/dfio/DataFrameSource.scala:13-53``):

- batch read = ``spark.read.format(f).options(o).load(path)``
- ``-stream`` scheme suffix switches to ``spark.readStream``
- ``schema=<url-encoded Spark DataType JSON>`` query param provides an
  explicit schema (required for file streams)
- ``watermark=col:duration`` attaches an event-time watermark

``SOURCE`` and ``STREAM_SINK`` declare those shared parameters once;
connector specs reuse them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_etl_cli_spark.uri import Args, Param, ParsedUri


class DataFrameSource(Protocol):
    def read(self, spark: SparkSession) -> DataFrame: ...


class DataFrameSink(Protocol):
    def write(self, df: DataFrame) -> bool: ...


def parse_schema_json(schema_json: str) -> T.StructType:
    """Spark DataType JSON (or DDL) → StructType."""
    s = schema_json.strip()
    if s.startswith("{"):
        dt = T.StructType.fromJson(json.loads(s))
        return dt
    return T.StructType.fromDDL(s)


def apply_watermark(df: DataFrame, watermark: str | None) -> DataFrame:
    """``col:duration`` → ``df.withWatermark(col, duration)``."""
    if not watermark:
        return df
    col, _, dur = watermark.partition(":")
    if not dur:
        raise ValueError(f"watermark must be 'col:duration', got {watermark!r}")
    return df.withWatermark(col, dur)


def apply_trigger(writer, trigger: str | None):
    """``?trigger-interval=`` → writeStream trigger.

    ``availableNow``/``available-now`` drains the backlog and stops
    (the deterministic-test + backfill trigger), ``once`` is the legacy
    single-batch form, anything else is a processing-time interval.
    """
    if not trigger:
        return writer
    if trigger in ("availableNow", "available-now"):
        return writer.trigger(availableNow=True)
    if trigger == "once":
        return writer.trigger(once=True)
    return writer.trigger(processingTime=trigger)


def stream_writer(writer, a: Args):
    """Apply the ``STREAM_SINK`` parameters to a ``DataStreamWriter``."""
    if a.get("checkpointLocation"):
        writer = writer.option("checkpointLocation", a["checkpointLocation"])
    writer = writer.outputMode(a.get("outputMode") or "append")
    return apply_trigger(writer, a.get("trigger-interval"))


def stream_via_foreach_batch(
    df: DataFrame, write_batch, uri: ParsedUri, pass_epoch: bool = False
) -> bool:
    """Bridge a batch-only sink into Structured Streaming.

    ``foreachBatch`` hands each micro-batch to the sink's ordinary batch
    writer — the standard Spark answer for sinks without a native
    streaming implementation (JDBC, Excel, ...). Honors the
    ``STREAM_SINK`` parameters like native streaming sinks.
    Exactly-once depends on the downstream system;
    per-batch idempotence (e.g. keyed upserts) is the sink's concern —
    sinks that implement it from the epoch id (the delta-lite txn
    path) opt into receiving it via ``pass_epoch``.
    """
    writer = df.writeStream.foreachBatch(
        (lambda batch_df, epoch_id: write_batch(batch_df, epoch_id))
        if pass_epoch
        else (lambda batch_df, _epoch_id: write_batch(batch_df))
    )
    stream_writer(writer, uri.args).start()
    return True


# the parameter groups every source resp. streaming sink shares
WATERMARK = Param("watermark", doc="event-time watermark, 'col:duration'")
SOURCE = (
    Param("where", doc="row predicate (SQL), applied at the scan"),
    Param("schema", doc="explicit schema: Spark DataType JSON or DDL"),
    WATERMARK,
)
STREAM_SINK = (
    Param("checkpointLocation", doc="streaming checkpoint directory"),
    Param("trigger-interval",
          doc="availableNow | once | processing-time interval"),
    Param("outputMode", default="append",
          doc="streaming output mode: append | update | complete"),
)
_FRAMEWORK = {p.name for p in SOURCE + STREAM_SINK}


def passthrough(a: Args) -> dict[str, str]:
    """The URI's non-framework keys as written: what a connector hands
    the Spark data source it delegates to when that runtime (a
    delta/iceberg/hudi/avro jar) is on the classpath."""
    opts = {**a.given, **a.extra}
    return {k: v for k, v in opts.items() if k not in _FRAMEWORK}


FILE_SOURCE = SOURCE + (
    Param("*", doc="other keys pass to Spark as reader options"),
)
FILE_SINK = STREAM_SINK + (
    Param("mode", aliases=("write-mode",),
          doc="save mode (default overwrite)"),
    Param("partition-by", "csv", doc="hive-style partition columns"),
    Param("sort-by", "csv", doc="sortWithinPartitions before writing"),
    Param("single-file", "bool", False,
          doc="coalesce(1): one output file (serializes the write)"),
    Param("*", doc="other keys pass to Spark as writer options"),
)


@dataclass
class FileSource:
    """Generic file-format source: batch or streaming per URI scheme."""

    uri: ParsedUri
    fmt: str
    default_options: dict[str, str] = field(default_factory=dict)

    def read(self, spark: SparkSession) -> DataFrame:
        # nanosAsLong for TIMESTAMP(NANOS) parquet lives in the session
        # build (session.py BASE_CONFS), not here: a per-read conf.set
        # mutated shared session state as a side effect.
        a = self.uri.args
        opts = {**self.default_options, **a.extra}
        reader = spark.readStream if self.uri.is_stream else spark.read
        reader = reader.format(self.fmt).options(**opts)
        if a.get("schema"):
            reader = reader.schema(parse_schema_json(a["schema"]))
        df = reader.load(self.uri.path)
        # ?where= is a uniform row predicate on every file source —
        # declared before any transform, so Catalyst pushes it into the
        # scan (PushedFilters) rather than filtering post-hoc; the lite
        # lakehouse readers additionally prune their FILE lists with it
        if a.get("where"):
            df = df.filter(a["where"])
        return apply_watermark(df, a.get("watermark"))


@dataclass
class FileSink:
    """Generic file-format sink: batch or streaming per DataFrame kind.

    Unlike the reference's parquet sink (default ``errorifexists`` with
    swallowed exceptions, reference ``core/.../ParquetDataFrameIO.scala:11-18``),
    the default mode is ``overwrite`` and errors propagate; ``?mode=``
    overrides. No ``repartition(1)``: single-file output is opt-in via
    ``?single-file=true`` because it serializes the write at scale.

    Data-layout params for scale-aware writes:

    - ``?partition-by=a,b`` — hive-style partitioned output (readers
      prune partitions on those columns)
    - ``?sort-by=a,b`` — sortWithinPartitions before writing, so column
      stores get clustered row groups (min/max skipping)
    """

    uri: ParsedUri
    fmt: str
    default_mode: str = "overwrite"
    default_options: dict[str, str] = field(default_factory=dict)

    def write(self, df: DataFrame) -> bool:
        a = self.uri.args
        opts = {**self.default_options, **a.extra}
        path = self.uri.path
        partition_by = a.get("partition-by") or []
        sort_by = a.get("sort-by") or []
        if df.isStreaming:
            writer = df.writeStream.format(self.fmt).options(**opts)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            stream_writer(writer, a).start(path)
            return True
        if a.get("single-file"):
            df = df.coalesce(1)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        mode = a.get("mode") or self.default_mode
        writer = df.write.mode(mode).options(**opts).format(self.fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
        return True
