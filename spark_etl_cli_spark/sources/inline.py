"""Inline connectors: console and values.

- ``console://`` — source yields an empty DataFrame; sink prints (batch)
  or starts a console stream (streaming). Reference
  ``core/.../ConsoleDataFrameSink.scala:7-25``.
- ``values://?header=a:int,b&values=1,x;2,y`` — literal inline table.
  Header types: int, long, double, float, boolean, date, timestamp,
  string (default). The reference supported only int/double/long→string
  (``core/.../ValuesSource.scala:40-53``); the wider type list is a
  deliberate extension. Rows split on ``;``, cells on ``,``.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.uri import ParsedUri

_TYPES: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "string": T.StringType(),
}


def _coerce(cell: str, dtype: T.DataType):
    cell = cell.strip()
    if cell == "" or cell.lower() == "null":
        return None
    if isinstance(dtype, T.IntegerType | T.LongType):
        return int(cell)
    if isinstance(dtype, T.DoubleType | T.FloatType):
        return float(cell)
    if isinstance(dtype, T.BooleanType):
        return cell.lower() in ("true", "1", "t", "yes")
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(cell)
    if isinstance(dtype, T.TimestampType):
        return _dt.datetime.fromisoformat(cell)
    return cell


def parse_header(header: str) -> T.StructType:
    fields = []
    for part in header.split(","):
        name, _, tname = part.partition(":")
        dtype = _TYPES.get(tname.strip().lower(), T.StringType()) if tname else T.StringType()
        fields.append(T.StructField(name.strip(), dtype, True))
    return T.StructType(fields)


@dataclass
class ValuesSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        header = self.uri.params.get("header", "")
        if not header:
            raise ValueError("values:// requires ?header=name:type,...")
        schema = parse_header(header)
        values = self.uri.params.get("values", "")
        rows = []
        if values:
            for row in values.split(";"):
                cells = row.split(",")
                rows.append(
                    tuple(
                        _coerce(c, f.dataType)
                        for c, f in zip(cells, schema.fields, strict=True)
                    )
                )
        return local_frame(spark, rows, schema)


@dataclass
class ShowSink:
    """Print up to `limit` rows; works for batch and streaming frames."""

    uri: ParsedUri
    limit: int = 10000

    def write(self, df: DataFrame) -> bool:
        if df.isStreaming:
            writer = df.writeStream.outputMode(
                self.uri.params.get("outputMode", "append")
            ).format("console")
            from spark_etl_cli_spark.sources.base import apply_trigger

            writer = apply_trigger(writer, self.uri.params.get("trigger-interval"))
            writer.start()
            return True
        df.show(int(self.uri.params.get("limit", self.limit)), truncate=False)
        return True


@dataclass
class EmptySource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, [], T.StructType([]))


@register_source("console")
def console_source(p: ParsedUri) -> EmptySource:
    return EmptySource(p)


@register_sink("console", "console-stream")
def console_sink(p: ParsedUri) -> ShowSink:
    return ShowSink(p)


@register_source("values")
def values_source(p: ParsedUri) -> ValuesSource:
    return ValuesSource(p)


@register_sink("values")
def values_sink(p: ParsedUri) -> ShowSink:
    # The reference's values sink just prints (ValuesSource.scala:27-30).
    return ShowSink(p)


@dataclass
class RangeSource:
    """``range://?start=0&end=N&step=1[&partitions=P]`` — Spark's
    distributed ``spark.range``: a generated BIGINT ``id`` column with
    explicit partitioning. The zero-I/O source for synthetic pipelines
    and partition-layout experiments (N rows never touch the driver).
    """

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        p = self.uri.params
        start = int(p.get("start", "0"))
        end = int(p.get("end", p.get("n", "1000")))
        step = int(p.get("step", "1"))
        parts = p.get("partitions")
        if parts is not None:
            return spark.range(start, end, step, int(parts))
        return spark.range(start, end, step)


@register_source("range")
def range_source(p: ParsedUri) -> RangeSource:
    return RangeSource(p)


@dataclass
class RateSource:
    """``rate://?rowsPerSecond=10[&rampUpTime=...][&numPartitions=P]``
    and ``rate-micro-batch://?rowsPerBatch=N[&numPartitions=P]`` —
    Spark's built-in synthetic streaming sources ((timestamp, value)
    rows). The zero-I/O way to exercise a streaming pipeline's
    watermarks/windows/sinks before pointing it at Kafka; the
    micro-batch variant emits a deterministic per-batch row count.
    """

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        fmt = (
            "rate-micro-batch"
            if self.uri.scheme == "rate-micro-batch"
            else "rate"
        )
        reader = spark.readStream.format(fmt)
        for k, v in self.uri.params.items():
            reader = reader.option(k, v)
        return reader.load()


@register_source("rate", "rate-micro-batch")
def rate_source(p: ParsedUri) -> RateSource:
    return RateSource(p)
