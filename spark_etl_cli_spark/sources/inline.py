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
from spark_etl_cli_spark.sources.base import STREAM_SINK, stream_writer
from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.uri import Param, ParsedUri

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
        schema = parse_header(self.uri.args["header"])
        values = self.uri.args["values"]
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
    """Print up to ``?limit=`` rows; works for batch and streaming frames."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if df.isStreaming:
            stream_writer(df.writeStream.format("console"), self.uri.args).start()
            return True
        df.show(self.uri.args["limit"], truncate=False)
        return True


_SHOW = STREAM_SINK + (
    Param("limit", "int", 10000, "rows printed for a batch frame"),
)


@dataclass
class EmptySource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        return local_frame(spark, [], T.StructType([]))


@register_source("console")
def console_source(p: ParsedUri) -> EmptySource:
    return EmptySource(p)


@register_sink("console", "console-stream", params=_SHOW)
def console_sink(p: ParsedUri) -> ShowSink:
    return ShowSink(p)


@register_source("values", params=(
    Param("header", doc="columns, 'name[:type],...'", required=True),
    Param("values", default="", doc="rows split on ';', cells on ','"),
))
def values_source(p: ParsedUri) -> ValuesSource:
    return ValuesSource(p)


@register_sink("values", params=_SHOW)
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
        a = self.uri.args
        return spark.range(a["start"], a["end"], a["step"], a["partitions"])


@register_source("range", params=(
    Param("start", "int", 0, "first id"),
    Param("end", "int", 1000, "end id (exclusive)", aliases=("n",)),
    Param("step", "int", 1, "id increment"),
    Param("partitions", "int", doc="number of partitions"),
))
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
        return spark.readStream.format(fmt).options(**self.uri.args.extra).load()


@register_source("rate", "rate-micro-batch", params=(
    Param("*", doc="keys pass to Spark's rate source as options"),
))
def rate_source(p: ParsedUri) -> RateSource:
    return RateSource(p)
