"""In-session connectors: ``view://`` source and ``memory://`` streaming sink.

``view://name`` reads an already-registered temp view — handy for
composing pipelines programmatically. ``memory://name`` is the
Structured Streaming memory sink (queryable as a temp view), the
standard way to make streaming tests synchronous and deterministic.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.sources.base import STREAM_SINK, stream_writer
from spark_etl_cli_spark.uri import ParsedUri


@dataclass
class ViewSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.uri.path_name)


@dataclass
class MemorySink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        name = self.uri.path_name or "memory_out"
        if not df.isStreaming:
            df.createOrReplaceTempView(name)
            return True
        writer = df.writeStream.format("memory").queryName(name)
        stream_writer(writer, self.uri.args).start()
        return True


@register_source("view")
def view_source(p: ParsedUri) -> ViewSource:
    return ViewSource(p)


@register_sink("memory", "memory-stream", "view", params=STREAM_SINK)
def memory_sink(p: ParsedUri) -> MemorySink:
    return MemorySink(p)
