"""Built-in file-format connectors: parquet, csv/tsv text, json, orc, avro.

Capability parity targets in the reference:

- ``parquet://`` — ``core/.../ParquetDataFrameIO.scala:7-26``
- ``text://`` (csv/tsv with delimiter from extension) —
  ``core/.../TextFileDataFrameSource.scala:9-42``
- ``avro://`` / ``avro-stream://`` — ``avro/.../AvroFileDataFrameSource.scala:9-33``
  (spark-avro jar when present; otherwise the engine-free codec in
  ``sources/avro_lite.py`` covers batch reads/writes, streaming sinks
  via foreachBatch, and streaming reads through the Python-DataSource
  micro-batch reader in ``sources/avrostream.py``)

Flat text formats serialize nested struct/array columns to JSON strings
on write (reference ``core/.../DataFrameUtils.scala:8-14``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.operators.schema_tools import json_encode_complex
from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.sources.base import (
    FILE_SINK,
    FILE_SOURCE,
    FileSink,
    FileSource,
    apply_watermark,
    parse_schema_json,
)
from spark_etl_cli_spark.uri import Param, ParsedUri


@register_source("parquet", "parquet-stream", params=FILE_SOURCE)
def parquet_source(p: ParsedUri) -> FileSource:
    return FileSource(p, "parquet")


@register_sink("parquet", "parquet-stream", params=FILE_SINK)
def parquet_sink(p: ParsedUri) -> FileSink:
    return FileSink(p, "parquet")


@register_source("orc", "orc-stream", params=FILE_SOURCE)
def orc_source(p: ParsedUri) -> FileSource:
    return FileSource(p, "orc")


@register_sink("orc", "orc-stream", params=FILE_SINK)
def orc_sink(p: ParsedUri) -> FileSink:
    return FileSink(p, "orc")


@register_source("json", "json-stream", params=FILE_SOURCE)
def json_source(p: ParsedUri) -> FileSource:
    return FileSource(p, "json")


@register_sink("json", "json-stream", params=FILE_SINK)
def json_sink(p: ParsedUri) -> FileSink:
    return FileSink(p, "json")


def _has_spark_avro(spark: SparkSession) -> bool:
    # Class.forName is NOT enough here: Spark 4 ships some
    # org.apache.spark.sql.avro classes in the main distro without the
    # DataSourceRegister service entry. Ask Spark's own source lookup —
    # the exact check read.format("avro") will perform.
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # noqa: SLF001
            "avro", spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        )
        return True
    except Exception:
        return False


@dataclass
class AvroSource:
    """``avro://`` / ``avro-stream://`` (reference
    AvroFileDataFrameSource.scala:9-20): spark-avro when the jar is on
    the classpath, else the engine-free container-file codec
    (sources/avro_lite.py) for batch reads and the Python-DataSource
    micro-batch reader (sources/avrostream.py) for streaming reads."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        if _has_spark_avro(spark):
            return FileSource(self.uri, "avro").read(spark)
        a = self.uri.args
        if self.uri.is_stream:
            # jar-less streaming READ: Python DataSource micro-batch
            # reader with file-set offsets (sources/avrostream.py)
            from spark_etl_cli_spark.sources.avrostream import ensure_registered

            ensure_registered(spark)
            reader = spark.readStream.format("avrolite").option(
                "path", self.uri.path
            )
            # ?schema= is parsed DRIVER-side (the DataSource's own
            # schema() hook runs in a session-less Python worker and
            # can only infer from an existing file's header); with an
            # explicit schema the stream can start on an empty dir
            if a["schema"]:
                reader = reader.schema(parse_schema_json(a["schema"]))
            df = reader.load()
        else:
            from spark_etl_cli_spark.sources.avro_lite import read_avro_lite

            df = read_avro_lite(spark, self.uri.path)
        if a["where"]:
            df = df.filter(a["where"])
        return apply_watermark(df, a["watermark"])


@dataclass
class AvroSink:
    """Write side of the avro connector (reference
    AvroFileDataFrameSource.scala:22-33: overwrite mode, options
    pass-through). Jar-less batch writes go through avro_lite's
    distributed per-partition container writer."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if _has_spark_avro(df.sparkSession):
            return FileSink(self.uri, "avro").write(df)
        from spark_etl_cli_spark.sources.avro_lite import write_avro_lite

        if df.isStreaming:
            from spark_etl_cli_spark.sources.base import stream_via_foreach_batch

            # each micro-batch APPENDS new part files (per-partition
            # container files make append = add-files, no rewrite)
            return stream_via_foreach_batch(
                df,
                lambda batch: write_avro_lite(batch, self.uri.path, mode="append"),
                self.uri,
            )
        write_avro_lite(
            df, self.uri.path, mode=self.uri.args["mode"] or "overwrite",
            codec=self.uri.args["codec"],
        )
        return True


@register_source("avro", "avro-stream", params=FILE_SOURCE)
def avro_source(p: ParsedUri) -> AvroSource:
    return AvroSource(p)


@register_sink("avro", "avro-stream", params=FILE_SINK + (
    Param("codec", "enum", "deflate",
          "block codec without the spark-avro jar",
          choices=("null", "deflate", "snappy", "zstandard")),
))
def avro_sink(p: ParsedUri) -> AvroSink:
    return AvroSink(p)


def _text_options(p: ParsedUri) -> dict[str, str]:
    """CSV defaults: a header row, and the delimiter from the file
    extension (tab for ``.tsv``) unless ``?delimiter=`` is given."""
    return {
        "header": "true",
        "delimiter": "\t" if p.path.endswith(".tsv") else ",",
    }


@dataclass
class TextSink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        flat = df if df.isStreaming else json_encode_complex(df)
        inner = FileSink(self.uri, "csv", default_options=_text_options(self.uri))
        return inner.write(flat)


@register_source("text", "csv", "text-stream", "csv-stream", params=FILE_SOURCE)
def text_source(p: ParsedUri) -> FileSource:
    return FileSource(p, "csv", default_options=_text_options(p))


@register_sink("text", "csv", "text-stream", "csv-stream", params=FILE_SINK)
def text_sink(p: ParsedUri) -> TextSink:
    return TextSink(p)


@register_source("xml", "xml-stream", params=FILE_SOURCE)
def xml_source(p: ParsedUri) -> FileSource:
    """``xml://path?rowTag=row`` — Spark 4's built-in XML source
    (spark-xml was folded into core). ``rowTag`` defaults to ``row``;
    any other reader option passes through the query string."""
    return FileSource(p, "xml", default_options={"rowTag": "row"})


@register_sink("xml", "xml-stream", params=FILE_SINK)
def xml_sink(p: ParsedUri) -> FileSink:
    return FileSink(p, "xml", default_options={"rowTag": "row"})


@register_source("binaryfile", params=FILE_SOURCE)
def binaryfile_source(p: ParsedUri) -> FileSource:
    """``binaryfile://dir?pathGlobFilter=*.png`` — Spark's binaryFile
    source: one row per file as (path, modificationTime, length,
    content BINARY). The ingestion front door for the multimodal
    operators (operators/multimodal.py): content maps straight onto
    their ``payload`` column. Read-only by design (Spark has no
    binaryFile writer; persist payloads as parquet instead)."""
    return FileSource(p, "binaryFile")


@register_source("lines", "lines-stream", params=FILE_SOURCE)
def lines_source(p: ParsedUri) -> FileSource:
    """``lines://path`` — Spark's ``text`` source: one row per line in
    a single ``value`` string column (the raw-corpus front door;
    ``text://`` keeps the reference's CSV/TSV semantics)."""
    return FileSource(p, "text")


@register_sink("lines", "lines-stream", params=FILE_SINK)
def lines_sink(p: ParsedUri) -> FileSink:
    return FileSink(p, "text")
