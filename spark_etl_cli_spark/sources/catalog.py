"""Catalog/table connector: ``table://`` and ``hive://``.

The reference's hive connector goes through the Hortonworks Hive
Warehouse Connector (``hive/.../HiveDataFrameSource.scala:11-53``); the
idiomatic Spark equivalent is the session catalog itself
(``spark.table`` / ``saveAsTable``), which covers Hive tables when the
session is Hive-enabled.

Reproduced behaviors:

- read: ``hive:///db/table`` → ``spark.table("db.table")``
- write: append mode, skip when input is empty (reference guards with
  ``df.cache().count() > 0``, ``HiveDataFrameSource.scala:22`` — we use
  ``df.isEmpty()`` which only evaluates one partition-chunk instead of
  materializing the whole frame), and column order aligned to the
  target schema when the table exists (``HiveDataFrameSource.scala:24-27``).
- ``?partitionCols=a,b`` actually partitions the write (the reference
  parsed but ignored it — ``HiveDataFrameSource.scala:48-52``; fixed
  deliberately, noted in SURVEY §7 quirks).

Beyond the reference: ``?bucket-by=a,b&buckets=N[&sort-by=c]`` writes a
bucketed (optionally sorted) table. Recurring joins/aggregations on the
bucket key then skip their shuffle entirely when bucket specs line up
(verified by tests/test_bucketing.py) — at 100 TB, pre-bucketing both
sides of a hot join is the single biggest shuffle saving available.
Bucketing requires ``saveAsTable`` (a catalog table), which is why it
lives here and not on the path-based file sinks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.uri import Param, ParsedUri


def _table_name(p: ParsedUri) -> str:
    parts = [x for x in (p.authority, *p.path.split("/")) if x]
    return ".".join(parts)


@dataclass
class TableSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(_table_name(self.uri))


@dataclass
class TableSink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        name = _table_name(self.uri)
        spark = df.sparkSession
        if df.isEmpty():
            # Deliberate reference parity (HiveDataFrameSource.scala:22):
            # empty input skips the write AND reports False, so a
            # fail_fast pipeline treats "nothing arrived" as a failed
            # sink rather than silently creating/leaving an empty
            # table. Callers who want skip-is-ok run with
            # fail_fast=False (see test_table_sink_skips_empty_input).
            return False
        a = self.uri.args
        mode = a["mode"]
        partition_cols = a["partitionCols"]
        bucket_by = a["bucket-by"]
        sort_by = a["sort-by"]
        if spark.catalog.tableExists(name):
            target_cols = [f.name for f in spark.table(name).schema.fields]
            df = df.select(*target_cols)
        writer = df.write.mode(mode)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        if bucket_by:
            writer = writer.bucketBy(a["buckets"], *bucket_by)
            if sort_by:
                writer = writer.sortBy(*sort_by)
        elif sort_by:
            df = df.sortWithinPartitions(*sort_by)
            writer = df.write.mode(mode)
            if partition_cols:
                writer = writer.partitionBy(*partition_cols)
        writer.saveAsTable(name)
        return True


@register_source("table", "hive")
def table_source(p: ParsedUri) -> TableSource:
    return TableSource(p)


@register_sink("table", "hive", params=(
    Param("mode", default="append", doc="save mode"),
    Param("partitionCols", "csv", doc="partition columns"),
    Param("bucket-by", "csv", doc="bucket columns (bucketed table)"),
    Param("buckets", "int", 8, "bucket count with bucket-by"),
    Param("sort-by", "csv", doc="sort within buckets, else partitions"),
))
def table_sink(p: ParsedUri) -> TableSink:
    return TableSink(p)
