"""JDBC connector: any database Spark's JDBC data source can reach.

The reference has no JDBC connector; this extends the connector surface
with Spark's built-in one (the natural PySpark answer to "read from a
database" — no reference-code analogue to cite). URI form:

    jdbc:///TABLE?url=<jdbc-url>&user=...&password=...
    jdbc://?url=...&query=SELECT ...           (ad-hoc query source)

``url`` is required; every other query param (the sink's ``mode`` and
streaming params aside) is forwarded verbatim as a Spark JDBC option;
the URI path (if given) becomes ``dbtable``. The bundled Derby driver makes the
connector testable without external services (embedded
``jdbc:derby:/path;create=true`` URLs).

Scale design — a naive JDBC read is ONE task holding one connection:
pass ``partitionColumn`` + ``lowerBound`` + ``upperBound`` +
``numPartitions`` and Spark issues range-predicated parallel reads;
writes batch per partition (``batchsize``, default 1000). Those options
forward straight through this connector. Filter pushdown and column
pruning reach the database as WHERE/SELECT clauses via Catalyst's JDBC
relation, so declarative plans stay efficient.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.sources.base import STREAM_SINK
from spark_etl_cli_spark.uri import Param, ParsedUri

_URL = Param("url", doc="JDBC connection URL", required=True)
_OPTIONS = Param("*", doc="other keys pass to Spark as JDBC options")


def _jdbc_options(p: ParsedUri) -> dict[str, str]:
    opts = {"url": p.args["url"], **p.args.extra}
    table = p.path.strip("/")
    if table and "dbtable" not in opts and "query" not in opts:
        opts["dbtable"] = table
    return opts


@dataclass
class JdbcSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.format("jdbc").options(**_jdbc_options(self.uri)).load()


@dataclass
class JdbcSink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if df.isStreaming:
            # batch-only Spark sink -> per-micro-batch writes; default
            # append (per-batch overwrite would clobber prior batches)
            from spark_etl_cli_spark.sources.base import stream_via_foreach_batch

            return stream_via_foreach_batch(
                df, lambda b: self._write_batch(b, default_mode="append"),
                self.uri,
            )
        return self._write_batch(df, default_mode="overwrite")

    def _write_batch(self, df: DataFrame, default_mode: str) -> bool:
        mode = self.uri.args["mode"] or default_mode
        df.write.format("jdbc").options(**_jdbc_options(self.uri)).mode(mode).save()
        return True


@register_source("jdbc", params=(_URL, _OPTIONS))
def jdbc_source(p: ParsedUri) -> JdbcSource:
    return JdbcSource(p)


@register_sink("jdbc", params=STREAM_SINK + (
    _URL,
    Param("mode", doc="save mode (default overwrite; append when streaming)"),
    _OPTIONS,
))
def jdbc_sink(p: ParsedUri) -> JdbcSink:
    return JdbcSink(p)
