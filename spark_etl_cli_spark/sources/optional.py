"""Optional connectors whose runtime dependencies may be absent:
delta, excel, kafka, solr, iceberg, hudi.

Each registers its scheme unconditionally (so `known_schemes()` shows
the full surface and URI parsing is always testable) and checks its
dependency lazily at read/write time with a clear error. This matches
the builder environment: no pip/apt installs, jars may be missing.

Reference parity targets:

- ``delta://`` / ``delta-stream://`` — ``delta/.../DeltaUriParser.scala:13-60``
- ``excel://`` — ``excel/.../ExcelFileDataFrameSource.scala:9-38``
- ``kafka://`` / ``kafka-stream://`` — ``kafka/.../KafkaDataFrameSource.scala:9-56``
- ``solr://`` — sink parity with ``solr/.../SolrDataFrameSourceSink.scala:19-94``;
  the source side (``???`` at :24 in the reference) is implemented here
  via /select cursorMark paging
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import (
    contribute_spark_confs,
    register_sink,
    register_source,
)
from spark_etl_cli_spark.sources.base import (
    SOURCE,
    STREAM_SINK,
    WATERMARK,
    FileSink,
    FileSource,
    apply_watermark,
    passthrough,
    stream_via_foreach_batch,
    stream_writer,
)
from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.uri import Param, ParsedUri


class MissingDependencyError(RuntimeError):
    def __init__(self, scheme: str, needs: str):
        super().__init__(
            f"connector {scheme!r} needs {needs}, which is not available in "
            "this environment; install it (cluster-side jar / pip extra) to use "
            "this scheme"
        )


def _jvm_class_exists(spark: SparkSession, fqcn: str) -> bool:
    # a plain `spark._jvm.foo.Bar` access never fails (py4j resolves it
    # lazily to a JavaPackage); Class.forName is a real classpath probe
    try:
        spark._jvm.java.lang.Class.forName(fqcn)  # noqa: SLF001
        return True
    except Exception:
        return False


def _has_delta(spark: SparkSession) -> bool:
    return _jvm_class_exists(spark, "org.apache.spark.sql.delta.DeltaLog")


# Delta needs session confs (reference DeltaUriParser.scala:51-54).
# Contributed only when the delta-spark python package is importable, so
# a delta-less environment still builds a clean session.
try:
    import delta  # noqa: F401

    contribute_spark_confs(
        {
            "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
            "spark.sql.catalog.spark_catalog": (
                "org.apache.spark.sql.delta.catalog.DeltaCatalog"
            ),
        }
    )
except ImportError:
    pass


def _lite_stream(
    spark: SparkSession, uri: ParsedUri, fmt: str, options: dict
) -> DataFrame:
    """A lite table's change stream through its registered Python
    DataSource ``fmt``, with the batch read's ``?where=`` contract and
    the source ``?watermark=``. ``None`` options are left unset."""
    reader = spark.readStream.format(fmt).option("path", uri.path)
    for k, v in options.items():
        if v is not None:
            reader = reader.option(k, v)
    df = reader.load()
    if uri.args["where"]:
        df = df.filter(uri.args["where"])
    return apply_watermark(df, uri.args["watermark"])


_MAX_COMMITS = Param(
    "max-commits-per-batch", "int", 0,
    "stream: at most N commits per micro-batch while tailing (0 = all)",
)
_META = Param("meta", doc="metadata table to read instead of the rows")
_WITH_ROW_ID = Param("with-row-id", "bool", False, "append the _row_id column")
# mode=cdc / mode=merge key and ordering, shared by the lakehouse sinks
_ON = Param("on", doc="key column(s) for mode=merge|cdc")
_SEQUENCE = Param("sequence", doc="mode=cdc: column ordering changes per key")
_PARTITION_COLS = Param("partitionCols", "csv", doc="partition columns")
_MERGE_SCHEMA = Param("mergeSchema", "bool", False,
                      "add new columns to the table schema")


@dataclass
class DeltaSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        if _has_delta(spark):
            return FileSource(
                self.uri, "delta", default_options=passthrough(self.uri.args)
            ).read(spark)
        # engine-free fallbacks: batch = transaction-log replay
        # (sources/delta_lite.py); streaming = commit-version-offset
        # micro-batch reader (sources/deltastream.py)
        from spark_etl_cli_spark.sources.delta_lite import (
            is_delta_table,
            read_delta_lite,
        )

        a = self.uri.args
        if not is_delta_table(self.uri.path):
            raise MissingDependencyError(
                "delta", "delta-spark jars on the classpath"
            )
        if self.uri.is_stream:
            if a["readChangeFeed"]:
                # Change Data Feed STREAM: change records per commit
                # (table schema + _change_type / _commit_version /
                # _commit_timestamp)
                from spark_etl_cli_spark.sources.cdfstream import (
                    ensure_registered as _reg_cdf,
                )

                _reg_cdf(spark)
                return _lite_stream(spark, self.uri, "deltalite-cdf-stream", {
                    "max-commits-per-batch": a["max-commits-per-batch"],
                    "startingVersion": a["startingVersion"],
                })
            from spark_etl_cli_spark.sources.deltastream import (
                ensure_registered,
            )

            ensure_registered(spark)
            return _lite_stream(spark, self.uri, "deltalite-stream", {
                "skipChangeCommits": a["skipChangeCommits"],
                "max-commits-per-batch": a["max-commits-per-batch"],
            })
        if a["meta"]:
            # metadata tables: DESCRIBE HISTORY / file inventory
            from spark_etl_cli_spark.sources.meta_tables import delta_meta_df

            return delta_meta_df(spark, self.uri.path, a["meta"])
        if a["readChangeFeed"]:
            # Change Data Feed batch read: table schema +
            # _change_type/_commit_version/_commit_timestamp
            from spark_etl_cli_spark.sources.delta_lite import (
                read_delta_changes,
            )

            if a["startingVersion"] is None:
                raise ValueError("readChangeFeed=true needs ?startingVersion=N")
            return read_delta_changes(
                spark, self.uri.path,
                starting_version=a["startingVersion"],
                ending_version=a["endingVersion"],
            )
        return read_delta_lite(
            spark, self.uri.path,
            version_as_of=a["versionAsOf"],
            # partition-predicate FILE pruning at the log level
            where=a["where"],
            timestamp_as_of=a["timestampAsOf"],
            with_row_id=a["with-row-id"],
            with_row_commit_version=a["with-row-commit-version"],
            strict_row_id=a["strict-row-id"],
        )


def _parse_generated(raw: str | None) -> dict[str, str] | None:
    """``?generated=col:expr;col2:expr`` → ``{col: expr}``."""
    if not raw:
        return None
    gen = {}
    for seg in raw.split(";"):
        if seg:
            c, _, e = seg.partition(":")
            gen[c.strip()] = e
    return gen


def _parse_identity(raw: str | None) -> dict[str, tuple[int, int]] | None:
    """``?identity=col:start:step[;...]`` → ``{col: (start, step)}``."""
    if not raw:
        return None
    idy = {}
    for seg in raw.split(";"):
        if seg:
            parts_ = seg.split(":")
            if len(parts_) > 3 or not parts_[0].strip():
                raise ValueError(
                    "?identity= expects col[:start[:step]] "
                    f"segments; got {seg!r}"
                )
            c, start, step = (parts_ + ["1", "1"])[:3]
            idy[c.strip()] = (int(start or 1), int(step or 1))
    return idy


@dataclass
class DeltaSink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        a = self.uri.args
        if _has_delta(df.sparkSession):
            if df.isStreaming:
                # Pre-create the table so downstream readers see a
                # schema immediately (reference trick,
                # DeltaUriParser.scala:29-34).
                try:
                    empty = local_frame(df.sparkSession, [], df.schema)
                    empty.write.format("delta").mode("ignore").save(
                        self.uri.path
                    )
                except Exception:
                    pass
            return FileSink(
                self.uri, "delta", default_options=passthrough(a)
            ).write(df)
        # no delta-spark: writes go through the engine-free protocol
        # writer (sources/delta_lite.py) — parquet data files + a JSON
        # commit.
        from spark_etl_cli_spark.sources import delta_lite as dl

        path, mode = self.uri.path, a["mode"] or "append"
        if mode in ("cdc", "merge") and not a["on"]:
            raise ValueError(f"delta mode={mode} needs ?on=<key>")
        if mode == "cdc":
            # CDC replication: change records (table cols +
            # _change_type [+ _commit_version]) are applied
            # latest-per-key as one conditional MERGE — deletes delete,
            # updates update, inserts insert. Pairs with
            # ?readChangeFeed=true on the source to replicate a table
            # end-to-end, exactly-once.
            def commit(b: DataFrame, **txn) -> None:
                dl.apply_changes_delta_lite(
                    b, path, on=a["on"], sequence_col=a["sequence"], **txn
                )
        elif mode == "merge":
            # conditional MERGE on ?on=<key>: per-column SET expressions
            # as set.<col>=<expr> (exprs may qualify source./target.),
            # matched-condition, delete-condition (WHEN MATCHED AND pred
            # THEN DELETE, checked first), insert-condition, insert=false
            # to turn off WHEN NOT MATCHED THEN INSERT *, and the
            # full-sync clause: not-matched-by-source=delete|update with
            # its condition and nmbs-set.<col>=<expr> params
            def commit(b: DataFrame, **txn) -> None:
                dl.merge_delta_lite(
                    b, path, on=a["on"],
                    update_set=a["set.*"] or None,
                    matched_condition=a["matched-condition"],
                    delete_condition=a["delete-condition"],
                    insert_condition=a["insert-condition"],
                    insert=a["insert"],
                    not_matched_by_source=a["not-matched-by-source"],
                    not_matched_by_source_condition=a[
                        "not-matched-by-source-condition"
                    ],
                    not_matched_by_source_set=a["nmbs-set.*"] or None,
                    **txn,
                )
        elif df.isStreaming:
            def commit(b: DataFrame, **txn) -> None:
                dl.write_delta_lite(
                    b, path, mode="upsert" if mode == "upsert" else "append",
                    partition_by=a["partitionCols"] or None,
                    merge_key=a["merge-key"], **txn,
                )
        else:
            # table properties at creation: property.<name>=<value>,
            # the enableChangeDataFeed / enableRowTracking shorthands,
            # and CHECK constraints as check.<name>=<expr> (every
            # writer path enforces them before committing)
            props = dict(a["property.*"])
            if a["enableChangeDataFeed"]:
                props["delta.enableChangeDataFeed"] = "true"
            if a["enableRowTracking"]:
                props["delta.enableRowTracking"] = "true"
            for name, expr in a["check.*"].items():
                props[f"delta.constraints.{name}"] = expr
            dl.write_delta_lite(
                df, path, mode=mode, partition_by=a["partitionCols"] or None,
                merge_schema=a["mergeSchema"],
                # mode=upsert: key-matched MERGE (replace-by-key +
                # insert-new), same URI shape as hudi's upsert
                merge_key=a["merge-key"],
                properties=props or None,
                generated=_parse_generated(a["generated"]),
                identity=_parse_identity(a["identity"]),
            )
            return True
        if not df.isStreaming:
            commit(df)
            return True
        # Streaming commits bridge via foreachBatch with the protocol's
        # txn (SetTransaction) action keyed on (checkpoint identity,
        # epoch id): a replayed micro-batch after a crash is an
        # idempotent no-op, the same exactly-once contract the jar'd
        # sink gets from its LogStore + txn bookkeeping. The checkpoint
        # location IS the query's identity; checkpoint-LESS runs get no
        # txn dedupe at all — their epoch ids restart at 0 every run,
        # so a txn keyed on the table path would silently skip later
        # runs' batches as "already committed". Without a checkpoint
        # there is no exactly-once to preserve anyway.
        ckpt = a["checkpointLocation"]
        app_id = (
            "deltalite-" + hashlib.md5(ckpt.encode()).hexdigest()[:16]
            if ckpt else None
        )
        return stream_via_foreach_batch(
            df,
            lambda b, epoch: commit(
                b, txn_app_id=app_id, txn_version=epoch if app_id else None
            ),
            self.uri,
            pass_epoch=True,
        )


@register_source("delta", "delta-stream", params=SOURCE + (
    _META,
    Param("versionAsOf", "int", doc="time travel to a commit version"),
    Param("timestampAsOf", doc="time travel by commit time (epoch ms | ISO)"),
    Param("readChangeFeed", "bool", False, "read the Change Data Feed"),
    Param("startingVersion", "int", doc="change feed: first version"),
    Param("endingVersion", "int", doc="change feed: last version (batch)"),
    Param("skipChangeCommits", "bool", False,
          "stream: skip commits that rewrite rows"),
    _MAX_COMMITS,
    _WITH_ROW_ID,
    Param("with-row-commit-version", "bool", False,
          "append the row's last-modified commit version"),
    Param("strict-row-id", "bool", False,
          "error (not warn) when a file lacks baseRowId"),
))
def delta_source(p: ParsedUri) -> DeltaSource:
    return DeltaSource(p)


@register_sink("delta", "delta-stream", params=STREAM_SINK + (
    Param("mode", aliases=("write-mode",),
          doc="append (default) | overwrite | upsert | merge | cdc"),
    _PARTITION_COLS,
    Param("merge-key", doc="mode=upsert: key column"),
    _ON,
    _SEQUENCE,
    Param("set.*", doc="mode=merge: set.<col>=<expr> SET clauses"),
    Param("matched-condition", doc="mode=merge: WHEN MATCHED AND <pred>"),
    Param("delete-condition", doc="mode=merge: WHEN MATCHED AND <pred> DELETE"),
    Param("insert-condition", doc="mode=merge: WHEN NOT MATCHED AND <pred>"),
    Param("insert", "bool", True, "mode=merge: insert unmatched rows"),
    Param("not-matched-by-source", "enum", doc="mode=merge: full-sync action",
          choices=("delete", "update")),
    Param("not-matched-by-source-condition",
          doc="mode=merge: condition of the full-sync clause"),
    Param("nmbs-set.*", doc="mode=merge: SET clauses of the full-sync update"),
    Param("property.*", doc="table property at creation"),
    Param("enableChangeDataFeed", "bool", False, "record the change feed"),
    Param("enableRowTracking", "bool", False, "assign stable row ids"),
    Param("check.*", doc="check.<name>=<expr> CHECK constraint"),
    Param("generated", doc="generated columns 'col:expr;...'"),
    Param("identity", doc="identity columns 'col[:start[:step]];...'"),
    _MERGE_SCHEMA,
))
def delta_sink(p: ParsedUri) -> DeltaSink:
    return DeltaSink(p)


def _infer_column(values: list) -> str:
    """inferSchema=true twin (reference ExcelFileDataFrameSource.scala:13):
    all-int → long, numeric → double, all-bool → boolean, else string."""
    non_null = [v for v in values if v is not None]
    if non_null and all(isinstance(v, bool) for v in non_null):
        return "boolean"
    if non_null and all(
        isinstance(v, int) and not isinstance(v, bool) for v in non_null
    ):
        return "long"
    if non_null and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in non_null
    ):
        return "double"
    return "string"


@dataclass
class ExcelSource:
    """Excel source: pandas/openpyxl when installed, else the built-in
    stdlib codec (sources/xlsx_lite.py) — the connector always works."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        try:
            import pandas as pd

            pdf = pd.read_excel(self.uri.path)
            return spark.createDataFrame(pdf)
        except ImportError:
            pass  # no Excel engine — use the stdlib codec
        from spark_etl_cli_spark.sources.xlsx_lite import read_xlsx

        header, rows = read_xlsx(self.uri.path)
        if self.uri.args["inferSchema"]:
            types = [
                _infer_column([r[i] for r in rows]) for i in range(len(header))
            ]
            cast = {
                "long": lambda v: int(v) if v is not None else None,
                "double": lambda v: float(v) if v is not None else None,
                "boolean": lambda v: v,
                "string": lambda v: str(v) if v is not None else None,
            }
            rows = [
                [cast[t](v) for t, v in zip(types, r)] for r in rows
            ]
        else:
            types = ["string"] * len(header)
            rows = [[None if v is None else str(v) for v in r] for r in rows]
        schema = ", ".join(f"`{h}` {t}" for h, t in zip(header, types))
        return local_frame(spark, rows, schema)


@dataclass
class ExcelSink:
    """Excel sink: single driver-side file by nature (the reference
    forces ``repartition(1)`` too, ExcelFileDataFrameSource.scala:23).
    Rows stream through ``toLocalIterator()`` into an incremental
    SpreadsheetML writer (xlsx_lite), so driver memory peaks at ONE
    partition — a misrouted big table fills the disk, not the heap.
    The stdlib codec also lets streaming appends read the file back;
    pandas' to_excel can't append and needs an engine this container
    doesn't ship."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if df.isStreaming:
            # Each micro-batch APPENDS (the batch writer rewrites the
            # whole file, so per-batch write() would keep only the last
            # batch's rows — last-write-wins data loss on any stream
            # that spans >1 micro-batch).
            return stream_via_foreach_batch(
                df, lambda batch: self._write_batch(batch, append=True), self.uri
            )
        return self._write_batch(df, append=False)

    def _write_batch(self, df: DataFrame, append: bool) -> bool:
        from spark_etl_cli_spark.operators.schema_tools import json_encode_complex
        from spark_etl_cli_spark.sources.xlsx_lite import read_xlsx, write_xlsx

        import itertools
        import tempfile

        flat = json_encode_complex(df)
        header = list(flat.columns)
        # toLocalIterator: one partition in driver memory at a time
        # (never the whole frame — collect() here OOMed on big tables)
        rows = (tuple(row) for row in flat.toLocalIterator())
        if append and os.path.exists(self.uri.path):
            old_header, old_rows = read_xlsx(self.uri.path)
            if old_header == header:
                rows = itertools.chain(old_rows, rows)
            # append rewrites the file being read: stage to a temp file
            # in the same dir, then atomic-replace
            target_dir = os.path.dirname(self.uri.path) or "."
            fd, tmp = tempfile.mkstemp(suffix=".xlsx", dir=target_dir)
            os.close(fd)
            try:
                write_xlsx(tmp, header, rows)
                os.replace(tmp, self.uri.path)
            except BaseException:
                if os.path.exists(tmp):
                    os.unlink(tmp)
                raise
            return True
        write_xlsx(self.uri.path, header, rows)
        return True


@register_source("excel", "xlsx", params=(
    Param("inferSchema", "bool", True,
          "stdlib reader: long/double/boolean columns, else all strings"),
))
def excel_source(p: ParsedUri) -> ExcelSource:
    return ExcelSource(p)


@register_sink("excel", "xlsx", params=STREAM_SINK)
def excel_sink(p: ParsedUri) -> ExcelSink:
    return ExcelSink(p)


def _kafka_available(spark: SparkSession) -> bool:
    return _jvm_class_exists(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    )


def kafka_reader_contract(uri: ParsedUri) -> tuple[str, dict[str, str]]:
    """(serde, reader options) EXACTLY as handed to ``format("kafka")``.

    This is the option contract the broker path depends on — parity
    with ``KafkaUriParser.scala:12-19`` / ``ETLTest.scala:174``:
    bootstrap servers from the URI authority, ``subscribe`` from the
    first path segment, every undeclared query param
    (``startingOffsets``, ``kafka.*`` tuning, ...) passed through
    verbatim. Pinned by ``tests/test_kafka_lite.py`` so the plumbing is
    verified without a broker to execute against.
    """
    return uri.args["serde"], {
        "kafka.bootstrap.servers": uri.authority,
        "subscribe": uri.first_path_part(),
        **uri.args.extra,
    }


def kafka_writer_contract(uri: ParsedUri) -> tuple[str, dict[str, str]]:
    """(serde, writer options) EXACTLY as handed to ``format("kafka")``
    on the write side: bootstrap from authority, ``topic`` from the
    first path segment, undeclared params (``checkpointLocation``
    among them) passed through."""
    return uri.args["serde"], {
        "kafka.bootstrap.servers": uri.authority,
        "topic": uri.first_path_part(),
        **uri.args.extra,
    }


@dataclass
class KafkaSource:
    """``kafka://host:port/topic?serde=json[:schema]|none&...``."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        if not _kafka_available(spark):
            raise MissingDependencyError("kafka", "the spark-sql-kafka connector jar")
        from spark_etl_cli_spark.streaming.serde import deserialize_values

        topic = self.uri.first_path_part()
        serde, options = kafka_reader_contract(self.uri)
        reader = (
            (spark.readStream if self.uri.is_stream else spark.read)
            .format("kafka")
            .options(**options)
        )
        raw = reader.load()
        df = deserialize_values(
            spark, raw, serde, topic=topic,
            include_key=self.uri.args["include-key"],
        )
        return apply_watermark(df, self.uri.args["watermark"])


@dataclass
class KafkaSink:
    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if not _kafka_available(df.sparkSession):
            raise MissingDependencyError("kafka", "the spark-sql-kafka connector jar")
        from spark_etl_cli_spark.streaming.serde import serialize_values

        topic = self.uri.first_path_part()
        serde, options = kafka_writer_contract(self.uri)
        out = serialize_values(
            df, serde, topic=topic, key_col=self.uri.args["key-column"]
        )
        if df.isStreaming:
            writer = out.writeStream.format("kafka").options(**options)
            stream_writer(writer, self.uri.args).start()
            return True
        out.write.format("kafka").options(**options).save()
        return True


_SERDE = Param("serde", default="json",
               doc="value codec: json[:schema] | avro:<schema> | none | ...")
_INCLUDE_KEY = Param("include-key", "enum", doc="add the message key column",
                     choices=("binary", "string"))
_KEY_COLUMN = Param("key-column", doc="column written as the message key")


@register_source("kafka", "kafka-stream", params=(
    _SERDE, _INCLUDE_KEY, WATERMARK,
    Param("*", doc="other keys pass to Spark's kafka source as options"),
))
def kafka_source(p: ParsedUri) -> KafkaSource:
    return KafkaSource(p)


# checkpointLocation stays a forwarded option: the writer contract
# hands it to format("kafka") as written
@register_sink("kafka", "kafka-stream", params=STREAM_SINK[1:] + (
    _SERDE, _KEY_COLUMN,
    Param("*", doc="other keys pass to Spark's kafka sink as options"),
))
def kafka_sink(p: ParsedUri) -> KafkaSink:
    return KafkaSink(p)


@register_source("kafka-lite", "kafka-lite-stream", params=(
    _SERDE, _INCLUDE_KEY, WATERMARK,
    Param("compacted", "bool", False,
          "batch: latest record per key, tombstones delete"),
))
def kafka_lite_source(p: ParsedUri):
    from spark_etl_cli_spark.sources.kafka_lite import KafkaLiteSource

    return KafkaLiteSource(p)


@register_sink("kafka-lite", "kafka-lite-stream", params=STREAM_SINK + (
    _SERDE, _KEY_COLUMN,
))
def kafka_lite_sink(p: ParsedUri):
    from spark_etl_cli_spark.sources.kafka_lite import KafkaLiteSink

    return KafkaLiteSink(p)


@dataclass
class SolrSink:
    """Batched per-partition HTTP sink (reference: foreachPartition with a
    CloudSolrClient, ``SolrDataFrameSourceSink.scala:34-91``).

    Implemented with ``foreachPartition`` + batched JSON POSTs so each
    executor holds one connection; requires a live Solr, so the network
    call is stubbed out unless ``spark.solr.zookeeperUrl``-style conf or
    ``?endpoint=`` is provided.
    """

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if df.isStreaming:
            return stream_via_foreach_batch(df, self.write, self.uri)
        endpoint = self.uri.args["endpoint"]
        if not endpoint:
            raise MissingDependencyError("solr", "a live Solr endpoint (?endpoint=)")
        # solr://collection puts the collection in the netloc;
        # solr://host/collection forms land it in the path
        collection = self.uri.first_path_part() or self.uri.authority
        batch_size = self.uri.args["batchSize"]
        from spark_etl_cli_spark.operators.schema_tools import json_encode_complex

        flat = json_encode_complex(df)
        url = f"{endpoint.rstrip('/')}/{collection}/update?commit=true"

        def send_partition(rows):
            import itertools
            import json as _json
            import urllib.request

            it = iter(rows)
            while True:
                batch = list(itertools.islice(it, batch_size))
                if not batch:
                    break
                payload = _json.dumps([r.asDict(recursive=True) for r in batch])
                req = urllib.request.Request(
                    url,
                    data=payload.encode(),
                    headers={"Content-Type": "application/json"},
                )
                urllib.request.urlopen(req).read()

        flat.foreachPartition(send_partition)
        return True


_ENDPOINT = Param("endpoint", doc="Solr base URL, e.g. http://host:8983/solr")


@register_sink("solr", params=STREAM_SINK + (
    _ENDPOINT, Param("batchSize", "int", 10000, "documents per POST"),
))
def solr_sink(p: ParsedUri) -> SolrSink:
    return SolrSink(p)


@dataclass
class SolrSource:
    """``solr://host/collection?endpoint=...&q=...&rows=...`` — /select
    with cursorMark deep paging.

    The reference leaves its Solr source unimplemented
    (``SolrDataFrameSourceSink.scala:24`` is ``???``); this implements
    it the way Solr documents deep paging: ``cursorMark=*`` plus a
    unique-key sort, following ``nextCursorMark`` until it repeats.
    cursorMark is inherently sequential (each page's mark comes from
    the previous response), so pages are fetched driver-side but
    SPILLED to a local JSONL file page-by-page — driver memory is
    O(one page), never O(collection) — and the file is then parsed
    distributed via ``spark.read.json``. At real cluster scale against
    a sharded SolrCloud, the upgrade path is per-shard parallel export
    (``/export`` handler or ``shards=`` pinning), which this design
    accommodates by keying the fetch loop on the endpoint URL.

    Params: ``q`` (default ``*:*``), ``rows`` page size (default 1000),
    ``sort`` (default ``id asc`` — must include the unique key),
    ``fl`` field list, ``max-rows`` fail-fast cap.
    """

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        a = self.uri.args
        endpoint = a["endpoint"]
        if not endpoint:
            raise MissingDependencyError("solr", "a live Solr endpoint (?endpoint=)")
        import json as _json
        import tempfile
        import urllib.parse
        import urllib.request

        collection = self.uri.first_path_part() or self.uri.authority
        q, rows, sort, fl = a["q"], a["rows"], a["sort"], a["fl"]
        max_rows = a["max-rows"]
        base = f"{endpoint.rstrip('/')}/{collection}/select"

        cursor = "*"
        fetched = 0
        tmp = tempfile.NamedTemporaryFile(
            "w", suffix=".solr.jsonl", delete=False, encoding="utf-8"
        )
        try:
            with tmp:
                while True:
                    query = {
                        "q": q,
                        "rows": str(rows),
                        "sort": sort,
                        "cursorMark": cursor,
                        "wt": "json",
                    }
                    if fl:
                        query["fl"] = fl
                    url = f"{base}?{urllib.parse.urlencode(query)}"
                    with urllib.request.urlopen(url) as resp:
                        body = _json.load(resp)
                    docs = body.get("response", {}).get("docs", [])
                    for doc in docs:
                        tmp.write(_json.dumps(doc) + "\n")
                    fetched += len(docs)
                    if max_rows and fetched > max_rows:
                        raise ValueError(
                            f"solr:// source exceeded max-rows={max_rows} "
                            f"(fetched {fetched}); raise the cap or narrow ?q="
                        )
                    nxt = body.get("nextCursorMark")
                    # Solr signals exhaustion by repeating the cursor
                    if not docs or nxt is None or nxt == cursor:
                        break
                    cursor = nxt
            if fetched == 0:
                return spark.range(0).select()  # empty, zero columns
            return spark.read.json(tmp.name)
        except BaseException:
            os.unlink(tmp.name)
            raise


@register_source("solr", params=(
    _ENDPOINT,
    Param("q", default="*:*", doc="query"),
    Param("rows", "int", 1000, "page size"),
    Param("sort", default="id asc", doc="sort; must include the unique key"),
    Param("fl", doc="field list"),
    Param("max-rows", "int", 0, "fail-fast row cap (0 = unlimited)"),
))
def solr_source(p: ParsedUri) -> SolrSource:
    return SolrSource(p)


@dataclass
class IcebergSource:
    """``iceberg:///path/to/table[?snapshot-id=N]`` — batch read.

    Uses the iceberg-spark runtime when its classes are on the
    classpath; otherwise the engine-free metadata walker
    (sources/iceberg_lite.py, enabled by the avro_lite manifest
    decoder). Beyond-reference surface.
    """

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        a = self.uri.args
        if _jvm_class_exists(
            spark, "org.apache.iceberg.spark.source.IcebergSource"
        ):
            return FileSource(
                self.uri, "iceberg", default_options=passthrough(a)
            ).read(spark)
        from spark_etl_cli_spark.sources import iceberg_lite as il

        if not il.is_iceberg_table(self.uri.path):
            raise MissingDependencyError(
                "iceberg", f"an Iceberg table at {self.uri.path} (no "
                "metadata/*.metadata.json found) or the iceberg-spark jar"
            )
        if a["meta"]:
            # metadata tables: the engines' SELECT * FROM tbl.snapshots
            from spark_etl_cli_spark.sources.meta_tables import (
                iceberg_meta_df,
            )

            return iceberg_meta_df(spark, self.uri.path, a["meta"])
        if self.uri.is_stream:
            # incremental snapshot reads via the Python DataSource
            # micro-batch reader (sources/icebergstream.py)
            from spark_etl_cli_spark.sources.icebergstream import (
                ensure_registered,
            )

            ensure_registered(spark)
            return _lite_stream(spark, self.uri, "iceberglite-stream", {
                "skip-overwrite-snapshots": a["skip-overwrite-snapshots"],
                "max-commits-per-batch": a["max-commits-per-batch"],
            })
        if a["changelog"]:
            # changelog read: row-level inserts/deletes per snapshot
            return il.read_iceberg_changes(
                spark, self.uri.path,
                from_snapshot=a["from-snapshot"],
                to_snapshot=a["to-snapshot"],
            )
        sid, as_of_ts, ref = a["snapshot-id"], a["as-of-timestamp"], a["ref"]
        if sum(x is not None for x in (sid, as_of_ts, ref)) > 1:
            raise ValueError(
                "pass at most one of ?snapshot-id= / ?as-of-timestamp= "
                "/ ?ref="
            )
        if ref is not None:
            sid = il.resolve_iceberg_ref(il._load_metadata(self.uri.path), ref)
        if as_of_ts is not None:
            sid = il.snapshot_id_at_timestamp(
                il._load_metadata(self.uri.path), as_of_ts
            )
        return il.read_iceberg_lite(
            spark, self.uri.path,
            snapshot_id=int(sid) if sid is not None else None,
            # manifest-level FILE pruning on identity partition columns
            where=a["where"],
            with_row_id=a["with-row-id"],
            with_last_updated_seq=a["with-last-updated-seq"],
        )


@register_source("iceberg", "iceberg-stream", params=SOURCE + (
    _META,
    Param("snapshot-id", "int", doc="time travel to a snapshot"),
    Param("as-of-timestamp", doc="time travel by commit time"),
    Param("ref", doc="read a tag or branch"),
    Param("changelog", "bool", False, "row-level changes per snapshot"),
    Param("from-snapshot", "int", doc="changelog: first snapshot"),
    Param("to-snapshot", "int", doc="changelog: last snapshot"),
    Param("skip-overwrite-snapshots", "bool", False,
          "stream: skip snapshots that rewrite rows"),
    _MAX_COMMITS,
    _WITH_ROW_ID,
    Param("with-last-updated-seq", "bool", False,
          "append the row's last-update sequence number"),
))
def iceberg_source(p: ParsedUri) -> IcebergSource:
    return IcebergSource(p)


def _parse_defaults(raw: str | None) -> dict | None:
    """``?defaults=col:<json-scalar>;...`` → ``{col: value}``: v3
    column defaults for columns a commit introduces."""
    if not raw:
        return None
    import json as _json

    dflts = {}
    for seg in raw.split(";"):
        if not seg:
            continue
        c, _, v = seg.partition(":")
        if not c or not v:
            raise ValueError(
                "?defaults= expects col:<json-scalar> segments; "
                f"got {seg!r}"
            )
        dflts[c.strip()] = _json.loads(v)
    return dflts


@dataclass
class IcebergSink:
    """``iceberg:///path/to/table[?mode=append|overwrite]`` — batch
    commits via the engine-free writer (sources/iceberg_lite.py):
    distributed parquet data write + avro manifest/manifest-list +
    O_EXCL-claimed metadata version. Streaming appends via the
    foreachBatch bridge."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        from spark_etl_cli_spark.sources import iceberg_lite as il

        a, path, mode = self.uri.args, self.uri.path, self.uri.args["mode"]
        if mode == "upsert":
            if not a["merge-key"]:
                raise ValueError(
                    "iceberg mode=upsert needs ?merge-key=<column>"
                )

            def commit(b: DataFrame) -> None:
                il.upsert_iceberg_lite(b, path, on=a["merge-key"])
        elif mode == "cdc":
            if not a["on"]:
                raise ValueError("iceberg mode=cdc needs ?on=<key>")

            def commit(b: DataFrame) -> None:
                il.apply_changes_iceberg_lite(
                    b, path, on=a["on"], sequence_col=a["sequence"]
                )
        elif df.isStreaming:
            # ?branch= stages every micro-batch onto the branch
            # (streaming WAP: audit the stage, then iceberg-publish)
            def commit(b: DataFrame) -> None:
                il.write_iceberg_lite(b, path, mode="append", branch=a["branch"])
        else:
            il.write_iceberg_lite(
                df, path, mode=mode, partition_by=a["partitionCols"] or None,
                merge_schema=a["mergeSchema"],
                format_version=a["format-version"],
                branch=a["branch"],
                sort_by=a["sortBy"] or None,
                column_defaults=_parse_defaults(a["defaults"]),
            )
            return True
        if df.isStreaming:
            return stream_via_foreach_batch(df, commit, self.uri)
        commit(df)
        return True


@register_sink("iceberg", params=STREAM_SINK + (
    Param("mode", default="append", aliases=("write-mode",),
          doc="append | overwrite | upsert | cdc"),
    Param("merge-key", doc="mode=upsert: key column"),
    _ON,
    _SEQUENCE,
    Param("branch", doc="stage commits onto this branch (write-audit-publish)"),
    _PARTITION_COLS,
    Param("format-version", "int", doc="format version of a new table"),
    Param("sortBy", "csv", doc="cluster rows in-file and record the sort order"),
    Param("defaults", doc="v3 column defaults 'col:<json>;...'"),
    _MERGE_SCHEMA,
))
def iceberg_sink(p: ParsedUri) -> IcebergSink:
    return IcebergSink(p)


@dataclass
class HudiSource:
    """``hudi:///path/to/table[?as-of=TS&view=read_optimized]`` —
    snapshot reads via the engine-free timeline replayer
    (sources/hudi_lite.py) when the Hudi runtime isn't on the
    classpath: COW latest-slice reads, and MOR snapshot reads merging
    each slice's .log blocks (hudi_log.py) over its base file;
    ?view=read_optimized serves the base-only RO view instead.
    Beyond-reference surface."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        a = self.uri.args
        if _jvm_class_exists(spark, "org.apache.hudi.DefaultSource"):
            return FileSource(
                self.uri, "hudi", default_options=passthrough(a)
            ).read(spark)
        from spark_etl_cli_spark.sources import hudi_lite as hl

        if not hl.is_hudi_table(self.uri.path):
            raise MissingDependencyError(
                "hudi", f"a Hudi table at {self.uri.path} (no .hoodie/ "
                "timeline found) or the hudi-spark bundle jar"
            )
        if a["meta"]:
            # metadata tables: timeline / live file-slice inventory
            from spark_etl_cli_spark.sources.meta_tables import hudi_meta_df

            return hudi_meta_df(spark, self.uri.path, a["meta"])
        if self.uri.is_stream:
            # incremental instant reads via the Python DataSource
            # micro-batch reader (sources/hudistream.py)
            from spark_etl_cli_spark.sources.hudistream import (
                ensure_registered,
            )

            ensure_registered(spark)
            return _lite_stream(spark, self.uri, "hudilite-stream", {
                "skip-change-commits": a["skip-change-commits"],
                "max-commits-per-batch": a["max-commits-per-batch"],
            })
        if a["begin-instant"] is not None:
            # incremental query: rows inserted/updated in
            # (begin-instant, end-instant]
            df = hl.read_hudi_incremental(
                spark, self.uri.path, a["begin-instant"],
                end_instant=a["end-instant"],
            )
            return df.filter(a["where"]) if a["where"] else df
        return hl.read_hudi_lite(
            spark, self.uri.path,
            as_of=a["as-of"],
            # MOR base-file-only view needs the explicit opt-in
            view=a["view"],
            # hive-style partition-path FILE pruning
            where=a["where"],
        )


@register_source("hudi", "hudi-stream", params=SOURCE + (
    _META,
    Param("as-of", doc="time travel to an instant"),
    Param("view", doc="read_optimized: base files only (MOR)"),
    Param("begin-instant", doc="incremental query: after this instant"),
    Param("end-instant", doc="incremental query: up to this instant"),
    Param("skip-change-commits", "bool", False,
          "stream: skip instants that rewrite rows"),
    _MAX_COMMITS,
))
def hudi_source(p: ParsedUri) -> HudiSource:
    return HudiSource(p)


@dataclass
class HudiSink:
    """``hudi:///path[?mode=append|overwrite|upsert&record-key=col
    &table-type=MERGE_ON_READ]`` — commits via the engine-free writer
    (sources/hudi_lite.py). COW upsert rewrites only the file groups
    holding matching record keys (semi-join location, the lite
    stand-in for Hudi's bloom index); MOR upsert appends AVRO data
    blocks to the affected groups' log files instead (zero base bytes
    rewritten); overwrite = replacecommit of all live file groups.
    table-type applies at table CREATION. Streaming honors the same
    mode surface through the foreachBatch bridge: append, upsert (a
    record-key MERGE per micro-batch — COW rewrites matched slices,
    MOR appends log blocks) or cdc."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        from spark_etl_cli_spark.sources import hudi_lite as hl

        a, path, mode = self.uri.args, self.uri.path, self.uri.args["mode"]
        if mode == "cdc":
            if not a["on"]:
                raise ValueError("hudi mode=cdc needs ?on=<key>")

            def commit(b: DataFrame) -> None:
                hl.apply_changes_hudi_lite(
                    b, path, on=a["on"], sequence_col=a["sequence"]
                )
        else:
            if df.isStreaming and mode not in ("append", "upsert"):
                raise ValueError(
                    "streaming hudi sink supports mode=append|upsert|cdc, "
                    f"got {mode!r}"
                )

            def commit(b: DataFrame) -> None:
                hl.write_hudi_lite(
                    b, path, mode=mode, record_key=a["record-key"],
                    partition_by=a["partitionCols"] or None,
                    table_type=a["table-type"],
                )
        if df.isStreaming:
            return stream_via_foreach_batch(df, commit, self.uri)
        commit(df)
        return True


@register_sink("hudi", params=STREAM_SINK + (
    Param("mode", default="append", aliases=("write-mode",),
          doc="append | overwrite | upsert | cdc"),
    Param("record-key", aliases=("recordKey",), doc="record key column(s)"),
    _PARTITION_COLS,
    Param("table-type", "enum", "COPY_ON_WRITE", "applies at table creation",
          choices=("COPY_ON_WRITE", "MERGE_ON_READ")),
    _ON,
    _SEQUENCE,
))
def hudi_sink(p: ParsedUri) -> HudiSink:
    return HudiSink(p)
