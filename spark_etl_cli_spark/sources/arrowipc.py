"""Arrow IPC (Feather v2) connector via the Spark 4 Python DataSource API.

Spark has no built-in reader for the Arrow IPC *file* format even though
Arrow is its own interchange format; this connector adds one the
Spark-4-idiomatic way — a registered ``pyspark.sql.datasource.DataSource``
whose reader yields ``pyarrow.RecordBatch``es straight off a memory-map
(zero row-materialization on the Python side) and whose writer is a
``DataSourceArrowWriter`` (Arrow batches in, Arrow file out, no Row
round-trip).

Scale design:

- **Partitioning** comes from the IPC footer: each file advertises its
  record-batch count without reading data, and the reader splits every
  file into contiguous batch ranges of ``batches-per-task`` (default 8)
  so a directory of N files fans out to ~sum(batches)/8 tasks, each
  memory-mapping only its slice.
- **Filter pushdown** (`pushFilters`, Spark 4.1): comparison/null-test
  filters on top-level columns are evaluated per batch with
  ``pyarrow.compute`` before rows ever reach the JVM — the Arrow-side
  analogue of parquet row-group skipping. Unsupported filters are left
  for Spark to apply.
- The commit protocol is the standard DataSourceWriter one: tasks write
  ``part-*.arrow`` files and report them in commit messages; a failed
  job aborts and removes its partial outputs.

This extends the reference's connector surface (its closest analogue is
the parquet connector, reference ``core/.../ParquetDataFrameIO.scala:7-26``)
with a format it lacks, using only public PyArrow + PySpark APIs.
"""

from __future__ import annotations

import glob as _glob
import os
import uuid
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.sources.base import WATERMARK, apply_watermark
from spark_etl_cli_spark.uri import Param, ParsedUri

_FORMAT_NAME = "arrowipc"
_GLOB_EXTS = ("*.arrow", "*.feather", "*.ipc")


def _list_ipc_files(path: str) -> list[str]:
    if os.path.isdir(path):
        found: list[str] = []
        for ext in _GLOB_EXTS:
            found.extend(_glob.glob(os.path.join(path, ext)))
        return sorted(found)
    if any(ch in path for ch in "*?["):
        return sorted(_glob.glob(path))
    return [path]


@dataclass
class _BatchRange(InputPartition):
    """One task's slice: contiguous record batches of one IPC file."""

    file: str
    start: int
    end: int  # exclusive


class _ArrowIPCReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("arrowipc reader requires a path")
        self.batches_per_task = int(options.get("batches-per-task", "8"))
        self.pushed: list[Filter] = []

    # -- pushdown ---------------------------------------------------------
    _COMPARISONS = (
        EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual,
        IsNull, IsNotNull,
    )

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            # Only top-level columns; nested paths stay with Spark.
            if isinstance(f, self._COMPARISONS) and len(f.attribute) == 1:
                self.pushed.append(f)
            else:
                yield f

    def _mask(self, batch, pc):
        """AND of pushed filters as a pyarrow boolean mask, or None."""
        mask = None
        for f in self.pushed:
            col = batch.column(f.attribute[0])
            if isinstance(f, EqualTo):
                m = pc.equal(col, f.value)
            elif isinstance(f, GreaterThan):
                m = pc.greater(col, f.value)
            elif isinstance(f, GreaterThanOrEqual):
                m = pc.greater_equal(col, f.value)
            elif isinstance(f, LessThan):
                m = pc.less(col, f.value)
            elif isinstance(f, LessThanOrEqual):
                m = pc.less_equal(col, f.value)
            elif isinstance(f, IsNull):
                m = pc.is_null(col, nan_is_null=False)
            else:  # IsNotNull
                m = pc.is_valid(col)
            # Comparisons with null propagate null => treat as not-matching,
            # same as SQL WHERE semantics.
            m = pc.fill_null(m, False)
            mask = m if mask is None else pc.and_(mask, m)
        return mask

    # -- planning ---------------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        import pyarrow as pa

        parts: list[_BatchRange] = []
        for f in _list_ipc_files(self.path):
            with pa.memory_map(f, "r") as mm:
                n = pa.ipc.open_file(mm).num_record_batches
            if n == 0:
                continue
            step = max(1, self.batches_per_task)
            for start in range(0, n, step):
                parts.append(_BatchRange(f, start, min(start + step, n)))
        # An empty dataset still needs one (empty) partition.
        return parts or [_BatchRange("", 0, 0)]

    # -- execution --------------------------------------------------------
    def read(self, partition: _BatchRange) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        if not partition.file:
            return
        with pa.memory_map(partition.file, "r") as mm:
            reader = pa.ipc.open_file(mm)
            for i in range(partition.start, partition.end):
                batch = reader.get_batch(i)
                mask = self._mask(batch, pc)
                if mask is not None:
                    batch = batch.filter(mask)
                if batch.num_rows:
                    yield batch


class _ArrowIPCStreamReader(DataSourceStreamReader):
    """Micro-batch reader over an append-only directory of IPC files.

    Files are atomic units (an IPC file is complete once its footer is
    written): an offset is the set of files fully processed, so the
    reader is robust to part-file names that don't sort in arrival
    order (the batch writer names parts by uuid). Each new file fans
    out to batch-range partitions exactly like the batch reader.
    """

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("arrowipc stream reader requires a path")
        self.batches_per_task = int(options.get("batches-per-task", "8"))

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": [os.path.basename(f) for f in _list_ipc_files(self.path)]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        import pyarrow as pa

        new = sorted(set(end.get("files", [])) - set(start.get("files", [])))
        parts: list[_BatchRange] = []
        for name in new:
            f = os.path.join(self.path, name)
            if not os.path.exists(f):
                # an offset-listed file vanishing is data loss, not a
                # condition to skip silently
                raise FileNotFoundError(
                    f"arrowipc stream: offset lists {name!r} but it no "
                    f"longer exists under {self.path!r}"
                )
            with pa.memory_map(f, "r") as mm:
                n = pa.ipc.open_file(mm).num_record_batches
            step = max(1, self.batches_per_task)
            for s in range(0, n, step):
                parts.append(_BatchRange(f, s, min(s + step, n)))
        return parts or [_BatchRange("", 0, 0)]

    def read(self, partition: _BatchRange):
        import pyarrow as pa

        if not partition.file:
            return
        with pa.memory_map(partition.file, "r") as mm:
            reader = pa.ipc.open_file(mm)
            for i in range(partition.start, partition.end):
                batch = reader.get_batch(i)
                if batch.num_rows:
                    yield batch

    def commit(self, end: dict) -> None:
        return None


@dataclass
class _WroteFile(WriterCommitMessage):
    path: str
    rows: int


class _ArrowIPCWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("arrowipc writer requires a path")
        self.schema = schema

    def write(self, iterator: Iterator) -> WriterCommitMessage:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        os.makedirs(self.path, exist_ok=True)
        out = os.path.join(self.path, f"part-{uuid.uuid4().hex}.arrow")
        arrow_schema = None
        sink = None
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    arrow_schema = batch.schema
                    sink = pa.OSFile(out, "wb")
                    writer = pa.ipc.new_file(sink, arrow_schema)
                writer.write_batch(batch)
                rows += batch.num_rows
            if writer is None:
                # Empty partition: still write a valid zero-row file so
                # the dataset schema survives round-trips.
                arrow_schema = to_arrow_schema(self.schema)
                sink = pa.OSFile(out, "wb")
                writer = pa.ipc.new_file(sink, arrow_schema)
        finally:
            if writer is not None:
                writer.close()
            if sink is not None:
                sink.close()
        return _WroteFile(out, rows)

    def commit(self, messages: List[WriterCommitMessage]) -> None:
        return None

    def abort(self, messages: List[WriterCommitMessage]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class ArrowIPCDataSource(DataSource):
    """``spark.read.format("arrowipc")`` / ``df.write.format("arrowipc")``."""

    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema
        import pyarrow as pa

        path = self.options.get("path")
        if not path:
            raise ValueError("arrowipc requires a path")
        files = _list_ipc_files(path)
        if not files:
            raise FileNotFoundError(f"no Arrow IPC files under {path!r}")
        with pa.memory_map(files[0], "r") as mm:
            arrow_schema = pa.ipc.open_file(mm).schema
        return from_arrow_schema(arrow_schema)

    def reader(self, schema: StructType) -> _ArrowIPCReader:
        return _ArrowIPCReader(dict(self.options), schema)

    def streamReader(self, schema: StructType) -> _ArrowIPCStreamReader:
        return _ArrowIPCStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> _ArrowIPCWriter:
        path = self.options.get("path")
        if overwrite and path and os.path.isdir(path):
            for stale in _list_ipc_files(path):
                os.remove(stale)
        return _ArrowIPCWriter(dict(self.options), schema)


_registered_sessions: set[str] = set()


def _ensure_registered(spark: SparkSession) -> None:
    # dataSource.register is per-session; make it idempotent per session.
    key = str(id(spark))
    if key not in _registered_sessions:
        spark.dataSource.register(ArrowIPCDataSource)
        # pushFilters requires this runtime conf; sessions built outside
        # get_spark (e.g. a bare SparkSession in a notebook) may lack it.
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        _registered_sessions.add(key)


@dataclass
class ArrowIPCSource:
    """``arrow:///path[?batches-per-task=N]`` — dir, glob, or single file.

    ``arrow-stream://`` switches to micro-batch streaming over an
    append-only directory (``?watermark=col:dur`` supported); the
    schema comes from the first file's footer, no ``?schema=`` needed.
    """

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        _ensure_registered(spark)
        reader = (
            spark.readStream if self.uri.is_stream else spark.read
        ).format(_FORMAT_NAME)
        a = self.uri.args
        df = reader.option("batches-per-task", a["batches-per-task"]).load(
            self.uri.path
        )
        return apply_watermark(df, a["watermark"])


@dataclass
class ArrowIPCSink:
    """``arrow:///path[?mode=append]`` — one part-*.arrow per task."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        _ensure_registered(df.sparkSession)
        df.write.format(_FORMAT_NAME).mode(self.uri.args["mode"]).save(
            self.uri.path
        )
        return True


@register_source("arrow", "feather", "arrow-stream", "feather-stream", params=(
    Param("batches-per-task", "int", 8, "record batches per read task"),
    WATERMARK,
))
def arrow_source(p: ParsedUri) -> ArrowIPCSource:
    return ArrowIPCSource(p)


@register_sink("arrow", "feather", params=(
    Param("mode", default="overwrite", doc="save mode"),
))
def arrow_sink(p: ParsedUri) -> ArrowIPCSink:
    return ArrowIPCSink(p)
