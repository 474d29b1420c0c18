"""SparkSession construction with scale-aware defaults.

The reference builds its session by folding in every registered
connector's extra Spark confs before ``getOrCreate`` (reference
``etl/src/main/scala/dev/mauch/spark/dfio/ETL.scala:110-117``). We do
the same: :func:`get_spark` merges base confs, connector-contributed
confs from the registry, and caller overrides.

Defaults are tuned for correctness-at-scale first:

- AQE on (runtime coalescing, skew-join splitting) so plans adapt when
  the same code runs at 100 TB instead of sf0.01.
- ``spark.sql.shuffle.partitions`` defaults to ~2x local cores; on a
  real cluster AQE's coalescing makes the initial number forgiving.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (and are deterministic across clusters).
- Arrow enabled for any Pandas-UDF path.

:func:`local_frame` is how the package builds a DataFrame from rows
it holds on the driver (reports, file lists, deletion positions).

The call that launches the driver JVM starts it from a class-data-sharing
archive when one can be used (``cds.py``; README "Cold start").
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from pathlib import Path
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_etl_cli_spark import cds


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


BASE_CONFS: dict[str, str] = {
    # In local mode the driver JVM hosts every executor thread; the 1g
    # default thrashes GC with 32 cores of Tungsten pages (observed:
    # GCLocker retries + TaskMemoryManager allocation failures turning
    # a 2 s scan into 30 s+). Sized for the test box; on a real cluster
    # this is a no-op for executors, which get their own sizing.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: 64 MB. Dimension tables (region/nation and
    # most computed aggregates) stay broadcastable even at large SF.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # TIMESTAMP(NANOS) parquet columns (the synthetic events table's
    # older generations) are rejected by the vectorized reader unless
    # surfaced as LONG nanoseconds. Session-build conf, not a per-read
    # mutation: runtime-settable, but setting it inside a source's
    # read() mutated shared session state as a side effect.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let Python DataSources (the Arrow IPC connector) receive pushed
    # filters via DataSourceReader.pushFilters (Spark 4.1).
    "spark.sql.python.filterPushdown.enabled": "true",
    # PySpark's DataFrame-debugging call-site capture wraps every
    # functions/Column call in two py4j round trips and a stack walk,
    # and its first call imports IPython (0.4-0.65 s). Off, q168
    # made 963 py4j round trips instead of 1,940; errors lose only the
    # Python call site of the failing Column.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Streaming checkpoints (offsets, commits, sink metadata, every
    # state-store delta) through Hadoop's FileSystem API, not the
    # default FileContext one: without libhadoop, a FileContext rename
    # on a local path resolves symlinks by forking `readlink` (about
    # 29 ms a rename, 0.32-0.37 ms through FileSystem on 4 vCPUs), and
    # a stateful epoch renames once per state partition. Files, their
    # checksums and the no-overwrite rename stay the same.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": str(max(default_parallelism(), 8)),
    # A long-lived session serving many DISTINCT plan shapes (an app
    # running hundreds of registered queries, a multi-tenant driver, a
    # Thrift server) cycles far more generated classes than the
    # 100-entry Janino class cache holds: every eviction re-compiles
    # the class AND discards its C2-compiled machine code, so heavy
    # plan shapes (stream-stream joins, wide HOF pipelines) never stay
    # warm. Measured on the 208-query suite: stream-stream joins pinned
    # at 3-4x their isolated time (q53 11.7 s vs 3.0 s) until the cache
    # was sized to the working set. Entries are compiled classes
    # (metaspace, unbounded by default) — thousands are cheap.
    "spark.sql.codegen.cache.maxEntries": "10000",
    # The JVM code cache (240 MB default) is the same story one level
    # down: once full, the JIT flushes cold compiled methods, and the
    # flushed ones are exactly the big per-plan generated methods.
    # 1 GB keeps every plan's machine code resident. Driver-side only
    # matters in local mode; on a cluster pass the same flag via
    # spark.executor.extraJavaOptions.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
}

# Streaming state-store posture for 100 TB: the default HDFS-backed
# provider keeps every key in executor heap — large stateful shapes
# (stream-stream outer joins, dropDuplicates over wide watermarks,
# flatMapGroupsWithState sessionization; the q53/q55/q148 families)
# eventually OOM or GC-thrash. RocksDB spills state to local disk with
# incremental checkpointing, which is the documented production choice
# for state past a few GB per executor. Opt-in (not default) because
# tiny local state is faster on-heap and test boxes value startup time:
#   get_spark(extra_confs=rocksdb_state_confs())   or
#   SPARK_GRAFT_ROCKSDB_STATE=1 in the environment.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def rocksdb_state_confs() -> dict[str, str]:
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_STATE_PROVIDER,
        # changelog checkpointing uploads deltas, not full snapshots —
        # the at-scale default pairing for RocksDB state
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
        ".enabled": "true",
    }


def get_spark(
    app_name: str = "spark_etl_cli_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``extra_confs`` (e.g. connector-contributed confs such as Delta's
    SQL extension) override the base confs; an already-active session is
    reused as-is, matching ``getOrCreate`` semantics.
    """
    master = master or f"local[{default_parallelism()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(BASE_CONFS)
    if os.environ.get("SPARK_GRAFT_ROCKSDB_STATE", "").lower() in (
        "1", "true", "yes",
    ):
        confs.update(rocksdb_state_confs())
    if extra_confs:
        confs.update(extra_confs)
    # Python workers import this package inside UDF and Arrow stages; they
    # find it on their own only when the working directory is its root.
    root = str(Path(__file__).resolve().parent.parent)
    if Path(root).name not in ("site-packages", "dist-packages"):
        key = "spark.executorEnv.PYTHONPATH"
        confs[key] = os.pathsep.join(p for p in (confs.get(key), root) if p)

    def start(confs: dict[str, str]) -> SparkSession:
        for k, v in confs.items():
            builder.config(k, v)
        return builder.getOrCreate()

    # Only a call that launches the driver JVM can choose its command
    # line; an earlier session's or a PySpark shell's JVM keeps its own.
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark = cds.launch(confs, start)
    else:
        spark = start(confs)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def observed_metrics(obs) -> dict | None:
    """Non-blocking read of an Observation's metrics.

    ``Observation.get`` blocks until an action computes the observed
    plan — which never happens for lazy sinks (``memory://`` just
    registers a view) or row-limited ones (``console://`` shows a
    prefix), nor for a join side AQE skipped once the other side came
    back empty. ``getOrEmpty`` (public JVM API) returns an empty map in
    those cases (or fails on the skipped side); report None instead of
    hanging.
    """
    try:
        # getOrEmpty returns a (scala) Map — only probe emptiness on
        # the JVM side; once metrics exist, the public .get is
        # non-blocking.
        if obs._jo.getOrEmpty().isEmpty():
            return None
        return dict(obs.get)
    except Exception:
        return None


def _field_values(row: Any, names: list[str]) -> Any:
    """A row's values in field order: dicts by name (a missing key is
    null), tuples and lists by position."""
    if isinstance(row, dict):
        return [row.get(n) for n in names]
    return row


def _converter(dt: T.DataType) -> Callable[[Any], Any] | None:
    """Conversion of a non-null value to what ``pyarrow.array`` accepts
    for ``dt``, or None when values pass as they are. Structs become
    dicts (Arrow takes a struct array's values all as dicts or all as
    tuples, Python rows mix them); naive datetimes are read as local
    time, as ``createDataFrame`` over a list reads them."""
    if isinstance(dt, T.StructType):
        names = dt.names
        convs = [_converter(f.dataType) for f in dt.fields]
        return lambda v: {
            n: _apply(c, x)
            for n, x, c in zip(names, _field_values(v, names), convs,
                               strict=True)
        }
    if isinstance(dt, T.ArrayType):
        elem = _converter(dt.elementType)
        return elem and (lambda v: [_apply(elem, x) for x in v])
    if isinstance(dt, T.MapType):
        key, val = _converter(dt.keyType), _converter(dt.valueType)
        if key is None and val is None:
            return None
        return lambda v: {
            _apply(key, k): _apply(val, x) for k, x in dict(v).items()
        }
    if isinstance(dt, T.TimestampType):
        return lambda v: v.astimezone() if v.tzinfo is None else v
    return None


def _apply(conv: Callable[[Any], Any] | None, v: Any) -> Any:
    return v if conv is None or v is None else conv(v)


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: T.StructType | str
) -> DataFrame:
    """Driver-built rows as a DataFrame over a JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` pickles the rows into a
    Python RDD, so every action over the frame starts PySpark Python
    workers (about 0.3 s an action warm, more than 1.5 s for the first,
    on 4 cores). Here the rows become one ``pyarrow.Table`` under the
    declared schema and Spark keeps them as a ``LocalRelation``:
    running it starts no Python worker, and the optimizer knows its
    exact size. ``rows`` is any iterable of tuples or lists (by
    position) or dicts (by name); ``schema`` a StructType or a DDL
    string.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    columns: list[list[Any]] = [[] for _ in names]
    for row in rows:
        for col, v in zip(columns, _field_values(row, names), strict=True):
            col.append(v)
    arrow_schema = to_arrow_schema(schema)
    arrays = []
    for col, f, af in zip(columns, schema.fields, arrow_schema, strict=True):
        conv = _converter(f.dataType)
        if conv is not None:
            col = [_apply(conv, v) for v in col]
        arrays.append(pa.array(col, type=af.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)
