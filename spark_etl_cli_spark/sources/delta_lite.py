"""Engine-free Delta Lake BATCH READER: replay the transaction log.

The Delta protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md)
is public: a table is a directory of parquet data files plus a
``_delta_log/`` of ordered JSON commits (and periodic parquet
checkpoints), where each commit carries ``add``/``remove`` file actions
and ``metaData`` (schema + partition columns). Replaying the log yields
the current snapshot's file list — which plain ``spark.read.parquet``
can then scan. That makes ``delta://`` READS work without the
delta-spark jars (mirroring the stdlib SpreadsheetML fallback of the
excel connector, sources/xlsx_lite.py). WRITES work engine-free too
(:func:`write_delta_lite`: parquet data files + a JSON commit with
add/remove actions, O_EXCL version reservation); streaming writes
bridge via foreachBatch with per-epoch ``txn`` (SetTransaction)
actions, so a replayed micro-batch is an idempotent no-op — the same
exactly-once contract the jar'd sink derives from its LogStore.

Supported: JSON commits, ``_last_checkpoint`` + single-file,
multi-part, AND v2 (sidecar-backed, json or parquet) checkpoints,
partition columns (restored from
``partitionValues`` with schema-typed casts), schema from
``metaData.schemaString``, column mapping (``mode=name``/``id`` —
physical-name reads renamed back to the logical schema, nested fields
included), and deletion vectors (all three storage forms, decoded by
the from-scratch roaring codec in ``sources/dv_lite.py`` and applied
as positional anti-filters over ``_metadata.row_index``).
Unsupported (raises): reader features beyond
deletionVectors/columnMapping/timestampNtz/v2Checkpoint.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_etl_cli_spark.session import local_frame, observed_metrics
from spark_etl_cli_spark.sources.keygate import KeyGate, KeyStats


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def is_delta_table(table_path: str) -> bool:
    return os.path.isdir(_log_dir(table_path))


_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "v2Checkpoint",
}


def _check_protocol(pr: dict) -> None:
    """Single reader-feature gate for BOTH replay paths.

    Protocol actions can live in a checkpoint (not just JSON commits),
    so checkpoint extraction must run through the same validation —
    otherwise a checkpointed table with e.g. variantType would be read
    silently with wrong data instead of raising.
    """
    reader_v = int(pr.get("minReaderVersion", 1))
    if reader_v == 3:
        # table-features protocol: fine as long as every declared
        # reader feature is one we implement
        feats = set(pr.get("readerFeatures") or [])
        if not feats <= _SUPPORTED_READER_FEATURES:
            raise NotImplementedError(
                f"Delta reader features {sorted(feats - _SUPPORTED_READER_FEATURES)} "
                "need delta-spark"
            )
    elif reader_v > 3:
        raise NotImplementedError(
            f"Delta reader protocol {pr} needs delta-spark"
        )


_DV_STRUCT = T.StructType(
    [
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ]
)
_ADD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField(
            "partitionValues", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("deletionVector", _DV_STRUCT),
        # row tracking fields must survive the checkpoint projection
        # or _row_id reads fence after a checkpoint
        T.StructField("stats", T.StringType()),
        T.StructField("baseRowId", T.LongType()),
        T.StructField("defaultRowCommitVersion", T.LongType()),
    ]
)


def _normalize_add_df(df: DataFrame) -> DataFrame:
    """Project a checkpoint action DataFrame down to the add columns the
    reader needs (``_ADD_SCHEMA``), all executor-side — the snapshot's
    file list never materializes on the driver here.
    """
    add_fields = {f.name for f in df.schema["add"].dataType.fields}
    sel: list = []
    for f in _ADD_SCHEMA.fields:
        if f.name == "deletionVector":
            # Select the needed DV subfields BY NAME: real engines'
            # checkpoints store extra trailing fields (delta-spark adds
            # maxRowIndex), so a positional cast(_DV_STRUCT) of the
            # whole struct fails on field-count mismatch.
            if "deletionVector" in add_fields:
                dv_fields = {
                    sf.name
                    for sf in df.schema["add"]
                    .dataType["deletionVector"]
                    .dataType.fields
                }
                dv = F.struct(
                    *[
                        (
                            F.col(f"add.deletionVector.{sf.name}")
                            if sf.name in dv_fields
                            else F.lit(None)
                        )
                        .cast(sf.dataType)
                        .alias(sf.name)
                        for sf in _DV_STRUCT.fields
                    ]
                )
                # a NULL descriptor must stay NULL, not become a
                # struct of NULLs (replay treats non-null storageType
                # as "has a DV")
                sel.append(
                    F.when(
                        F.col("add.deletionVector").isNotNull(), dv
                    ).alias(f.name)
                )
            else:
                sel.append(F.lit(None).cast(_DV_STRUCT).alias(f.name))
        elif f.name in add_fields:
            sel.append(F.col(f"add.{f.name}").cast(f.dataType).alias(f.name))
        else:
            sel.append(F.lit(None).cast(f.dataType).alias(f.name))
    out = df.filter(F.col("add.path").isNotNull()).select(*sel)
    # The log stores paths RFC 2396 percent-encoded. url_decode() is
    # form-decoding ('+' -> space), which unquote() does NOT do — so
    # protect literal '+' as %2B first to get exact unquote semantics.
    return out.withColumn(
        "path", F.url_decode(F.replace("path", F.lit("+"), F.lit("%2B")))
    )


def _adds_df_from_dicts(spark: SparkSession, dicts: list[dict]) -> DataFrame:
    """Small driver-side action dicts (a v2 JSON manifest) -> add DF."""
    rows = []
    for d in dicts:
        a = d.get("add")
        if not a or not a.get("path"):
            continue
        dv = a.get("deletionVector")
        rows.append(
            (
                unquote(a["path"]),
                a.get("partitionValues"),
                a.get("size"),
                a.get("modificationTime"),
                (
                    dv.get("storageType"),
                    dv.get("pathOrInlineDv"),
                    dv.get("offset"),
                    dv.get("sizeInBytes"),
                    dv.get("cardinality"),
                )
                if dv
                else None,
                a.get("stats"),
                a.get("baseRowId"),
                a.get("defaultRowCommitVersion"),
            )
        )
    return local_frame(spark, rows, _ADD_SCHEMA)


def _head_action(df: DataFrame, action: str, key: str) -> dict | None:
    """Pull the single metaData/protocol row out of a checkpoint DF
    (one-row driver transfer; the add rows stay distributed)."""
    if action not in df.columns:
        return None
    row = (
        df.filter(F.col(f"{action}.{key}").isNotNull()).select(action).head()
    )
    return row[0].asDict(recursive=True) if row else None


def _read_checkpoint(
    spark: SparkSession, log_dir: str
) -> tuple[int, DataFrame | None, dict | None, dict | None]:
    """Returns (version, add-action DataFrame or None, metaData, protocol).

    The snapshot file list stays a DataFrame — at a 10^6-add checkpoint
    the old collect()-everything shape was a driver-memory ceiling; now
    only the one metaData and one protocol row cross to the driver here.
    """
    lc = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(lc):
        return -1, None, None, None
    with open(lc) as fh:
        info = json.load(fh)
    version = int(info["version"])
    parts = info.get("parts")
    if parts:
        # multi-part checkpoint (PROTOCOL.md "Checkpoint Files"):
        # N files named <v>.checkpoint.<i>.<N>.parquet, i in 1..N,
        # union of rows = the snapshot state
        n = int(parts)
        cp_paths = [
            os.path.join(
                log_dir,
                f"{version:020d}.checkpoint.{i:010d}.{n:010d}.parquet",
            )
            for i in range(1, n + 1)
        ]
        missing = [p for p in cp_paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"multi-part checkpoint incomplete: missing {missing}"
            )
        df = spark.read.parquet(*cp_paths)
        return (
            version,
            _normalize_add_df(df),
            _head_action(df, "metaData", "id"),
            _head_action(df, "protocol", "minReaderVersion"),
        )
    cp_path = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(cp_path):
        df = spark.read.parquet(cp_path)
        return (
            version,
            _normalize_add_df(df),
            _head_action(df, "metaData", "id"),
            _head_action(df, "protocol", "minReaderVersion"),
        )
    # V2 checkpoint (PROTOCOL.md "V2 spec checkpoints"): a single
    # <v>.checkpoint.<uniqueId>.{parquet,json} whose actions may
    # delegate the file list to sidecar parquet files under
    # _delta_log/_sidecars/. _last_checkpoint may name it via "path";
    # otherwise discover by glob.
    import glob as _glob

    named = info.get("path")
    candidates = (
        [os.path.join(log_dir, named)]
        if named
        else sorted(
            _glob.glob(os.path.join(log_dir, f"{version:020d}.checkpoint.*.parquet"))
            + _glob.glob(os.path.join(log_dir, f"{version:020d}.checkpoint.*.json"))
        )
    )
    if not candidates or not os.path.exists(candidates[0]):
        raise FileNotFoundError(
            f"checkpoint for version {version} not found under {log_dir}"
        )
    cp = candidates[0]
    if cp.endswith(".json"):
        # the manifest itself is small (it delegates the file list to
        # sidecars) — driver-side parse is fine
        dicts = []
        with open(cp) as fh:
            for line in fh:
                if line.strip():
                    dicts.append(json.loads(line))
        meta = next(
            (d["metaData"] for d in dicts if d.get("metaData", {}).get("id")),
            None,
        )
        protocol = next(
            (
                d["protocol"]
                for d in dicts
                if d.get("protocol", {}).get("minReaderVersion")
            ),
            None,
        )
        sidecars = [
            d["sidecar"]["path"]
            for d in dicts
            if d.get("sidecar", {}) and d["sidecar"].get("path")
        ]
        adds_df = _adds_df_from_dicts(spark, dicts)
    else:
        df = spark.read.parquet(cp)
        meta = _head_action(df, "metaData", "id")
        protocol = _head_action(df, "protocol", "minReaderVersion")
        sidecars = (
            [
                r[0]
                for r in df.filter(F.col("sidecar.path").isNotNull())
                .select("sidecar.path")
                .collect()
            ]
            if "sidecar" in df.columns
            else []
        )
        adds_df = (
            _normalize_add_df(df)
            if "add" in df.columns
            else _adds_df_from_dicts(spark, [])
        )
    for sc in sidecars:
        # sidecar files hold file actions (top-level add/remove structs);
        # read per-file since schemas may differ across sidecars
        sc_path = os.path.join(log_dir, "_sidecars", sc)
        adds_df = adds_df.unionByName(
            _normalize_add_df(spark.read.parquet(sc_path))
        )
    return version, adds_df, meta, protocol


# Driver-memory guard for the final file-list materialization: metadata
# rows are ~200 bytes, so 2M files ~= 400 MB driver-side — past that a
# real Delta client (which keeps snapshot state distributed end-to-end)
# is the right tool. Override via env for bigger drivers.
def _max_files() -> int:
    return int(os.environ.get("SPARK_ETL_DELTA_LITE_MAX_FILES", "2000000"))


def _replay(
    spark: SparkSession,
    table_path: str,
    version_as_of: int | None = None,
    where: str | None = None,
) -> tuple[list[dict], dict]:
    """Snapshot file list + metaData via log replay.

    Checkpoint adds are reconciled against the JSON tail DataFrame-side
    (anti-join on the tail's removed/re-added paths); only the FINAL
    file list crosses to the driver, behind a ``_max_files`` guard.
    ``where`` (partition predicate) additionally prunes the list before
    it is collected.
    """
    log_dir = _log_dir(table_path)
    if version_as_of is None:
        cp_version, adds_df, meta, cp_protocol = _read_checkpoint(
            spark, log_dir
        )
        if cp_protocol:
            _check_protocol(cp_protocol)
    else:
        # time travel: replay from scratch up to the requested version
        # (checkpoints may postdate it, so they can't be used)
        cp_version, adds_df, meta = -1, None, None
    # JSON tail replay (driver-side: the tail is bounded by the
    # checkpoint interval, not by table size)
    tail_active: dict[str, dict] = {}
    removed: set[str] = set()
    commits = sorted(
        f for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit() and int(f[:20]) > cp_version
        and (version_as_of is None or int(f[:20]) <= version_as_of)
    )
    if version_as_of is not None and (
        not commits or int(commits[-1][:20]) < version_as_of
    ):
        raise ValueError(
            f"versionAsOf={version_as_of} not found in {log_dir}"
        )
    for fname in commits:
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action: dict[str, Any] = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    # the log stores paths RFC 2396 URL-encoded
                    # (spaces, '=' in partition dirs, ...); decode so
                    # add/remove keys agree and filesystem joins work
                    add = dict(action["add"])
                    add["path"] = unquote(add["path"])
                    tail_active[add["path"]] = add
                    removed.discard(add["path"])
                elif "remove" in action:
                    p = unquote(action["remove"]["path"])
                    tail_active.pop(p, None)
                    removed.add(p)
                elif "protocol" in action:
                    _check_protocol(action["protocol"])
    if meta is None:
        raise ValueError(f"no Delta metaData action found under {log_dir}")
    active = dict(tail_active)
    if adds_df is not None:
        # a checkpoint path is superseded by the tail iff the tail's
        # LAST action for it was add (now in tail_active) or remove
        # (now in `removed`) — either way, exclude it from the
        # checkpoint side. The exclusion set is tail-sized.
        excluded = removed | set(tail_active)
        if excluded:
            excl_df = local_frame(
                spark, ((p,) for p in excluded), "path string"
            )
            how = "left_anti"
            if len(excluded) <= 100_000:
                excl_df = F.broadcast(excl_df)
            adds_df = adds_df.join(excl_df, "path", how)
        if where:
            adds_df = _prune_adds_df(adds_df, meta, where)
        cap = _max_files()
        rows = adds_df.limit(cap + 1).collect()
        if len(rows) > cap:
            raise RuntimeError(
                f"delta-lite: snapshot has more than {cap} active files; "
                "raise SPARK_ETL_DELTA_LITE_MAX_FILES or use delta-spark "
                "(which keeps snapshot state distributed)"
            )
        for r in rows:
            d = r.asDict(recursive=True)
            if d.get("deletionVector") and not d["deletionVector"].get(
                "storageType"
            ):
                d["deletionVector"] = None
            active.setdefault(d["path"], d)
    out = list(active.values())
    if where:
        out = _prune_add_list(spark, out, meta, where)
    return out, meta


# --- partition-predicate FILE pruning ------------------------------------
# At a 100 TB / 10^6-file table, pruning the *file list* at the log
# level (before any parquet footer is opened) is the difference between
# scanning one partition and opening every footer. ``where`` is a SQL
# boolean over the table's partition columns, evaluated per add action
# against its typed ``partitionValues``.


def _partition_pred_frame(
    df: DataFrame, meta: dict, where: str
) -> DataFrame | None:
    """``df`` boxed+filtered by ``where`` over typed partition columns,
    or None when the predicate doesn't analyze against partition
    columns alone (caller falls back to row-level filtering only)."""
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    if not part_cols:
        return None
    phys_schema, mapped = _physical_schema(schema)
    phys_of = {
        f.name: pf.name for f, pf in zip(schema.fields, phys_schema.fields)
    }
    typed = []
    for f in schema.fields:
        if f.name not in part_cols:
            continue
        key = phys_of[f.name] if mapped else f.name
        typed.append(
            F.col("__add.partitionValues")[key].cast(f.dataType).alias(f.name)
        )
    boxed = df.select(F.struct("*").alias("__add")).select("__add", *typed)
    try:
        pruned = boxed.filter(F.expr(where))
        pruned.columns  # force analysis: does `where` bind here?
    except Exception:
        return None
    return pruned.select("__add.*")


def _prune_adds_df(adds_df: DataFrame, meta: dict, where: str) -> DataFrame:
    pruned = _partition_pred_frame(adds_df, meta, where)
    return pruned if pruned is not None else adds_df


def _prune_add_list(
    spark: SparkSession, adds: list[dict], meta: dict, where: str
) -> list[dict]:
    """Prune a driver-side add list (JSON-tail / time-travel path) with
    the same predicate machinery: evaluate once per DISTINCT partition
    tuple, then filter the list by tuple membership."""
    part_cols = meta.get("partitionColumns") or []
    if not adds or not part_cols:
        return adds
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    phys_schema, mapped = _physical_schema(schema)
    phys_of = {
        f.name: pf.name for f, pf in zip(schema.fields, phys_schema.fields)
    }
    part_keys = [phys_of[c] if mapped else c for c in part_cols]
    tuples = {
        tuple((a.get("partitionValues") or {}).get(k) for k in part_keys)
        for a in adds
    }
    tup_df = local_frame(
        spark, [(list(t),) for t in tuples], "pv array<string>"
    ).select(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in part_keys]), "pv"
        ).alias("partitionValues")
    )
    pruned = _partition_pred_frame(tup_df, meta, where)
    if pruned is None:
        return adds
    kept = {
        tuple(r["partitionValues"].get(k) for k in part_keys)
        for r in pruned.collect()
    }
    return [
        a
        for a in adds
        if tuple((a.get("partitionValues") or {}).get(k) for k in part_keys)
        in kept
    ]


def _physical_schema(schema: T.StructType) -> tuple[T.StructType, bool]:
    """The schema as stored in the data files under column mapping.

    Column mapping (``delta.columnMapping.mode`` = ``name``/``id``)
    stores every field's metadata with a
    ``delta.columnMapping.physicalName`` (``col-<uuid>`` style); the
    parquet files use those physical names while the log's
    ``schemaString`` keeps the logical ones. Returns (renamed schema,
    any_mapping_found). Recursive: nested struct fields are mapped too.
    """
    found = False

    def conv(dt):
        nonlocal found
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                phys = (f.metadata or {}).get(
                    "delta.columnMapping.physicalName"
                )
                if phys:
                    found = True
                fields.append(
                    T.StructField(phys or f.name, conv(f.dataType), f.nullable)
                )
            return T.StructType(fields)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(conv(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                conv(dt.keyType), conv(dt.valueType), dt.valueContainsNull
            )
        return dt

    return conv(schema), found


def _project_positional(
    df: DataFrame,
    from_fields: list[T.StructField],
    to_fields: list[T.StructField],
) -> DataFrame:
    """Project ``df`` from one schema shape to another by POSITION:
    rename each top-level column and, where the datatypes differ only
    in (nested) field names, restore them with a positional struct
    cast. The single implementation behind every logical↔physical
    column-mapping projection (writer, rewrite, and their inverse)."""
    proj = []
    for f, pf in zip(from_fields, to_fields):
        if f.name not in df.columns:
            continue
        col = F.col(f.name)
        if f.dataType != pf.dataType:
            col = col.cast(pf.dataType)
        proj.append(col.alias(pf.name))
    return df.select(*proj)


def _version_at_timestamp(log_dir: str, ts_ms: int) -> int:
    """Latest version whose commit timestamp ≤ ``ts_ms`` — Delta's
    ``timestampAsOf`` resolution rule. Uses commitInfo.timestamp when
    present, else the commit file's mtime (same fallback real Delta
    applies to logs written without commitInfo)."""
    best = -1
    for fname in sorted(os.listdir(log_dir)):
        if not (fname.endswith(".json") and fname[:20].isdigit()):
            continue
        path = os.path.join(log_dir, fname)
        commit_ts = None
        with open(path) as fh:
            for line in fh:
                if '"commitInfo"' in line:
                    info = json.loads(line).get("commitInfo") or {}
                    commit_ts = info.get("timestamp")
                    break
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(path) * 1000)
        if commit_ts <= ts_ms:
            best = max(best, int(fname[:20]))
    if best < 0:
        raise ValueError(
            f"no Delta commit at or before timestamp {ts_ms} in {log_dir}"
        )
    return best


def read_delta_lite(
    spark: SparkSession,
    table_path: str,
    version_as_of: int | None = None,
    where: str | None = None,
    timestamp_as_of: int | str | None = None,
    with_row_id: bool = False,
    with_row_commit_version: bool = False,
    strict_row_id: bool = False,
) -> DataFrame:
    """Batch read of a Delta table snapshot via log replay; pass
    ``version_as_of`` for time travel to an earlier version, or
    ``timestamp_as_of`` (epoch millis, or an ISO date/datetime string)
    to resolve the version by commit time.

    ``where`` is a SQL boolean predicate. When it references only the
    table's partition columns it prunes the FILE LIST during log replay
    (no data file of a non-matching partition is ever opened); it is
    additionally applied as a row filter, so mixed/non-partition
    predicates stay correct (they just don't prune files).

    ``with_row_id`` appends the protocol's ``_row_id`` column (row
    tracking: ``coalesce(materialized id, add.baseRowId + position)``
    — the delta twin of iceberg v3 row lineage; COW rewrites
    materialize survivors' ids so the column survives maintenance).
    ``with_row_commit_version`` appends ``_row_commit_version`` — the
    version each row was last inserted/updated at
    (``coalesce(materialized, add.defaultRowCommitVersion)``; UPDATE/
    MERGE store NULL for the rows they touch so those derive the
    rewrite commit's own version). DV-deleted rows keep survivors'
    values stable (positions don't shift). Pre-feature files without
    the add fields on a table without materialized columns fence
    loudly.
    """
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError(
                "pass version_as_of OR timestamp_as_of, not both"
            )
        if isinstance(timestamp_as_of, str) and not timestamp_as_of.isdigit():
            import datetime as _dt2

            parsed = _dt2.datetime.fromisoformat(timestamp_as_of)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt2.timezone.utc)
            ts_ms = int(parsed.timestamp() * 1000)
        else:
            ts_ms = int(timestamp_as_of)
        version_as_of = _version_at_timestamp(_log_dir(table_path), ts_ms)
    adds, meta = _replay(spark, table_path, version_as_of, where=where)
    full_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    # column mapping: the files (and partitionValues keys) speak
    # physical names; read physically, then rename back to logical.
    # A struct→struct cast renames NESTED fields by position, so one
    # cast per top-level column restores the whole logical schema.
    phys_schema, mapped = _physical_schema(full_schema)
    phys_of = {
        f.name: pf.name for f, pf in zip(full_schema.fields, phys_schema.fields)
    }
    part_keys = [phys_of[c] if mapped else c for c in part_cols]
    data_schema = T.StructType(
        [
            pf
            for f, pf in zip(full_schema.fields, phys_schema.fields)
            if f.name not in part_cols
        ]
    )
    if not adds:
        empty = local_frame(spark, [], full_schema)
        if with_row_id:
            empty = empty.withColumn("_row_id", F.lit(None).cast("long"))
        if with_row_commit_version:
            empty = empty.withColumn(
                "_row_commit_version", F.lit(None).cast("long")
            )
        return empty.filter(where) if where else empty
    base_of: dict[str, int] = {}
    rid_mat_col: str | None = None
    rcv_mat_col: str | None = None
    rcv_of: dict[str, int] = {}
    if with_row_commit_version:
        if not _row_tracking_enabled(meta.get("configuration")):
            raise ValueError(
                "with_row_commit_version needs delta.enableRowTracking"
            )
        rcv_mat_col = _materialized_rcv_col(meta.get("configuration"))
        rcv_of = {
            os.path.basename(a["path"]): int(a["defaultRowCommitVersion"])
            for a in adds
            if a.get("defaultRowCommitVersion") is not None
        }
        rcv_missing = [
            a["path"]
            for a in adds
            if a.get("defaultRowCommitVersion") is None
        ]
        if rcv_missing and rcv_mat_col is None:
            raise NotImplementedError(
                f"with_row_commit_version: {len(rcv_missing)} files have "
                f"no defaultRowCommitVersion (pre-feature files on a "
                f"table without a materialized column): {rcv_missing[:3]}"
            )
    if with_row_id:
        rid_mat_col = _materialized_row_id_col(meta.get("configuration"))
        missing = [a["path"] for a in adds if a.get("baseRowId") is None]
        if missing and rid_mat_col is None:
            raise NotImplementedError(
                f"with_row_id: {len(missing)} files have no baseRowId "
                f"(pre-feature files on a table without a materialized "
                f"row-id column): {missing[:3]}"
            )
        if missing and rid_mat_col is not None:
            # A file with no baseRowId resolves through the
            # materialized column ALONE — nothing guarantees a foreign
            # writer populated it, and a NULL there surfaces as
            # _row_id NULL with no signal. Default mirrors the
            # with_row_commit_version rcv_missing fence's loudness
            # (warn, not raise: this writer's own rewrites always
            # re-assign baseRowId, so the state only arises from
            # foreign log entries and the ids may well be present);
            # strict_row_id=True (URI: ?strict-row-id=true) escalates
            # to an error, mirroring the iceberg side's
            # unassigned-lineage raise for pipelines where a NULL
            # _row_id must never flow downstream silently.
            if strict_row_id:
                raise ValueError(
                    f"with_row_id (strict): {len(missing)}/{len(adds)} "
                    f"files have no baseRowId and would resolve through "
                    f"the materialized column '{rid_mat_col}' alone — a "
                    f"foreign writer may have left it NULL. Rewrite the "
                    f"files (OPTIMIZE/compaction re-assigns baseRowId) "
                    f"or read without strict-row-id to accept possible "
                    f"NULL _row_id: {missing[:3]}"
                )
            import warnings

            warnings.warn(
                f"with_row_id: {len(missing)}/{len(adds)} files have "
                f"no baseRowId and resolve through the materialized "
                f"column '{rid_mat_col}' alone — rows a foreign "
                f"writer left unpopulated there will read _row_id "
                f"NULL: {missing[:3]}",
                stacklevel=2,
            )
        # keyed by FILENAME (part-<uuid> — unique per table): the
        # map literal stays expression-sized under the reader's
        # _max_files cap; an engine-scale reader would join instead.
        # Files lacking baseRowId (none after this writer's rewrites,
        # which always re-assign) resolve through the materialized
        # column alone.
        base_of = {
            os.path.basename(a["path"]): int(a["baseRowId"])
            for a in adds
            if a.get("baseRowId") is not None
        }

    # group files by partition tuple; restore partition columns as typed
    # literals (they are NOT stored in the data files). Each entry keeps
    # its deletionVector descriptor (None for clean files).
    groups: dict[tuple, list[tuple[str, dict | None]]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_keys)
        groups.setdefault(key, []).append(
            (os.path.join(table_path, a["path"]), a.get("deletionVector"))
        )
    parts: list[DataFrame] = []
    # nulls-last deterministic order; plain sorted() throws on a None
    # partition value (NULL partitions are legal in the protocol)
    ordered = sorted(
        groups.items(),
        key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
    )
    for key, entries in ordered:
        def logical_cols(k=key):
            cols = []
            for f, pf in zip(full_schema.fields, phys_schema.fields):
                if f.name in part_cols:
                    raw = k[
                        part_keys.index(phys_of[f.name] if mapped else f.name)
                    ]
                    lit = (
                        F.lit(raw).cast(f.dataType)
                        if raw is not None
                        else F.lit(None).cast(f.dataType)
                    )
                    cols.append(lit.alias(f.name))
                elif pf.name != f.name or mapped:
                    cols.append(F.col(pf.name).cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.col(f.name))
            return cols

        clean = [p for p, dv in entries if not dv]
        rid_read_schema = data_schema
        mat_extra = [
            c
            for c in (rid_mat_col, rcv_mat_col)
            if c and c not in [f.name for f in data_schema.fields]
        ]
        if mat_extra:
            rid_read_schema = T.StructType(
                list(data_schema.fields)
                + [T.StructField(c, T.LongType()) for c in mat_extra]
            )
        if clean:
            df = spark.read.schema(rid_read_schema).parquet(*clean)
            svc = []
            if with_row_id:
                svc.append(
                    _row_id_read_expr(
                        rid_mat_col, base_of, F.col("_metadata.row_index")
                    ).alias("_row_id")
                )
            if with_row_commit_version:
                svc.append(
                    _rcv_read_expr(rcv_mat_col, rcv_of).alias(
                        "_row_commit_version"
                    )
                )
            parts.append(df.select(*logical_cols(), *svc))
        for path, dv in entries:
            if not dv:
                continue
            dv_df = _apply_deletion_vector(
                spark, table_path, path, dv, rid_read_schema,
                row_id_base=(
                    base_of.get(os.path.basename(path))
                    if with_row_id
                    else None
                ),
                mat_col=rid_mat_col if with_row_id else None,
                want_row_id=with_row_id,
                rcv_col=rcv_mat_col if with_row_commit_version else None,
                rcv_default=(
                    rcv_of.get(os.path.basename(path))
                    if with_row_commit_version
                    else None
                ),
                want_rcv=with_row_commit_version,
            )
            sel = (
                list(logical_cols())
                + (["_row_id"] if with_row_id else [])
                + (
                    ["_row_commit_version"]
                    if with_row_commit_version
                    else []
                )
            )
            parts.append(dv_df.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # row-level application of `where` keeps semantics exact even when
    # the predicate couldn't prune files (non-partition columns);
    # partition-column branches constant-fold against the literals.
    return out.filter(where) if where else out


def _apply_deletion_vector(
    spark: SparkSession,
    table_path: str,
    file_path: str,
    dv: dict,
    data_schema: T.StructType,
    row_id_base: int | None = None,
    mat_col: str | None = None,
    want_row_id: bool = False,
    rcv_col: str | None = None,
    rcv_default: int | None = None,
    want_rcv: bool = False,
):
    """One data file minus its deleted rows.

    Deletion vectors address rows by POSITION in the file; parquet's
    ``_metadata.row_index`` exposes exactly that, so applying a DV is a
    positional anti-filter — no data rewrite, same as real Delta
    readers. The decoded index set (the dv_lite roaring codec) stays
    driver-side only long enough to build an isin filter (small DVs) or
    a broadcast anti-join frame (large DVs); ``cardinality`` rather
    than file size bounds that memory.
    """
    from spark_etl_cli_spark.sources.dv_lite import read_deletion_vector

    deleted = read_deletion_vector(table_path, dv)
    df = spark.read.schema(data_schema).parquet(file_path).select(
        "*", F.col("_metadata.row_index").alias("__ridx")
    )
    if len(deleted) <= 1000:
        kept = df.filter(~F.col("__ridx").isin(deleted))
    else:
        del_df = local_frame(
            spark, ((int(i),) for i in deleted), "__ridx bigint"
        )
        kept = df.join(F.broadcast(del_df), "__ridx", "left_anti")
    if want_row_id:
        # row tracking: survivors keep their ids (materialized column
        # wins where present, else the file base + position; DV'd
        # positions don't shift, so derived ids stay stable)
        pieces = []
        if mat_col is not None and mat_col in kept.columns:
            pieces.append(F.col(mat_col).cast("long"))
        if row_id_base is not None:
            pieces.append(
                (F.lit(row_id_base) + F.col("__ridx")).cast("long")
            )
        rid = (
            F.coalesce(*pieces)
            if len(pieces) > 1
            else (pieces[0] if pieces else F.lit(None).cast("long"))
        )
        kept = kept.withColumn("_row_id", rid)
    if want_rcv:
        rps = []
        if rcv_col is not None and rcv_col in kept.columns:
            rps.append(F.col(rcv_col).cast("long"))
        if rcv_default is not None:
            rps.append(F.lit(rcv_default).cast("long"))
        rcv = (
            F.coalesce(*rps)
            if len(rps) > 1
            else (rps[0] if rps else F.lit(None).cast("long"))
        )
        kept = kept.withColumn("_row_commit_version", rcv)
    return kept.drop("__ridx")


# --- engine-free WRITER ---------------------------------------------------
# The commit side of the same public protocol: write the data files as
# plain parquet, then append one JSON commit whose add/remove actions
# describe the change. Good for single-writer local/posix use — the
# version-reservation uses O_CREAT|O_EXCL, which is atomic on POSIX but
# is NOT the multi-writer LogStore protocol real Delta uses on object
# stores; concurrent writers on S3-like storage still need delta-spark.


def _next_version(log_dir: str) -> int:
    versions = [
        int(f[:20])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
    ]
    return (max(versions) + 1) if versions else 0


def _collect_written_files(
    tmp_dir: str, table_path: str, part_cols: list[str]
) -> list[dict]:
    """Move parquet files written under ``tmp_dir`` into the table dir
    (keeping partition subdirs) and return their add actions."""
    import shutil
    import uuid
    from urllib.parse import quote

    adds: list[dict] = []
    for root, _dirs, files in os.walk(tmp_dir):
        rel_dir = os.path.relpath(root, tmp_dir)
        segs = [] if rel_dir == "." else rel_dir.split(os.sep)
        pvals: dict[str, str | None] = {}
        for seg in segs:
            if "=" not in seg:
                continue
            k, v = seg.split("=", 1)
            pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
        for fname in files:
            if not fname.endswith(".parquet") or fname.startswith("_"):
                continue
            # Spark writes a part file per task even for empty
            # partitions; committing them bloats the log and every
            # future snapshot's file list for zero rows. Footer-only
            # check (no data read).
            import pyarrow.parquet as _pq

            num_rows = _pq.ParquetFile(
                os.path.join(root, fname)
            ).metadata.num_rows
            if num_rows == 0:
                continue
            new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel_path = os.path.join(*segs, new_name) if segs else new_name
            dst = os.path.join(table_path, rel_path)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(root, fname), dst)
            # the log stores RFC 2396 URL-encoded relative paths
            log_path = "/".join(
                quote(s, safe="=") if "=" in s else quote(s)
                for s in rel_path.split(os.sep)
            )
            adds.append(
                {
                    "path": log_path,
                    "partitionValues": {c: pvals.get(c) for c in part_cols},
                    "size": os.path.getsize(dst),
                    "modificationTime": int(os.path.getmtime(dst) * 1000),
                    "dataChange": True,
                    # per-file row count from the footer already read
                    # for the zero-row check (row tracking needs it;
                    # engines record it the same way)
                    "stats": json.dumps({"numRecords": num_rows}),
                }
            )
    return adds


def _last_txn_version(log_dir: str, app_id: str) -> int:
    """Highest committed ``txn`` (SetTransaction) version for an app id;
    -1 when none. Scans commits NEWEST-FIRST and stops at the first
    commit carrying the app's txn — versions only increase, so the
    newest occurrence is the max. That keeps per-micro-batch cost at
    O(commits since the app's last write), not O(total log), which
    would otherwise grow quadratically over a stream's lifetime.
    Correct as long as the log is not vacuumed (this writer never
    removes commit JSONs)."""
    if not os.path.isdir(log_dir):
        return -1
    commits = sorted(
        (f for f in os.listdir(log_dir)
         if f.endswith(".json") and f[:20].isdigit()),
        reverse=True,
    )
    for fname in commits:
        found = -1
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if '"txn"' not in line:
                    continue
                action = json.loads(line)
                txn = action.get("txn") or {}
                if txn.get("appId") == app_id:
                    found = max(found, int(txn.get("version", -1)))
        if found >= 0:
            return found
    return -1


def _row_tracking_enabled(configuration: dict | None) -> bool:
    return (configuration or {}).get(
        "delta.enableRowTracking", ""
    ).lower() == "true"


def _row_id_hwm(log_dir: str) -> int:
    """Current rowIdHighWaterMark from the newest ``domainMetadata``
    action for the ``delta.rowTracking`` domain (PROTOCOL.md "Row
    Tracking" / "Domain Metadata"); -1 when the table has never minted
    a row id. Newest-first scan, same bounded pattern as
    ``_last_txn_version`` (commit JSONs are never vacuumed here)."""
    if not os.path.isdir(log_dir):
        return -1
    commits = sorted(
        (f for f in os.listdir(log_dir)
         if f.endswith(".json") and f[:20].isdigit()),
        reverse=True,
    )
    for fname in commits:
        found = None
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if '"domainMetadata"' not in line:
                    continue
                dm = json.loads(line).get("domainMetadata") or {}
                if dm.get("domain") == "delta.rowTracking" and not dm.get(
                    "removed"
                ):
                    cfg = json.loads(dm.get("configuration") or "{}")
                    found = int(cfg.get("rowIdHighWaterMark", -1))
        if found is not None:
            return found
    return -1


def _num_records(add: dict) -> int:
    stats = add.get("stats")
    if not stats:
        raise ValueError(
            f"row tracking needs per-file numRecords stats; add action "
            f"for {add.get('path')!r} has none"
        )
    return int(json.loads(stats)["numRecords"])


def _assign_base_row_ids(
    adds: list[dict], hwm: int, commit_version: int
) -> int:
    """Stamp contiguous ``baseRowId`` blocks (file row i ⇒ baseRowId+i)
    and ``defaultRowCommitVersion`` onto fresh add actions; returns the
    advanced high-water mark. Deterministic path order."""
    next_id = hwm + 1
    for a in sorted(adds, key=lambda a: a["path"]):
        a["baseRowId"] = next_id
        a["defaultRowCommitVersion"] = commit_version
        next_id += _num_records(a)
    return next_id - 1


_MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
_MAT_RCV_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"


def _materialized_row_id_col(configuration: dict | None) -> str | None:
    """Physical column name rewritten files materialize row ids under
    (PROTOCOL.md "Row Tracking": preserved row ids are stored in a
    hidden column whose randomized name lives in the table
    configuration, so it can never collide with a user column)."""
    return (configuration or {}).get(_MAT_ROW_ID_KEY)


def _materialized_rcv_col(configuration: dict | None) -> str | None:
    """Physical column name for materialized row COMMIT VERSIONS (the
    version a row was last inserted/updated at): rewrites carry
    untouched survivors' versions in it; rows the rewrite MODIFIED
    store NULL and derive the rewrite commit's own version through the
    new add's defaultRowCommitVersion — the same null-fallback model
    as row ids."""
    return (configuration or {}).get(_MAT_RCV_KEY)


def _rt_rewrite_begin(meta: dict) -> tuple[str | None, str | None, list[dict]]:
    """Start-of-rewrite row-tracking context: ``(materialized row-id
    column, materialized commit-version column, extra commit
    actions)``. ``(None, None, [])`` when the table doesn't track
    rows. Tables created before materialization existed get names
    minted here and recorded via a same-commit metaData update — the
    protocol's lazy-registration pattern."""
    cfg = meta.get("configuration") or {}
    if not _row_tracking_enabled(cfg):
        return None, None, []
    import uuid as _uuid

    new_cfg = dict(cfg)
    name = cfg.get(_MAT_ROW_ID_KEY)
    if not name:
        name = f"_row-id-col-{_uuid.uuid4().hex}"
        new_cfg[_MAT_ROW_ID_KEY] = name
    rcv = cfg.get(_MAT_RCV_KEY)
    if not rcv:
        rcv = f"_row-commit-version-col-{_uuid.uuid4().hex}"
        new_cfg[_MAT_RCV_KEY] = rcv
    if new_cfg == cfg:
        return name, rcv, []
    return name, rcv, [{"metaData": {**meta, "configuration": new_cfg}}]


def _rt_rewrite_finish(log_dir: str, new_adds: list[dict]) -> list[dict]:
    """End-of-rewrite row-tracking bookkeeping: every rewritten file
    still gets a fresh ``baseRowId`` block (rows whose materialized id
    is NULL — e.g. MERGE inserts — derive from it; preserved rows win
    through the materialized column), and the advanced high-water mark
    is committed as domainMetadata."""
    hwm = _assign_base_row_ids(
        new_adds, _row_id_hwm(log_dir), _next_version(log_dir)
    )
    return [
        {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
                "removed": False,
            }
        }
    ]


def _row_id_read_expr(
    mat_col: str | None,
    base_of: dict[str, int],
    pos_col,
):
    """``coalesce(materialized id, file base + position)`` — the
    protocol's reader derivation. ``pos_col`` is the row-position
    column expression (``_metadata.row_index`` or ``__ridx``)."""
    pieces = []
    if mat_col is not None:
        pieces.append(F.col(mat_col).cast("long"))
    if base_of:
        mapping = F.create_map(
            *[x for k, v in base_of.items() for x in (F.lit(k), F.lit(v))]
        )
        fname = F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        )
        pieces.append((mapping[fname] + pos_col).cast("long"))
    if not pieces:
        return F.lit(None).cast("long")
    return F.coalesce(*pieces) if len(pieces) > 1 else pieces[0]


def _rcv_read_expr(rcv_col: str | None, rcv_of: dict[str, int]):
    """``coalesce(materialized commit version, file default)`` — the
    version each row was last inserted/updated at."""
    pieces = []
    if rcv_col is not None:
        pieces.append(F.col(rcv_col).cast("long"))
    if rcv_of:
        mapping = F.create_map(
            *[x for k, v in rcv_of.items() for x in (F.lit(k), F.lit(v))]
        )
        fname = F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        )
        pieces.append(mapping[fname].cast("long"))
    if not pieces:
        return F.lit(None).cast("long")
    return F.coalesce(*pieces) if len(pieces) > 1 else pieces[0]


def _enforce_constraints(
    df: DataFrame | Callable[[], DataFrame],
    configuration: dict | None,
    schema: T.StructType | None = None,
) -> None:
    """Writer-side enforcement of the protocol's CHECK constraints
    (``delta.constraints.<name>`` table properties; PROTOCOL.md
    "CHECK Constraints") and column NOT NULL invariants (non-nullable
    schema fields). One distributed probe per write, short-circuited
    at the first violating row; a violation raises BEFORE any file is
    committed. SQL semantics: a CHECK passes on NULL, fails on FALSE.
    ``df`` may be a function building the frame, called only when
    there is something to check.
    """
    cfg = configuration or {}
    constraints = {
        k[len("delta.constraints."):]: v
        for k, v in cfg.items()
        if k.startswith("delta.constraints.")
    }
    notnull = [
        f.name
        for f in (schema.fields if schema is not None else [])
        if not f.nullable
    ]
    if not constraints and not notnull:
        return
    if not isinstance(df, DataFrame):
        df = df()
    notnull = [c for c in notnull if c in df.columns]
    if not constraints and not notnull:
        return
    viol = F.lit(False)
    labels = []
    for name, expr in sorted(constraints.items()):
        viol = viol | (F.expr(expr) == F.lit(False))
        labels.append(f"CHECK {name}: {expr}")
    for c in notnull:
        viol = viol | F.col(c).isNull()
        labels.append(f"NOT NULL {c}")
    bad = df.filter(viol).head(1)
    if bad:
        raise ValueError(
            "delta constraint violation — write aborted; constraints: "
            f"[{'; '.join(labels)}]; first violating row: {bad[0]}"
        )


def _generation_exprs(schema: T.StructType) -> dict[str, str]:
    """``{column: SQL expr}`` for fields carrying the protocol's
    ``delta.generationExpression`` metadata (PROTOCOL.md "Generated
    Columns" / writer feature ``generatedColumns``)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "delta.generationExpression" in md:
            out[f.name] = md["delta.generationExpression"]
    return out


def _apply_generated(df: DataFrame, gen: dict[str, str]) -> DataFrame:
    """The protocol's writer requirement for generated columns: ABSENT
    columns are computed from their expression; PROVIDED columns must
    equal it (null-safe) — a mismatch aborts before anything commits.
    One combined distributed probe for all validations."""
    if not gen:
        return df
    for c, expr in gen.items():
        if c not in df.columns:
            df = df.withColumn(c, F.expr(expr))
    viol = F.lit(False)
    labels = []
    for c, expr in sorted(gen.items()):
        viol = viol | ~F.col(c).eqNullSafe(F.expr(expr))
        labels.append(f"{c} <- {expr}")
    bad = df.filter(viol).head(1)
    if bad:
        raise ValueError(
            "delta generated-column mismatch — write aborted; "
            f"generation: [{'; '.join(labels)}]; first violating row: "
            f"{bad[0]}"
        )
    return df


def _inject_generation_metadata(
    df: DataFrame, gen: dict[str, str]
) -> DataFrame:
    """Stamp ``delta.generationExpression`` into the frame's schema
    field metadata so ``schemaString`` records it."""
    cols = []
    for f in df.schema.fields:
        if f.name in gen:
            md = dict(f.metadata or {})
            md["delta.generationExpression"] = gen[f.name]
            cols.append(F.col(f.name).alias(f.name, metadata=md))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _identity_specs(schema: T.StructType) -> dict[str, dict]:
    """``{col: {start, step, hwm}}`` for fields carrying the protocol's
    ``delta.identity.*`` metadata (PROTOCOL.md "Identity Columns")."""
    out: dict[str, dict] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "delta.identity.start" in md:
            out[f.name] = {
                "start": int(md["delta.identity.start"]),
                "step": int(md["delta.identity.step"]),
                "hwm": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md
                    else None
                ),
            }
    return out


def _assign_identity(
    df: DataFrame, specs: dict[str, dict]
) -> tuple[DataFrame, dict[str, int | None]]:
    """Generate identity values for the (absent) columns in ``specs``:
    ``base + monotonically_increasing_id() * step`` — unique, step-
    aligned (≡ start mod step), GAPS ALLOWED (exactly the protocol's
    contract; density would need a global ordering pass, see
    operators/ids.py). The frame is localCheckpoint-pinned so the
    high-water-mark aggregation and the data write see the SAME
    values (mono ids are plan-dependent otherwise). Returns the new
    high-water marks (None for an empty batch)."""
    for c, sp in specs.items():
        base = (
            sp["hwm"] + sp["step"]
            if sp["hwm"] is not None
            else sp["start"]
        )
        df = df.withColumn(
            c,
            (
                F.lit(base)
                + F.monotonically_increasing_id() * F.lit(sp["step"])
            ).cast("long"),
        )
    df = df.localCheckpoint()
    # the high-water mark follows the STEP DIRECTION (Delta protocol:
    # "the highest value ... in the direction of step"): max for
    # ascending, MIN for descending — tracking max under a negative
    # step would restart the next batch above already-issued values
    # and silently collide.
    hwms = df.agg(
        *[
            (F.min(c) if specs[c]["step"] < 0 else F.max(c)).alias(c)
            for c in specs
        ]
    ).first()
    return df, {c: hwms[c] for c in specs}


def _inject_identity_metadata(
    schema: T.StructType, specs: dict[str, dict], hwms: dict[str, int | None]
) -> T.StructType:
    """Schema with ``delta.identity.*`` metadata (re)stamped, high-water
    marks updated where a batch produced values."""
    fields = []
    for f in schema.fields:
        if f.name in specs:
            sp = specs[f.name]
            md = dict(f.metadata or {})
            md["delta.identity.start"] = sp["start"]
            md["delta.identity.step"] = sp["step"]
            md["delta.identity.allowExplicitInsert"] = False
            new_hwm = hwms.get(f.name)
            if new_hwm is None:
                new_hwm = sp.get("hwm")
            if new_hwm is not None:
                md["delta.identity.highWaterMark"] = int(new_hwm)
            fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
        else:
            fields.append(f)
    return T.StructType(fields)


def write_delta_lite(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    merge_schema: bool = False,
    merge_key: str | None = None,
    properties: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
    identity: dict[str, tuple[int, int]] | None = None,
    key_gate: KeyGate | None = None,
) -> None:
    """Engine-free Delta write: parquet data files + one JSON commit.

    ``mode`` is ``append``, ``overwrite``, or ``upsert`` (overwrite
    removes every active file in the same commit — the protocol's
    atomic replace-table shape; upsert is key-matched MERGE, see
    ``_upsert_delta_lite``). Creating a new table writes the protocol +
    metaData actions in commit 0; appends to an existing table reuse
    its schema's partition columns (``partition_by`` must match).

    ``merge_schema``: Delta's ``mergeSchema`` append semantics — new
    columns in the frame WIDEN the table schema (new nullable fields
    appended in a metaData action in the same commit; old files read
    null for them), missing columns are tolerated (the new files read
    null under the table schema). Same-name type conflicts still
    raise.

    ``txn_app_id``/``txn_version`` give idempotent writes via the
    protocol's ``txn`` (SetTransaction) action: a call whose version is
    ≤ the app's last committed version is a NO-OP (checked before any
    data file is written). This is what makes the jar-less streaming
    sink exactly-once — a replayed micro-batch after a crash commits
    nothing the first attempt already committed.

    ``key_gate`` (a MERGE creating the table) rides on the data job
    and is checked before any file moves into the table, so bad keys
    leave nothing behind.
    """
    import shutil
    import tempfile
    import time
    import uuid

    spark = df.sparkSession
    if txn_app_id is not None:
        if txn_version is None:
            raise ValueError("txn_app_id requires txn_version")
        if txn_version <= _last_txn_version(_log_dir(table_path), txn_app_id):
            return  # already committed: idempotent skip
    log_dir = _log_dir(table_path)
    exists = os.path.isdir(log_dir)
    if mode == "upsert":
        if not merge_key:
            raise ValueError("delta_lite upsert needs merge_key=<column>")
        if not exists:
            # MERGE into a missing table is just CREATE — same
            # convenience hudi_lite gives its first upsert; the key
            # gate rides on the write
            return write_delta_lite(
                df, table_path, mode="append", partition_by=partition_by,
                txn_app_id=txn_app_id, txn_version=txn_version,
                key_gate=KeyGate([merge_key], _check_upsert_keys),
            )
        return _upsert_delta_lite(
            df, table_path, merge_key,
            txn_app_id=txn_app_id, txn_version=txn_version,
        )
    meta = None
    removes: list[dict] = []
    merged_configuration: dict | None = None
    overwrite_mapped_schema: T.StructType | None = None
    read_version: int | None = None
    if exists:
        # record the snapshot version this write's schema/constraint
        # checks ran against; _write_commit refuses to serialize the
        # append after any later metaData/protocol commit
        read_version = _next_version(log_dir) - 1
        active, meta = _replay(spark, table_path)
        part_cols = meta.get("partitionColumns") or []
        if partition_by and list(partition_by) != list(part_cols):
            raise ValueError(
                f"partition_by={partition_by} != table partitioning {part_cols}"
            )
        # appends must match the table schema exactly (name + type per
        # column) — a silent mismatch would surface later as NULLs or
        # read errors under the table schema. Overwrite may evolve it:
        # the new metaData action in the same commit replaces the old.
        # merge_schema widens instead (Delta's mergeSchema semantics).
        table_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        # generated columns (writer feature): appends compute absent
        # generated columns and validate provided ones against the
        # TABLE's recorded expressions; overwrite re-records them
        # (explicit ``generated`` wins, else inherited for columns the
        # new frame still has)
        table_gen = _generation_exprs(table_schema)
        if mode == "overwrite":
            eff_gen = dict(generated or {}) or {
                c: e for c, e in table_gen.items() if c in df.columns
            }
        else:
            if generated and dict(generated) != table_gen:
                raise ValueError(
                    f"generated={generated} disagrees with the table's "
                    f"recorded generation expressions {table_gen}; ALTER "
                    "is not supported — recreate via mode='overwrite'"
                )
            eff_gen = table_gen
        if eff_gen:
            df = _apply_generated(df, eff_gen)
            df = _inject_generation_metadata(df, eff_gen)
        # identity columns (writer feature): values are ALWAYS engine-
        # assigned from the recorded high-water mark
        # (allowExplicitInsert=false); the same commit's metaData
        # action records the advanced mark
        if identity:
            raise ValueError(
                "identity columns are declared at table CREATION; an "
                "existing table uses its recorded delta.identity specs"
            )
        table_idy = _identity_specs(table_schema)
        idy_hwms: dict[str, int | None] = {}
        if table_idy:
            provided = [c for c in table_idy if c in df.columns]
            if provided:
                raise ValueError(
                    f"identity columns {provided} are engine-assigned "
                    "(allowExplicitInsert=false); drop them from the "
                    "incoming frame"
                )
            # overwrite INCLUDED: the carried high-water mark seeds
            # _assign_identity, so replacement rows continue beyond
            # (ascending) / below (descending) every pre-overwrite
            # value — the protocol's hwm never resets, and ids issued
            # before the overwrite can never be re-issued after it
            df, idy_hwms = _assign_identity(df, table_idy)
            # withColumn appended the identity column last; the append
            # shape check (and the data files) follow table order
            tbl_names = [f.name for f in table_schema.fields]
            df = df.select(
                *[n for n in tbl_names if n in df.columns],
                *[c for c in df.columns if c not in set(tbl_names)],
            )
            if mode == "overwrite":
                # the identity spec must survive the replace-table
                # metaData (which is built from df.schema): stamp
                # delta.identity.* with the ADVANCED hwm onto the
                # frame's fields, so both the unmapped and the
                # column-mapped overwrite paths carry it forward
                stamped = _inject_identity_metadata(
                    df.schema, table_idy, idy_hwms
                )
                for f in stamped.fields:
                    if f.name in table_idy:
                        df = df.withMetadata(f.name, f.metadata)
        merged_schema: T.StructType | None = None
        # type equality is on simpleString: nested fields of a
        # column-mapped table carry delta.columnMapping metadata the
        # incoming frame never has, and raw dataType equality would
        # reject a perfectly matching append over it
        if mode != "overwrite" and merge_schema:
            by_name = {f.name: f for f in table_schema.fields}
            conflicts = [
                f.name
                for f in df.schema.fields
                if f.name in by_name
                and by_name[f.name].dataType.simpleString()
                != f.dataType.simpleString()
            ]
            if conflicts:
                raise ValueError(
                    f"mergeSchema cannot change column types: {conflicts}"
                )
            new_fields = [
                T.StructField(f.name, f.dataType, True)
                for f in df.schema.fields
                if f.name not in by_name
            ]
            if new_fields:
                merged_schema = T.StructType(
                    list(table_schema.fields) + new_fields
                )
        elif mode != "overwrite" and [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ] != [
            (f.name, f.dataType.simpleString()) for f in table_schema.fields
        ]:
            raise ValueError(
                f"append schema {df.schema.simpleString()} does not match "
                f"table schema {table_schema.simpleString()}; use "
                "mode='overwrite' to replace the table, or "
                "merge_schema=True (?mergeSchema=true) to widen it"
            )
        if table_idy and any(v is not None for v in idy_hwms.values()):
            # advance the high-water mark in this commit's metaData
            merged_schema = _inject_identity_metadata(
                merged_schema or table_schema, table_idy, idy_hwms
            )
        if mode == "overwrite":
            removes = [a["path"] for a in active]
    else:
        part_cols = list(partition_by or [])
        merged_schema = None
        if generated:
            df = _apply_generated(df, dict(generated))
            df = _inject_generation_metadata(df, dict(generated))
        if identity:
            specs0 = {
                c: {"start": int(s), "step": int(st), "hwm": None}
                for c, (s, st) in identity.items()
            }
            bad_step = [c for c, sp in specs0.items() if sp["step"] == 0]
            if bad_step:
                raise ValueError(f"identity step must be nonzero: {bad_step}")
            provided0 = [c for c in specs0 if c in df.columns]
            if provided0:
                raise ValueError(
                    f"identity columns {provided0} are engine-assigned; "
                    "drop them from the incoming frame"
                )
            df, hwms0 = _assign_identity(df, specs0)
            create_idy = (specs0, hwms0)

    if exists:
        _enforce_constraints(
            df, meta.get("configuration"),
            T.StructType.fromJson(json.loads(meta["schemaString"])),
        )
    else:
        _enforce_constraints(df, properties, df.schema)

    phys_part_cols = list(part_cols)
    # capture the LOGICAL schema comparison BEFORE any physical-name
    # projection: post-projection df.schema speaks physical names and
    # must never be mistaken for a schema change (or leak into a
    # metaData action)
    logical_overwrite_changed = bool(
        exists
        and mode == "overwrite"
        and df.schema.json() != meta["schemaString"]
    )
    if exists:
        # column-mapped tables: data files (and partitionValues keys)
        # speak PHYSICAL names — project the frame to them before the
        # write, exactly inverse to the reader's logical restore
        table_schema_m = T.StructType.fromJson(
            json.loads(meta["schemaString"])
        )
        phys_schema_m, mapped_m = _physical_schema(table_schema_m)
        if mapped_m:
            if merged_schema is not None:
                # new columns join the mapping: fresh ids past
                # maxColumnId + col-<uuid> physical names (exactly what
                # alter_delta_lite(add=...) assigns), recorded in the
                # same commit's metaData configuration
                cfg_m = dict(meta.get("configuration") or {})
                max_id_m = int(
                    cfg_m.get("delta.columnMapping.maxColumnId", 0) or 0
                )
                tbl_names_m = {f.name for f in table_schema_m.fields}
                mfields = []
                for f in merged_schema.fields:
                    if f.name in tbl_names_m:
                        mfields.append(f)
                        continue
                    max_id_m += 1
                    mfields.append(
                        T.StructField(
                            f.name, f.dataType, True,
                            {
                                "delta.columnMapping.id": max_id_m,
                                "delta.columnMapping.physicalName":
                                    f"col-{uuid.uuid4().hex}",
                            },
                        )
                    )
                merged_schema = T.StructType(mfields)
                cfg_m["delta.columnMapping.maxColumnId"] = str(max_id_m)
                merged_configuration = cfg_m
            if mode == "overwrite" and df.schema.json() != meta[
                "schemaString"
            ]:
                # replacement schema keeps the mapping ids/physical
                # names of same-named columns (their history reads on),
                # new columns get fresh ids past maxColumnId
                cfg_m = dict(meta.get("configuration") or {})
                max_id_m = int(
                    cfg_m.get("delta.columnMapping.maxColumnId", 0) or 0
                )
                by_name_m = {f.name: f for f in table_schema_m.fields}
                ofields = []
                for f in df.schema.fields:
                    old_f = by_name_m.get(f.name)
                    if old_f is not None:
                        # keep the mapping id/physicalName, but let the
                        # frame's ADVANCED delta.identity.* (stamped by
                        # the overwrite path above) win over the stale
                        # recorded high-water mark
                        md_m = {
                            **dict(old_f.metadata or {}),
                            **{
                                k: v
                                for k, v in dict(f.metadata or {}).items()
                                if k.startswith("delta.identity.")
                            },
                        }
                        ofields.append(
                            T.StructField(
                                f.name, f.dataType, f.nullable, md_m,
                            )
                        )
                        continue
                    max_id_m += 1
                    ofields.append(
                        T.StructField(
                            f.name, f.dataType, True,
                            {
                                "delta.columnMapping.id": max_id_m,
                                "delta.columnMapping.physicalName":
                                    f"col-{uuid.uuid4().hex}",
                            },
                        )
                    )
                cfg_m["delta.columnMapping.maxColumnId"] = str(max_id_m)
                overwrite_mapped_schema = T.StructType(ofields)
                merged_configuration = cfg_m
            phys_of_m = {
                f.name: pf.name
                for f, pf in zip(
                    table_schema_m.fields, phys_schema_m.fields
                )
            }
            # project to the COMMIT schema's physical shape: nested
            # struct fields rename through a positional cast to the
            # physical datatype (the exact inverse of the reader's
            # logical restore) — what the old top-level-only alias
            # projection fenced as "NESTED column mapping"
            commit_schema_m = (
                merged_schema
                if merged_schema is not None
                else (
                    overwrite_mapped_schema
                    if overwrite_mapped_schema is not None
                    else table_schema_m
                )
            )
            phys_commit_m, _ = _physical_schema(commit_schema_m)
            df = _project_positional(
                df, list(commit_schema_m.fields), list(phys_commit_m.fields)
            )
            phys_part_cols = [phys_of_m[c] for c in part_cols]

    if key_gate is not None:
        df = key_gate.windowed(df)
    tmp_dir = tempfile.mkdtemp(prefix="delta_lite_write_")
    try:
        writer = df.write.mode("overwrite")
        if phys_part_cols:
            writer = writer.partitionBy(*phys_part_cols)
        writer.parquet(tmp_dir)
        if key_gate is not None:
            key_gate.check()
        os.makedirs(table_path, exist_ok=True)
        adds = _collect_written_files(tmp_dir, table_path, phys_part_cols)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)

    # row tracking (writer feature): every fresh file gets a contiguous
    # baseRowId block and the commit advances the rowIdHighWaterMark
    # domain metadata (PROTOCOL.md "Row Tracking")
    rt_cfg = (meta.get("configuration") if exists and meta else properties) or {}
    rt_on = _row_tracking_enabled(rt_cfg)
    rt_hwm_new: int | None = None
    if rt_on and adds:
        # non-blind commits never retry onto another version, so the
        # claimed version is the one computed here
        rt_hwm_new = _assign_base_row_ids(
            adds,
            _row_id_hwm(log_dir) if exists else -1,
            _next_version(log_dir) if exists else 0,
        )

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if not exists:
        # CHECK constraints are a writer-version-3 feature; generated
        # columns a writer-version-4 one; identity columns writer v6;
        # row tracking needs the table-features protocol (writer v7,
        # active features listed explicitly)
        writer_v = 2
        if any(
            k.startswith("delta.constraints.") for k in (properties or {})
        ):
            writer_v = 3
        if generated:
            writer_v = 4
        if identity:
            writer_v = 6
        proto: dict = {"minReaderVersion": 1, "minWriterVersion": writer_v}
        if rt_on:
            feats = ["domainMetadata", "rowTracking"]
            if writer_v >= 3:
                feats.append("checkConstraints")
            if generated:
                feats.append("generatedColumns")
            if identity:
                feats.append("identityColumns")
            if (properties or {}).get(
                "delta.enableChangeDataFeed", ""
            ).lower() == "true":
                feats.append("changeDataFeed")
            proto = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": sorted(feats),
            }
        actions.append({"protocol": proto})
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": (
                        _inject_identity_metadata(
                            df.schema, create_idy[0], create_idy[1]
                        ).json()
                        if identity
                        else df.schema.json()
                    ),
                    "partitionColumns": part_cols,
                    # table properties (e.g. delta.enableChangeDataFeed)
                    # land in the protocol's configuration map; row
                    # tracking also registers the randomized column
                    # name rewrites materialize row ids under
                    "configuration": {
                        **(properties or {}),
                        **(
                            {
                                _MAT_ROW_ID_KEY: (
                                    f"_row-id-col-{uuid.uuid4().hex}"
                                )
                            }
                            if rt_on
                            and _MAT_ROW_ID_KEY not in (properties or {})
                            else {}
                        ),
                        **(
                            {
                                _MAT_RCV_KEY: (
                                    "_row-commit-version-col-"
                                    f"{uuid.uuid4().hex}"
                                )
                            }
                            if rt_on
                            and _MAT_RCV_KEY not in (properties or {})
                            else {}
                        ),
                    },
                    "createdTime": now_ms,
                }
            }
        )
    elif mode == "overwrite" and (
        overwrite_mapped_schema is not None or logical_overwrite_changed
    ):
        # schema evolution on replace: new metaData (same table id) in
        # the same commit as the remove+add set; mapped tables keep
        # same-named columns' mapping ids and bump maxColumnId
        actions.append(
            {
                "metaData": {
                    **meta,
                    "schemaString": (
                        overwrite_mapped_schema.json()
                        if overwrite_mapped_schema is not None
                        else df.schema.json()
                    ),
                    "partitionColumns": part_cols,
                    **(
                        {"configuration": merged_configuration}
                        if merged_configuration is not None
                        else {}
                    ),
                }
            }
        )
    elif merged_schema is not None:
        # mergeSchema append: the widened schema lands in the same
        # commit as the new files (mapped tables also bump
        # maxColumnId for the freshly-mapped columns)
        actions.append(
            {
                "metaData": {
                    **meta,
                    "schemaString": merged_schema.json(),
                    "partitionColumns": part_cols,
                    **(
                        {"configuration": merged_configuration}
                        if merged_configuration is not None
                        else {}
                    ),
                }
            }
        )
    from urllib.parse import quote

    for path in removes:
        actions.append(
            {
                "remove": {
                    "path": quote(path, safe="/="),
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    for add in adds:
        actions.append({"add": add})
    if rt_hwm_new is not None:
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": rt_hwm_new}
                    ),
                    "removed": False,
                }
            }
        )
    if txn_app_id is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn_app_id,
                    "version": int(txn_version),
                    "lastUpdated": now_ms,
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    )

    _write_commit(
        spark, table_path, actions, first=not exists,
        read_version=read_version,
    )


def _write_commit(
    spark: SparkSession,
    table_path: str,
    actions: list[dict],
    first: bool = False,
    read_version: int | None = None,
) -> int:
    """Claim the next log version and write one JSON commit.

    O_EXCL: the commit either claims this version or fails — never
    silently overwrites a concurrent writer's commit. BLIND APPENDS
    (add/txn/commitInfo actions only — no removes, no metadata or
    protocol changes) retry against the next version on a collision,
    Delta's optimistic-concurrency rule: two appends can serialize in
    either order without conflict. Anything that read table state
    (row ops, ALTER, overwrite) raises on collision instead — its
    snapshot is stale and the caller must re-run against the new HEAD.
    Emits a parquet checkpoint on the interval to bound replay cost.
    """
    log_dir = _log_dir(table_path)
    os.makedirs(log_dir, exist_ok=True)
    blind_append = not first and all(
        set(a) <= {"add", "txn", "commitInfo"} for a in actions
    )
    attempts = 50 if blind_append else 1
    last_err: OSError | None = None
    checked_to = read_version  # commits ≤ this are part of our snapshot
    for _ in range(attempts):
        version = 0 if first else _next_version(log_dir)
        # A blind append may serialize after concurrent commits ONLY if
        # none of them changed table configuration: real Delta fails
        # appends that race with a metaData/protocol change, because the
        # append's files were written under the old schema / physical
        # column names and its constraint checks ran against the old
        # configuration. Scan every commit between our read snapshot and
        # the slot we are about to claim (covers both the O_EXCL-race
        # path and a commit that landed before _next_version's rescan).
        if blind_append and checked_to is not None:
            for v in range(checked_to + 1, version):
                won = os.path.join(log_dir, f"{v:020d}.json")
                try:
                    with open(won) as fh:
                        keys = {
                            k for line in fh if line.strip()
                            for k in json.loads(line)
                        }
                except (OSError, ValueError):
                    keys = {"metaData"}  # unreadable: be conservative
                if keys & {"metaData", "protocol"}:
                    raise RuntimeError(
                        "delta-lite: concurrent metadata change — commit "
                        f"{v} under {log_dir} altered the table's "
                        "metaData/protocol after this append read its "
                        "snapshot; the new files were prepared under the "
                        "old configuration and cannot be rebased. Re-run "
                        "against the new HEAD."
                    )
            checked_to = version - 1
        commit_path = os.path.join(log_dir, f"{version:020d}.json")
        try:
            fd = os.open(
                commit_path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644
            )
        except FileExistsError as e:
            last_err = e
            continue  # next attempt re-scans the winner before rebasing
        with os.fdopen(fd, "w") as fh:
            for action in actions:
                fh.write(json.dumps(action) + "\n")
        if version > 0 and (version + 1) % CHECKPOINT_INTERVAL == 0:
            write_checkpoint(spark, table_path)
        return version
    if blind_append:
        raise RuntimeError(
            f"delta-lite: could not claim a commit version under "
            f"{log_dir} after {attempts} attempts (concurrent writers)"
        ) from last_err
    raise RuntimeError(
        "delta-lite: concurrent commit conflict — this operation read "
        "table state that another writer changed; re-run it against "
        f"the new HEAD of {log_dir}"
    ) from last_err


# --- checkpointing --------------------------------------------------------
# Log replay is O(commits); the protocol bounds it with periodic parquet
# checkpoints holding the full active state. The writer emits one every
# ``interval`` commits using the documented single-file checkpoint
# schema (top-level protocol/metaData/add/remove structs, one action
# per row) + ``_last_checkpoint``, so the reader's fast path — and real
# Delta's — resumes from the checkpoint and replays only the tail.

CHECKPOINT_INTERVAL = 10


def _checkpoint_schema(_: None = None) -> T.StructType:
    add_struct = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField(
                "partitionValues", T.MapType(T.StringType(), T.StringType())
            ),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            # deletion vectors MUST survive checkpointing — a
            # checkpoint that drops the descriptor resurrects every
            # DV-deleted row for readers that resume from it
            T.StructField("deletionVector", _DV_STRUCT),
            # row tracking: baseRowId + stats (numRecords) must survive
            # checkpointing or _row_id reads fence after a checkpoint
            T.StructField("stats", T.StringType()),
            T.StructField("baseRowId", T.LongType()),
            T.StructField("defaultRowCommitVersion", T.LongType()),
        ]
    )
    return T.StructType(
        [
            T.StructField(
                "protocol",
                T.StructType(
                    [
                        T.StructField("minReaderVersion", T.IntegerType()),
                        T.StructField("minWriterVersion", T.IntegerType()),
                        T.StructField(
                            "readerFeatures", T.ArrayType(T.StringType())
                        ),
                        T.StructField(
                            "writerFeatures", T.ArrayType(T.StringType())
                        ),
                    ]
                ),
            ),
            # PROTOCOL.md requires checkpoints to carry the latest
            # SetTransaction per appId so streaming writers can resume
            # exactly-once from the checkpoint alone
            T.StructField(
                "txn",
                T.StructType(
                    [
                        T.StructField("appId", T.StringType()),
                        T.StructField("version", T.LongType()),
                        T.StructField("lastUpdated", T.LongType()),
                    ]
                ),
            ),
            T.StructField(
                "metaData",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField(
                            "format",
                            T.StructType(
                                [
                                    T.StructField("provider", T.StringType()),
                                    T.StructField(
                                        "options",
                                        T.MapType(
                                            T.StringType(), T.StringType()
                                        ),
                                    ),
                                ]
                            ),
                        ),
                        T.StructField("schemaString", T.StringType()),
                        T.StructField(
                            "partitionColumns", T.ArrayType(T.StringType())
                        ),
                        T.StructField(
                            "configuration",
                            T.MapType(T.StringType(), T.StringType()),
                        ),
                        T.StructField("createdTime", T.LongType()),
                    ]
                ),
            ),
            T.StructField("add", add_struct),
        ]
    )


def _all_txn_latest(spark: SparkSession, log_dir: str) -> dict[str, dict]:
    """Latest SetTransaction per appId across the WHOLE log — the
    existing checkpoint's txn rows (a prior writer may have compacted
    older commits' txns into it) overlaid by every JSON commit's txn
    actions. Metadata-sized: txn actions are one line per micro-batch.
    """
    latest: dict[str, dict] = {}
    # seed from the current checkpoint, if it has a txn column
    try:
        _v, _adds, _meta, _proto = _read_checkpoint(spark, log_dir)
        cp_path = os.path.join(log_dir, f"{_v:020d}.checkpoint.parquet")
        if os.path.exists(cp_path):
            cp = spark.read.parquet(cp_path)
            if "txn" in cp.columns:
                for r in (
                    cp.filter(F.col("txn.appId").isNotNull())
                    .select("txn.appId", "txn.version", "txn.lastUpdated")
                    .collect()
                ):
                    latest[r[0]] = {
                        "appId": r[0],
                        "version": r[1],
                        "lastUpdated": r[2],
                    }
    except FileNotFoundError:
        pass
    for fname in sorted(
        f
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
    ):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if '"txn"' not in line:
                    continue
                action = json.loads(line)
                txn = action.get("txn") or {}
                app = txn.get("appId")
                if app is None:
                    continue
                prev = latest.get(app)
                if prev is None or int(txn.get("version", -1)) >= int(
                    prev.get("version") or -1
                ):
                    latest[app] = {
                        "appId": app,
                        "version": txn.get("version"),
                        "lastUpdated": txn.get("lastUpdated"),
                    }
    return latest


def write_checkpoint(spark: SparkSession, table_path: str) -> int:
    """Materialize the current snapshot as a single-file checkpoint.

    Returns the checkpointed version. Subsequent reads replay from it
    instead of from commit 0. The checkpoint carries the table's
    CURRENT protocol (incl. reader/writer features — a DV table must
    not be downgraded to 1/2), each add's deletionVector descriptor,
    and the latest txn per appId, per PROTOCOL.md's checkpoint
    contents.
    """
    log_dir = _log_dir(table_path)
    adds, meta = _replay(spark, table_path)
    proto = _current_protocol(spark, table_path)
    txns = _all_txn_latest(spark, log_dir)
    versions = [
        int(f[:20])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
    ]
    if not versions:
        raise ValueError(f"no commits under {log_dir}")
    version = max(versions)
    blank = {"protocol": None, "metaData": None, "txn": None, "add": None}
    rows = [
        {
            **blank,
            "protocol": {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": proto.get("minWriterVersion", 2),
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures"),
            },
        },
        {
            **blank,
            "metaData": {
                "id": meta["id"],
                "format": meta.get(
                    "format", {"provider": "parquet", "options": {}}
                ),
                "schemaString": meta["schemaString"],
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": meta.get("configuration") or {},
                "createdTime": meta.get("createdTime"),
            },
        },
    ]
    for txn in txns.values():
        rows.append({**blank, "txn": txn})
    from urllib.parse import quote

    for a in adds:
        dv = a.get("deletionVector")
        rows.append(
            {
                **blank,
                "add": {
                    "path": quote(a["path"], safe="/="),
                    "partitionValues": a.get("partitionValues") or {},
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime"),
                    "dataChange": False,
                    "stats": a.get("stats"),
                    "baseRowId": a.get("baseRowId"),
                    "defaultRowCommitVersion": a.get(
                        "defaultRowCommitVersion"
                    ),
                    "deletionVector": (
                        {
                            k: dv.get(k)
                            for k in (
                                "storageType",
                                "pathOrInlineDv",
                                "offset",
                                "sizeInBytes",
                                "cardinality",
                            )
                        }
                        if dv and dv.get("storageType")
                        else None
                    ),
                },
            }
        )
    cp_df = local_frame(spark, rows, _checkpoint_schema())
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="delta_lite_cp_")
    try:
        cp_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f
            for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        shutil.move(os.path.join(tmp, part), dst)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return version


# --- OPTIMIZE (bin-packing compaction) ------------------------------------
# Small-file compaction is what keeps a streamed-into table scannable:
# thousands of micro-batch part files → a few target-sized ones. The
# commit is the protocol's compaction shape — remove(old)+add(new) with
# dataChange=false — so batch readers see an identical snapshot, time
# travel still reaches the old layout, and the jar-less stream reader
# (sources/deltastream.py) skips the re-adds instead of double-counting.


def optimize_delta_lite(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    zorder_by: list[str] | None = None,
) -> dict:
    """Bin-pack small data files per partition; returns a stats dict
    ``{"partitions_compacted": n, "files_removed": n, "files_added": n}``.

    A partition group is compacted when it holds ≥ ``min_files`` files
    smaller than ``target_file_bytes``; its small files are rewritten
    into ``ceil(total_bytes / target)`` files. Each group's rewrite is
    one distributed job; the loop over groups is driver-side
    bookkeeping only (group count, not data). Files at or above target
    size are left untouched — OPTIMIZE must never make big files
    bigger by rewriting them.

    ``zorder_by``: Delta's ``OPTIMIZE ... ZORDER BY (cols)``. EVERY
    clean file of every partition group is rewritten (layout, not
    bin-packing: big files need re-clustering too) through
    ``operators/zorder.py``'s Morton interleave — range-partitioned
    and sorted by z-value into ``ceil(total/target)`` files, so
    parquet min/max row-group stats prune scans filtering on ANY of
    the interleaved columns. Still ``dataChange=false``: the row set
    is unchanged, streams skip the re-adds.
    """
    import math
    import shutil
    import tempfile
    import time
    import uuid
    from urllib.parse import quote

    adds, meta = _replay(spark, table_path)
    part_cols = meta.get("partitionColumns") or []
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    phys_schema, mapped = _physical_schema(schema)
    part_keys = [
        ({f.name: pf.name for f, pf in zip(schema.fields, phys_schema.fields)}[c]
         if mapped else c)
        for c in part_cols
    ]
    data_schema = T.StructType(
        [
            pf
            for f, pf in zip(schema.fields, phys_schema.fields)
            if f.name not in part_cols
        ]
    )
    phys_of = {
        f.name: pf.name for f, pf in zip(schema.fields, phys_schema.fields)
    }
    if zorder_by:
        bad = [c for c in zorder_by if c not in phys_of]
        if bad:
            raise ValueError(f"ZORDER BY unknown columns {bad}")
        party = [c for c in zorder_by if c in part_cols]
        if party:
            raise ValueError(
                f"ZORDER BY partition columns {party} is pointless — they "
                "are constant within every file group"
            )
    # hoisted out of the per-output-file loop (footer reads stay
    # driver-side and bounded by the _max_files cap)
    import pyarrow.parquet as _pq

    mat_col, rcv_col, rt_actions = _rt_rewrite_begin(meta)
    opt_read_schema = data_schema
    opt_extra = [
        c
        for c in (mat_col, rcv_col)
        if c and c not in [f.name for f in data_schema.fields]
    ]
    if opt_extra:
        opt_read_schema = T.StructType(
            list(data_schema.fields)
            + [T.StructField(c, T.LongType()) for c in opt_extra]
        )
    groups: dict[tuple, list[dict]] = {}
    for a in adds:
        if a.get("deletionVector"):
            continue  # a DV'd file needs a rewrite-with-filter, not a concat
        pv = a.get("partitionValues") or {}
        groups.setdefault(
            tuple(pv.get(k) for k in part_keys), []
        ).append(a)
    removes: list[str] = []
    new_adds: list[dict] = []
    stats = {"partitions_compacted": 0, "files_removed": 0, "files_added": 0}
    for key, group in sorted(
        groups.items(),
        key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
    ):
        if zorder_by:
            small = list(group)  # re-cluster EVERYTHING in the group
        else:
            small = [
                a for a in group if (a.get("size") or 0) < target_file_bytes
            ]
            if len(small) < min_files:
                continue
        total = sum(a.get("size") or 0 for a in small)
        n_out = max(1, math.ceil(total / target_file_bytes))
        paths = [os.path.join(table_path, a["path"]) for a in small]
        pv = small[0].get("partitionValues") or {}
        tmp = tempfile.mkdtemp(prefix="delta_lite_opt_")
        try:
            scan = spark.read.schema(opt_read_schema).parquet(*paths)
            if mat_col is not None:
                # compaction preserves every row: materialize each
                # row's tracked id (existing materialized value, else
                # old-file base + position) AND its last-modified
                # commit version so ?with-row-id= reads survive the
                # rewrite
                base_of_g = {
                    os.path.basename(a["path"]): int(a["baseRowId"])
                    for a in small
                    if a.get("baseRowId") is not None
                }
                rcv_of_g = {
                    os.path.basename(a["path"]): int(
                        a["defaultRowCommitVersion"]
                    )
                    for a in small
                    if a.get("defaultRowCommitVersion") is not None
                }
                scan = scan.withColumn(
                    mat_col,
                    _row_id_read_expr(
                        mat_col, base_of_g, F.col("_metadata.row_index")
                    ),
                ).withColumn(
                    rcv_col, _rcv_read_expr(rcv_col, rcv_of_g)
                )
            if zorder_by:
                from spark_etl_cli_spark.operators.zorder import zorder_sort

                out = zorder_sort(
                    scan,
                    [phys_of[c] for c in zorder_by],
                    num_partitions=n_out,
                )
            else:
                out = scan.repartition(n_out)
            out.write.mode("overwrite").parquet(tmp)
            for fname in sorted(os.listdir(tmp)):
                if not fname.endswith(".parquet") or fname.startswith("_"):
                    continue
                new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
                dst = os.path.join(table_path, new_name)
                shutil.move(os.path.join(tmp, fname), dst)
                n_rows_f = _pq.ParquetFile(dst).metadata.num_rows
                new_adds.append(
                    {
                        "path": new_name,
                        "partitionValues": dict(pv),
                        "size": os.path.getsize(dst),
                        "modificationTime": int(os.path.getmtime(dst) * 1000),
                        "dataChange": False,
                        "stats": json.dumps({"numRecords": n_rows_f}),
                    }
                )
                stats["files_added"] += 1
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        removes.extend(a["path"] for a in small)
        stats["files_removed"] += len(small)
        stats["partitions_compacted"] += 1
    if not removes:
        return stats
    if mat_col is not None and new_adds:
        rt_actions += _rt_rewrite_finish(_log_dir(table_path), new_adds)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    for path in removes:
        actions.append(
            {
                "remove": {
                    "path": quote(path, safe="/="),
                    "deletionTimestamp": now_ms,
                    "dataChange": False,
                }
            }
        )
    for add in new_adds:
        add = dict(add)
        add["path"] = quote(add["path"], safe="/=")
        actions.append({"add": add})
    actions.extend(rt_actions)
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "targetSize": str(target_file_bytes),
                    **(
                        {"zOrderBy": json.dumps(list(zorder_by))}
                        if zorder_by
                        else {}
                    ),
                },
            }
        }
    )
    _write_commit(spark, table_path, actions)
    return stats


def vacuum_delta_lite(
    spark: SparkSession,
    table_path: str,
    retention_hours: float = 168.0,
    dry_run: bool = True,
) -> list[str]:
    """Delete data files no longer referenced by the CURRENT snapshot
    and older than ``retention_hours`` (Delta's VACUUM semantics; 168h
    = the engine's default). Returns the affected relative paths;
    ``dry_run=True`` (default) only reports. After a real vacuum, time
    travel to versions needing the removed files stops working — that
    is the documented trade of reclaiming storage.

    Walk + filter are bookkeeping-scale (file names and mtimes, no data
    reads); the _delta_log directory itself is never touched.
    """
    import time

    adds, _meta = _replay(spark, table_path)
    referenced = {a["path"] for a in adds}
    # live deletion-vector files are referenced too (storageType "u");
    # superseded DVs (a newer delete merged them, or a COW rewrite
    # replaced their file) age out like data files
    from spark_etl_cli_spark.sources.dv_lite import dv_file_path

    for a in adds:
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            referenced.add(
                os.path.relpath(
                    dv_file_path(table_path, dv["pathOrInlineDv"]), table_path
                )
            )
    horizon = time.time() - retention_hours * 3600
    candidates: list[str] = []
    for root, dirs, files in os.walk(table_path):
        # never walk into the transaction log
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for fname in files:
            if not (
                fname.endswith(".parquet")
                or (fname.startswith("deletion_vector_") and fname.endswith(".bin"))
            ):
                continue
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, table_path)
            if rel in referenced:
                continue
            if os.path.getmtime(full) > horizon:
                continue  # inside the retention window: a concurrent
                # reader's time travel may still need it
            candidates.append(rel)
    candidates.sort()
    if not dry_run:
        for rel in candidates:
            os.remove(os.path.join(table_path, rel))
    return candidates


# --- row-level operations: DELETE and MERGE (upsert) ----------------------
# Both are built on the same primitive: a snapshot scan that keeps the
# provenance of every row (which data file, which position), so the
# operator can decide file-by-file what to rewrite — the copy-on-write
# shape every Delta engine uses. Nothing here is new protocol: the
# commits they emit are plain remove/add (+ deletionVector descriptors
# for the DV delete path), readable by real Delta engines.


def _current_protocol(spark: SparkSession, table_path: str) -> dict:
    """The table's protocol action as of HEAD (checkpoint + JSON tail,
    newest wins). Metadata-sized work only."""
    log_dir = _log_dir(table_path)
    cp_version, _adds, _meta, proto = _read_checkpoint(spark, log_dir)
    for fname in sorted(
        f for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit() and int(f[:20]) > cp_version
    ):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if '"protocol"' not in line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    proto = action["protocol"]
    return proto or {"minReaderVersion": 1, "minWriterVersion": 2}


def _snapshot_scan(
    spark: SparkSession,
    table_path: str,
    adds: list[dict],
    meta: dict,
    with_pos: bool = False,
    with_row_id: bool = False,
) -> DataFrame:
    """Rows of ``adds`` under the LOGICAL schema plus service columns:
    ``__file`` (absolute data-file path), with ``with_pos``
    ``__ridx`` (row position in the file, ``_metadata.row_index``),
    and with ``with_row_id`` the tracked ``__row_id`` (materialized
    column if present, else add.baseRowId + position — NULL where
    neither exists, e.g. pre-feature files).

    Deletion vectors are applied (a deleted row neither matches a
    DELETE predicate again nor gets resurrected by a rewrite);
    partition columns are restored as typed literals per file group,
    exactly like the batch reader. Column-mapped tables read their
    files under PHYSICAL names and cast/alias back to logical — a
    positional struct cast restores NESTED mapped field names too.
    """
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    phys_schema, mapped = _physical_schema(schema)
    phys_of = {
        f.name: pf.name for f, pf in zip(schema.fields, phys_schema.fields)
    }
    phys_dt_of = {
        f.name: pf.dataType
        for f, pf in zip(schema.fields, phys_schema.fields)
    }
    part_cols = meta.get("partitionColumns") or []
    part_keys = [phys_of[c] if mapped else c for c in part_cols]
    data_schema = T.StructType(
        [
            pf
            for f, pf in zip(schema.fields, phys_schema.fields)
            if f.name not in part_cols
        ]
    )
    norm_file = F.regexp_replace(
        F.col("_metadata.file_path"), "^file:/+", "/"
    ).alias("__file")
    mat_col = (
        _materialized_row_id_col(meta.get("configuration"))
        if with_row_id
        else None
    )
    rcv_col = (
        _materialized_rcv_col(meta.get("configuration"))
        if with_row_id
        else None
    )
    read_schema = data_schema
    extra_read = [
        c
        for c in (mat_col, rcv_col)
        if c and c not in [f.name for f in data_schema.fields]
    ]
    if extra_read:
        read_schema = T.StructType(
            list(data_schema.fields)
            + [T.StructField(c, T.LongType()) for c in extra_read]
        )
    base_of = (
        {
            os.path.basename(a["path"]): int(a["baseRowId"])
            for a in adds
            if a.get("baseRowId") is not None
        }
        if with_row_id
        else {}
    )
    rcv_of = (
        {
            os.path.basename(a["path"]): int(a["defaultRowCommitVersion"])
            for a in adds
            if a.get("defaultRowCommitVersion") is not None
        }
        if with_row_id
        else {}
    )
    service = [norm_file] + (
        [F.col("_metadata.row_index").alias("__ridx")] if with_pos else []
    )
    if with_row_id:
        service.append(
            _row_id_read_expr(
                mat_col, base_of, F.col("_metadata.row_index")
            ).alias("__row_id")
        )
        service.append(
            _rcv_read_expr(rcv_col, rcv_of).alias("__rcv")
        )

    groups: dict[tuple, list[tuple[str, dict | None]]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_keys)
        groups.setdefault(key, []).append(
            (os.path.join(table_path, a["path"]), a.get("deletionVector"))
        )

    def logical_cols(key: tuple) -> list:
        cols = []
        for f in schema.fields:
            if f.name in part_cols:
                raw = key[part_cols.index(f.name)]
                cols.append(F.lit(raw).cast(f.dataType).alias(f.name))
            elif mapped:
                col = F.col(phys_of[f.name])
                if phys_dt_of[f.name] != f.dataType:
                    # nested mapping: a positional struct cast restores
                    # the logical nested field names (reader pattern)
                    col = col.cast(f.dataType)
                cols.append(col.alias(f.name))
            else:
                cols.append(F.col(f.name))
        return cols

    from spark_etl_cli_spark.sources.dv_lite import read_deletion_vector

    parts: list[DataFrame] = []
    for key, entries in sorted(
        groups.items(), key=lambda kv: tuple((v is None, v or "") for v in kv[0])
    ):
        clean = [p for p, dv in entries if not dv]
        if clean:
            parts.append(
                spark.read.schema(read_schema)
                .parquet(*clean)
                .select(*logical_cols(key), *service)
            )
        for path, dv in entries:
            if not dv:
                continue
            deleted = read_deletion_vector(table_path, dv)
            df = (
                spark.read.schema(read_schema)
                .parquet(path)
                .select(
                    *logical_cols(key),
                    norm_file,
                    F.col("_metadata.row_index").alias("__ridx"),
                    *(
                        [
                            _row_id_read_expr(
                                mat_col,
                                base_of,
                                F.col("_metadata.row_index"),
                            ).alias("__row_id"),
                            _rcv_read_expr(rcv_col, rcv_of).alias("__rcv"),
                        ]
                        if with_row_id
                        else []
                    ),
                )
            )
            if len(deleted) <= 1000:
                df = df.filter(~F.col("__ridx").isin([int(i) for i in deleted]))
            else:
                del_df = local_frame(
                    spark, ((int(i),) for i in deleted), "__ridx bigint"
                )
                df = df.join(F.broadcast(del_df), "__ridx", "left_anti")
            parts.append(df if with_pos else df.drop("__ridx"))
    if not parts:
        empty_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("__file", T.StringType())]
            + ([T.StructField("__ridx", T.LongType())] if with_pos else [])
            + (
                [
                    T.StructField("__row_id", T.LongType()),
                    T.StructField("__rcv", T.LongType()),
                ]
                if with_row_id
                else []
            )
        )
        return local_frame(spark, [], empty_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _adds_by_abspath(table_path: str, adds: list[dict]) -> dict[str, dict]:
    """abs path (and its URI-quoted twin — Hadoop may hand back either
    form in ``_metadata.file_path``) → add action. Lookups that miss
    BOTH keys are a bug and must raise, never silently skip."""
    from urllib.parse import quote

    out: dict[str, dict] = {}
    for a in adds:
        p = os.path.abspath(os.path.join(table_path, a["path"]))
        out[p] = a
        out.setdefault(quote(p, safe="/="), a)
    return out


# --- Change Data Feed ------------------------------------------------------
# PROTOCOL.md "Add CDC File": with delta.enableChangeDataFeed=true, a
# row-changing commit (UPDATE/DELETE/MERGE) carries ``cdc`` actions
# naming parquet files under _change_data/ whose rows are the change
# records (table columns + _change_type: insert | delete |
# update_preimage | update_postimage). Append/overwrite commits carry
# no cdc files — readers DERIVE their changes from add/remove actions.

CDC_TYPE_COL = "_change_type"


def _cdf_enabled(meta: dict | None) -> bool:
    cfg = (meta or {}).get("configuration") or {}
    return str(cfg.get("delta.enableChangeDataFeed", "")).lower() in (
        "true",
        "1",
    )


def _write_cdc_files(change_df: DataFrame, table_path: str) -> list[dict]:
    """Write change records (table columns + ``_change_type``) under
    ``_change_data/`` and return their ``cdc`` actions. One distributed
    job; lite simplification: change files are unpartitioned and carry
    every column physically (partitionValues = {})."""
    import shutil
    import tempfile
    import uuid as _uuid

    from urllib.parse import quote

    tmp = tempfile.mkdtemp(prefix="delta_lite_cdc_")
    actions: list[dict] = []
    try:
        change_df.write.mode("overwrite").parquet(tmp)
        cdc_dir = os.path.join(table_path, "_change_data")
        os.makedirs(cdc_dir, exist_ok=True)
        import pyarrow.parquet as _pq

        for fname in sorted(os.listdir(tmp)):
            if not fname.endswith(".parquet") or fname.startswith("_"):
                continue
            src = os.path.join(tmp, fname)
            if _pq.ParquetFile(src).metadata.num_rows == 0:
                continue
            new_name = f"cdc-{_uuid.uuid4().hex}.snappy.parquet"
            dst = os.path.join(cdc_dir, new_name)
            shutil.move(src, dst)
            rel = f"_change_data/{new_name}"
            actions.append(
                {
                    "cdc": {
                        "path": quote(rel, safe="/="),
                        "partitionValues": {},
                        "size": os.path.getsize(dst),
                        "dataChange": False,
                    }
                }
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return actions


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """Change Data Feed read: every change between ``starting_version``
    and ``ending_version`` (inclusive; default = table HEAD), as the
    table schema + ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp`` — the ``readChangeFeed`` surface real Delta
    exposes.

    Per commit: ``cdc`` actions, when present, ARE the change set
    (UPDATE/DELETE/MERGE wrote them); otherwise changes derive from the
    actions — adds with dataChange=true are inserts, removes with
    dataChange=true are deletes read from the removed files (still on
    disk unless vacuumed — a vacuumed file raises rather than silently
    dropping changes). Requires delta.enableChangeDataFeed=true.
    """
    _adds, meta = _replay(spark, table_path)
    if not _cdf_enabled(meta):
        raise ValueError(
            f"table {table_path} does not have "
            "delta.enableChangeDataFeed=true; create it with the property "
            "(?enableChangeDataFeed=true on the sink URI) to read changes"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    log_dir = _log_dir(table_path)
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:20].isdigit()
    )
    hi = ending_version if ending_version is not None else max(versions)
    wanted = [v for v in versions if starting_version <= v <= hi]
    if not wanted:
        raise ValueError(
            f"no commits in [{starting_version}, {hi}] under {log_dir}"
        )
    pieces: list[DataFrame] = []
    cdc_schema = T.StructType(
        list(schema.fields) + [T.StructField(CDC_TYPE_COL, T.StringType())]
    )
    for v in wanted:
        cdc_paths: list[str] = []
        adds: list[dict] = []
        removes: list[dict] = []
        ts_ms: int | None = None
        commit_file = os.path.join(log_dir, f"{v:020d}.json")
        with open(commit_file) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "cdc" in action:
                    cdc_paths.append(
                        os.path.join(
                            table_path, unquote(action["cdc"]["path"])
                        )
                    )
                elif "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    a = dict(action["add"])
                    a["path"] = unquote(a["path"])
                    adds.append(a)
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    r = dict(action["remove"])
                    r["path"] = unquote(r["path"])
                    removes.append(r)
                elif "commitInfo" in action:
                    ts_ms = action["commitInfo"].get("timestamp")
        if ts_ms is None:
            ts_ms = int(os.path.getmtime(commit_file) * 1000)
        stamp = [
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
        ]
        if cdc_paths:
            missing = [p for p in cdc_paths if not os.path.exists(p)]
            if missing:
                raise FileNotFoundError(
                    f"change data files vacuumed away: {missing[:3]}"
                )
            pieces.append(
                spark.read.schema(cdc_schema)
                .parquet(*cdc_paths)
                .select("*", *stamp)
            )
            continue
        # derived changes: adds = inserts; removes = deletes (rows read
        # from the removed files, which must still exist)
        if adds:
            pieces.append(
                _snapshot_scan(spark, table_path, adds, meta)
                .drop("__file")
                .select(
                    "*",
                    F.lit("insert").alias(CDC_TYPE_COL),
                    *stamp,
                )
            )
        if removes:
            missing = [
                r["path"]
                for r in removes
                if not os.path.exists(os.path.join(table_path, r["path"]))
            ]
            if missing:
                raise FileNotFoundError(
                    "readChangeFeed: removed data files vacuumed away, "
                    f"cannot derive deletes: {missing[:3]}"
                )
            pieces.append(
                _snapshot_scan(spark, table_path, removes, meta)
                .drop("__file")
                .select(
                    "*",
                    F.lit("delete").alias(CDC_TYPE_COL),
                    *stamp,
                )
            )
    if not pieces:
        empty = T.StructType(
            list(cdc_schema.fields)
            + [
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType()),
            ]
        )
        return local_frame(spark, [], empty)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _remove_action(add: dict, now_ms: int) -> dict:
    from urllib.parse import quote

    return {
        "remove": {
            "path": quote(add["path"], safe="/="),
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": add.get("partitionValues") or {},
            "size": add.get("size"),
        }
    }


def _rewrite_files(
    df: DataFrame, table_path: str, part_cols: list[str],
    meta: dict | None = None,
    mat_col: str | None = None,
    rcv_col: str | None = None,
    check: Callable[[], object] | None = None,
) -> list[dict]:
    """Write ``df`` (logical columns only) as new table data files and
    return their add actions. One distributed job; ``check`` runs after
    it, before the files move into the table, so a check that raises
    leaves no file behind. With ``meta`` of a
    column-mapped table, the frame is projected to PHYSICAL names
    first (files and partitionValues keys speak physical). With
    ``mat_col`` (row tracking), a ``__row_id`` service column on ``df``
    is materialized into the files under that physical name —
    preserved rows keep their ids across the rewrite; rows whose
    ``__row_id`` is NULL (inserts) derive from the new add's fresh
    baseRowId at read time."""
    import shutil
    import tempfile

    extra_fields: list[T.StructField] = []
    if mat_col is not None and "__row_id" in df.columns:
        df = df.withColumnRenamed("__row_id", mat_col)
        extra_fields.append(T.StructField(mat_col, T.LongType()))
    elif "__row_id" in df.columns:
        df = df.drop("__row_id")
    if rcv_col is not None and "__rcv" in df.columns:
        df = df.withColumnRenamed("__rcv", rcv_col)
        extra_fields.append(T.StructField(rcv_col, T.LongType()))
    elif "__rcv" in df.columns:
        df = df.drop("__rcv")

    write_parts = list(part_cols)
    if meta is not None:
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        phys_schema, mapped = _physical_schema(schema)
        if mapped:
            phys_of = {
                f.name: pf.name
                for f, pf in zip(schema.fields, phys_schema.fields)
            }
            # positional struct cast renames NESTED mapped fields too
            # (without it, rewritten files carried logical nested names
            # that the physical-schema reader then served as NULLs);
            # the materialized row-id column passes through unrenamed
            df = _project_positional(
                df,
                list(schema.fields) + extra_fields,
                list(phys_schema.fields) + extra_fields,
            )
            write_parts = [phys_of[c] for c in part_cols]
    tmp_dir = tempfile.mkdtemp(prefix="delta_lite_rewrite_")
    try:
        writer = df.write.mode("overwrite")
        if write_parts:
            writer = writer.partitionBy(*write_parts)
        writer.parquet(tmp_dir)
        if check is not None:
            check()
        return _collect_written_files(tmp_dir, table_path, write_parts)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)


def delete_delta_lite(
    spark: SparkSession,
    table_path: str,
    where: str,
    deletion_vectors: bool = False,
) -> dict:
    """Protocol DELETE: remove the rows matching ``where``.

    Strategy:

    - **copy-on-write** (default): only files holding ≥1 matching row
      are rewritten without those rows; partition-only predicates never
      even open non-matching files (the same log-level pruning the
      batch reader uses), and untouched files are never rewritten.
    - **deletion vectors** (``deletion_vectors=True``): NO data file is
      rewritten — matched row positions are serialized as the
      protocol's RoaringBitmapArray DV files (``sources/dv_lite.py``,
      the same codec the reader decodes) and each affected add is
      re-committed carrying the descriptor, merged with any DV the file
      already had. The commit upgrades the table protocol to
      reader 3 / writer 7 + ``deletionVectors``, exactly as real
      engines do on their first DV write. The scan stays distributed;
      only per-file index lists cross the driver (bounded by DV
      cardinality — the same order the READER already materializes).

    NULL-predicate rows are KEPT (SQL DELETE semantics: delete iff
    TRUE). Returns ``{"files_rewritten"|"files_dv", "files_added",
    "rows_deleted"}``.
    """
    import time
    import uuid as _uuidmod

    from spark_etl_cli_spark.sources.dv_lite import (
        read_deletion_vector,
        write_deletion_vector_file,
        z85_encode,
    )

    adds, meta = _replay(spark, table_path)
    part_cols = meta.get("partitionColumns") or []
    candidates = _prune_add_list(spark, adds, meta, where)
    zero = {
        ("files_dv" if deletion_vectors else "files_rewritten"): 0,
        "files_added": 0,
        "rows_deleted": 0,
    }
    if not candidates:
        return zero
    scan = _snapshot_scan(
        spark, table_path, candidates, meta, with_pos=deletion_vectors
    )
    pred = F.coalesce(F.expr(where), F.lit(False))
    matched = scan.filter(pred)
    by_path = _adds_by_abspath(table_path, candidates)
    now_ms = int(time.time() * 1000)

    def _cdc_actions() -> list[dict]:
        """Change Data Feed records for the deleted rows (one extra
        pass over the affected files, the cost CDF has everywhere)."""
        if not _cdf_enabled(meta):
            return []
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        cols = [f.name for f in schema.fields]
        return _write_cdc_files(
            matched.select(*cols).withColumn(
                CDC_TYPE_COL, F.lit("delete")
            ),
            table_path,
        )

    if deletion_vectors:
        per_file = (
            matched.groupBy("__file")
            .agg(F.sort_array(F.collect_list("__ridx")).alias("idx"))
        )
        actions: list[dict] = []
        n_files = 0
        n_rows = 0
        # toLocalIterator: one file's index list on the driver at a time
        for row in per_file.toLocalIterator():
            add = by_path.get(row["__file"])
            if add is None:
                raise RuntimeError(
                    f"delta-lite DELETE: scanned file {row['__file']!r} "
                    "missing from the snapshot file list (path-normalization "
                    "bug — refusing to commit a partial delete)"
                )
            new_idx = [int(i) for i in row["idx"]]
            n_rows += len(new_idx)
            old_dv = add.get("deletionVector")
            if old_dv:
                new_idx = sorted(
                    set(new_idx) | set(read_deletion_vector(table_path, old_dv))
                )
            u = _uuidmod.uuid4()
            dv_path = os.path.join(table_path, f"deletion_vector_{u}.bin")
            desc = write_deletion_vector_file(dv_path, new_idx)
            desc.update(
                {"storageType": "u", "pathOrInlineDv": z85_encode(u.bytes)}
            )
            actions.append(_remove_action(add, now_ms))
            actions.append(
                {"add": {**_readd_fields(add), "deletionVector": desc}}
            )
            n_files += 1
        if not n_files:
            return zero
        proto = _current_protocol(spark, table_path)
        feats = set(proto.get("readerFeatures") or [])
        if int(proto.get("minReaderVersion", 1)) < 3 or "deletionVectors" not in feats:
            actions.insert(
                0,
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(feats | {"deletionVectors"}),
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"deletionVectors"}
                        ),
                    }
                },
            )
        actions.extend(_cdc_actions())
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DELETE",
                    "operationParameters": {"predicate": where},
                }
            }
        )
        _write_commit(spark, table_path, actions)
        return {"files_dv": n_files, "files_added": 0, "rows_deleted": n_rows}

    # copy-on-write: find affected files + per-file match counts in ONE
    # job (the collect is file-list-sized, never row-sized)
    counts = matched.groupBy("__file").count().collect()
    if not counts:
        return zero
    affected = []
    for r in counts:
        add = by_path.get(r["__file"])
        if add is None:
            raise RuntimeError(
                f"delta-lite DELETE: scanned file {r['__file']!r} missing "
                "from the snapshot file list (path-normalization bug — "
                "refusing to commit a partial delete)"
            )
        affected.append(add)
    n_rows = sum(r["count"] for r in counts)
    mat_col, rcv_col, rt_actions = _rt_rewrite_begin(meta)
    kept = (
        _snapshot_scan(
            spark, table_path, affected, meta,
            with_row_id=mat_col is not None,
        )
        .filter(~pred)
        .drop("__file")
    )
    new_adds = _rewrite_files(
        kept, table_path, part_cols, meta, mat_col=mat_col, rcv_col=rcv_col
    )
    if mat_col is not None:
        rt_actions += _rt_rewrite_finish(_log_dir(table_path), new_adds)
    actions = [_remove_action(a, now_ms) for a in affected]
    actions += [{"add": a} for a in new_adds]
    actions.extend(rt_actions)
    actions.extend(_cdc_actions())
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {"predicate": where},
            }
        }
    )
    _write_commit(spark, table_path, actions)
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_deleted": n_rows,
    }


def _readd_fields(add: dict) -> dict:
    """The re-add of an existing file when only its DV changes: same
    path (re-encoded as the log stores it), same partition values,
    size, mtime — dataChange=true because visible rows changed."""
    from urllib.parse import quote

    out = {
        "path": quote(add["path"], safe="/="),
        "partitionValues": add.get("partitionValues") or {},
        "size": add.get("size"),
        "modificationTime": add.get("modificationTime"),
        "dataChange": True,
    }
    # row tracking: a DV change keeps the file's row ids (positions
    # don't shift), so the re-add carries them forward verbatim
    for k in ("stats", "baseRowId", "defaultRowCommitVersion"):
        if add.get(k) is not None:
            out[k] = add[k]
    return out


def _upsert_delta_lite(
    df: DataFrame,
    table_path: str,
    merge_key: str,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> None:
    """Key-matched MERGE (the ``WHEN MATCHED UPDATE SET * / WHEN NOT
    MATCHED INSERT *`` shape): incoming rows REPLACE existing rows with
    the same ``merge_key``; unmatched incoming rows are inserts.

    Location is one distributed probe: the snapshot scan (DV-aware)
    semi-joined against the incoming keys over ``_metadata.file_path``
    — files holding no matching key are never rewritten. The rewrite is
    one job: affected rows anti-joined against the keys, unioned with
    the incoming frame, written per partition. Duplicate or NULL merge
    keys in the incoming frame raise (same contract as Delta MERGE,
    where a multi-match is an error); the write carries that check
    (``keygate.py``) and it runs before the files move into the table.

    Scale: the probe reads only ``merge_key`` + file metadata (column
    pruning reaches the parquet scan); the rewrite reads only affected
    files. The commit is remove(affected) + add(new) + optional txn —
    so streaming upserts get the same exactly-once idempotency appends
    have.
    """
    import time

    spark = df.sparkSession
    adds, meta = _replay(spark, table_path)
    part_cols = meta.get("partitionColumns") or []
    table_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    # generated columns: MERGE sources must satisfy the recorded
    # expressions too (absent ones are computed before the shape check)
    df = _apply_generated(df, _generation_exprs(table_schema))
    if [(f.name, f.dataType) for f in df.schema.fields] != [
        (f.name, f.dataType) for f in table_schema.fields
    ]:
        raise ValueError(
            f"upsert schema {df.schema.simpleString()} does not match "
            f"table schema {table_schema.simpleString()}"
        )
    if merge_key not in df.columns:
        raise ValueError(f"merge_key {merge_key!r} not in {df.columns}")
    keys = df.select(merge_key)  # semi and anti joins only
    table_cols = [f.name for f in table_schema.fields]
    now_ms = int(time.time() * 1000)

    affected: list[dict] = []
    if adds:
        scan = _snapshot_scan(spark, table_path, adds, meta)
        by_path = _adds_by_abspath(table_path, adds)
        hit_paths = (
            scan.join(keys, merge_key, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        for r in hit_paths:
            add = by_path.get(r["__file"])
            if add is None:
                raise RuntimeError(
                    f"delta-lite upsert: scanned file {r['__file']!r} "
                    "missing from the snapshot file list"
                )
            affected.append(add)

    mat_col, rcv_col, rt_actions = _rt_rewrite_begin(meta)
    rid_cols = ["__row_id", "__rcv"] if mat_col is not None else []

    def rows(src: DataFrame) -> DataFrame:
        """The table after the upsert of ``src``: affected files minus
        the incoming keys, plus the incoming rows."""
        incoming = src.select(*table_cols)
        if mat_col is not None:
            if affected:
                # an update keeps its row id (the protocol's stability
                # contract): matched incoming rows inherit the replaced
                # key's id; unmatched ones stay NULL and derive a fresh
                # id from the new file's baseRowId. The commit VERSION
                # is NULL either way — a replacement IS an update at
                # this commit, so both derive the new add's
                # defaultRowCommitVersion.
                old_ids = (
                    _snapshot_scan(
                        spark, table_path, affected, meta, with_row_id=True
                    )
                    .groupBy(merge_key)
                    .agg(F.min("__row_id").alias("__row_id"))
                )
                incoming = incoming.join(old_ids, merge_key, "left")
            else:
                incoming = incoming.withColumn(
                    "__row_id", F.lit(None).cast("long")
                )
            incoming = incoming.withColumn("__rcv", F.lit(None).cast("long"))
        if not affected:
            return incoming
        remaining = (
            _snapshot_scan(
                spark, table_path, affected, meta,
                with_row_id=mat_col is not None,
            )
            .join(keys, merge_key, "left_anti")
            .select(*table_cols, *rid_cols)
        )
        return remaining.unionByName(incoming)

    _enforce_constraints(
        lambda: rows(df), meta.get("configuration"), table_schema
    )
    # the write carries the key gate (attached after the constraint
    # probe: an Observation keeps the metrics of the first action)
    gate = KeyGate([merge_key], _check_upsert_keys)
    new_adds = _rewrite_files(
        rows(gate.windowed(df)), table_path, part_cols, meta,
        mat_col=mat_col, rcv_col=rcv_col, check=gate.check,
    )
    if mat_col is not None:
        rt_actions += _rt_rewrite_finish(_log_dir(table_path), new_adds)

    actions = [_remove_action(a, now_ms) for a in affected]
    actions += [{"add": a} for a in new_adds]
    actions.extend(rt_actions)
    if txn_app_id is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn_app_id,
                    "version": int(txn_version),
                    "lastUpdated": now_ms,
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                "operationParameters": {"matchedPredicates": merge_key},
            }
        }
    )
    _write_commit(spark, table_path, actions)


def _check_upsert_keys(s: KeyStats) -> None:
    if s.nulls:
        raise ValueError("upsert: NULL merge keys in the incoming frame")
    if s.max_per_key > 1:
        raise ValueError(
            "upsert: duplicate merge keys in the incoming frame — a key "
            "must match at most one incoming row (Delta MERGE contract)"
        )


def _check_merge_keys(s: KeyStats) -> None:
    if s.nulls:
        raise ValueError("merge: NULL keys in the source frame")
    if s.max_per_key > 1:
        raise ValueError(
            "merge: duplicate keys in the source frame — a target row "
            "must match at most one source row (Delta MERGE contract)"
        )


def _merge_key_cond(keys: list[str]):
    """target/source alias equality over every merge key column."""
    c = F.lit(True)
    for k in keys:
        c = c & (F.col(f"target.{k}") == F.col(f"source.{k}"))
    return c


def merge_delta_lite(
    source: DataFrame,
    table_path: str,
    on: str | list[str],
    update_set: dict[str, str] | None = None,
    matched_condition: str | None = None,
    insert: bool = True,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    delete_condition: str | None = None,
    insert_condition: str | None = None,
    insert_columns: list[str] | None = None,
    not_matched_by_source: str | None = None,
    not_matched_by_source_condition: str | None = None,
    not_matched_by_source_set: dict[str, str] | None = None,
) -> dict:
    """Conditional MERGE: ``MERGE INTO target USING source ON
    target.k = source.k [AND ...] [WHEN MATCHED AND delete_condition
    THEN DELETE] WHEN MATCHED [AND matched_condition] THEN UPDATE SET
    col = expr, ... WHEN NOT MATCHED [AND insert_condition] THEN
    INSERT * [WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    DELETE | UPDATE SET ...]``. Clause order follows Delta's CDC
    idiom: the DELETE clause is evaluated before the UPDATE clause,
    so a matched row satisfying both conditions is deleted.

    ``not_matched_by_source`` (``'delete'`` or ``'update'``) is the
    third standard clause — the "full sync" idiom: TARGET rows whose
    key is absent from the source are deleted (or updated through
    ``not_matched_by_source_set``), optionally gated by
    ``not_matched_by_source_condition``. Both the condition and the
    SET expressions see only the target row (there IS no source match,
    per the SQL standard), so they reference bare/``target.``-qualified
    columns.

    ``update_set`` expressions may reference BOTH sides via the
    ``source.``/``target.`` qualifiers (e.g. ``target.v + source.v``);
    each is cast back to the column's declared type, so a MERGE can
    never drift the table schema. ``update_set=None`` makes it an
    insert-if-absent merge; ``insert=False`` an update-only one.
    Duplicate or NULL keys in the source raise (Delta's multi-match
    contract). Unlike ``_upsert_delta_lite`` (whole-row replace), only
    the SET columns change and only where the match condition holds.
    The source may carry EXTRA columns beyond the table schema (e.g.
    a CDC frame's ``_change_type``) — conditions can reference them;
    INSERT * takes the table's columns by name.

    Copy-on-write on the shared row-op machinery, in two Spark jobs.
    The probe joins the source to the column-pruned snapshot scan and
    counts per file what each clause does: files holding ≥1 row a
    clause touches are rewritten, files whose matches no clause touches
    only lend their keys. The write is one outer join of those files
    with the source keyed on ``on`` (fan-out impossible: source keys
    are unique): it yields the rewritten rows and the inserts together.
    Observations on it count the inserts and carry the source-key gate
    (``keygate.py``), checked before the files move into the table.
    The commit is remove(touched) + add(new) + optional txn, so
    streaming merges keep exactly-once.

    Returns ``{"files_rewritten", "files_added", "rows_updated",
    "rows_inserted", "rows_deleted"}``.
    """
    import time

    # composite keys: ``on`` may be "a,b" or a list — every key column
    # must match for a row to be MATCHED (standard multi-column MERGE)
    keys = (
        [c.strip() for c in on.split(",") if c.strip()]
        if isinstance(on, str)
        else list(on)
    )
    if not keys:
        raise ValueError("merge: empty key list")
    spark = source.sparkSession
    if txn_app_id is not None:
        if txn_version is None:
            raise ValueError("txn_app_id requires txn_version")
        if txn_version <= _last_txn_version(_log_dir(table_path), txn_app_id):
            # already committed: idempotent skip (exactly-once for the
            # streaming merge sink, same contract as write_delta_lite)
            return {
                "files_rewritten": 0,
                "files_added": 0,
                "rows_updated": 0,
                "rows_inserted": 0,
                "rows_deleted": 0,
            }
    try:
        adds, meta = _replay(spark, table_path)
    except (FileNotFoundError, ValueError):
        # no table yet: every source row is NOT MATCHED (same contract
        # as upsert-creates-missing-table)
        if not insert:
            raise
        new_rows = (
            source.filter(F.expr(insert_condition))
            if insert_condition
            else source
        )
        if insert_columns:
            new_rows = new_rows.select(*insert_columns)
        # one job: the write carries the key gate over the rows the
        # table is created with, and counts them
        gate = KeyGate(keys, _check_merge_keys)
        write_delta_lite(
            new_rows, table_path, mode="append",
            txn_app_id=txn_app_id, txn_version=txn_version, key_gate=gate,
        )
        return {
            "files_rewritten": 0,
            "files_added": 1,
            "rows_updated": 0,
            "rows_inserted": gate.stats().rows,
            "rows_deleted": 0,
        }
    part_cols = meta.get("partitionColumns") or []
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    table_cols = [f.name for f in schema.fields]
    missing_keys = [
        k for k in keys
        if k not in source.columns or k not in table_cols
    ]
    if missing_keys:
        raise ValueError(
            f"merge key(s) {missing_keys} must exist on both sides "
            f"(source {source.columns}, table {table_cols})"
        )
    unknown = [c for c in (update_set or {}) if c not in table_cols]
    if unknown:
        raise ValueError(f"MERGE SET of unknown columns {unknown}")
    if not_matched_by_source not in (None, "delete", "update"):
        raise ValueError(
            "not_matched_by_source must be 'delete' or 'update', got "
            f"{not_matched_by_source!r}"
        )
    if not_matched_by_source == "update" and not not_matched_by_source_set:
        raise ValueError(
            "not_matched_by_source='update' needs not_matched_by_source_set"
        )
    unknown = [
        c for c in (not_matched_by_source_set or {}) if c not in table_cols
    ]
    if unknown:
        raise ValueError(
            f"NOT MATCHED BY SOURCE SET of unknown columns {unknown}"
        )
    if insert:
        # INSERT * takes the TABLE's columns by name from the source;
        # extra source columns (a CDC frame's _change_type etc.) are
        # legal and ignored, but a missing or mistyped table column is
        # a contract violation
        # simpleString comparison: nested fields of column-mapped
        # tables carry delta.columnMapping metadata the source never has
        src_types = {
            f.name: f.dataType.simpleString() for f in source.schema.fields
        }
        bad = [
            f.name
            for f in schema.fields
            if src_types.get(f.name) != f.dataType.simpleString()
        ]
        if bad:
            raise ValueError(
                "WHEN NOT MATCHED THEN INSERT * needs every table "
                f"column present with its declared type; mismatched: "
                f"{bad} (source {source.schema.simpleString()}, table "
                f"{schema.simpleString()})"
            )
    gate = KeyGate(keys, _check_merge_keys)
    zero = {
        "files_rewritten": 0,
        "files_added": 0,
        "rows_updated": 0,
        "rows_inserted": 0,
        "rows_deleted": 0,
    }
    now_ms = int(time.time() * 1000)
    # every clause condition coalesces to FALSE on NULL: the rewrite
    # filters NEGATE these (survivor = ~(matched & del_cond) & ~nmbs_del)
    # and a NULL propagating through ~ silently DELETES the row while
    # the count probes (plain .filter) treat the same NULL as false —
    # rows vanished and the stats undercounted (r6 ADVICE, medium; same
    # pattern as _delete_cow_transformed).
    match_cond = (
        F.coalesce(F.expr(matched_condition), F.lit(False))
        if matched_condition
        else F.lit(True)
    )
    del_cond = (
        F.coalesce(F.expr(delete_condition), F.lit(False))
        if delete_condition
        else F.lit(False)
    )
    # a matched row lands in exactly one clause, DELETE checked first
    upd_mask = (match_cond & ~del_cond) if update_set else F.lit(False)
    nmbs_cond = (
        F.coalesce(F.expr(not_matched_by_source_condition), F.lit(False))
        if not_matched_by_source_condition
        else F.lit(True)
    )
    # a target row is MATCHED when the join found its source row
    # (source keys are non-NULL once the gate passes)
    matched = F.col(f"source.{keys[0]}").isNotNull()

    # Delta's own MERGE shape: the probe finds every file holding a
    # source key and marks those a clause TOUCHES (only they are
    # rewritten); the write then runs ONE outer join of those files
    # with the source, which yields the rewritten rows and the inserts
    # together. Files whose matches no clause touches take part with
    # their keys only, so their source rows are not inserted again.
    touched: list[dict] = []
    key_only: list[dict] = []
    n_updated = 0
    n_deleted = 0
    if adds:
        by_path = _adds_by_abspath(table_path, adds)
        nmbs = (~matched & nmbs_cond) if not_matched_by_source else F.lit(False)
        aggs = [
            F.sum(c.cast("long")).alias(name)
            for name, c in (
                ("nmatch", matched),
                ("ndel", matched & del_cond),
                ("nupd", matched & upd_mask),
                ("nnm", nmbs),
            )
        ]
        # one job: the source joined to the column-pruned snapshot
        # scan, counted per file. A left join keeps the source-absent
        # rows the full-sync clause acts on. Until the write checks the
        # key gate, duplicate keys may overcount: they fail the MERGE.
        counts = (
            _snapshot_scan(spark, table_path, adds, meta)
            .alias("target")
            .join(
                (
                    source
                    if matched_condition or delete_condition
                    else source.select(*keys)
                ).alias("source"),
                _merge_key_cond(keys),
                "left" if not_matched_by_source else "inner",
            )
            .groupBy("__file")
            .agg(*aggs)
            .filter((F.col("nmatch") > 0) | (F.col("nnm") > 0))
            .collect()
        )
        for r in counts:
            add = by_path.get(r["__file"])
            if add is None:
                raise RuntimeError(
                    f"delta-lite MERGE: scanned file {r['__file']!r} "
                    "missing from the snapshot file list"
                )
            if r["ndel"] or r["nupd"] or r["nnm"]:
                touched.append(add)
            elif insert:
                key_only.append(add)
            n_updated += r["nupd"]
            n_deleted += r["ndel"]
            if not_matched_by_source == "delete":
                n_deleted += r["nnm"]
            else:
                n_updated += r["nnm"]
    if not touched and not insert:
        gate.check(source)  # nothing to write: the gate runs alone
        return zero

    ins_cond = (
        F.coalesce(F.expr(insert_condition), F.lit(False))
        if insert_condition
        else F.lit(True)
    )
    src = source.withColumn("__ins", ins_cond) if insert else source

    mat_col, rcv_col, rt_actions = _rt_rewrite_begin(meta)
    tgt = None
    if touched or key_only:
        if touched:
            tgt = _snapshot_scan(
                spark, table_path, touched, meta,
                with_row_id=mat_col is not None,
            ).withColumn("__t", F.lit(True))
        if key_only:
            keys_df = _snapshot_scan(
                spark, table_path, key_only, meta
            ).select(
                *[
                    F.col(f.name) if f.name in keys
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ],
                *[
                    F.lit(None).cast("long").alias(c)
                    for c in ("__row_id", "__rcv")
                    if mat_col is not None
                ],
                F.lit(False).alias("__t"),
            )
            tgt = (
                keys_df
                if tgt is None
                else tgt.unionByName(keys_df, allowMissingColumns=True)
            )
        in_target = F.col("target.__t").isNotNull()
        upd = matched & upd_mask
        nmbs_del = (
            (~matched & nmbs_cond)
            if not_matched_by_source == "delete"
            else F.lit(False)
        )
        nmbs_upd = (
            (~matched & nmbs_cond)
            if not_matched_by_source == "update"
            else F.lit(False)
        )
        # a touched file's row survives unless a DELETE clause takes it;
        # a source row no target key matched is an insert
        keep = F.coalesce(
            F.col("target.__t") & ~(matched & del_cond) & ~nmbs_del,
            F.lit(False),
        )
        is_ins = (
            ~in_target & F.col("source.__ins") if insert else F.lit(False)
        )

        def _out_col(f):
            col = F.col(f"target.{f.name}")
            if not_matched_by_source_set and f.name in not_matched_by_source_set:
                col = F.when(
                    nmbs_upd,
                    F.expr(not_matched_by_source_set[f.name]).cast(f.dataType),
                ).otherwise(col)
            if update_set and f.name in update_set:
                col = F.when(
                    upd, F.expr(update_set[f.name]).cast(f.dataType)
                ).otherwise(col)
            if insert:
                col = F.when(in_target, col).otherwise(
                    F.col(f"source.{f.name}")
                )
            return col.alias(f.name)

        out_cols = [_out_col(f) for f in schema.fields]
        if mat_col is not None:
            # an UPDATEd row keeps its tracked id (stability contract)
            # but its commit version becomes THIS commit (NULL
            # materialized → derives the new add's default); untouched
            # survivors carry their old version forward; inserts derive
            # both from the new file (NULL)
            out_cols = out_cols + [
                F.col("target.__row_id").alias("__row_id"),
                F.when(
                    upd | nmbs_upd, F.lit(None).cast("long")
                ).otherwise(F.col("target.__rcv")).alias("__rcv"),
            ]

    def merged(src: DataFrame) -> DataFrame:
        """The rewritten rows and the inserts, flagged ``__is_ins``.
        The source side is hashed (it is the small side), so the
        target rows stream through the join unsorted."""
        if tgt is None:
            rid = [
                F.lit(None).cast("long").alias(c)
                for c in ("__row_id", "__rcv")
                if mat_col is not None
            ]
            return src.filter("__ins").select(
                *table_cols, *rid, F.lit(True).alias("__is_ins")
            )
        return (
            tgt.alias("target")
            .join(
                src.hint("shuffle_hash").alias("source"),
                _merge_key_cond(keys),
                "full_outer" if insert else "left",
            )
            .filter(keep | is_ins)
            .select(*out_cols, is_ins.alias("__is_ins"))
        )

    _enforce_constraints(
        lambda: merged(src).drop("__is_ins"), meta.get("configuration"),
        schema,
    )
    # the write carries the key gate and counts the inserts (both
    # attached after the constraint probe: an Observation keeps the
    # metrics of the first action that runs it). The gate's window
    # partitions the source by key, the partitioning the join needs.
    inserted = Observation()
    out = merged(gate.windowed(src))
    new_adds = _rewrite_files(
        out.observe(
            inserted,
            F.coalesce(F.sum(F.col("__is_ins").cast("long")), F.lit(0))
            .alias("n"),
        ).drop("__is_ins"),
        table_path, part_cols, meta, mat_col=mat_col, rcv_col=rcv_col,
        check=gate.check,
    )
    if not touched and not new_adds:
        return zero
    affected = touched
    m = observed_metrics(inserted)
    n_inserted = int(m["n"] if m else out.filter("__is_ins").count())
    inserted_rows = None
    if n_inserted:
        inserted_rows = source.filter(ins_cond)
        if touched or key_only:
            inserted_rows = inserted_rows.join(
                _snapshot_scan(
                    spark, table_path, touched + key_only, meta
                ).select(*keys),
                keys,
                "left_anti",
            )
    if mat_col is not None:
        rt_actions += _rt_rewrite_finish(_log_dir(table_path), new_adds)
    actions = [_remove_action(a, now_ms) for a in affected]
    actions += [{"add": a} for a in new_adds]
    actions.extend(rt_actions)
    if _cdf_enabled(meta):
        # CDF: pre/post-image per updated row, delete per deleted row,
        # insert per new row
        change_pieces: list[DataFrame] = []
        if affected:
            probe2 = (
                _snapshot_scan(spark, table_path, affected, meta)
                .alias("target")
                .join(source.alias("source"), _merge_key_cond(keys))
            )
            if update_set:
                upd_rows = probe2.filter(upd_mask)
                pre = upd_rows.select(
                    *[F.col(f"target.{c}").alias(c) for c in table_cols]
                ).withColumn(CDC_TYPE_COL, F.lit("update_preimage"))
                post = upd_rows.select(
                    *[
                        F.expr(update_set[f.name]).cast(f.dataType).alias(f.name)
                        if f.name in update_set
                        else F.col(f"target.{f.name}").alias(f.name)
                        for f in schema.fields
                    ]
                ).withColumn(CDC_TYPE_COL, F.lit("update_postimage"))
                change_pieces += [pre, post]
            if delete_condition:
                change_pieces.append(
                    probe2.filter(del_cond)
                    .select(
                        *[F.col(f"target.{c}").alias(c) for c in table_cols]
                    )
                    .withColumn(CDC_TYPE_COL, F.lit("delete"))
                )
            if not_matched_by_source:
                nm_rows = (
                    _snapshot_scan(spark, table_path, affected, meta)
                    .alias("target")
                    .join(
                        source.select(*keys).distinct(), keys, "left_anti"
                    )
                    .filter(nmbs_cond)
                )
                if not_matched_by_source == "delete":
                    change_pieces.append(
                        nm_rows.select(*table_cols).withColumn(
                            CDC_TYPE_COL, F.lit("delete")
                        )
                    )
                else:
                    change_pieces.append(
                        nm_rows.select(*table_cols).withColumn(
                            CDC_TYPE_COL, F.lit("update_preimage")
                        )
                    )
                    change_pieces.append(
                        nm_rows.select(
                            *[
                                F.expr(not_matched_by_source_set[f.name])
                                .cast(f.dataType)
                                .alias(f.name)
                                if f.name in not_matched_by_source_set
                                else F.col(f"target.{f.name}").alias(f.name)
                                for f in schema.fields
                            ]
                        ).withColumn(CDC_TYPE_COL, F.lit("update_postimage"))
                    )
        if inserted_rows is not None:
            change_pieces.append(
                inserted_rows.select(*table_cols).withColumn(
                    CDC_TYPE_COL, F.lit("insert")
                )
            )
        if change_pieces:
            changes = change_pieces[0]
            for p in change_pieces[1:]:
                changes = changes.unionByName(p)
            actions.extend(_write_cdc_files(changes, table_path))
    if txn_app_id is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn_app_id,
                    "version": int(txn_version),
                    "lastUpdated": now_ms,
                }
            }
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                "operationParameters": {
                    "predicate": " AND ".join(
                        f"target.{k} = source.{k}" for k in keys
                    )
                    + (f" AND {matched_condition}" if matched_condition else ""),
                },
            }
        }
    )
    _write_commit(spark, table_path, actions)
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_updated": n_updated,
        "rows_inserted": n_inserted,
        "rows_deleted": n_deleted,
    }


def apply_changes_delta_lite(
    changes: DataFrame,
    table_path: str,
    on: str | list[str],
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    sequence_col: str | None = None,
) -> dict:
    """Apply a Change Data Feed frame (table columns + ``_change_type``
    [+ ``_commit_version`` / ``_commit_timestamp``]) to a delta table —
    the CDC-replication operator: ``CDF stream of table A`` piped into
    ``apply_changes`` on table B keeps B == A.

    Per key the LATEST change wins — ordered by ``sequence_col`` when
    given, else ``_commit_version`` when present (one key can see
    insert → update → delete across a batch); a batch with NEITHER must
    hold at most one applicable change per key, or this raises rather
    than guess (a change-type tie-break would resurrect an
    insert→delete key). ``update_preimage`` rows are descriptive, not
    applicable, and are dropped. The survivor set feeds ONE conditional MERGE:
    ``WHEN MATCHED AND source._change_type = 'delete' THEN DELETE,
    WHEN MATCHED THEN UPDATE SET *, WHEN NOT MATCHED AND _change_type
    <> 'delete' THEN INSERT *`` — fully distributed, no driver-side
    key lists, and exactly-once under the same txn contract as the
    other streaming writers.
    """
    from pyspark.sql import Window

    from spark_etl_cli_spark.operators.cdc import resolve_cdc_sequence

    keys = (
        [c.strip() for c in on.split(",") if c.strip()]
        if isinstance(on, str)
        else list(on)
    )
    meta_cols = ("_commit_version", "_commit_timestamp")
    seq_cols = resolve_cdc_sequence(
        changes, keys, sequence_col, change_type_col=CDC_TYPE_COL
    )
    # an explicit sequence column is table DATA iff the target schema
    # has it (ordering by an event-time column); otherwise it is
    # transport metadata (Debezium ts_ms/lsn) and stays out of the rows
    seq_meta: set[str] = set()
    if sequence_col:
        log_dir = _log_dir(table_path)
        if os.path.isdir(log_dir):
            _, tmeta = _replay(changes.sparkSession, table_path)
            tbl_cols = {
                f.name
                for f in T.StructType.fromJson(
                    json.loads(tmeta["schemaString"])
                ).fields
            }
            seq_meta = {c for c in seq_cols if c not in tbl_cols}
    data_cols = [
        c
        for c in changes.columns
        if c != CDC_TYPE_COL and c not in meta_cols and c not in seq_meta
    ]
    latest = changes.filter(F.col(CDC_TYPE_COL) != "update_preimage")
    # within one sequence value (one CDF commit) a key appears at most
    # once as a net change; the change-type tiebreak only canonicalizes
    # equal rows, it never decides between conflicting operations
    order = [F.col(c).desc() for c in seq_cols] + [
        F.col(CDC_TYPE_COL).desc()
    ]
    drop_cols = [c for c in meta_cols if c in changes.columns] + sorted(
        seq_meta
    )
    latest = (
        latest.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(*order)
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn", *drop_cols)
    )
    return merge_delta_lite(
        latest,
        table_path,
        on=keys,
        update_set={
            c: f"source.{c}" for c in data_cols if c not in keys
        },
        delete_condition=f"source.{CDC_TYPE_COL} = 'delete'",
        insert_condition=f"{CDC_TYPE_COL} <> 'delete'",
        insert_columns=data_cols,
        txn_app_id=txn_app_id,
        txn_version=txn_version,
    )


def restore_delta_lite(
    spark: SparkSession,
    table_path: str,
    version_as_of: int | None = None,
    timestamp_as_of: int | str | None = None,
) -> dict:
    """``RESTORE TABLE tbl TO VERSION AS OF n`` — roll the table's
    LIVE state back to an earlier snapshot as a NEW commit (history is
    preserved; a restore is itself undoable by restoring forward).

    The commit is a pure log operation: remove(files only in the
    current snapshot) + re-add(files only in the target snapshot,
    dataChange=true) — no data file is read or rewritten. A file whose
    deletion-vector descriptor changed between the two versions is
    re-added with the TARGET's descriptor, undoing DV deletes the same
    way. If VACUUM already reclaimed a restored file this raises
    loudly instead of committing a corrupt snapshot (Delta's own
    RESTORE contract). Schema/partitioning/properties are restored via
    the target's metaData when they differ.

    Returns ``{"version", "files_removed", "files_restored"}``.
    """
    import time

    if (version_as_of is None) == (timestamp_as_of is None):
        raise ValueError(
            "restore: pass exactly one of version_as_of / timestamp_as_of"
        )
    if timestamp_as_of is not None:
        if isinstance(timestamp_as_of, str) and not timestamp_as_of.isdigit():
            import datetime as _dt2

            parsed = _dt2.datetime.fromisoformat(timestamp_as_of)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt2.timezone.utc)
            ts_ms = int(parsed.timestamp() * 1000)
        else:
            ts_ms = int(timestamp_as_of)
        version_as_of = _version_at_timestamp(_log_dir(table_path), ts_ms)
    cur_adds, cur_meta = _replay(spark, table_path)
    tgt_adds, tgt_meta = _replay(
        spark, table_path, version_as_of=version_as_of
    )

    def _dv_key(a: dict) -> str:
        dv = a.get("deletionVector")
        return json.dumps(dv, sort_keys=True) if dv else ""

    cur_by = {a["path"]: a for a in cur_adds}
    tgt_by = {a["path"]: a for a in tgt_adds}
    to_remove = [
        a
        for p, a in cur_by.items()
        if p not in tgt_by or _dv_key(a) != _dv_key(tgt_by[p])
    ]
    to_restore = [
        a
        for p, a in tgt_by.items()
        if p not in cur_by or _dv_key(a) != _dv_key(cur_by[p])
    ]
    missing = [
        a["path"]
        for a in to_restore
        if not os.path.exists(os.path.join(table_path, a["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"restore to version {version_as_of}: data files already "
            f"vacuumed away: {missing[:3]} — the snapshot is not "
            "reconstructible"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [_remove_action(a, now_ms) for a in to_remove]
    for a in to_restore:
        add = dict(a)
        add["dataChange"] = True
        from urllib.parse import quote

        add["path"] = quote(add["path"], safe="/=")
        actions.append({"add": add})
    meta_keys = ("schemaString", "partitionColumns", "configuration")
    if any(cur_meta.get(k) != tgt_meta.get(k) for k in meta_keys):
        actions.append({"metaData": tgt_meta})
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "RESTORE",
                "operationParameters": {"version": version_as_of},
            }
        }
    )
    _write_commit(spark, table_path, actions)
    return {
        "version": version_as_of,
        "files_removed": len(to_remove),
        "files_restored": len(to_restore),
    }


def alter_delta_lite(
    spark: SparkSession,
    table_path: str,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
    add: dict[str, str] | None = None,
    add_check: dict[str, str] | None = None,
    drop_check: list[str] | None = None,
) -> dict:
    """``ALTER TABLE``: RENAME COLUMN / DROP COLUMN / ADD COLUMN /
    ADD CONSTRAINT / DROP CONSTRAINT as a metadata-only commit — no
    data file is rewritten. ``add_check`` maps constraint name → SQL
    predicate and, like real Delta, VALIDATES every existing row first
    (one distributed probe; a violating table refuses the constraint).

    RENAME and DROP need column mapping (the files keep their physical
    column names; only the logical schema changes), so the first such
    ALTER upgrades the table to ``delta.columnMapping.mode=name``:
    every existing column gets its current name as its physicalName
    (existing files keep reading) and the protocol gains the
    columnMapping feature. ADD appends a nullable column — with a
    fresh ``col-<uuid>`` physical name on mapped tables, as a plain
    field otherwise (old files read null either way). Top-level
    columns only; partition columns may be renamed but not dropped.

    ``add`` maps column name → SQL type string (e.g. ``"double"``,
    ``"array<string>"``).

    Returns ``{"renamed", "dropped", "added"}`` counts.
    """
    import time
    import uuid as _uuid

    rename = dict(rename or {})
    drop = list(drop or [])
    add = dict(add or {})
    add_check = dict(add_check or {})
    drop_check = list(drop_check or [])
    if not (rename or drop or add or add_check or drop_check):
        raise ValueError("alter: nothing to do")
    _adds, meta = _replay(spark, table_path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    part_cols = meta.get("partitionColumns") or []
    missing = [c for c in list(rename) + drop if c not in names]
    if missing:
        raise ValueError(f"alter: unknown columns {missing}")
    bad_drop = [c for c in drop if c in part_cols]
    if bad_drop:
        raise ValueError(
            f"alter: cannot drop partition columns {bad_drop}"
        )
    if set(drop) >= set(names):
        raise ValueError("alter: cannot drop every column")
    post_names = [
        rename.get(n, n) for n in names if n not in drop
    ] + list(add)
    dupes = sorted(
        {n for n in post_names if post_names.count(n) > 1}
    )
    if dupes:
        raise ValueError(f"alter: resulting duplicate columns {dupes}")

    cfg = dict(meta.get("configuration") or {})
    mapped = cfg.get("delta.columnMapping.mode") in ("name", "id")
    needs_mapping = bool(rename or drop)
    upgraded = False
    fields = list(schema.fields)
    max_id = int(cfg.get("delta.columnMapping.maxColumnId", 0) or 0)
    if needs_mapping and not mapped:
        # first rename/drop: assign ids + physicalName=current-name so
        # every existing file keeps reading under the mapping
        upgraded = True
        mapped = True
        new_fields = []
        for i, f in enumerate(fields, start=1):
            md = dict(f.metadata or {})
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = f.name
            new_fields.append(
                T.StructField(f.name, f.dataType, f.nullable, md)
            )
        fields = new_fields
        max_id = len(fields)
        cfg["delta.columnMapping.mode"] = "name"

    out_fields: list[T.StructField] = []
    for f in fields:
        if f.name in drop:
            continue
        out_fields.append(
            T.StructField(
                rename.get(f.name, f.name), f.dataType, f.nullable,
                f.metadata,
            )
        )
    for cname, ctype in add.items():
        dt = (
            spark.range(0)
            .selectExpr(f"CAST(NULL AS {ctype}) AS c")
            .schema[0]
            .dataType
        )
        md = {}
        if mapped:
            max_id += 1
            md = {
                "delta.columnMapping.id": max_id,
                "delta.columnMapping.physicalName": f"col-{_uuid.uuid4().hex}",
            }
        out_fields.append(T.StructField(cname, dt, True, md))
    if mapped:
        cfg["delta.columnMapping.maxColumnId"] = str(max_id)

    # constraints: drops just leave the configuration; adds VALIDATE
    # the whole existing table first (one distributed short-circuited
    # probe over the post-ALTER logical view — added columns read null,
    # so a CHECK over them passes per SQL semantics)
    for cname in drop_check:
        key = f"delta.constraints.{cname}"
        if key not in cfg:
            raise ValueError(f"alter: unknown constraint {cname!r}")
        del cfg[key]
    constraint_upgrade = False
    if add_check:
        post_view = _snapshot_scan(spark, table_path, _adds, meta).drop(
            "__file"
        )
        sel = [
            F.col(f.name).alias(rename.get(f.name, f.name))
            for f in schema.fields
            if f.name not in drop
        ] + [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in out_fields
            if f.name in add
        ]
        post_view = post_view.select(*sel)
        for cname, expr in sorted(add_check.items()):
            bad = post_view.filter(F.expr(expr) == F.lit(False)).head(1)
            if bad:
                raise ValueError(
                    f"alter: cannot add constraint {cname!r} ({expr}) — "
                    f"existing rows violate it; first: {bad[0]}"
                )
            cfg[f"delta.constraints.{cname}"] = expr
        constraint_upgrade = True

    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    if constraint_upgrade and not upgraded:
        proto = _current_protocol(spark, table_path)
        if (
            int(proto.get("minReaderVersion", 1)) < 3
            and int(proto.get("minWriterVersion", 2)) < 3
        ):
            # CHECK constraints are a writer-version-3 feature
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": int(
                            proto.get("minReaderVersion", 1)
                        ),
                        "minWriterVersion": 3,
                    }
                }
            )
    if upgraded:
        proto = _current_protocol(spark, table_path)
        if int(proto.get("minReaderVersion", 1)) >= 3:
            actions.append(
                {
                    "protocol": {
                        **proto,
                        "readerFeatures": sorted(
                            set(proto.get("readerFeatures") or [])
                            | {"columnMapping"}
                        ),
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"columnMapping"}
                        ),
                    }
                }
            )
        elif (
            int(proto.get("minReaderVersion", 1)) < 2
            or int(proto.get("minWriterVersion", 2)) < 5
        ):
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": max(
                            2, int(proto.get("minReaderVersion", 1))
                        ),
                        "minWriterVersion": max(
                            5, int(proto.get("minWriterVersion", 2))
                        ),
                    }
                }
            )
    actions.append(
        {
            "metaData": {
                **meta,
                "schemaString": T.StructType(out_fields).json(),
                "partitionColumns": [
                    rename.get(c, c) for c in part_cols
                ],
                "configuration": cfg,
            }
        }
    )
    op = "RENAME COLUMN" if rename else (
        "DROP COLUMNS" if drop else "ADD COLUMNS"
    )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": op,
                "operationParameters": {
                    "rename": json.dumps(rename),
                    "drop": json.dumps(drop),
                    "add": json.dumps(add),
                },
            }
        }
    )
    _write_commit(spark, table_path, actions)
    return {
        "renamed": len(rename),
        "dropped": len(drop),
        "added": len(add),
        "checks_added": len(add_check),
        "checks_dropped": len(drop_check),
    }


def clone_delta_lite(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    version_as_of: int | None = None,
    timestamp_as_of: int | str | None = None,
) -> dict:
    """SHALLOW CLONE: create ``target_path`` as a zero-copy view of the
    source table's snapshot (optionally at an earlier version/
    timestamp) — the clone's commit 0 carries the source's metaData
    (fresh table id) plus add actions referencing the source's data
    files by ABSOLUTE path, exactly the protocol's shallow-clone shape.
    No data byte moves at any table size; the clone then evolves
    independently (appends/deletes/optimize write under the clone's own
    directory). VACUUM on the clone never reclaims source files (it
    only scans the clone's directory); VACUUM on the SOURCE can break
    clones — the same documented hazard real Delta shallow clones have.

    Returns ``{"files_referenced", "version_cloned"}``.
    """
    import time

    if os.path.isdir(_log_dir(target_path)) and os.listdir(
        _log_dir(target_path)
    ):
        raise ValueError(
            f"clone target {target_path} is already a delta table"
        )
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError(
                "pass version_as_of OR timestamp_as_of, not both"
            )
        if isinstance(timestamp_as_of, str) and not timestamp_as_of.isdigit():
            import datetime as _dt2

            parsed = _dt2.datetime.fromisoformat(timestamp_as_of)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt2.timezone.utc)
            ts_ms = int(parsed.timestamp() * 1000)
        else:
            ts_ms = int(timestamp_as_of)
        version_as_of = _version_at_timestamp(_log_dir(source_path), ts_ms)
    adds, meta = _replay(spark, source_path, version_as_of=version_as_of)
    # DV descriptors use table-RELATIVE storage ('u' pathOrInlineDv
    # encodes a file under the table dir), which a clone reading from
    # its own dir would miss — so the clone rewrites each descriptor to
    # absolute-path storage ('p', protocol-standard), pointing at the
    # SOURCE's bitmap file. Zero copy, same hazard profile as the data
    # files themselves (source VACUUM can break clones).
    from spark_etl_cli_spark.sources.dv_lite import dv_file_path

    abs_src = os.path.abspath(source_path)
    rewritten = []
    for a in adds:
        dv = a.get("deletionVector")
        if not dv:
            rewritten.append(a)
            continue
        if dv.get("storageType") == "u":
            abs_dv = dv_file_path(abs_src, dv["pathOrInlineDv"])
            a = {
                **a,
                "deletionVector": {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": abs_dv,
                },
            }
        rewritten.append(a)
    adds = rewritten
    now_ms = int(time.time() * 1000)
    import uuid as _uuid
    from urllib.parse import quote

    proto = _current_protocol(spark, source_path)
    actions: list[dict] = [{"protocol": proto}]
    actions.append(
        {
            "metaData": {
                **meta,
                "id": str(_uuid.uuid4()),
                "createdTime": now_ms,
            }
        }
    )
    src_abs = os.path.abspath(source_path)
    for a in adds:
        add = dict(a)
        # absolute file URI into the SOURCE table (protocol: add.path
        # may be an absolute URI; readers use it verbatim)
        add["path"] = quote(
            os.path.join(src_abs, a["path"]), safe="/=:"
        )
        add["dataChange"] = True
        actions.append({"add": add})
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_abs,
                    "version": version_as_of,
                },
            }
        }
    )
    _write_commit(spark, target_path, actions, first=True)
    return {
        "files_referenced": len(adds),
        "version_cloned": version_as_of,
    }


def update_delta_lite(
    spark: SparkSession,
    table_path: str,
    where: str,
    set_exprs: dict[str, str],
) -> dict:
    """Protocol UPDATE: ``UPDATE tbl SET col = expr, ... WHERE pred``.

    Copy-on-write on the same machinery as DELETE: only files holding
    ≥1 matching row are rewritten (log-level pruning for partition
    predicates; constant-folded literals keep other partitions' files
    unopened), each kept row either rewritten through the SET
    expressions (predicate TRUE) or copied verbatim. SET expressions
    are cast back to the column's declared type — an UPDATE can never
    drift the table schema. Updating a partition column is legal: the
    rewrite is partition-aware, so moved rows land in (and are
    committed under) their new partition directory.

    Returns ``{"files_rewritten", "files_added", "rows_updated"}``.
    """
    import time

    adds, meta = _replay(spark, table_path)
    part_cols = meta.get("partitionColumns") or []
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    by_name = {f.name: f for f in schema.fields}
    unknown = [c for c in set_exprs if c not in by_name]
    if unknown:
        raise ValueError(f"UPDATE SET of unknown columns {unknown}")
    candidates = _prune_add_list(spark, adds, meta, where)
    zero = {"files_rewritten": 0, "files_added": 0, "rows_updated": 0}
    if not candidates:
        return zero
    scan = _snapshot_scan(spark, table_path, candidates, meta)
    pred = F.coalesce(F.expr(where), F.lit(False))
    counts = scan.filter(pred).groupBy("__file").count().collect()
    if not counts:
        return zero
    by_path = _adds_by_abspath(table_path, candidates)
    affected = []
    for r in counts:
        add = by_path.get(r["__file"])
        if add is None:
            raise RuntimeError(
                f"delta-lite UPDATE: scanned file {r['__file']!r} missing "
                "from the snapshot file list"
            )
        affected.append(add)
    n_rows = sum(r["count"] for r in counts)

    # ONE projection: predicate and every SET expression evaluate
    # against the ORIGINAL row (chained withColumn would let a later
    # SET see an earlier one's result — not SQL UPDATE semantics)
    out_cols = [
        F.when(
            pred, F.expr(set_exprs[f.name]).cast(f.dataType)
        ).otherwise(F.col(f.name)).alias(f.name)
        if f.name in set_exprs
        else F.col(f.name)
        for f in schema.fields
    ]
    mat_col, rcv_col, rt_actions = _rt_rewrite_begin(meta)
    if mat_col is not None:
        # updated rows keep their tracked ids (stability contract) but
        # take THIS commit as their version (NULL materialized →
        # derives the new add's default); untouched survivors carry
        # their old version forward
        out_cols = out_cols + [
            F.col("__row_id"),
            F.when(pred, F.lit(None).cast("long"))
            .otherwise(F.col("__rcv"))
            .alias("__rcv"),
        ]
    rewritten = _snapshot_scan(
        spark, table_path, affected, meta, with_row_id=mat_col is not None
    ).select(*out_cols)
    _enforce_constraints(rewritten, meta.get("configuration"), schema)
    new_adds = _rewrite_files(
        rewritten, table_path, part_cols, meta, mat_col=mat_col,
        rcv_col=rcv_col,
    )
    if mat_col is not None:
        rt_actions += _rt_rewrite_finish(_log_dir(table_path), new_adds)
    now_ms = int(time.time() * 1000)
    actions = [_remove_action(a, now_ms) for a in affected]
    actions += [{"add": a} for a in new_adds]
    actions.extend(rt_actions)
    if _cdf_enabled(meta):
        # CDF: pre- and post-image of every matched row
        table_cols = [f.name for f in schema.fields]
        matched_scan = _snapshot_scan(
            spark, table_path, affected, meta
        ).filter(pred)
        pre = matched_scan.select(*table_cols).withColumn(
            CDC_TYPE_COL, F.lit("update_preimage")
        )
        post_cols = [
            F.expr(set_exprs[f.name]).cast(f.dataType).alias(f.name)
            if f.name in set_exprs
            else F.col(f.name)
            for f in schema.fields
        ]
        post = matched_scan.select(*post_cols).withColumn(
            CDC_TYPE_COL, F.lit("update_postimage")
        )
        actions.extend(
            _write_cdc_files(pre.unionByName(post), table_path)
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UPDATE",
                "operationParameters": {"predicate": where},
            }
        }
    )
    _write_commit(spark, table_path, actions)
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_updated": n_rows,
    }
