"""UniForm-style interop: one physical copy of a table, read as delta,
iceberg or hudi — zero data copy.

Delta's UniForm feature writes Iceberg metadata alongside the Delta
transaction log so Iceberg readers can consume the same parquet files.
This module does the engine-free equivalent for every direction the
lite formats support, in the shape Apache XTable uses: each export is
**reader → snapshot → committer**. A reader turns the source table's
current state into one neutral :class:`_Snapshot` (logical schema,
optional name mapping, identity partition columns, live files with
their partition values and row counts, row-level deletes as positions,
row lineage); a committer turns that snapshot into the target format's
metadata, whose data-file entries reference the source's OWN parquet
files by absolute path. Three readers (delta, iceberg, hudi) and two
committers (delta, iceberg) give the four exports:

* ``export_delta_as_iceberg`` — deletion vectors become iceberg
  position deletes (v2) or Puffin deletion vectors (v3); column-mapped
  tables keep delta's stable mapping ids as iceberg field ids plus a
  ``schema.name-mapping.default`` property resolving the physical
  (col-<uuid>) file names, nested fields included; row-tracked tables
  export as format v3 with verbatim row lineage.
* ``export_iceberg_as_delta`` — the iceberg reader itself decides
  which rows are deleted (position deletes, deletion vectors and
  equality deletes alike), and those positions become delta deletion
  vectors.
* ``export_hudi_as_delta`` / ``export_hudi_as_iceberg`` (and
  ``export_hudi`` for both) — compacted hudi file slices.

Re-running an export after new source commits refreshes the target as
a new version/snapshot (old ones stay time-travelable); an iceberg
target REPLACES its view each time, a delta target commits the diff
and is a no-op when nothing changed. Reference surface: the
reference's delta connector wraps engine jars
(delta/.../DeltaUriParser.scala:13-60); format interop is
beyond-reference, built on the lite protocol writers.
"""

from __future__ import annotations

import glob as _glob
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_etl_cli_spark.session import local_frame


@dataclass
class _File:
    """One live data file: absolute path, size in bytes, row count,
    typed partition values by column, and its v3 / row-tracking base
    row id (None when the source assigns none)."""

    path: str
    size: int
    records: int
    partition: dict
    first_row_id: int | None = None


@dataclass
class _Snapshot:
    """A table's current state, independent of its format.

    ``name_mapping`` (physical file name → field id, in the Iceberg
    spec's tree shape: struct fields in order, list → element, map →
    key, value) is set only when the files' column names differ from
    the logical schema's. ``deletes`` maps a data file's absolute path
    to its sorted deleted row positions. ``next_row_id`` is set only
    when row lineage crosses formats; ``row_id_col`` then names the
    physical column rewritten files materialize row ids under."""

    source: str
    version: object
    schema: T.StructType
    name_mapping: list[dict] | None
    part_cols: list[str]
    files: list[_File]
    deletes: dict[str, list[int]] = field(default_factory=dict)
    next_row_id: int | None = None
    row_id_col: str | None = None


# --- readers ------------------------------------------------------------------


def _read_delta(spark: SparkSession, table_path: str) -> _Snapshot:
    """Log replay; metadata-only except for DV decoding (record counts
    come from the adds' stats, a missing stat falls back to one footer
    read for that file)."""
    from spark_etl_cli_spark.sources.delta_lite import (
        _log_dir,
        _materialized_row_id_col,
        _next_version,
        _num_records,
        _replay,
        _row_tracking_enabled,
    )
    from spark_etl_cli_spark.sources.dv_lite import read_deletion_vector
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _hive_value,
        _parquet_row_count,
    )

    adds, meta = _replay(spark, table_path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    conf = meta.get("configuration")
    # delta's add.baseRowId and iceberg's data-file first_row_id share
    # one model (per-file base + position in file), so row-tracked
    # tables carry their ids VERBATIM: _row_id on one side equals
    # _row_id on the other
    lineage = bool(adds) and _row_tracking_enabled(conf)
    n_bad = sum(1 for a in adds if a.get("baseRowId") is None)
    if lineage and n_bad:
        # Row tracking is ON but some files lack baseRowId (e.g. a
        # rewrite by a writer that didn't materialize ids). The read
        # path fences loudly on the same state (?with-row-id=); a
        # silent export without lineage would drop the cross-format
        # '_row_id identical on both sides' guarantee without any
        # signal, so make the downgrade loud.
        import warnings

        warnings.warn(
            f"uniform export of {table_path}: row tracking is enabled "
            f"but {n_bad}/{len(adds)} data files lack baseRowId — "
            "exporting as iceberg v2 WITHOUT row lineage (_row_id "
            "parity does not hold). Rewrite the table with this "
            "writer (which materializes row ids) to restore lineage.",
            stacklevel=3,
        )
        lineage = False
    part_cols = meta.get("partitionColumns") or []
    root = os.path.abspath(table_path)
    files: list[_File] = []
    deletes: dict[str, list[int]] = {}
    for a in adds:
        p = os.path.join(root, a["path"])
        try:
            n = int(json.loads(a.get("stats") or "{}")["numRecords"])
        except (KeyError, ValueError, TypeError):
            n = _parquet_row_count(p)
        pv = a.get("partitionValues") or {}
        files.append(_File(
            p,
            a.get("size") or os.path.getsize(p),
            n,
            {c: _hive_value(pv.get(c), schema[c].dataType) for c in part_cols},
            int(a["baseRowId"]) if lineage else None,
        ))
        if a.get("deletionVector"):
            idx = sorted(
                int(i)
                for i in read_deletion_vector(table_path, a["deletionVector"])
            )
            if idx:
                deletes[p] = idx
    return _Snapshot(
        "delta",
        _next_version(_log_dir(table_path)) - 1,
        schema,
        _delta_name_mapping(schema),
        part_cols,
        files,
        deletes,
        max(int(a["baseRowId"]) + _num_records(a) for a in adds)
        if lineage
        else None,
        # rewrites materialize surviving rows' ids into this hidden
        # physical column; iceberg v3 models it as the reserved
        # materialized ``_row_id`` field
        _materialized_row_id_col(conf) if lineage else None,
    )


def _delta_name_mapping(schema: T.StructType) -> list[dict] | None:
    """The name mapping of a column-mapped delta schema, else None.

    The parquet files carry PHYSICAL names (col-<uuid>) while the log
    keeps logical ones. Iceberg resolves by field id with a
    name-mapping fallback, so every STRUCT field at any depth reuses
    its ``delta.columnMapping.id`` as the iceberg field id (stable
    across rename re-exports) and maps its physical name; iceberg's
    extra id slots delta has no counterpart for — list element, map
    key/value — get fresh ids ABOVE the highest mapping id and map
    their fixed parquet names. A colliding delta id (corrupt
    hand-written log) is reassigned above the max instead of fencing.
    Entries carry the physical name only: a rename can make one
    column's logical name equal another's physical name, and a mapping
    listing both would turn ambiguous."""
    from spark_etl_cli_spark.sources.delta_lite import _physical_schema

    if not _physical_schema(schema)[1]:
        return None
    ids: list[int] = []

    def collect(dt) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                did = (f.metadata or {}).get("delta.columnMapping.id")
                if did is not None:
                    ids.append(int(did))
                collect(f.dataType)
        elif isinstance(dt, T.ArrayType):
            collect(dt.elementType)
        elif isinstance(dt, T.MapType):
            collect(dt.keyType)
            collect(dt.valueType)

    collect(schema)
    top = [max(ids, default=0)]
    seen: set[int] = set()

    def take(did: int | None) -> int:
        if did is None or did in seen:
            top[0] += 1
            while top[0] in seen:
                top[0] += 1
            did = top[0]
        seen.add(did)
        return did

    def entry(fid: int, name: str, dt) -> dict:
        ent = {"field-id": fid, "names": [name]}
        sub = children(dt)
        if sub:
            ent["fields"] = sub
        return ent

    def children(dt) -> list[dict]:
        if isinstance(dt, T.StructType):
            out = []
            for sf in dt.fields:
                md = sf.metadata or {}
                did = md.get("delta.columnMapping.id")
                out.append(entry(
                    take(int(did) if did is not None else None),
                    md.get("delta.columnMapping.physicalName") or sf.name,
                    sf.dataType,
                ))
            return out
        if isinstance(dt, T.ArrayType):
            return [entry(take(None), "element", dt.elementType)]
        if isinstance(dt, T.MapType):
            return [
                entry(take(None), "key", dt.keyType),
                entry(take(None), "value", dt.valueType),
            ]
        return []

    return children(schema)


def _read_hudi(spark: SparkSession, table_path: str) -> _Snapshot:
    """Live COW base files. Declared unpartitioned: hudi base files
    carry partition columns physically, so every reader sees them as
    ordinary columns — correctness over partition pruning. The schema
    drops hoodie meta columns (``_hoodie_commit_time`` etc. stay
    physically in the files; schema-on-read ignores them). Uncompacted
    MOR slices raise: log blocks can't be referenced by delta/iceberg
    metadata — compact first."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from spark_etl_cli_spark.sources.hudi_lite import (
        _completed_instants,
        _live_file_slices,
    )
    from spark_etl_cli_spark.sources.iceberg_lite import _parquet_row_count

    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(
            f"no completed Hudi commits under {table_path}/.hoodie"
        )
    groups = _live_file_slices(table_path, instants)
    with_logs = [k for k, ent in groups.items() if ent["logs"]]
    if with_logs:
        raise NotImplementedError(
            "uniform export needs compacted file slices; these groups "
            f"have uncompacted log files: {with_logs[:3]} — run "
            "rep+hudi-compact:// first"
        )
    files = sorted(
        os.path.abspath(ent["base"]) for ent in groups.values() if ent["base"]
    )
    if not files:
        raise ValueError(f"hudi table {table_path} has no live base files")
    arrow = pq.read_schema(files[-1])
    schema = T.StructType([
        f for f in from_arrow_schema(arrow).fields
        if not f.name.startswith("_hoodie_")
    ])
    return _Snapshot(
        "hudi",
        instants[-1][0],
        schema,
        None,
        [],
        [_File(p, os.path.getsize(p), _parquet_row_count(p), {}) for p in files],
    )


def _read_iceberg(spark: SparkSession, table_path: str) -> _Snapshot:
    """The current snapshot's live data files; the deleted positions
    come from the iceberg reader itself, so position deletes, deletion
    vectors and equality deletes (sequence scoping, NULL-safe keys,
    per-vintage v3 initial-defaults) translate exactly as the reader
    applies them. Each delete-reachable file's ordinals ``[0,
    record_count)`` anti-join the live ``(__dfile, __dpos)`` of
    ``read_iceberg_lite(with_provenance=True)``; only the deleted ones
    are collected, bounded by the deleted-row count.

    Non-identity partition specs (bucket/truncate/temporal) export
    UNPARTITIONED: delta can't express the transform, but the files
    carry every column physically, so only delta-side pruning is
    lost."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _default_spec,
        _identity_partition_fields,
        _load_metadata,
        _localize,
        _manifest_entries,
        _parquet_row_count,
        _schema_to_spark,
        _snapshot,
        read_iceberg_lite,
    )

    meta = _load_metadata(table_path)
    snap = _snapshot(meta, None)
    entries = [
        e for e in _manifest_entries(table_path, snap) if e.get("status") != 2
    ]
    data = [e for e in entries if not (e["data_file"].get("content") or 0)]
    part_fields = _identity_partition_fields(meta)
    if any(e["data_file"].get("partition") for e in data) and (
        len(_default_spec(meta).get("fields", [])) != len(part_fields)
        or not part_fields
    ):
        part_fields = []
    files = []
    for e in data:
        d = e["data_file"]
        p = os.path.abspath(_localize(d["file_path"], table_path))
        pv = d.get("partition") or {}
        files.append(_File(
            p,
            d.get("file_size_in_bytes") or os.path.getsize(p),
            d["record_count"]
            if d.get("record_count") is not None
            else _parquet_row_count(p),
            {src: pv.get(pn) for pn, src, _dt in part_fields},
        ))
    # a delete file applies to data files at most as new as itself
    # (position deletes and DVs: data seq <= delete seq; equality
    # deletes: strictly older), so newer files cannot have lost rows
    newest_delete = max(
        (
            2**62 if e["__data_seq"] is None else e["__data_seq"]
            for e in entries
            if e["data_file"].get("content")
        ),
        default=-1,
    )
    reachable = [
        (f.path, f.records)
        for f, e in zip(files, data)
        if (e["__data_seq"] or 0) <= newest_delete and f.records
    ]
    deletes: dict[str, list[int]] = {}
    if reachable:
        ordinals = local_frame(
            spark, reachable, "__dfile string, __n long"
        ).select(
            "__dfile",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - 1))
            .alias("__dpos"),
        )
        # __dfile is Spark's URI form of the path (a space reads %20, a
        # '+' stays '+'); the ordinals carry plain paths
        live = read_iceberg_lite(
            spark, table_path, with_provenance=True
        ).select(
            F.url_decode(F.regexp_replace("__dfile", r"\+", "%2B"))
            .alias("__dfile"),
            "__dpos",
        )
        for p, pos in ordinals.join(
            live, ["__dfile", "__dpos"], "left_anti"
        ).collect():
            deletes.setdefault(p, []).append(pos)
        deletes = {p: sorted(idx) for p, idx in deletes.items()}
    return _Snapshot(
        "iceberg",
        snap["snapshot-id"],
        _schema_to_spark(meta),
        None,
        [src for _pn, src, _dt in part_fields],
        files,
        deletes,
    )


# --- committers ---------------------------------------------------------------


def _delta_pv_str(v) -> str | None:
    """Typed partition value → delta's string partitionValues encoding
    (hive-style: booleans lowercase, dates ISO, None null)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _commit_delta(spark: SparkSession, table_path: str, snap: _Snapshot) -> int:
    """Write/refresh a Delta log for ``snap``; returns the delta version.

    The first export writes commit 0 (protocol + metaData + adds with
    absolute paths). A re-export diffs the current log: it removes
    gone files, adds new ones, and refreshes a file whose delete set
    changed, so the delta view tracks the source version by version;
    it also refreshes ``schemaString``. Deletes become DELETION
    VECTORS (protocol upgraded to reader 3/writer 7). With nothing to
    change it commits nothing and returns the current version."""
    import time as _time
    import uuid as _uuid
    from urllib.parse import quote

    from spark_etl_cli_spark.sources.delta_lite import (
        _current_protocol,
        _log_dir,
        _next_version,
        _remove_action,
        _replay,
        _write_commit,
        is_delta_table,
    )
    from spark_etl_cli_spark.sources.dv_lite import (
        read_deletion_vector,
        write_deletion_vector_file,
        z85_encode,
    )

    now_ms = int(_time.time() * 1000)
    root = os.path.abspath(table_path)
    schema_json = snap.schema.json()

    def add(f: _File) -> dict:
        a = {
            "path": quote(f.path, safe="/=:"),
            "partitionValues": {
                c: _delta_pv_str(f.partition.get(c)) for c in snap.part_cols
            },
            "size": f.size,
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps({"numRecords": f.records}),
        }
        if snap.deletes.get(f.path):
            u = _uuid.uuid4()
            desc = write_deletion_vector_file(
                os.path.join(root, f"deletion_vector_{u}.bin"),
                snap.deletes[f.path],
            )
            desc.update(
                {"storageType": "u", "pathOrInlineDv": z85_encode(u.bytes)}
            )
            a["deletionVector"] = desc
        return {"add": a}

    def dv_protocol(proto: dict) -> dict:
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                **{
                    k: sorted(set(proto.get(k) or []) | {"deletionVectors"})
                    for k in ("readerFeatures", "writerFeatures")
                },
            }
        }

    first = not (
        is_delta_table(table_path) and os.listdir(_log_dir(table_path))
    )
    if first:
        actions = [
            dv_protocol({})
            if snap.deletes
            else {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": str(_uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": snap.part_cols,
                    "configuration": {"uniform.source": snap.source},
                    "createdTime": now_ms,
                }
            },
            *(add(f) for f in snap.files),
        ]
    else:
        cur_adds, cur_meta = _replay(spark, table_path)
        cur = {
            os.path.abspath(os.path.join(root, a["path"])): a for a in cur_adds
        }
        wanted = {f.path for f in snap.files}
        actions = [
            _remove_action(a, now_ms) for p, a in cur.items() if p not in wanted
        ]
        for f in snap.files:
            old = cur.get(f.path)
            if old is not None:
                # same file: refresh only if its DELETE set changed
                dv = old.get("deletionVector")
                old_idx = sorted(read_deletion_vector(table_path, dv)) if dv else []
                if old_idx == snap.deletes.get(f.path, []):
                    continue
                actions.append(_remove_action(old, now_ms))
            actions.append(add(f))
        if snap.deletes:
            proto = _current_protocol(spark, table_path)
            if int(proto.get("minReaderVersion", 1)) < 3 or (
                "deletionVectors" not in (proto.get("readerFeatures") or [])
            ):
                actions.insert(0, dv_protocol(proto))
        if cur_meta.get("schemaString") != schema_json:
            actions.append({"metaData": {**cur_meta, "schemaString": schema_json}})
        if not actions:
            # nothing changed since the last export
            return _next_version(_log_dir(table_path)) - 1
    actions.append({
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "UNIFORM EXPORT",
            "operationParameters": {
                "source": snap.source,
                "snapshot-id": snap.version,
            },
        }
    })
    return _write_commit(spark, table_path, actions, first=first)


def _ids_from_mapping(ice_t, mapping: list[dict]) -> None:
    """Set an iceberg type's field ids from a name mapping that mirrors
    it (struct fields in order; list → element; map → key, value)."""
    if not isinstance(ice_t, dict):
        return
    if ice_t["type"] == "struct":
        slots = [(f, "id", f["type"]) for f in ice_t["fields"]]
    elif ice_t["type"] == "list":
        slots = [(ice_t, "element-id", ice_t["element"])]
    else:
        slots = [
            (ice_t, "key-id", ice_t["key"]),
            (ice_t, "value-id", ice_t["value"]),
        ]
    for (holder, key, sub), ent in zip(slots, mapping):
        holder[key] = ent["field-id"]
        _ids_from_mapping(sub, ent.get("fields", []))


def _commit_iceberg(
    spark: SparkSession, table_path: str, snap: _Snapshot
) -> int:
    """Commit ``snap`` as a new Iceberg snapshot; returns its id.

    Each export REPLACES the iceberg view of the table: the metadata is
    rebuilt (format v3 exactly when row lineage crosses, an identity
    spec over the partition columns, the name mapping, prior ``refs``
    carried) and the snapshot's manifest list carries only its own
    manifests. Deletes land as Puffin deletion vectors on v3 and as one
    sorted position-delete parquet on v2, committed at the SAME
    sequence number as the data (the spec applies position deletes to
    data files of the same commit or older)."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _ROW_ID_FIELD_ID,
        _SnapshotCommit,
        _load_metadata,
        _max_field_id,
        _parquet_row_count,
        _part_avro_type,
        _spark_to_iceberg_schema,
        is_iceberg_table,
    )

    lineage = snap.next_row_id is not None
    part_fields = [(c, snap.schema[c].dataType) for c in snap.part_cols]
    for _c, dt in part_fields:
        _part_avro_type(dt)  # validate up front
    iceberg_schema = _spark_to_iceberg_schema(snap.schema)
    # spec-compliant readers resolve columns by field id and fall back
    # to this mapping for files without ids in their footers (ours:
    # the delta/hudi-written parquet) — real UniForm writes it for
    # exactly this reason
    name_mapping = snap.name_mapping
    if name_mapping is not None:
        _ids_from_mapping(iceberg_schema, name_mapping)
    else:
        name_mapping = [
            {"field-id": f["id"], "names": [f["name"]]}
            for f in iceberg_schema["fields"]
        ]
    if lineage and snap.row_id_col:
        # the reserved materialized ``_row_id`` field (id 2147483546):
        # any conforming v3 reader honors rewrite-preserved lineage
        # (fresh files read NULL and fall back to first_row_id + pos)
        name_mapping = name_mapping + [
            {"field-id": _ROW_ID_FIELD_ID, "names": [snap.row_id_col]}
        ]
    field_id_of = {f["name"]: f["id"] for f in iceberg_schema["fields"]}
    spec_fields = [
        {
            "name": c,
            "transform": "identity",
            "source-id": field_id_of[c],
            "field-id": 1000 + i,
        }
        for i, c in enumerate(snap.part_cols)
    ]
    prior = _load_metadata(table_path) if is_iceberg_table(table_path) else None
    txn = _SnapshotCommit(table_path, prior)
    txn.meta = {
        "format-version": 3 if lineage else 2,
        "location": table_path,
        "last-column-id": _max_field_id(iceberg_schema),
        "schemas": [iceberg_schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {
            "schema.name-mapping.default": json.dumps(name_mapping)
        },
        **({"next-row-id": snap.next_row_id} if lineage else {}),
        **({"refs": prior["refs"]} if prior and prior.get("refs") else {}),
    }
    manifests = [txn.write_manifest(
        [
            txn.added({
                "content": 0,
                "file_path": f.path,
                "file_format": "PARQUET",
                "partition": f.partition,
                "record_count": f.records,
                "file_size_in_bytes": f.size,
                **({"first_row_id": f.first_row_id} if lineage else {}),
            })
            for f in snap.files
        ],
        part_fields=part_fields,
    )]
    if snap.deletes and lineage:
        # v3 forbids position-delete files: the same position sets
        # become ``deletion-vector-v1`` blobs, so survivors' _row_id
        # parity holds (base + position skips the same ordinals)
        part_of = {f.path: f.partition for f in snap.files}
        manifests.append(txn.write_dvs(
            [(p, snap.deletes[p], part_of[p]) for p in sorted(snap.deletes)],
            prefix="uniform-dv-",
        ))
    elif snap.deletes:
        pd_rows = [
            (p, pos) for p in sorted(snap.deletes) for pos in snap.deletes[p]
        ]
        pd_dir = os.path.join(table_path, "data", f"uniform-pos-del-{txn.uuid}")
        local_frame(
            spark, pd_rows, "file_path string, pos long"
        ).coalesce(1).sortWithinPartitions("file_path", "pos").write.parquet(
            pd_dir
        )
        pos_del_file = next(
            p
            for p in sorted(_glob.glob(os.path.join(pd_dir, "*.parquet")))
            if _parquet_row_count(p) > 0
        )
        manifests.append(txn.write_manifest(
            [txn.added({
                "content": 1,  # position deletes
                "file_path": os.path.abspath(pos_del_file),
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(pd_rows),
                "file_size_in_bytes": os.path.getsize(pos_del_file),
            })],
            content="deletes",
        ))
    # delta's row ids cross verbatim, so the v3 view's first row id is 0
    return txn.commit(
        manifests,
        operation="overwrite",
        summary={"uniform": snap.source},
        first_row_id=0,
    )


# --- exports ------------------------------------------------------------------


def export_delta_as_iceberg(spark: SparkSession, table_path: str) -> int:
    """Write/refresh Iceberg metadata for the delta table at
    ``table_path``; returns the new Iceberg snapshot id."""
    return _commit_iceberg(spark, table_path, _read_delta(spark, table_path))


def export_iceberg_as_delta(spark: SparkSession, table_path: str) -> int:
    """Write/refresh a Delta log for the ICEBERG table at
    ``table_path``; returns the delta version committed."""
    return _commit_delta(spark, table_path, _read_iceberg(spark, table_path))


def export_hudi_as_delta(spark: SparkSession, table_path: str) -> int:
    """Expose a (compacted) Hudi COW table as a Delta table; returns
    the delta version."""
    return _commit_delta(spark, table_path, _read_hudi(spark, table_path))


def export_hudi_as_iceberg(spark: SparkSession, table_path: str) -> int:
    """Expose a (compacted) Hudi COW table as an Iceberg table; returns
    the iceberg snapshot id."""
    return _commit_iceberg(spark, table_path, _read_hudi(spark, table_path))


def export_hudi(
    spark: SparkSession, table_path: str, formats: str = "both"
) -> list[tuple[str, int]]:
    """Expose a hudi table as ``delta``, ``iceberg`` or ``both``;
    returns ``(format, version)`` per export, delta first."""
    exports = {"delta": export_hudi_as_delta, "iceberg": export_hudi_as_iceberg}
    if formats not in (*exports, "both"):
        raise ValueError(f"formats must be delta|iceberg|both, got {formats!r}")
    return [
        (fmt, export(spark, table_path))
        for fmt, export in exports.items()
        if formats in (fmt, "both")
    ]
