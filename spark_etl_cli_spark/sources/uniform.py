"""UniForm-style interop: expose a DELTA table as an ICEBERG table —
zero data copy.

Delta's UniForm feature writes Iceberg metadata alongside the Delta
transaction log so Iceberg readers can consume the same parquet files.
This module does the engine-free equivalent: ``export_delta_as_iceberg``
replays the delta snapshot and commits an Iceberg ``metadata/`` tree
(avro manifest + manifest list + ``vN.metadata.json``) whose data-file
entries reference the delta table's OWN parquet files by absolute
path. After the export, ``iceberg://<same path>`` (or any engine's
Iceberg reader pointed at it) serves the identical rows; re-running
the export after new delta commits refreshes the Iceberg view as a new
snapshot (old snapshots stay time-travelable).

Deletion-vector adds export as Iceberg POSITION DELETES (both formats
express row-ordinal deletes), and column-mapped tables export with
delta's stable mapping ids as the iceberg field ids plus a
``schema.name-mapping.default`` property resolving the physical
(col-<uuid>) file names — the same mechanism real UniForm uses;
NESTED struct fields reconcile their mapping ids recursively (list
element / map key-value slots get fresh ids above the mapping
range). Reference surface: the reference's delta connector wraps
engine jars (delta/.../DeltaUriParser.scala:13-60); format interop is
beyond-reference, built on the two lite protocol writers.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from spark_etl_cli_spark.session import local_frame


def _delta_pv_str(v) -> str | None:
    """Typed manifest partition value → delta's string partitionValues
    encoding (hive-style: booleans lowercase, dates ISO, None null)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def export_iceberg_as_delta(spark: SparkSession, table_path: str) -> int:
    """The reverse direction: write/refresh a Delta transaction log for
    the ICEBERG table at ``table_path`` — afterwards ``delta://<same
    path>`` (or any Delta reader) serves the identical rows, zero data
    copy. Returns the delta version committed.

    First export writes commit 0 (protocol + metaData + adds with
    absolute paths); re-exports commit remove(gone files) + add(new
    files), so the delta view tracks the iceberg snapshot history
    version by version. Live POSITION deletes export as delta
    DELETION VECTORS (sequence-scoped, protocol upgraded to reader
    3/writer 7); live EQUALITY deletes translate to DVs too, via a
    bounded content scan of the strictly-older files (reader-exact
    null-safe key semantics; refused only when a key column is
    missing from the current schema or carries a vintage-dependent
    v3 initial-default — compact first in those cases).
    Non-identity partition specs export
    UNPARTITIONED (delta can't express the transform; the files carry
    every column physically, so only delta-side pruning is lost).
    """
    import time as _time
    import uuid as _uuid
    from urllib.parse import quote

    from spark_etl_cli_spark.sources.delta_lite import (
        _current_protocol,
        _log_dir,
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
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _default_spec,
        _identity_partition_fields,
        _load_metadata,
        _localize,
        _manifest_entries,
        _resolve_entries,
        _schema_to_spark,
        _snapshot,
    )

    meta = _load_metadata(table_path)
    snap = _snapshot(meta, None)
    entries = [
        e
        for e in _manifest_entries(table_path, snap)
        if e.get("status") != 2
    ]
    # Iceberg POSITION deletes translate to delta DELETION VECTORS
    # (both are row ordinals per file, scoped by sequence number).
    # EQUALITY deletes have no delta equivalent either, so they
    # translate the only way delta can express them — as positions,
    # located by a bounded content scan of the strictly-older data
    # files (the same file set the export already enumerates; the
    # delete keys broadcast). Semantics mirror the lite reader
    # exactly (iceberg_lite.py eq_deletes loop): a row dies when its
    # file's data sequence < the delete's sequence and every delete
    # column matches NULL-SAFE.
    data_seq_entries, pos_dels, eq_dels, ice_dvs, _sch, _m = _resolve_entries(
        spark, table_path, None, None
    )
    eq_positions: dict[str, set[int]] = {}
    if eq_dels:
        from pyspark.sql import functions as F

        from spark_etl_cli_spark.sources.iceberg_lite import _current_schema

        seq_of_eq = {
            os.path.abspath(p): (s if s is not None else 0)
            for p, _pv, s in data_seq_entries
        }
        cur_fields = _current_schema(meta).get("fields", [])
        dflt_cols = {
            f["name"]
            for f in cur_fields
            if f.get("initial-default") is not None
        }
        # column-mapped tables (schema.name-mapping.default): data
        # files speak physical names — scan those, alias back
        nm_raw = (meta.get("properties") or {}).get(
            "schema.name-mapping.default"
        )
        phys_of: dict[str, str] = {}
        if nm_raw:
            id2file: dict[int, str] = {}

            def _nm_flat(nm_entries) -> None:
                for e in nm_entries:
                    if e.get("names") and e.get("field-id") is not None:
                        id2file[e["field-id"]] = e["names"][0]
                    if e.get("fields"):
                        _nm_flat(e["fields"])

            _nm_flat(json.loads(nm_raw))
            phys_of = {
                f["name"]: id2file.get(f["id"], f["name"])
                for f in cur_fields
            }
        ice_spark_schema = _schema_to_spark(meta)
        for dpath, dseq in eq_dels:
            older = sorted(
                p for p, s in seq_of_eq.items() if s < dseq
            )
            if not older:
                continue
            eq = spark.read.parquet(dpath).distinct()
            key_cols = list(eq.columns)
            bad_keys = [
                c for c in key_cols if c not in ice_spark_schema.names
            ]
            if bad_keys:
                raise NotImplementedError(
                    f"equality-delete columns {bad_keys} not in the "
                    "current table schema; run compact_iceberg_lite "
                    "first (it applies the deletes)"
                )
            dflt_keys = [c for c in key_cols if c in dflt_cols]
            if dflt_keys:
                # a missing column reads its initial-default per file
                # VINTAGE on the iceberg side; this flat scan would
                # read NULL instead — refuse rather than diverge
                raise NotImplementedError(
                    f"equality-delete columns {dflt_keys} carry v3 "
                    "initial-defaults (vintage-dependent values); run "
                    "compact_iceberg_lite first (it applies them)"
                )
            scan = (
                spark.read.schema(
                    T.StructType(
                        [
                            T.StructField(
                                phys_of.get(c, c),
                                ice_spark_schema[c].dataType,
                            )
                            for c in key_cols
                        ]
                    )
                )
                .parquet(*older)
                .select(
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__pos"),
                    *[
                        F.col(phys_of.get(c, c)).alias(c)
                        for c in key_cols
                    ],
                )
            )
            eqr = eq.select(
                *[F.col(c).alias(f"__eq_{c}") for c in key_cols]
            )
            cond = None
            for c in key_cols:
                e = F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
                cond = e if cond is None else (cond & e)
            hits = scan.join(F.broadcast(eqr), cond, "left_semi")
            for r in hits.select("__fp", "__pos").collect():
                fp = os.path.abspath(
                    re.sub(r"^file:/+", "/", str(r["__fp"]))
                )
                eq_positions.setdefault(fp, set()).add(int(r["__pos"]))
    entries = [
        e
        for e in entries
        if (e.get("data_file") or {}).get("content", 0) == 0
    ]
    dv_positions: dict[str, list[int]] = {}
    if pos_dels or ice_dvs or eq_positions:
        seq_of = {
            os.path.abspath(p): (s if s is not None else 0)
            for p, _pv, s in data_seq_entries
        }
        # equality-delete positions (translated above) seed the DV set
        per_file: dict[str, set[int]] = {
            fp: set(v) for fp, v in eq_positions.items()
        }
        for pd_path, del_seq in pos_dels:
            for r in (
                spark.read.parquet(pd_path)
                .select("file_path", "pos")
                .collect()
            ):
                fp = os.path.abspath(
                    re.sub(r"^file:/+", "/", str(r["file_path"]))
                )
                if del_seq >= seq_of.get(fp, 0):
                    per_file.setdefault(fp, set()).add(int(r["pos"]))
        # iceberg v3 deletion vectors carry the SAME 64-bit roaring
        # bitmap the delta DV files store — decode once, re-frame as a
        # delta DV file below; no positional rescan of the data
        if ice_dvs:
            from spark_etl_cli_spark.sources.puffin_lite import read_dv

            for ppath, off, size, ref, del_seq in ice_dvs:
                if del_seq >= seq_of.get(ref, 0):
                    per_file.setdefault(ref, set()).update(
                        read_dv(ppath, off, size)
                    )
        dv_positions = {
            fp: sorted(idx) for fp, idx in per_file.items() if idx
        }
    part_fields = _identity_partition_fields(meta)
    spec_field_count = len(_default_spec(meta).get("fields", []))
    if any(
        (e.get("data_file") or {}).get("partition") for e in entries
    ) and (not part_fields or spec_field_count != len(part_fields)):
        # non-identity spec (bucket/truncate/temporal): delta cannot
        # express the transform, but the data files carry every column
        # physically, so the table exports UNPARTITIONED — correctness
        # over delta-side partition pruning, documented
        part_fields = []
    schema = _schema_to_spark(meta)
    part_cols = [pn for pn, _src, _dt in part_fields]
    now_ms = int(_time.time() * 1000)
    abs_root = os.path.abspath(table_path)

    wanted: dict[str, dict] = {}
    for e in entries:
        d = e["data_file"]
        p = os.path.abspath(_localize(d["file_path"], table_path))
        pv = d.get("partition") or {}
        wanted[p] = {
            "path": quote(p, safe="/=:"),
            "partitionValues": {
                pn: _delta_pv_str(pv.get(pn)) for pn in part_cols
            },
            "size": d.get("file_size_in_bytes") or os.path.getsize(p),
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps(
                {"numRecords": d.get("record_count")}
            )
            if d.get("record_count") is not None
            else None,
        }
    def _dv_fields(p: str) -> dict:
        """Materialize the DV file for data file ``p`` (when it has
        applicable position deletes) and return the add-action field."""
        idx = dv_positions.get(p)
        if not idx:
            return {}
        u = _uuid.uuid4()
        dvf = os.path.join(abs_root, f"deletion_vector_{u}.bin")
        desc = write_deletion_vector_file(dvf, idx)
        desc.update(
            {"storageType": "u", "pathOrInlineDv": z85_encode(u.bytes)}
        )
        return {"deletionVector": desc}

    actions: list[dict] = []
    first = not (
        is_delta_table(table_path)
        and os.listdir(_log_dir(table_path))
    )
    if first:
        if dv_positions:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                }
            )
        else:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        actions.append(
            {
                "metaData": {
                    "id": str(_uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": part_cols,
                    "configuration": {"uniform.source": "iceberg"},
                    "createdTime": now_ms,
                }
            }
        )
        for p, a in wanted.items():
            add = {**a, **_dv_fields(p)}
            if add.get("stats") is None:
                add.pop("stats", None)
            actions.append({"add": add})
    else:
        cur_adds, cur_meta = _replay(spark, table_path)
        cur_by = {
            os.path.abspath(os.path.join(abs_root, a["path"])): a
            for a in cur_adds
        }
        for p, a in cur_by.items():
            if p not in wanted:
                actions.append(_remove_action(a, now_ms))
        for p, a in wanted.items():
            cur = cur_by.get(p)
            if cur is not None:
                # same file: refresh only if its DELETE set changed
                cur_dv = cur.get("deletionVector")
                cur_idx = (
                    sorted(read_deletion_vector(table_path, cur_dv))
                    if cur_dv
                    else []
                )
                if cur_idx == dv_positions.get(p, []):
                    continue
                actions.append(_remove_action(cur, now_ms))
            add = {**a, **_dv_fields(p)}
            if add.get("stats") is None:
                add.pop("stats", None)
            actions.append({"add": add})
        if dv_positions:
            proto = _current_protocol(spark, table_path)
            feats = set(proto.get("readerFeatures") or [])
            if (
                int(proto.get("minReaderVersion", 1)) < 3
                or "deletionVectors" not in feats
            ):
                actions.insert(
                    0,
                    {
                        "protocol": {
                            "minReaderVersion": 3,
                            "minWriterVersion": 7,
                            "readerFeatures": sorted(
                                feats | {"deletionVectors"}
                            ),
                            "writerFeatures": sorted(
                                set(proto.get("writerFeatures") or [])
                                | {"deletionVectors"}
                            ),
                        }
                    },
                )
        if cur_meta.get("schemaString") != schema.json():
            actions.append(
                {"metaData": {**cur_meta, "schemaString": schema.json()}}
            )
        if not actions:
            # nothing changed since the last export
            versions = sorted(
                int(f[:20])
                for f in os.listdir(_log_dir(table_path))
                if f.endswith(".json") and f[:20].isdigit()
            )
            return versions[-1]
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UNIFORM EXPORT",
                "operationParameters": {
                    "source": "iceberg",
                    "snapshot-id": snap["snapshot-id"],
                },
            }
        }
    )
    return _write_commit(spark, table_path, actions, first=first)


def _hudi_live_files(table_path: str) -> tuple[list[str], T.StructType]:
    """(live COW base files, payload spark schema) for a hudi table;
    raises for uncompacted MOR slices (log blocks can't be referenced
    by delta/iceberg metadata — compact first)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow.parquet as pq

    from spark_etl_cli_spark.sources.hudi_lite import (
        _completed_instants,
        _live_file_slices,
    )

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
        ent["base"] for ent in groups.values() if ent["base"]
    )
    if not files:
        raise ValueError(f"hudi table {table_path} has no live base files")
    arrow = pq.read_schema(files[-1])
    keep = [n for n in arrow.names if not n.startswith("_hoodie_")]
    schema = T.StructType(
        [f for f in from_arrow_schema(arrow).fields if f.name in keep]
    )
    return files, schema


def export_hudi_as_delta(spark: SparkSession, table_path: str) -> int:
    """Expose a (compacted) Hudi COW table as a Delta table — zero data
    copy; returns the delta version. The delta schema drops hoodie meta
    columns (``_hoodie_commit_time`` etc. stay physically in the files;
    schema-on-read ignores them). Declared unpartitioned: hudi base
    files carry partition columns physically, so every reader sees them
    as ordinary columns — correctness over partition pruning,
    documented. Re-exports diff the live file set like the iceberg
    exporter."""
    import time as _time
    import uuid as _uuid
    from urllib.parse import quote

    from spark_etl_cli_spark.sources.delta_lite import (
        _log_dir,
        _remove_action,
        _replay,
        _write_commit,
        is_delta_table,
    )
    from spark_etl_cli_spark.sources.iceberg_lite import _parquet_row_count

    files, schema = _hudi_live_files(table_path)
    now_ms = int(_time.time() * 1000)
    wanted = {
        os.path.abspath(p): {
            "path": quote(os.path.abspath(p), safe="/=:"),
            "partitionValues": {},
            "size": os.path.getsize(p),
            "modificationTime": now_ms,
            "dataChange": True,
            "stats": json.dumps({"numRecords": _parquet_row_count(p)}),
        }
        for p in files
    }
    actions: list[dict] = []
    first = not (
        is_delta_table(table_path)
        and os.listdir(_log_dir(table_path))
    )
    if first:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(
            {
                "metaData": {
                    "id": str(_uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": [],
                    "configuration": {"uniform.source": "hudi"},
                    "createdTime": now_ms,
                }
            }
        )
        actions.extend({"add": a} for a in wanted.values())
    else:
        cur_adds, cur_meta = _replay(spark, table_path)
        cur_by = {
            os.path.abspath(os.path.join(table_path, a["path"])): a
            for a in cur_adds
        }
        for p, a in cur_by.items():
            if p not in wanted:
                actions.append(_remove_action(a, now_ms))
        actions.extend(
            {"add": a} for p, a in wanted.items() if p not in cur_by
        )
        if not actions:
            versions = sorted(
                int(f[:20])
                for f in os.listdir(_log_dir(table_path))
                if f.endswith(".json") and f[:20].isdigit()
            )
            return versions[-1]
    actions.append(
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UNIFORM EXPORT",
                "operationParameters": {"source": "hudi"},
            }
        }
    )
    return _write_commit(spark, table_path, actions, first=first)


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


def export_hudi_as_iceberg(spark: SparkSession, table_path: str) -> int:
    """Expose a (compacted) Hudi COW table as an Iceberg table — the
    hudi live file set becomes one Iceberg snapshot (declared
    unpartitioned; hoodie meta columns dropped from the schema, they
    stay physically in the files and schema-on-read ignores them).
    Mirrors ``export_delta_as_iceberg`` with the hudi timeline as the
    file-list source. Returns the iceberg snapshot id."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _SnapshotCommit,
        _load_metadata,
        _max_field_id,
        _parquet_row_count,
        _spark_to_iceberg_schema,
        is_iceberg_table,
    )

    files, schema = _hudi_live_files(table_path)
    iceberg_schema = _spark_to_iceberg_schema(schema)
    prior = _load_metadata(table_path) if is_iceberg_table(table_path) else None
    txn = _SnapshotCommit(table_path, prior)
    txn.meta = {
        "format-version": 2,
        "location": table_path,
        "last-column-id": _max_field_id(iceberg_schema),
        "schemas": [iceberg_schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        # name mapping: hudi-written parquet carries no iceberg field
        # ids, so spec-compliant readers need name→id resolution
        "properties": {
            "schema.name-mapping.default": json.dumps(
                [
                    {"field-id": f["id"], "names": [f["name"]]}
                    for f in iceberg_schema.get("fields", [])
                ]
            )
        },
    }
    manifest = txn.write_manifest(
        [
            txn.added({
                "content": 0,
                "file_path": os.path.abspath(p),
                "file_format": "PARQUET",
                "partition": {},
                "record_count": _parquet_row_count(p),
                "file_size_in_bytes": os.path.getsize(p),
            })
            for p in files
        ]
    )
    # each export REPLACES the iceberg view of the table: the
    # snapshot's manifest list carries only its own manifest
    return txn.commit(
        [manifest], operation="overwrite", summary={"uniform": "hudi"}
    )


def export_delta_as_iceberg(spark: SparkSession, table_path: str) -> int:
    """Write/refresh Iceberg metadata for the delta table at
    ``table_path``; returns the new Iceberg snapshot id. Metadata-only:
    no data file is read (record counts come from the delta adds'
    stats; a missing stat falls back to one footer read for that file).
    """
    from spark_etl_cli_spark.sources.delta_lite import (
        _physical_schema,
        _replay,
    )
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _SnapshotCommit,
        _hive_value,
        _load_metadata,
        _max_field_id,
        _parquet_row_count,
        _part_avro_type,
        _spark_to_iceberg_schema,
        is_iceberg_table,
    )

    adds, meta = _replay(spark, table_path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    # row-tracked delta tables export as iceberg FORMAT V3 with row
    # lineage: delta's add.baseRowId and iceberg's data-file
    # first_row_id share the same model (per-file base + position in
    # file), so the ids cross formats VERBATIM — _row_id on one side
    # equals _row_id on the other
    from spark_etl_cli_spark.sources.delta_lite import (
        _num_records,
        _row_tracking_enabled,
    )

    rt_enabled = bool(adds) and _row_tracking_enabled(
        meta.get("configuration")
    )
    rt_export = rt_enabled and all(
        a.get("baseRowId") is not None for a in adds
    )
    if rt_enabled and not rt_export:
        # Row tracking is ON but some files lack baseRowId (e.g. a
        # rewrite by a writer that didn't materialize ids). The read
        # path fences loudly on the same state (?with-row-id=); a
        # silent v2 export would drop the cross-format '_row_id
        # identical on both sides' guarantee without any signal, so
        # make the downgrade loud.
        import warnings

        n_bad = sum(1 for a in adds if a.get("baseRowId") is None)
        warnings.warn(
            f"uniform export of {table_path}: row tracking is enabled "
            f"but {n_bad}/{len(adds)} data files lack baseRowId — "
            "exporting as iceberg v2 WITHOUT row lineage (_row_id "
            "parity does not hold). Rewrite the table with this "
            "writer (which materializes row ids) to restore lineage.",
            stacklevel=2,
        )
    next_row_id = (
        max(int(a["baseRowId"]) + _num_records(a) for a in adds)
        if rt_export
        else None
    )
    _phys, mapped = _physical_schema(schema)
    part_cols = meta.get("partitionColumns") or []
    part_fields = [(c, schema[c].dataType) for c in part_cols]
    for _n, _dt in part_fields:
        _part_avro_type(_dt)  # validate up front
    iceberg_schema = _spark_to_iceberg_schema(schema)
    # Column-mapped delta tables: the parquet files carry PHYSICAL
    # names (col-<uuid>) while the log keeps logical ones. Iceberg
    # resolves by field id with a name-mapping fallback, so the export
    # (a) reuses delta's stable per-column mapping ids as the iceberg
    # field ids — a later rename re-export keeps the same id — and
    # (b) emits schema.name-mapping.default below, mapping each
    # PHYSICAL file-column name to its field id.
    phys_name = {f.name: f.name for f in schema.fields}
    if mapped:
        # Recursive id reconciliation (r6 fence closed): every STRUCT
        # field at any depth reuses its delta.columnMapping.id as the
        # iceberg field id (stable across rename re-exports); iceberg's
        # extra id slots delta has no counterpart for — list element,
        # map key/value — get fresh ids ABOVE the highest mapping id.
        # A colliding delta id (corrupt hand-written log) is reassigned
        # above the max instead of fencing; data still resolves through
        # the name mapping, which carries the authoritative ids.
        all_ids: list[int] = []

        def _collect_ids(dt) -> None:
            if isinstance(dt, T.StructType):
                for f in dt.fields:
                    md = f.metadata or {}
                    if md.get("delta.columnMapping.id") is not None:
                        all_ids.append(int(md["delta.columnMapping.id"]))
                    _collect_ids(f.dataType)
            elif isinstance(dt, T.ArrayType):
                _collect_ids(dt.elementType)
            elif isinstance(dt, T.MapType):
                _collect_ids(dt.keyType)
                _collect_ids(dt.valueType)

        _collect_ids(schema)
        _ctr = [max(all_ids, default=0)]
        _seen: set[int] = set()

        def _fresh() -> int:
            _ctr[0] += 1
            while _ctr[0] in _seen:
                _ctr[0] += 1
            return _ctr[0]

        def _assign(ice_t, dt) -> None:
            if isinstance(dt, T.StructType):
                for fe, sf in zip(ice_t["fields"], dt.fields):
                    md = sf.metadata or {}
                    did = md.get("delta.columnMapping.id")
                    fid = int(did) if did is not None else _fresh()
                    if fid in _seen:
                        fid = _fresh()
                    _seen.add(fid)
                    fe["id"] = fid
                    _assign(fe["type"], sf.dataType)
            elif isinstance(dt, T.ArrayType):
                ice_t["element-id"] = _fresh()
                _seen.add(ice_t["element-id"])
                _assign(ice_t["element"], dt.elementType)
            elif isinstance(dt, T.MapType):
                ice_t["key-id"] = _fresh()
                _seen.add(ice_t["key-id"])
                _assign(ice_t["key"], dt.keyType)
                ice_t["value-id"] = _fresh()
                _seen.add(ice_t["value-id"])
                _assign(ice_t["value"], dt.valueType)

        _assign(iceberg_schema, schema)
        for fld in iceberg_schema.get("fields", []):
            md = schema[fld["name"]].metadata or {}
            if md.get("delta.columnMapping.physicalName"):
                phys_name[fld["name"]] = md[
                    "delta.columnMapping.physicalName"
                ]
    field_id_of = {
        f["name"]: f["id"] for f in iceberg_schema.get("fields", [])
    }
    # name-mapping entries carry the PHYSICAL (file) column name only:
    # a rename can make one column's logical name equal another's
    # physical name, and a mapping listing both would turn ambiguous.
    # Nested struct fields get nested entries (spec: a mapping entry's
    # "fields" recurses); list/map id slots map their fixed parquet
    # names ("element"/"key"/"value").
    if mapped:

        def _nm_children(ice_t, dt) -> list[dict]:
            if isinstance(dt, T.StructType):
                out = []
                for fe, sf in zip(ice_t["fields"], dt.fields):
                    md = sf.metadata or {}
                    phys = (
                        md.get("delta.columnMapping.physicalName")
                        or sf.name
                    )
                    ent = {"field-id": fe["id"], "names": [phys]}
                    sub = _nm_children(fe["type"], sf.dataType)
                    if sub:
                        ent["fields"] = sub
                    out.append(ent)
                return out
            if isinstance(dt, T.ArrayType):
                ent = {
                    "field-id": ice_t["element-id"], "names": ["element"],
                }
                sub = _nm_children(ice_t["element"], dt.elementType)
                if sub:
                    ent["fields"] = sub
                return [ent]
            if isinstance(dt, T.MapType):
                k = {"field-id": ice_t["key-id"], "names": ["key"]}
                ks = _nm_children(ice_t["key"], dt.keyType)
                if ks:
                    k["fields"] = ks
                v = {"field-id": ice_t["value-id"], "names": ["value"]}
                vs = _nm_children(ice_t["value"], dt.valueType)
                if vs:
                    v["fields"] = vs
                return [k, v]
            return []

        name_mapping = _nm_children(iceberg_schema, schema)
    else:
        name_mapping = [
            {"field-id": f["id"], "names": [phys_name[f["name"]]]}
            for f in iceberg_schema.get("fields", [])
        ]
    if rt_export:
        # delta rewrites materialize surviving rows' ids into a hidden
        # physical column; iceberg v3 models the same thing as the
        # reserved MATERIALIZED ``_row_id`` field (id 2147483546) —
        # mapping the delta physical name onto that reserved id lets
        # any conforming v3 reader honor rewrite-preserved lineage
        # (fresh files read NULL and fall back to first_row_id + pos)
        from spark_etl_cli_spark.sources.delta_lite import (
            _materialized_row_id_col,
        )
        from spark_etl_cli_spark.sources.iceberg_lite import (
            _ROW_ID_FIELD_ID,
        )

        rid_mat = _materialized_row_id_col(meta.get("configuration"))
        if rid_mat:
            name_mapping = name_mapping + [
                {"field-id": _ROW_ID_FIELD_ID, "names": [rid_mat]}
            ]

    prior = _load_metadata(table_path) if is_iceberg_table(table_path) else None
    txn = _SnapshotCommit(table_path, prior)
    spec_fields = [
        {
            "name": name,
            "transform": "identity",
            "source-id": field_id_of[name],
            "field-id": 1000 + i,
        }
        for i, (name, _dt) in enumerate(part_fields)
    ]
    txn.meta = {
        "format-version": 3 if rt_export else 2,
        "location": table_path,
        "last-column-id": _max_field_id(iceberg_schema),
        "schemas": [iceberg_schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        # spec-compliant readers resolve columns by field id and fall
        # back to this mapping for files without ids in their footers
        # (ours: the delta/hudi-written parquet) — real UniForm writes
        # it for exactly this reason
        "properties": {
            "schema.name-mapping.default": json.dumps(name_mapping)
        },
        **({"next-row-id": next_row_id} if rt_export else {}),
        **({"refs": prior["refs"]} if prior and prior.get("refs") else {}),
    }

    abs_root = os.path.abspath(table_path)
    entries = []
    for a in adds:
        p = os.path.join(abs_root, a["path"])
        n = None
        stats = a.get("stats")
        if stats:
            try:
                n = int(json.loads(stats).get("numRecords"))
            except (ValueError, TypeError):
                n = None
        if n is None:
            n = _parquet_row_count(p)
        pv_raw = a.get("partitionValues") or {}
        entries.append(txn.added({
            "content": 0,
            "file_path": p,
            "file_format": "PARQUET",
            "partition": {
                name: _hive_value(pv_raw.get(name), dt)
                for name, dt in part_fields
            },
            "record_count": n,
            "file_size_in_bytes": a.get("size") or os.path.getsize(p),
            **({"first_row_id": int(a["baseRowId"])} if rt_export else {}),
        }))
    manifests = [txn.write_manifest(entries, part_fields=part_fields)]

    # Deletion vectors → Iceberg POSITION DELETES: both formats express
    # "these row ordinals of that file are gone", so each DV'd add
    # contributes (file_path, pos) rows to one sorted position-delete
    # parquet, committed as a content=1 delete manifest at the SAME
    # sequence number as the data (the spec applies position deletes to
    # data files of the same commit or older). The decoded index set is
    # driver-side but cardinality-bounded — the exact bound the delta
    # reader itself pays when applying a DV.
    from spark_etl_cli_spark.sources.dv_lite import read_deletion_vector

    dv_adds = [a for a in adds if a.get("deletionVector")]
    if rt_export:
        # v3 export path: delta's live DVs become iceberg deletion
        # vectors — ``deletion-vector-v1`` blobs in one Puffin file,
        # referenced from a content=1 delete manifest by
        # (referenced_data_file, content_offset, content_size). The
        # position sets are identical on both sides (row ordinals in
        # the same parquet file), so survivors' _row_id parity holds:
        # base + position skips the same ordinals under either reader.
        per_file: dict[str, list[int]] = {}
        for a in dv_adds:
            idx = sorted(
                int(i)
                for i in read_deletion_vector(
                    table_path, a["deletionVector"]
                )
            )
            if idx:
                per_file[os.path.join(abs_root, a["path"])] = idx
        if per_file:
            manifests.append(txn.write_dvs(
                [(ref, per_file[ref]) for ref in sorted(per_file)],
                prefix="uniform-dv-",
            ))
    else:
        pd_rows = sorted(
            (os.path.join(abs_root, a["path"]), int(pos))
            for a in dv_adds
            for pos in read_deletion_vector(
                table_path, a["deletionVector"]
            )
        )
        if pd_rows:
            pd_dir = os.path.join(
                table_path, "data", f"uniform-pos-del-{txn.uuid}"
            )
            local_frame(
                spark, pd_rows, "file_path string, pos long"
            ).coalesce(1).sortWithinPartitions(
                "file_path", "pos"
            ).write.parquet(pd_dir)
            pos_del_file = next(
                p
                for p in sorted(
                    _glob.glob(os.path.join(pd_dir, "*.parquet"))
                )
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
    # each export REPLACES the iceberg view of the table: the
    # snapshot's manifest list carries only its own manifests; delta's
    # row ids cross verbatim, so the v3 view's first row id is 0
    return txn.commit(
        manifests,
        operation="overwrite",
        summary={"uniform": "delta"},
        first_row_id=0,
    )
