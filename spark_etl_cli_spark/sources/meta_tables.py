"""Queryable METADATA tables for the lakehouse sources — the engines'
``SELECT * FROM tbl.snapshots`` / ``DESCRIBE HISTORY`` surface, served
jar-less: ``iceberg://...?meta=snapshots|files|refs|history`` and
``delta://...?meta=history|files``.

Everything here is control-plane sized (timeline/metadata JSON +
manifest entries — never data rows), so building the frames
driver-side is the same cost the engines pay.

Reference parity: no counterpart in the reference (connectors + SQL
pass-through only, spark-etl-cli ``Sources.scala``); this mirrors the
PUBLIC iceberg metadata-table and delta DESCRIBE HISTORY semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.session import local_frame

ICEBERG_META_KINDS = ("snapshots", "files", "refs", "history")
DELTA_META_KINDS = ("history", "files")


def iceberg_meta_df(spark: SparkSession, table_path: str, kind: str) -> DataFrame:
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _load_metadata,
        _manifest_entries,
        _snapshot,
    )

    meta = _load_metadata(table_path)
    if kind == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                s.get("parent-snapshot-id"),
                int(s.get("sequence-number") or 0),
                int(s.get("timestamp-ms") or 0),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
            )
            for s in meta.get("snapshots") or []
        ]
        return local_frame(
            spark, rows,
            "snapshot_id long, parent_id long, sequence_number long, "
            "committed_at_ms long, operation string, manifest_list string",
        )
    if kind == "refs":
        refs = dict(meta.get("refs") or {})
        cur = meta.get("current-snapshot-id")
        if "main" not in refs and cur is not None:
            refs["main"] = {"snapshot-id": cur, "type": "branch"}
        rows = [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted(refs.items())
        ]
        return local_frame(
            spark, rows, "name string, type string, snapshot_id long"
        )
    if kind == "history":
        cur = meta.get("current-snapshot-id")
        # is_current_ancestor per the spec's history table: walk the
        # parent chain from the current snapshot
        by_id = {
            s["snapshot-id"]: s for s in meta.get("snapshots") or []
        }
        anc: set[int] = set()
        walk = cur
        while walk is not None and walk not in anc:
            anc.add(walk)
            walk = by_id.get(walk, {}).get("parent-snapshot-id")
        rows = [
            (
                int(s.get("timestamp-ms") or 0),
                int(s["snapshot-id"]),
                s.get("parent-snapshot-id"),
                s["snapshot-id"] in anc,
            )
            for s in meta.get("snapshots") or []
        ]
        return local_frame(
            spark, rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )
    if kind == "files":
        snap = _snapshot(meta, meta.get("current-snapshot-id"))
        rows = []
        for e in _manifest_entries(table_path, snap):
            if e.get("status") == 2:
                continue
            d = e.get("data_file") or {}
            rows.append(
                (
                    d.get("file_path"),
                    int(d.get("content") or 0),
                    d.get("file_format"),
                    json.dumps(d.get("partition") or {}, default=str),
                    int(d.get("record_count") or 0),
                    int(d.get("file_size_in_bytes") or 0),
                )
            )
        return local_frame(
            spark, rows,
            "file_path string, content int, file_format string, "
            "partition string, record_count long, file_size_in_bytes long",
        )
    raise ValueError(
        f"iceberg ?meta= must be one of {ICEBERG_META_KINDS}, got {kind!r}"
    )


def delta_meta_df(spark: SparkSession, table_path: str, kind: str) -> DataFrame:
    from spark_etl_cli_spark.sources.delta_lite import _log_dir, _replay

    log_dir = _log_dir(table_path)
    if kind == "history":
        rows = []
        for fname in sorted(os.listdir(log_dir)):
            if not (fname.endswith(".json") and fname[:20].isdigit()):
                continue
            version = int(fname[:20])
            op, ts, params = None, None, None
            n_add = n_remove = 0
            with open(os.path.join(log_dir, fname)) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ci = a["commitInfo"]
                        op = ci.get("operation")
                        ts = ci.get("timestamp")
                        params = json.dumps(
                            ci.get("operationParameters") or {}
                        )
                    elif "add" in a:
                        n_add += 1
                    elif "remove" in a:
                        n_remove += 1
            rows.append((version, ts, op, params, n_add, n_remove))
        return local_frame(
            spark, rows,
            "version long, timestamp_ms long, operation string, "
            "operation_parameters string, num_added_files long, "
            "num_removed_files long",
        )
    if kind == "files":
        adds, _meta = _replay(spark, table_path)
        rows = [
            (
                a["path"],
                json.dumps(a.get("partitionValues") or {}, default=str),
                int(a.get("size") or 0),
                a.get("baseRowId"),
                bool(a.get("deletionVector")),
            )
            for a in adds
        ]
        return local_frame(
            spark, rows,
            "path string, partition_values string, size long, "
            "base_row_id long, has_deletion_vector boolean",
        )
    raise ValueError(
        f"delta ?meta= must be one of {DELTA_META_KINDS}, got {kind!r}"
    )


HUDI_META_KINDS = ("timeline", "files")


def hudi_meta_df(spark: SparkSession, table_path: str, kind: str) -> DataFrame:
    from spark_etl_cli_spark.sources.hudi_lite import (
        _completed_instants,
        _live_file_slices,
        _load_commit_bodies,
    )

    instants = _completed_instants(table_path)
    if kind == "timeline":
        rows = []
        for ts, action, commit in _load_commit_bodies(instants):
            n_files = sum(
                len(st)
                for st in (commit.get("partitionToWriteStats") or {}).values()
            )
            n_replaced = sum(
                len(f)
                for f in (
                    commit.get("partitionToReplaceFileIds") or {}
                ).values()
            )
            rows.append((ts, action, n_files, n_replaced))
        return local_frame(
            spark, rows,
            "instant string, action string, num_files_written long, "
            "num_file_groups_replaced long",
        )
    if kind == "files":
        rows = []
        for (part, fid), ent in sorted(
            _live_file_slices(table_path, instants).items()
        ):
            rows.append(
                (
                    part,
                    fid,
                    os.path.relpath(ent["base"], table_path)
                    if ent["base"]
                    else None,
                    ent.get("base_ts"),
                    len(ent["logs"]),
                )
            )
        return local_frame(
            spark, rows,
            "partition string, file_id string, base_file string, "
            "base_instant string, num_log_files long",
        )
    raise ValueError(
        f"hudi ?meta= must be one of {HUDI_META_KINDS}, got {kind!r}"
    )
