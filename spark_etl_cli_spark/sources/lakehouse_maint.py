"""Lakehouse maintenance and row-level actions as pipeline SOURCES.

Real engines expose OPTIMIZE / VACUUM / DELETE / expire_snapshots as
SQL commands; this repo's pipeline model has no statement surface, so
each action surfaces as a ``rep+<scheme>://`` source that PERFORMS the
action and returns its report as a DataFrame — composable with the rest
of a pipeline (e.g. land the vacuum report in a table, diff it against
an expectation, alert via a sink):

    --source "rep+delta-optimize:///path/tbl?target-file-bytes=134217728"
    --source "rep+delta-vacuum:///path/tbl?retention-hours=168&dry-run=false"
    --source "rep+delta-delete:///path/tbl?where=year<2020&deletion-vectors=true"
    --source "rep+delta-update:///path/tbl?where=id=7&set.status='done'"
    --source "rep+iceberg-expire:///path/tbl?keep-last=3&delete-orphans=true"

``ACTIONS`` is the whole surface, one row per scheme: the
``module:function`` it calls, its parameters, the report's DDL and the
report-row builder. The format modules are imported on first use, so
importing the package stays cheap. Every action is driver-orchestrated
bookkeeping around distributed rewrites (see sources/delta_lite.py,
iceberg_lite.py, hudi_lite.py, uniform.py for the scale notes); the
returned report is always bookkeeping-sized.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import register_source
from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.uri import Args, Param, ParsedUri

# builder(fn, spark, table path, args) → report rows
Builder = Callable[[Callable, SparkSession, str, Args], list[tuple]]


@dataclass(frozen=True)
class Action:
    scheme: str
    target: str  # "module:function" under spark_etl_cli_spark.sources
    params: tuple[Param, ...]
    ddl: str
    build: Builder


@dataclass
class ActionSource:
    """Runs one ``Action`` once per ``read`` and returns its report."""

    uri: ParsedUri
    action: Action

    def read(self, spark: SparkSession) -> DataFrame:
        module, _, name = self.action.target.partition(":")
        fn = getattr(
            importlib.import_module(f"spark_etl_cli_spark.sources.{module}"),
            name,
        )
        rows = self.action.build(fn, spark, self.uri.path, self.uri.args)
        return local_frame(spark, rows, self.action.ddl)


def _row(table: str, stats: dict, *keys: str) -> list[tuple]:
    return [(table, *(stats[k] for k in keys))]


_TARGET_BYTES = Param("target-file-bytes", "int", 128 * 1024 * 1024,
                      "compaction target file size")
_MIN_FILES = Param("min-files", "int", 2,
                   "compact a partition only with at least this many files")
_WHERE = Param("where", doc="SQL predicate selecting the rows", required=True)
_VERSION = Param("version", "int", doc="snapshot version")
_TIMESTAMP = Param("timestamp", doc="snapshot time (epoch ms or ISO)")
_DELETE_DDL = ("table string, files_rewritten int, files_added int, "
               "rows_deleted long")

ACTIONS = (
    # OPTIMIZE: bin-pack small files, optionally Z-ordered
    Action(
        "delta-optimize", "delta_lite:optimize_delta_lite",
        (_TARGET_BYTES, _MIN_FILES,
         Param("zorder-by", "csv", doc="Z-order the rewritten files")),
        "table string, partitions_compacted int, files_removed int, "
        "files_added int",
        lambda f, s, t, a: _row(t, f(
            s, t, target_file_bytes=a["target-file-bytes"],
            min_files=a["min-files"], zorder_by=a["zorder-by"] or None,
        ), "partitions_compacted", "files_removed", "files_added"),
    ),
    # VACUUM: delete files unreferenced for longer than the retention
    Action(
        "delta-vacuum", "delta_lite:vacuum_delta_lite",
        (Param("retention-hours", "float", 168.0, "keep files newer than this"),
         Param("dry-run", "bool", True, "only list the files")),
        "table string, path string, dry_run boolean",
        lambda f, s, t, a: [(t, p, a["dry-run"]) for p in f(
            s, t, retention_hours=a["retention-hours"], dry_run=a["dry-run"],
        )],
    ),
    # row-level DELETE; with deletion vectors no data file is rewritten
    Action(
        "delta-delete", "delta_lite:delete_delta_lite",
        (_WHERE, Param("deletion-vectors", "bool", False,
                       "mark rows deleted instead of rewriting files")),
        "table string, files_touched int, files_added int, "
        "rows_deleted long, deletion_vectors boolean",
        lambda f, s, t, a: [
            (t, st.get("files_rewritten", st.get("files_dv", 0)),
             st["files_added"], st["rows_deleted"], a["deletion-vectors"])
            for st in [f(s, t, a["where"],
                         deletion_vectors=a["deletion-vectors"])]
        ],
    ),
    # UPDATE; every SET clause is evaluated against the original row
    Action(
        "delta-update", "delta_lite:update_delta_lite",
        (_WHERE, Param("set.*", doc="set.<col>=<expr> SET clause",
                       required=True)),
        "table string, files_rewritten int, files_added int, "
        "rows_updated long",
        lambda f, s, t, a: _row(t, f(s, t, a["where"], a["set.*"]),
                                "files_rewritten", "files_added",
                                "rows_updated"),
    ),
    # RESTORE: roll the live table back to an earlier snapshot as a
    # new commit
    Action(
        "delta-restore", "delta_lite:restore_delta_lite",
        (_VERSION, _TIMESTAMP),
        "table string, restored_to long, files_removed int, "
        "files_restored int",
        lambda f, s, t, a: _row(t, f(
            s, t, version_as_of=a["version"], timestamp_as_of=a["timestamp"],
        ), "version", "files_removed", "files_restored"),
    ),
    # metadata-only ALTER TABLE (rename/drop upgrade the table to
    # column mapping; added columns read null from old files)
    Action(
        "delta-alter", "delta_lite:alter_delta_lite",
        (Param("rename.*", doc="rename.<old>=<new>"),
         Param("drop", "csv", doc="columns to drop"),
         Param("add.*", doc="add.<col>=<type>"),
         Param("add-check.*", doc="add-check.<name>=<expr> CHECK constraint"),
         Param("drop-check", "csv", doc="CHECK constraints to drop")),
        "table string, renamed int, dropped int, added int, "
        "checks_added int, checks_dropped int",
        lambda f, s, t, a: _row(t, f(
            s, t, rename=a["rename.*"] or None, drop=a["drop"] or None,
            add=a["add.*"] or None, add_check=a["add-check.*"] or None,
            drop_check=a["drop-check"] or None,
        ), "renamed", "dropped", "added", "checks_added", "checks_dropped"),
    ),
    # zero-copy SHALLOW CLONE: the target's commit 0 references the
    # source snapshot's files by absolute path
    Action(
        "delta-clone", "delta_lite:clone_delta_lite",
        (Param("source", doc="path of the table to clone", required=True),
         _VERSION, _TIMESTAMP),
        "target string, source string, files_referenced int",
        lambda f, s, t, a: [(t, a["source"], f(
            s, a["source"], t, version_as_of=a["version"],
            timestamp_as_of=a["timestamp"],
        )["files_referenced"])],
    ),
    # UniForm: write/refresh Iceberg metadata for a delta table
    Action(
        "delta-uniform", "uniform:export_delta_as_iceberg", (),
        "table string, iceberg_snapshot_id long",
        lambda f, s, t, a: [(t, f(s, t))],
    ),
    Action(
        "iceberg-compact", "iceberg_lite:compact_iceberg_lite",
        (_TARGET_BYTES, _MIN_FILES),
        "table string, files_removed int, files_added int",
        lambda f, s, t, a: _row(t, f(
            s, t, target_file_bytes=a["target-file-bytes"],
            min_files=a["min-files"],
        ), "files_removed", "files_added"),
    ),
    # row-level DELETE: copy-on-write overwrite snapshot, or a
    # position-delete (equality-delete with equality-columns) file
    Action(
        "iceberg-delete", "iceberg_lite:delete_iceberg_lite",
        (_WHERE,
         Param("mode", "enum", "copy-on-write", "how deletes are written",
               choices=("copy-on-write", "merge-on-read")),
         Param("equality-columns", "csv",
               doc="merge-on-read: write an equality-delete file on these")),
        _DELETE_DDL,
        lambda f, s, t, a: _row(t, f(
            s, t, a["where"], mode=a["mode"],
            equality_columns=a["equality-columns"] or None,
        ), "files_rewritten", "files_added", "rows_deleted"),
    ),
    Action(
        "iceberg-expire", "iceberg_lite:expire_iceberg_snapshots",
        (Param("keep-last", "int", 1, "snapshots to keep"),
         Param("delete-orphans", "bool", False,
               "also delete files no snapshot references")),
        "table string, snapshots_expired int, files_deleted int",
        lambda f, s, t, a: _row(t, f(
            t, keep_last=a["keep-last"],
            delete_orphaned_files=a["delete-orphans"],
        ), "expired", "files_deleted"),
    ),
    # create/move a named ref (tagged snapshots never expire); read it
    # back with iceberg://...?ref=<name>
    Action(
        "iceberg-tag", "iceberg_lite:set_iceberg_ref",
        (Param("name", doc="ref name", required=True),
         Param("snapshot-id", "int", doc="snapshot to pin (default current)"),
         Param("type", "enum", "tag", "ref type", choices=("tag", "branch"))),
        "table string, ref string, snapshot_id long",
        lambda f, s, t, a: [(t, a["name"], f(
            t, a["name"], snapshot_id=a["snapshot-id"], ref_type=a["type"],
        ))],
    ),
    # PUBLISH step of write-audit-publish: fast-forward a ref onto a
    # staged branch's head; refuses diverged lines
    Action(
        "iceberg-publish", "iceberg_lite:fast_forward_iceberg_ref",
        (Param("branch", doc="staged branch", required=True),
         Param("to", default="main", doc="ref to fast-forward")),
        "table string, branch string, published_to string, snapshot_id long",
        lambda f, s, t, a: [
            (t, a["branch"], a["to"], f(t, a["branch"], to=a["to"]))
        ],
    ),
    # move main back to a snapshot (rollback_to_snapshot)
    Action(
        "iceberg-rollback", "iceberg_lite:rollback_iceberg_lite",
        (Param("snapshot-id", "int", doc="target snapshot", required=True),),
        "table string, snapshot_id long",
        lambda f, s, t, a: [(t, f(t, a["snapshot-id"]))],
    ),
    # UniForm, reverse: write/refresh a Delta log for an iceberg table
    Action(
        "iceberg-uniform", "uniform:export_iceberg_as_delta", (),
        "table string, delta_version long",
        lambda f, s, t, a: [(t, f(s, t))],
    ),
    # upgrade to format-version 3: position deletes become deletion
    # vectors
    Action(
        "iceberg-upgrade", "iceberg_lite:upgrade_iceberg_format",
        (Param("format-version", "int", 3, "target format version"),),
        "table string, upgraded boolean, dvs_written int, "
        "pos_delete_files_converted int",
        lambda f, s, t, a: _row(
            t, f(s, t, to_version=a["format-version"]),
            "upgraded", "dvs_written", "pos_delete_files_converted",
        ),
    ),
    # partition evolution: install a new default spec (metadata-only)
    Action(
        "iceberg-evolve", "iceberg_lite:evolve_iceberg_spec",
        (Param("fields", "csv",
               doc="col | bucket[N](col) | truncate[N](col) | year(col) | "
                   "month(col) | day(col) | hour(col); none = unpartitioned"),),
        "table string, spec_id int, n_fields int",
        lambda f, s, t, a: _row(t, f(t, a["fields"]), "spec_id", "fields"),
    ),
    # copy-on-write row-level DELETE committed as a replacecommit
    Action(
        "hudi-delete", "hudi_lite:delete_hudi_lite", (_WHERE,), _DELETE_DDL,
        lambda f, s, t, a: _row(t, f(s, t, a["where"]),
                                "files_rewritten", "files_added",
                                "rows_deleted"),
    ),
    # cleaner (KEEP_LATEST_COMMITS): drop files unreachable from the
    # last N completed instants
    Action(
        "hudi-clean", "hudi_lite:clean_hudi_lite",
        (Param("retain-commits", "int", 1, "completed instants to keep"),),
        "table string, files_deleted int, retained_instants string",
        lambda f, s, t, a: [
            (t, st["files_deleted"], ",".join(st["retained_instants"]))
            for st in [f(t, retain_commits=a["retain-commits"])]
        ],
    ),
    # RESTORE: roll back to an instant (later files deleted, timeline
    # truncated); refuses points behind a cleaner horizon
    Action(
        "hudi-restore", "hudi_lite:restore_hudi_lite",
        (Param("instant", doc="timeline instant", required=True),),
        "table string, restored_to string, instants_rolled_back int, "
        "files_deleted int",
        lambda f, s, t, a: _row(t, f(t, a["instant"]), "restored_to",
                                "instants_rolled_back", "files_deleted"),
    ),
    # pin an instant's view: the cleaner keeps it, restore can return
    Action(
        "hudi-savepoint", "hudi_lite:savepoint_hudi_lite",
        (Param("instant", doc="instant to pin (default latest)"),
         Param("name", doc="savepoint name")),
        "table string, savepointed string, name string",
        lambda f, s, t, a: _row(t, f(t, instant=a["instant"], name=a["name"]),
                                "savepointed", "name"),
    ),
    # MOR compaction: merge each log-carrying file group into a new
    # base file
    Action(
        "hudi-compact", "hudi_lite:compact_hudi_mor_lite", (),
        "table string, groups_compacted int, files_added int",
        lambda f, s, t, a: _row(t, f(s, t), "groups_compacted", "files_added"),
    ),
    # expose a compacted COW table as delta and/or iceberg, zero copy
    Action(
        "hudi-uniform", "uniform:export_hudi",
        (Param("as", "enum", "both", "formats to expose",
               choices=("delta", "iceberg", "both")),),
        "table string, format string, version long",
        lambda f, s, t, a: [(t, *fv) for fv in f(s, t, a["as"])],
    ),
)

for _action in ACTIONS:
    register_source(_action.scheme, params=_action.params)(
        functools.partial(ActionSource, action=_action)
    )
