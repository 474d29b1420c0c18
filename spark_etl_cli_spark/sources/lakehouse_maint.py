"""Lakehouse maintenance actions as pipeline SOURCES.

Real engines expose OPTIMIZE / VACUUM / expire_snapshots as SQL
commands; this repo's pipeline model has no statement surface, so the
maintenance actions surface as sources that PERFORM the action and
return its report as a DataFrame — composable with the rest of a
pipeline (e.g. land the vacuum report in a table, diff it against an
expectation, alert via a sink):

    --source "rep+delta-optimize:///path/tbl?target-file-bytes=134217728"
    --source "rep+delta-vacuum:///path/tbl?retention-hours=168&dry-run=false"
    --source "rep+delta-delete:///path/tbl?where=year<2020&deletion-vectors=true"
    --source "rep+delta-update:///path/tbl?where=id=7&set.status='done'"
    --source "rep+iceberg-compact:///path/tbl"
    --source "rep+iceberg-delete:///path/tbl?where=year<2020"
    --source "rep+iceberg-expire:///path/tbl?keep-last=3&delete-orphans=true"
    --source "rep+iceberg-upgrade:///path/tbl?format-version=3"

All four are driver-orchestrated bookkeeping around distributed
rewrites (see sources/delta_lite.py / iceberg_lite.py for the scale
notes); the returned report is always bookkeeping-sized.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import register_source
from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.uri import ParsedUri


def _flag(uri: ParsedUri, name: str, default: bool = False) -> bool:
    raw = uri.params.get(name)
    if raw is None:
        return default
    return raw.lower() in ("1", "true", "yes")


@dataclass
class DeltaOptimizeSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import optimize_delta_lite

        zorder = [
            c
            for c in self.uri.params.get("zorder-by", "").split(",")
            if c
        ]
        stats = optimize_delta_lite(
            spark,
            self.uri.path,
            target_file_bytes=int(
                self.uri.params.get("target-file-bytes", 128 * 1024 * 1024)
            ),
            min_files=int(self.uri.params.get("min-files", 2)),
            zorder_by=zorder or None,
        )
        return local_frame(
            spark, [(self.uri.path, stats["partitions_compacted"],
              stats["files_removed"], stats["files_added"])],
            "table string, partitions_compacted int, files_removed int, "
            "files_added int",
        )


@dataclass
class DeltaVacuumSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import vacuum_delta_lite

        dry = _flag(self.uri, "dry-run", default=True)
        paths = vacuum_delta_lite(
            spark,
            self.uri.path,
            retention_hours=float(self.uri.params.get("retention-hours", 168)),
            dry_run=dry,
        )
        rows = [(self.uri.path, p, dry) for p in paths]
        return local_frame(
            spark, rows, "table string, path string, dry_run boolean"
        )


@dataclass
class DeltaDeleteSource:
    """``rep+delta-delete:///path/tbl?where=<pred>[&deletion-vectors=true]``
    — row-level DELETE; with ``deletion-vectors`` no data file is
    rewritten (the protocol's DV path, sources/delta_lite.py)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import delete_delta_lite

        where = self.uri.params.get("where")
        if not where:
            raise ValueError("delta-delete:// needs ?where=<predicate>")
        dv = _flag(self.uri, "deletion-vectors")
        stats = delete_delta_lite(
            spark, self.uri.path, where, deletion_vectors=dv
        )
        return local_frame(
            spark, [(
                self.uri.path,
                stats.get("files_rewritten", stats.get("files_dv", 0)),
                stats["files_added"],
                stats["rows_deleted"],
                dv,
            )],
            "table string, files_touched int, files_added int, "
            "rows_deleted long, deletion_vectors boolean",
        )


@dataclass
class DeltaUpdateSource:
    """``rep+delta-update:///path/tbl?where=<pred>&set.col=<expr>...``
    — SQL UPDATE; every ``set.<col>=`` param is a SET clause, all
    evaluated against the original row."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import update_delta_lite

        where = self.uri.params.get("where")
        if not where:
            raise ValueError("delta-update:// needs ?where=<predicate>")
        set_exprs = {
            k[len("set."):]: v
            for k, v in self.uri.params.items()
            if k.startswith("set.")
        }
        if not set_exprs:
            raise ValueError("delta-update:// needs ≥1 ?set.<col>=<expr>")
        stats = update_delta_lite(spark, self.uri.path, where, set_exprs)
        return local_frame(
            spark, [(
                self.uri.path,
                stats["files_rewritten"],
                stats["files_added"],
                stats["rows_updated"],
            )],
            "table string, files_rewritten int, files_added int, "
            "rows_updated long",
        )


@dataclass
class IcebergCompactSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import compact_iceberg_lite

        stats = compact_iceberg_lite(
            spark,
            self.uri.path,
            target_file_bytes=int(
                self.uri.params.get("target-file-bytes", 128 * 1024 * 1024)
            ),
            min_files=int(self.uri.params.get("min-files", 2)),
        )
        return local_frame(
            spark,
            [(self.uri.path, stats["files_removed"], stats["files_added"])],
            "table string, files_removed int, files_added int",
        )


@dataclass
class IcebergDeleteSource:
    """``rep+iceberg-delete:///path/tbl?where=<pred>`` — copy-on-write
    row-level DELETE committed as an ``overwrite`` snapshot;
    ``&mode=merge-on-read`` writes a position-delete file instead
    (nothing rewritten, deletes stack, reader merges at scan time);
    ``&equality-columns=a,b`` (merge-on-read only) writes an
    EQUALITY-delete file — the matched rows' distinct key tuples,
    removing every older row whose key matches."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import delete_iceberg_lite

        where = self.uri.params.get("where")
        if not where:
            raise ValueError("iceberg-delete:// needs ?where=<predicate>")
        eq_cols = [
            c
            for c in self.uri.params.get("equality-columns", "").split(",")
            if c
        ]
        stats = delete_iceberg_lite(
            spark, self.uri.path, where,
            mode=self.uri.params.get("mode", "copy-on-write"),
            equality_columns=eq_cols or None,
        )
        return local_frame(
            spark, [(
                self.uri.path,
                stats["files_rewritten"],
                stats["files_added"],
                stats["rows_deleted"],
            )],
            "table string, files_rewritten int, files_added int, "
            "rows_deleted long",
        )


@dataclass
class HudiDeleteSource:
    """``rep+hudi-delete:///path/tbl?where=<pred>`` — copy-on-write
    row-level DELETE committed as a replacecommit."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.hudi_lite import delete_hudi_lite

        where = self.uri.params.get("where")
        if not where:
            raise ValueError("hudi-delete:// needs ?where=<predicate>")
        stats = delete_hudi_lite(spark, self.uri.path, where)
        return local_frame(
            spark, [(
                self.uri.path,
                stats["files_rewritten"],
                stats["files_added"],
                stats["rows_deleted"],
            )],
            "table string, files_rewritten int, files_added int, "
            "rows_deleted long",
        )


@dataclass
class IcebergExpireSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            expire_iceberg_snapshots,
        )

        stats = expire_iceberg_snapshots(
            self.uri.path,
            keep_last=int(self.uri.params.get("keep-last", 1)),
            delete_orphaned_files=_flag(self.uri, "delete-orphans"),
        )
        return local_frame(
            spark, [(self.uri.path, stats["expired"], stats["files_deleted"])],
            "table string, snapshots_expired int, files_deleted int",
        )


@dataclass
class DeltaRestoreSource:
    """``rep+delta-restore:///path/tbl?version=N`` (or
    ``?timestamp=<epoch-ms|ISO>``) — roll the live table back to an
    earlier snapshot as a new commit (sources/delta_lite.py
    restore_delta_lite)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import (
            restore_delta_lite,
        )

        v = self.uri.params.get("version")
        ts = self.uri.params.get("timestamp")
        stats = restore_delta_lite(
            spark,
            self.uri.path,
            version_as_of=int(v) if v is not None else None,
            timestamp_as_of=ts,
        )
        return local_frame(
            spark, [(
                self.uri.path,
                stats["version"],
                stats["files_removed"],
                stats["files_restored"],
            )],
            "table string, restored_to long, files_removed int, "
            "files_restored int",
        )


@register_source("delta-restore")
def delta_restore_source(p: ParsedUri) -> DeltaRestoreSource:
    return DeltaRestoreSource(p)


@dataclass
class DeltaAlterSource:
    """``rep+delta-alter:///path/tbl?rename.old=new&drop=a,b
    &add.col=<type>`` — metadata-only ALTER TABLE (rename/drop upgrade
    the table to column mapping; adds read null from old files)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

        rename = {
            k[len("rename."):]: v
            for k, v in self.uri.params.items()
            if k.startswith("rename.")
        }
        add = {
            k[len("add."):]: v
            for k, v in self.uri.params.items()
            if k.startswith("add.")
        }
        drop = [
            c for c in self.uri.params.get("drop", "").split(",") if c
        ]
        add_check = {
            k[len("add-check."):]: v
            for k, v in self.uri.params.items()
            if k.startswith("add-check.")
        }
        drop_check = [
            c for c in self.uri.params.get("drop-check", "").split(",")
            if c
        ]
        stats = alter_delta_lite(
            spark, self.uri.path,
            rename=rename or None, drop=drop or None, add=add or None,
            add_check=add_check or None, drop_check=drop_check or None,
        )
        return local_frame(
            spark, [(self.uri.path, stats["renamed"], stats["dropped"],
              stats["added"], stats["checks_added"],
              stats["checks_dropped"])],
            "table string, renamed int, dropped int, added int, "
            "checks_added int, checks_dropped int",
        )


@register_source("delta-alter")
def delta_alter_source(p: ParsedUri) -> DeltaAlterSource:
    return DeltaAlterSource(p)


@dataclass
class DeltaCloneSource:
    """``rep+delta-clone:///path/target?source=/path/src[&version=N|
    timestamp=...]`` — zero-copy SHALLOW CLONE: the target's commit 0
    references the source snapshot's files by absolute path
    (sources/delta_lite.py clone_delta_lite)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.delta_lite import clone_delta_lite

        src = self.uri.params.get("source")
        if not src:
            raise ValueError("delta-clone:// needs ?source=<table path>")
        v = self.uri.params.get("version")
        stats = clone_delta_lite(
            spark, src, self.uri.path,
            version_as_of=int(v) if v is not None else None,
            timestamp_as_of=self.uri.params.get("timestamp"),
        )
        return local_frame(
            spark, [(self.uri.path, src, stats["files_referenced"])],
            "target string, source string, files_referenced int",
        )


@register_source("delta-clone")
def delta_clone_source(p: ParsedUri) -> DeltaCloneSource:
    return DeltaCloneSource(p)


@dataclass
class IcebergTagSource:
    """``rep+iceberg-tag:///path/tbl?name=v1[&snapshot-id=N
    &type=tag|branch]`` — create/move a named ref (metadata-only;
    tagged snapshots never expire). Reads resolve via
    ``iceberg://...?ref=v1``."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import set_iceberg_ref

        name = self.uri.params.get("name")
        if not name:
            raise ValueError("iceberg-tag:// needs ?name=<ref name>")
        sid = self.uri.params.get("snapshot-id")
        pinned = set_iceberg_ref(
            self.uri.path, name,
            snapshot_id=int(sid) if sid is not None else None,
            ref_type=self.uri.params.get("type", "tag"),
        )
        return local_frame(
            spark, [(self.uri.path, name, pinned)],
            "table string, ref string, snapshot_id long",
        )


@register_source("iceberg-tag")
def iceberg_tag_source(p: ParsedUri) -> IcebergTagSource:
    return IcebergTagSource(p)


@dataclass
class IcebergPublishSource:
    """``rep+iceberg-publish:///path/tbl?branch=audit[&to=main]`` —
    fast-forward the publish target onto a staged branch's head: the
    PUBLISH step of write-audit-publish (stage with
    ``iceberg://...?branch=audit``, audit via ``?ref=audit`` reads).
    Metadata-only; refuses diverged lines (not a fast-forward)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            fast_forward_iceberg_ref,
        )

        branch = self.uri.params.get("branch")
        if not branch:
            raise ValueError("iceberg-publish:// needs ?branch=<name>")
        to = self.uri.params.get("to", "main")
        sid = fast_forward_iceberg_ref(self.uri.path, branch, to=to)
        return local_frame(
            spark, [(self.uri.path, branch, to, sid)],
            "table string, branch string, published_to string, snapshot_id long",
        )


@register_source("iceberg-publish")
def iceberg_publish_source(p: ParsedUri) -> IcebergPublishSource:
    return IcebergPublishSource(p)


@dataclass
class IcebergRollbackSource:
    """``rep+iceberg-rollback:///path/tbl?snapshot-id=N`` — move the
    main line back to snapshot N (the engines' ``rollback_to_snapshot``
    procedure; delta's RESTORE twin). Metadata-only; abandoned
    snapshots stay readable via ``?snapshot-id=`` until expiry."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            rollback_iceberg_lite,
        )

        sid = self.uri.params.get("snapshot-id")
        if not sid:
            raise ValueError("iceberg-rollback:// needs ?snapshot-id=N")
        out = rollback_iceberg_lite(self.uri.path, int(sid))
        return local_frame(
            spark, [(self.uri.path, out)], "table string, snapshot_id long"
        )


@register_source("iceberg-rollback")
def iceberg_rollback_source(p: ParsedUri) -> IcebergRollbackSource:
    return IcebergRollbackSource(p)


@dataclass
class DeltaUniformSource:
    """``rep+delta-uniform:///path/tbl`` — write/refresh Iceberg
    metadata for a delta table (UniForm interop, zero data copy):
    afterwards ``iceberg://<same path>`` serves the identical rows
    (sources/uniform.py)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.uniform import (
            export_delta_as_iceberg,
        )

        sid = export_delta_as_iceberg(spark, self.uri.path)
        return local_frame(
            spark, [(self.uri.path, sid)],
            "table string, iceberg_snapshot_id long",
        )


@register_source("delta-uniform")
def delta_uniform_source(p: ParsedUri) -> DeltaUniformSource:
    return DeltaUniformSource(p)


@dataclass
class IcebergUniformSource:
    """``rep+iceberg-uniform:///path/tbl`` — the reverse direction:
    write/refresh a Delta transaction log for an iceberg table so
    ``delta://<same path>`` serves identical rows, zero data copy."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.uniform import (
            export_iceberg_as_delta,
        )

        v = export_iceberg_as_delta(spark, self.uri.path)
        return local_frame(
            spark, [(self.uri.path, v)],
            "table string, delta_version long",
        )


@register_source("iceberg-uniform")
def iceberg_uniform_source(p: ParsedUri) -> IcebergUniformSource:
    return IcebergUniformSource(p)


@dataclass
class HudiUniformSource:
    """``rep+hudi-uniform:///path/tbl?as=delta|iceberg|both`` — expose
    a compacted Hudi COW table as delta and/or iceberg, zero data
    copy (sources/uniform.py)."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.uniform import (
            export_hudi_as_delta,
            export_hudi_as_iceberg,
        )

        target = self.uri.params.get("as", "both")
        rows = []
        if target in ("delta", "both"):
            rows.append(
                (self.uri.path, "delta",
                 export_hudi_as_delta(spark, self.uri.path))
            )
        if target in ("iceberg", "both"):
            rows.append(
                (self.uri.path, "iceberg",
                 export_hudi_as_iceberg(spark, self.uri.path))
            )
        if not rows:
            raise ValueError("hudi-uniform ?as= must be delta|iceberg|both")
        return local_frame(
            spark, rows, "table string, format string, version long"
        )


@register_source("hudi-uniform")
def hudi_uniform_source(p: ParsedUri) -> HudiUniformSource:
    return HudiUniformSource(p)


@register_source("delta-optimize")
def delta_optimize_source(p: ParsedUri) -> DeltaOptimizeSource:
    return DeltaOptimizeSource(p)


@register_source("delta-vacuum")
def delta_vacuum_source(p: ParsedUri) -> DeltaVacuumSource:
    return DeltaVacuumSource(p)


@register_source("delta-delete")
def delta_delete_source(p: ParsedUri) -> DeltaDeleteSource:
    return DeltaDeleteSource(p)


@register_source("delta-update")
def delta_update_source(p: ParsedUri) -> DeltaUpdateSource:
    return DeltaUpdateSource(p)


@register_source("iceberg-compact")
def iceberg_compact_source(p: ParsedUri) -> IcebergCompactSource:
    return IcebergCompactSource(p)


@register_source("iceberg-delete")
def iceberg_delete_source(p: ParsedUri) -> IcebergDeleteSource:
    return IcebergDeleteSource(p)


@dataclass
class IcebergUpgradeSource:
    """``rep+iceberg-upgrade:///path/tbl`` — upgrade a v1/v2 table to
    format-version 3: live position-delete parquet files convert to
    deletion vectors (one Puffin blob per referenced data file), after
    which merge-on-read DELETEs write DVs instead of delete files."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            upgrade_iceberg_format,
        )

        stats = upgrade_iceberg_format(
            spark,
            self.uri.path,
            to_version=int(self.uri.params.get("format-version", 3)),
        )
        return local_frame(
            spark, [(
                self.uri.path,
                stats["upgraded"],
                stats["dvs_written"],
                stats["pos_delete_files_converted"],
            )],
            "table string, upgraded boolean, dvs_written int, "
            "pos_delete_files_converted int",
        )


@register_source("iceberg-upgrade")
def iceberg_upgrade_source(p: ParsedUri) -> IcebergUpgradeSource:
    return IcebergUpgradeSource(p)


@dataclass
class IcebergEvolveSource:
    """``rep+iceberg-evolve:///path/tbl?fields=region,bucket[4](id)`` —
    partition evolution: install a new default partition spec
    (metadata-only; no data moves). ``fields=`` is a comma-separated
    list of ``col`` / ``bucket[N](col)`` / ``truncate[N](col)`` /
    ``year(col)`` / ``month(col)`` / ``day(col)`` / ``hour(col)``;
    empty evolves to unpartitioned."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.iceberg_lite import (
            evolve_iceberg_spec,
        )

        fields = [
            f for f in self.uri.params.get("fields", "").split(",") if f
        ]
        stats = evolve_iceberg_spec(self.uri.path, fields)
        return local_frame(
            spark, [(self.uri.path, stats["spec_id"], stats["fields"])],
            "table string, spec_id int, n_fields int",
        )


@register_source("iceberg-evolve")
def iceberg_evolve_source(p: ParsedUri) -> IcebergEvolveSource:
    return IcebergEvolveSource(p)


@dataclass
class HudiCleanSource:
    """``rep+hudi-clean:///path/tbl?retain-commits=N`` — Hudi's
    cleaner (KEEP_LATEST_COMMITS): drop data files unreachable from
    the last N completed instants' file-slice views. The retention
    counterpart of ``rep+delta-vacuum://`` / ``rep+iceberg-expire://``."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.hudi_lite import clean_hudi_lite

        stats = clean_hudi_lite(
            self.uri.path,
            retain_commits=int(self.uri.params.get("retain-commits", 1)),
        )
        return local_frame(
            spark, [(
                self.uri.path,
                stats["files_deleted"],
                ",".join(stats["retained_instants"]),
            )],
            "table string, files_deleted int, retained_instants string",
        )


@register_source("hudi-clean")
def hudi_clean_source(p: ParsedUri) -> HudiCleanSource:
    return HudiCleanSource(p)


@dataclass
class HudiRestoreSource:
    """``rep+hudi-restore:///path/tbl?instant=TS`` — Hudi RESTORE:
    physically roll the table back to instant TS (later instants'
    files deleted, timeline truncated). The sibling of
    ``rep+delta-restore://`` and ``rep+iceberg-rollback://``; refuses
    restore points behind a cleaner horizon."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.hudi_lite import restore_hudi_lite

        instant = self.uri.params.get("instant")
        if not instant:
            raise ValueError("hudi-restore:// needs ?instant=<timeline ts>")
        stats = restore_hudi_lite(self.uri.path, instant)
        return local_frame(
            spark, [(
                self.uri.path,
                stats["restored_to"],
                stats["instants_rolled_back"],
                stats["files_deleted"],
            )],
            "table string, restored_to string, "
            "instants_rolled_back int, files_deleted int",
        )


@register_source("hudi-restore")
def hudi_restore_source(p: ParsedUri) -> HudiRestoreSource:
    return HudiRestoreSource(p)


@dataclass
class HudiSavepointSource:
    """``rep+hudi-savepoint:///path/tbl[?instant=TS&name=X]`` — pin an
    instant's file-slice view (default: latest): the cleaner retains
    it and ``rep+hudi-restore://`` can always return to it. The
    timeline twin of an iceberg tag."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.hudi_lite import savepoint_hudi_lite

        stats = savepoint_hudi_lite(
            self.uri.path,
            instant=self.uri.params.get("instant"),
            name=self.uri.params.get("name"),
        )
        return local_frame(
            spark, [(self.uri.path, stats["savepointed"], stats["name"])],
            "table string, savepointed string, name string",
        )


@register_source("hudi-savepoint")
def hudi_savepoint_source(p: ParsedUri) -> HudiSavepointSource:
    return HudiSavepointSource(p)


@dataclass
class HudiCompactSource:
    """``rep+hudi-compact:///path/tbl`` — MOR compaction: each
    log-carrying file group's merged state materializes as a new base
    file (a ``commit`` instant); the RO view catches up and old log
    files stop applying."""

    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        from spark_etl_cli_spark.sources.hudi_lite import (
            compact_hudi_mor_lite,
        )

        stats = compact_hudi_mor_lite(spark, self.uri.path)
        return local_frame(
            spark, [(
                self.uri.path,
                stats["groups_compacted"],
                stats["files_added"],
            )],
            "table string, groups_compacted int, files_added int",
        )


@register_source("hudi-delete")
def hudi_delete_source(p: ParsedUri) -> HudiDeleteSource:
    return HudiDeleteSource(p)


@register_source("hudi-compact")
def hudi_compact_source(p: ParsedUri) -> HudiCompactSource:
    return HudiCompactSource(p)


@register_source("iceberg-expire")
def iceberg_expire_source(p: ParsedUri) -> IcebergExpireSource:
    return IcebergExpireSource(p)
