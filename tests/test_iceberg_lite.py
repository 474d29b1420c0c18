"""Engine-free Iceberg reader tests: tables are hand-built per the
public spec (metadata JSON + avro_lite-encoded manifest list/manifest
files + parquet data), then read back through iceberg_lite."""

import json
import os

import pytest

from spark_etl_cli_spark.sources.avro_lite import write_container

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": ["null", "int"]},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": ["null", "int"]},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _entry(path, content=0, status=1):
    return {
        "status": status,
        "snapshot_id": 1,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "record_count": 1,
            "file_size_in_bytes": 1,
        },
    }


def _build_table(spark, table, schema_fields, snapshots):
    """snapshots: list of (snapshot_id, [entry dicts]) — last is current."""
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    snaps = []
    for sid, entries in snapshots:
        manifest = os.path.join(meta_dir, f"manifest-{sid}.avro")
        write_container(manifest, _MANIFEST_SCHEMA, iter(entries))
        mlist = os.path.join(meta_dir, f"snap-{sid}.avro")
        write_container(
            mlist,
            _MANIFEST_LIST_SCHEMA,
            iter([{
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": sid,
            }]),
        )
        snaps.append({"snapshot-id": sid, "manifest-list": mlist,
                      "timestamp-ms": sid})
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": table,
        "current-snapshot-id": snapshots[-1][0],
        "schemas": [{"schema-id": 0, "type": "struct",
                     "fields": schema_fields}],
        "current-schema-id": 0,
        "snapshots": snaps,
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)


def test_iceberg_where_prunes_data_files_via_manifest(spark, tmp_path):
    """`where` on an identity partition column prunes the FILE LIST at
    the manifest level: non-matching data files never reach the scan.
    Table built by hand with partition values in the manifest entries +
    a partition spec in the metadata, per the spec."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        resolve_iceberg_files,
    )

    table = str(tmp_path / "ice_prune")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    # two data files, one per partition value
    paths = {}
    for part, ids in [("a", [1, 2]), ("b", [3])]:
        d = os.path.join(table, "data", part)
        spark.createDataFrame(
            [Row(id=i, part=part) for i in ids]
        ).coalesce(1).write.parquet(d)
        paths[part] = next(
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("_")
        )
    man_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": ["null", "int"]},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": [
                            {"name": "part", "type": ["null", "string"]},
                        ]}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ],
    }
    manifest = os.path.join(meta_dir, "manifest-1.avro")
    write_container(
        manifest, man_schema,
        iter(
            {
                "status": 1, "snapshot_id": 1,
                "data_file": {
                    "content": 0, "file_path": paths[p],
                    "file_format": "PARQUET", "partition": {"part": p},
                    "record_count": 1, "file_size_in_bytes": 1,
                },
            }
            for p in sorted(paths)
        ),
    )
    mlist = os.path.join(meta_dir, "snap-1.avro")
    write_container(
        mlist, _MANIFEST_LIST_SCHEMA,
        iter([{
            "manifest_path": manifest,
            "manifest_length": os.path.getsize(manifest),
            "partition_spec_id": 0, "content": 0, "added_snapshot_id": 1,
        }]),
    )
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000002",
        "location": table,
        "current-snapshot-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "part", "required": False, "type": "string"},
        ]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "part", "transform": "identity",
             "source-id": 2, "field-id": 1000},
        ]}],
        "default-spec-id": 0,
        "snapshots": [{"snapshot-id": 1, "manifest-list": mlist,
                       "timestamp-ms": 1}],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)

    # file-level: only partition b's file survives resolution
    files, _, _, _ = resolve_iceberg_files(spark, table, where="part = 'b'")
    assert files == [paths["b"]]
    got = {(r.id, r.part)
           for r in read_iceberg_lite(spark, table, where="part = 'b'").collect()}
    assert got == {(3, "b")}
    # non-partition predicate: no file pruning, rows still exact
    files_all, _, _, _ = resolve_iceberg_files(spark, table, where="id > 1")
    assert sorted(files_all) == sorted(paths.values())
    got = {r.id for r in read_iceberg_lite(spark, table, where="id > 1").collect()}
    assert got == {2, 3}
    # entries with NO recorded value for the identity field (spec
    # evolution / other writers) are conservatively KEPT by pruning —
    # distinct from a recorded NULL value, which is prunable
    import spark_etl_cli_spark.sources.iceberg_lite as il

    entries = [("f_a", {"part": "a"}), ("f_legacy", {})]
    pruned = il._prune_file_entries(
        spark, entries, il._identity_partition_fields(meta), "part = 'b'"
    )
    assert pruned is not None and "f_legacy" in pruned and "f_a" not in pruned

    # a spec mutated to bucket[4] while the manifests still record the
    # old STRING values: the transform pruner computes an int bucket,
    # sees the recorded value cannot be coerced to it, and keeps every
    # file — pruning must never be the component that loses rows
    meta["partition-specs"][0]["fields"][0]["transform"] = "bucket[4]"
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    files_b, _, _, _ = resolve_iceberg_files(spark, table, where="part = 'b'")
    assert sorted(files_b) == sorted(paths.values())


def test_iceberg_basic_read_and_snapshot_travel(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    table = str(tmp_path / "ice")
    os.makedirs(table)
    files = []
    for lo, hi in [(0, 4), (4, 7)]:
        sub = os.path.join(table, f"data{lo}")
        spark.range(lo, hi).selectExpr(
            "id", "concat('r', id) AS name"
        ).coalesce(1).write.parquet(sub)
        files.append(os.path.join(
            sub, [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        ))
    fields = [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
    ]
    _build_table(spark, table, fields, [
        (100, [_entry(files[0])]),
        (200, [_entry(files[0], status=0), _entry(files[1])]),
    ])
    _, src = resolve_source(f"i+iceberg://{table}")
    out = src.read(spark)
    assert out.columns == ["id", "name"]
    assert {(r.id, r.name) for r in out.collect()} == {
        (i, f"r{i}") for i in range(7)
    }
    # snapshot time travel back to snapshot 100
    _, src0 = resolve_source(f"i+iceberg://{table}?snapshot-id=100")
    assert {r.id for r in src0.read(spark).collect()} == {0, 1, 2, 3}


def test_iceberg_position_and_equality_deletes(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    table = str(tmp_path / "ice_del")
    os.makedirs(table)
    sub = os.path.join(table, "d0")
    spark.range(10).selectExpr("id", "id % 3 AS grp").coalesce(1) \
        .write.parquet(sub)
    data_file = os.path.join(
        sub, [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
    )
    # position-delete file: kill row ordinals 1 and 4 of that file
    pd_dir = os.path.join(table, "pdel")
    spark.createDataFrame(
        [(f"file:{data_file}", 1), (f"file:{data_file}", 4)],
        "file_path string, pos long",
    ).coalesce(1).write.parquet(pd_dir)
    pd_file = os.path.join(
        pd_dir, [f for f in os.listdir(pd_dir) if f.endswith(".parquet")][0]
    )
    # equality-delete file: kill grp = 2 rows
    eq_dir = os.path.join(table, "eqdel")
    spark.createDataFrame([(2,)], "grp long").coalesce(1).write.parquet(eq_dir)
    eq_file = os.path.join(
        eq_dir, [f for f in os.listdir(eq_dir) if f.endswith(".parquet")][0]
    )
    fields = [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "grp", "required": False, "type": "long"},
    ]
    _build_table(spark, table, fields, [
        (1, [_entry(data_file), _entry(pd_file, content=1),
             _entry(eq_file, content=2)]),
    ])
    _, src = resolve_source(f"i+iceberg://{table}")
    got = sorted(r.id for r in src.read(spark).collect())
    # rows 1 and 4 die positionally; grp==2 kills ids 2,5,8; id 4 would
    # have grp 1 but died positionally already
    expect = [i for i in range(10) if i not in (1, 4) and i % 3 != 2]
    assert got == expect


def test_iceberg_missing_table_raises_clearly(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.optional import MissingDependencyError

    _, src = resolve_source(f"i+iceberg://{tmp_path}/nope")
    with pytest.raises(MissingDependencyError, match="[Ii]ceberg"):
        src.read(spark)


def test_iceberg_format_v4_raises(spark, tmp_path):
    """v3 is readable (deletion vectors, tests/test_iceberg_v3_dv.py);
    anything newer stays a loud fence."""
    from spark_etl_cli_spark.sources.iceberg_lite import read_iceberg_lite

    table = str(tmp_path / "v4")
    os.makedirs(os.path.join(table, "metadata"))
    with open(os.path.join(table, "metadata", "v1.metadata.json"), "w") as fh:
        json.dump({"format-version": 4, "schemas": [], "snapshots": []}, fh)
    with pytest.raises(NotImplementedError, match="v4"):
        read_iceberg_lite(spark, table)


def test_iceberg_write_read_roundtrip_and_append(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_w")
    s1 = write_iceberg_lite(
        spark.range(5).selectExpr("id", "concat('a', id) AS tag"), table
    )
    assert read_iceberg_lite(spark, table).count() == 5
    s2 = write_iceberg_lite(
        spark.range(5, 8).selectExpr("id", "concat('a', id) AS tag"), table
    )
    assert s2 == s1 + 1
    got = read_iceberg_lite(spark, table)
    assert {(r.id, r.tag) for r in got.collect()} == {
        (i, f"a{i}") for i in range(8)
    }
    # snapshot 1 still readable (time travel across OUR OWN commits)
    assert read_iceberg_lite(spark, table, snapshot_id=s1).count() == 5
    # overwrite starts fresh but keeps history
    write_iceberg_lite(
        spark.range(100, 102).selectExpr("id", "concat('a', id) AS tag"),
        table,
        mode="overwrite",
    )
    assert {r.id for r in read_iceberg_lite(spark, table).collect()} == {
        100, 101
    }
    assert read_iceberg_lite(spark, table, snapshot_id=s2).count() == 8
    # full pipeline surface: iceberg source -> memory
    run_pipeline(
        spark,
        sources=[f"i+iceberg://{table}"],
        sinks=["i+memory://ice_rt"],
    )
    assert spark.table("ice_rt").count() == 2


def test_iceberg_write_emits_v2_required_fields(spark, tmp_path):
    """The writer claims format-version 2, so it must emit the spec's
    v2-REQUIRED field set — sequence numbers, counts, partition specs,
    sort orders, epoch-millis timestamps — not a lite-reader-only
    subset a real engine would reject."""
    import glob as _glob
    import json as _json
    import os as _os
    import time as _time

    from spark_etl_cli_spark.sources.avro_lite import read_container
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite

    table = str(tmp_path / "ice_v2")
    t0 = int(_time.time() * 1000)
    write_iceberg_lite(spark.range(3).selectExpr("id"), table)
    write_iceberg_lite(spark.range(3, 5).selectExpr("id"), table)
    meta_dir = _os.path.join(table, "metadata")
    with open(_os.path.join(meta_dir, "v2.metadata.json")) as fh:
        meta = _json.load(fh)
    for key in (
        "last-sequence-number", "last-updated-ms", "last-column-id",
        "partition-specs", "default-spec-id", "last-partition-id",
        "sort-orders", "default-sort-order-id",
    ):
        assert key in meta, key
    assert meta["last-sequence-number"] == 2
    assert meta["last-updated-ms"] >= t0  # real epoch millis, not 1,2,3
    assert meta["last-column-id"] == 1    # single `id` column
    snap = meta["snapshots"][-1]
    assert snap["sequence-number"] == 2
    assert snap["timestamp-ms"] >= t0
    assert snap["summary"]["operation"] == "append"
    # manifest list: v2-required per-entry fields, correct counts
    with open(snap["manifest-list"], "rb") as fh:
        _, entries = read_container(fh.read())
    assert len(entries) >= 2  # carried + new
    new = max(entries, key=lambda e: e["sequence_number"])
    assert new["sequence_number"] == 2 == new["min_sequence_number"]
    assert new["added_rows_count"] == 2 and new["deleted_files_count"] == 0
    assert new["added_files_count"] >= 1
    # manifest container metadata: schema / partition-spec / content
    mf = new["manifest_path"]
    with open(mf, "rb") as fh:
        raw = fh.read()
    for needle in (b"partition-spec", b"format-version", b"content"):
        assert needle in raw[:8192], needle
    # manifest entries: ADDED rows inherit sequence numbers via null
    _, recs = read_container(raw)
    assert all(r["sequence_number"] is None for r in recs)
    assert all(r["data_file"]["partition"] == {} for r in recs)


def test_iceberg_compact_and_stream_skips_replace_snapshot(spark, tmp_path):
    """compact_iceberg_lite bin-packs small files into a replace
    snapshot: identical rows, fewer files, old snapshots readable —
    and the incremental stream reader skips the replace snapshot
    instead of double-delivering compacted rows."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_compact")
    for i in range(3):
        write_iceberg_lite(
            spark.range(i * 2, i * 2 + 2).selectExpr("id"), table
        )
    files_before, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(files_before) >= 3
    # drain the stream BEFORE compaction
    from spark_etl_cli_spark.sources.icebergstream import ensure_registered

    ensure_registered(spark)
    ckpt, out = f"{tmp_path}/ic_ckpt", f"{tmp_path}/ic_out"

    def drain():
        q = (
            spark.readStream.format("iceberglite-stream")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 6
    stats = compact_iceberg_lite(spark, table, target_file_bytes=10**9)
    assert stats["files_removed"] == len(files_before)
    assert stats["files_added"] == 1
    assert sorted(
        r.id for r in read_iceberg_lite(spark, table).collect()
    ) == list(range(6))
    files_after, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(files_after) == 1
    # resumed stream: the replace snapshot delivers NOTHING new
    drain()
    assert spark.read.parquet(out).count() == 6
    # second compact: no-op
    assert compact_iceberg_lite(spark, table)["files_removed"] == 0


def test_iceberg_partitioned_write_read_prune_roundtrip(spark, tmp_path):
    """Identity-partitioned writes: typed partition values land in the
    manifest + spec, reads restore the columns as literals, and
    ?where= prunes the file list — the full write→prune loop."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_part")
    df = spark.createDataFrame(
        [Row(id=i, part=p, d=float(i))
         for i, p in enumerate(["a", "a", "b", None])]
    )
    write_iceberg_lite(df, table, partition_by=["part"])
    got = {(r.id, r.part, r.d)
           for r in read_iceberg_lite(spark, table).collect()}
    assert got == {(0, "a", 0.0), (1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)}
    # pruning: only partition b's file(s) survive resolution
    all_files, _, _, _ = resolve_iceberg_files(spark, table)
    b_files, _, _, _ = resolve_iceberg_files(spark, table, where="part = 'b'")
    assert 0 < len(b_files) < len(all_files)
    assert {r.id for r in read_iceberg_lite(spark, table, where="part = 'b'")
            .collect()} == {2}
    # appends must keep the partitioning (explicit mismatch refused,
    # omitted partition_by inherits)
    import pytest as _pt

    with _pt.raises(ValueError, match="partitioning"):
        write_iceberg_lite(df, table, partition_by=["id"])
    write_iceberg_lite(
        spark.createDataFrame([Row(id=9, part="b", d=9.0)]), table
    )
    assert {r.id for r in read_iceberg_lite(spark, table, where="part = 'b'")
            .collect()} == {2, 9}
    # typed non-string partition column: long
    t2 = str(tmp_path / "ice_part_long")
    write_iceberg_lite(
        spark.createDataFrame([Row(id=i, bucket=i % 2) for i in range(4)]),
        t2, partition_by=["bucket"],
    )
    rows = read_iceberg_lite(spark, t2, where="bucket = 1").collect()
    assert sorted(r.id for r in rows) == [1, 3]
    assert all(isinstance(r.bucket, int) for r in rows)


def test_iceberg_partitioned_compaction(spark, tmp_path):
    """Identity-partitioned tables compact per partition: each
    partition's small files bin-pack into its own new file, partition
    values preserved in the new manifest entries, pruning still works."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_pc")
    for i in range(3):
        write_iceberg_lite(
            spark.createDataFrame(
                [Row(id=i * 2, part="a"), Row(id=i * 2 + 1, part="b")]
            ),
            table, partition_by=["part"],
        )
    before, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(before) == 6  # 3 commits x 2 partitions
    stats = compact_iceberg_lite(spark, table, target_file_bytes=10**9)
    assert stats["files_removed"] == 6 and stats["files_added"] == 2
    got = {(r.id, r.part) for r in read_iceberg_lite(spark, table).collect()}
    assert got == {(i, "ab"[i % 2]) for i in range(6)}
    # per-partition files + pruning on the compacted layout
    b_files, _, _, _ = resolve_iceberg_files(spark, table, where="part = 'b'")
    assert len(b_files) == 1
    assert {r.id for r in read_iceberg_lite(spark, table, where="part = 'b'")
            .collect()} == {1, 3, 5}


def test_iceberg_expire_snapshots(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        expire_iceberg_snapshots,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_expire")
    s1 = write_iceberg_lite(spark.range(2).selectExpr("id"), table)
    write_iceberg_lite(spark.range(2, 4).selectExpr("id"), table)
    # metadata-only expiry: old snapshot id stops resolving, data stays
    res = expire_iceberg_snapshots(table, keep_last=1)
    assert res == {"expired": 1, "files_deleted": 0}
    assert read_iceberg_lite(spark, table).count() == 4
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_lite(spark, table, snapshot_id=s1)
    # overwrite then expire WITH file deletion: the orphaned pre-
    # overwrite files are removed from disk
    write_iceberg_lite(
        spark.range(9, 10).selectExpr("id"), table, mode="overwrite"
    )
    res = expire_iceberg_snapshots(
        table, keep_last=1, delete_orphaned_files=True
    )
    assert res["expired"] >= 1 and res["files_deleted"] >= 1
    assert sorted(r.id for r in read_iceberg_lite(spark, table).collect()) == [9]


def test_iceberg_append_schema_mismatch_raises(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite

    table = str(tmp_path / "ice_mm")
    write_iceberg_lite(spark.range(2).selectExpr("id", "id AS v"), table)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg_lite(
            spark.range(2).selectExpr("id", "id AS OTHER"), table
        )


def test_iceberg_sink_via_pipeline(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline

    table = str(tmp_path / "ice_sink")
    run_pipeline(
        spark,
        sources=["v+parquet:///root/testdata/sf0.001/region.parquet"],
        sinks=[f"v+iceberg://{table}"],
    )
    run_pipeline(
        spark,
        sources=[f"r+iceberg://{table}"],
        sinks=["r+memory://ice_regions"],
    )
    back = spark.table("ice_regions")
    assert back.count() == 5
    assert set(back.columns) >= {"r_regionkey", "r_name"}


def test_iceberg_stream_incremental_snapshots(spark, tmp_path):
    # iceberg-stream:// reads only the files each new snapshot ADDED:
    # first availableNow run drains snapshot 1; an append later is
    # picked up by a resumed run without re-reading snapshot 1's files
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite

    table = str(tmp_path / "ice_stream")
    write_iceberg_lite(
        spark.range(4).selectExpr("id", "concat('s', id) AS tag"), table
    )
    _, src = resolve_source(f"s+iceberg-stream://{table}")
    stream = src.read(spark)
    assert stream.isStreaming and stream.columns == ["id", "tag"]
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert {r.id for r in spark.read.parquet(out).collect()} == {0, 1, 2, 3}

    write_iceberg_lite(
        spark.range(4, 6).selectExpr("id", "concat('s', id) AS tag"), table
    )
    q2 = (
        src.read(spark)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)  # resume from the offset
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    # exactly-once: ids 0-3 appear ONCE (not re-read), plus the new 4,5
    rows = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == [0, 1, 2, 3, 4, 5]


# --- row-level DELETE ------------------------------------------------------


def _mk_part_table(spark, path):
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite

    df1 = spark.createDataFrame(
        [(i, "a" if i < 5 else "b", float(i)) for i in range(10)],
        "id long, part string, v double",
    )
    df2 = spark.createDataFrame(
        [(i, "a" if i < 15 else "b", float(i)) for i in range(10, 20)],
        "id long, part string, v double",
    )
    write_iceberg_lite(df1, path, partition_by=["part"])
    write_iceberg_lite(df2, path, mode="append", partition_by=["part"])


def test_iceberg_delete_rewrites_only_affected_files(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
    )

    path = str(tmp_path / "tbl")
    _mk_part_table(spark, path)
    before, _, _, _ = resolve_iceberg_files(spark, path)
    b_files = {p for p in before if "part=b" in p}

    stats = delete_iceberg_lite(spark, path, "part = 'a' and id < 3")
    assert stats["rows_deleted"] == 3
    after, _, _, _ = resolve_iceberg_files(spark, path)
    assert b_files <= set(after)  # partition b untouched
    got = sorted(r["id"] for r in read_iceberg_lite(spark, path).collect())
    assert got == sorted(set(range(20)) - {0, 1, 2})


def test_iceberg_delete_partition_pruning_skips_poisoned_files(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
    )

    path = str(tmp_path / "tbl")
    _mk_part_table(spark, path)
    files, _, _, _ = resolve_iceberg_files(spark, path)
    for p in files:
        if "part=a" in p:
            with open(p, "wb") as fh:
                fh.write(b"not parquet")
    stats = delete_iceberg_lite(spark, path, "part = 'b' and id >= 18")
    assert stats["rows_deleted"] == 2
    rows = read_iceberg_lite(spark, path, where="part = 'b'").collect()
    assert sorted(r["id"] for r in rows) == [5, 6, 7, 8, 9, 15, 16, 17]


def test_iceberg_delete_time_travel_and_null_semantics(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 9.0)], "id long, v double"
    )
    sid = write_iceberg_lite(df, path)
    stats = delete_iceberg_lite(spark, path, "v > 5.0")
    assert stats["rows_deleted"] == 1
    got = sorted(
        r["id"] for r in read_iceberg_lite(spark, path).collect()
    )
    assert got == [1, 2]  # NULL predicate keeps the row
    old = read_iceberg_lite(spark, path, snapshot_id=sid)
    assert old.count() == 3  # pre-delete snapshot intact


def test_iceberg_delete_no_match_commits_nothing(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _load_metadata,
        delete_iceberg_lite,
    )

    path = str(tmp_path / "tbl")
    _mk_part_table(spark, path)
    n_before = len(_load_metadata(path).get("snapshots"))
    stats = delete_iceberg_lite(spark, path, "id > 1000")
    assert stats["rows_deleted"] == 0
    assert len(_load_metadata(path).get("snapshots")) == n_before


def test_iceberg_stream_fails_on_delete_snapshot_unless_skipped(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        write_iceberg_lite,
    )

    path = str(tmp_path / "tbl")
    write_iceberg_lite(spark.range(4).selectExpr("id"), path)
    delete_iceberg_lite(spark, path, "id = 1")
    write_iceberg_lite(
        spark.range(10, 12).selectExpr("id"), path, mode="append"
    )

    def run(uri, out, ckpt):
        _, src = resolve_source(uri)
        q = (
            src.read(spark)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    with pytest.raises(Exception, match="skip-overwrite-snapshots"):
        run(
            f"s+iceberg-stream://{path}",
            str(tmp_path / "o1"), str(tmp_path / "c1"),
        )
    out = str(tmp_path / "o2")
    run(
        f"s+iceberg-stream://{path}?skip-overwrite-snapshots=true",
        out, str(tmp_path / "c2"),
    )
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    # append snapshots flow; the delete's rewrite snapshot is skipped
    # whole (id=1 was delivered by snapshot 1 before it was deleted)
    assert got == [0, 1, 2, 3, 10, 11]


# --- sequence-number-scoped delete application (v2 spec rule) --------------

_SEQ_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": ["null", "int"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

_SEQ_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": ["null", "int"]},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _seq_entry(path, seq, content=0, status=1):
    e = _entry(path, content=content, status=status)
    e["sequence_number"] = seq
    return e


def _build_seq_table(table, schema_fields, manifests):
    """manifests: [(ml_seq, [entries])] — one snapshot whose manifest
    list carries per-manifest sequence numbers (for inheritance)."""
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    ml_rows = []
    for i, (ml_seq, entries) in enumerate(manifests):
        manifest = os.path.join(meta_dir, f"manifest-s{i}.avro")
        write_container(manifest, _SEQ_MANIFEST_SCHEMA, iter(entries))
        ml_rows.append({
            "manifest_path": manifest,
            "manifest_length": os.path.getsize(manifest),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": ml_seq,
            "added_snapshot_id": 1,
        })
    mlist = os.path.join(meta_dir, "snap-1.avro")
    write_container(mlist, _SEQ_MANIFEST_LIST_SCHEMA, iter(ml_rows))
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000002",
        "location": table,
        "current-snapshot-id": 1,
        "last-sequence-number": max(s for s, _ in manifests),
        "schemas": [{"schema-id": 0, "type": "struct",
                     "fields": schema_fields}],
        "current-schema-id": 0,
        "snapshots": [{"snapshot-id": 1, "manifest-list": mlist,
                       "timestamp-ms": 1}],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)


def _one_parquet(spark, table, name, df):
    d = os.path.join(table, name)
    df.coalesce(1).write.parquet(d)
    return os.path.join(
        d, [f for f in os.listdir(d) if f.endswith(".parquet")][0]
    )


def test_iceberg_position_delete_is_sequence_scoped(spark, tmp_path):
    """A data file RE-ADDED after a position delete targeting its path
    (data seq > delete seq) survives; an older file (data seq <= delete
    seq) is still hit — the v2 spec rule the lite reader used to skip."""
    from spark_etl_cli_spark.sources.iceberg_lite import read_iceberg_lite

    table = str(tmp_path / "ice_seq_pos")
    os.makedirs(table)
    f_old = _one_parquet(
        spark, table, "d_old", spark.range(5).selectExpr("id")
    )
    f_new = _one_parquet(
        spark, table, "d_new", spark.range(10, 15).selectExpr("id")
    )
    # one delete file names pos 0 of BOTH data files, at seq 2
    pd = _one_parquet(
        spark, table, "pdel",
        spark.createDataFrame(
            [(f"file:{f_old}", 0), (f"file:{f_new}", 0)],
            "file_path string, pos long",
        ),
    )
    fields = [{"id": 1, "name": "id", "required": True, "type": "long"}]
    _build_seq_table(table, fields, [
        (1, [_seq_entry(f_old, 1)]),
        (2, [_seq_entry(pd, 2, content=1)]),
        (3, [_seq_entry(f_new, 3)]),  # re-added AFTER the delete
    ])
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    # old file loses id 0 (1 <= 2); new file keeps id 10 (3 > 2)
    assert got == [1, 2, 3, 4, 10, 11, 12, 13, 14]


def test_iceberg_equality_delete_is_strictly_older_scoped(spark, tmp_path):
    """Equality deletes apply only to data with sequence number
    STRICTLY below the delete's: a row re-inserted in the same commit
    as the delete survives it."""
    from spark_etl_cli_spark.sources.iceberg_lite import read_iceberg_lite

    table = str(tmp_path / "ice_seq_eq")
    os.makedirs(table)
    f1 = _one_parquet(spark, table, "d1", spark.range(3).selectExpr("id"))
    # upsert commit at seq 2: delete id=1, re-insert id=1 (new version)
    f2 = _one_parquet(
        spark, table, "d2", spark.createDataFrame([(1,)], "id long")
    )
    eq = _one_parquet(
        spark, table, "eqdel", spark.createDataFrame([(1,)], "id long")
    )
    fields = [{"id": 1, "name": "id", "required": True, "type": "long"}]
    _build_seq_table(table, fields, [
        (1, [_seq_entry(f1, 1)]),
        (2, [_seq_entry(eq, 2, content=2), _seq_entry(f2, 2)]),
    ])
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    # f1's id=1 dies (1 < 2); f2's id=1 survives (2 < 2 is false)
    assert got == [0, 1, 2]


def test_iceberg_added_entry_inherits_manifest_list_sequence(spark, tmp_path):
    """An ADDED entry with null sequence_number inherits the manifest
    list entry's sequence number (v2 inheritance rule)."""
    from spark_etl_cli_spark.sources.iceberg_lite import read_iceberg_lite

    table = str(tmp_path / "ice_seq_inh")
    os.makedirs(table)
    f_new = _one_parquet(
        spark, table, "d", spark.range(2).selectExpr("id")
    )
    pd = _one_parquet(
        spark, table, "pdel",
        spark.createDataFrame(
            [(f"file:{f_new}", 0)], "file_path string, pos long"
        ),
    )
    fields = [{"id": 1, "name": "id", "required": True, "type": "long"}]
    # the data entry's seq is NULL but its manifest-list seq is 3 —
    # inherited 3 > delete seq 2 means the delete must NOT apply
    _build_seq_table(table, fields, [
        (2, [_seq_entry(pd, 2, content=1)]),
        (3, [_seq_entry(f_new, None)]),
    ])
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert got == [0, 1]


def test_iceberg_mor_delete_writes_position_deletes(spark, tmp_path):
    """mode=merge-on-read: a DELETE writes a position-delete file and a
    fast-append delete snapshot — zero data bytes rewritten, deletes
    stack, and rows re-added AFTER a delete survive it (the
    sequence-scoping payoff)."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_mor_del")
    write_iceberg_lite(spark.range(5).selectExpr("id"), table)
    write_iceberg_lite(
        spark.range(5, 10).selectExpr("id"), table, mode="append"
    )
    import glob as g
    data_files = sorted(g.glob(os.path.join(table, "data", "**", "*.parquet"),
                               recursive=True))
    sizes = {p: os.path.getsize(p) for p in data_files}

    stats = delete_iceberg_lite(
        spark, table, "id in (1, 7)", mode="merge-on-read"
    )
    assert stats == {"files_rewritten": 0, "files_added": stats["files_added"],
                     "rows_deleted": 2}
    # every pre-existing data file is intact, byte-identical
    for p, sz in sizes.items():
        assert os.path.getsize(p) == sz
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert got == [0, 2, 3, 4, 5, 6, 8, 9]

    # deletes STACK: a second MOR delete on the live view
    stats2 = delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    assert stats2["rows_deleted"] == 1
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert got == [0, 3, 4, 5, 6, 8, 9]

    # an already-deleted row is NOT re-matched (live-view provenance)
    stats3 = delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    assert stats3["rows_deleted"] == 0

    # re-add id=1 AFTER the delete: higher data seq -> must survive
    write_iceberg_lite(
        spark.createDataFrame([(1,)], "id long"), table, mode="append"
    )
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert got == [0, 1, 3, 4, 5, 6, 8, 9]

    # time travel to before any delete still sees everything
    meta_snaps = sorted(
        s["snapshot-id"]
        for s in __import__("json").load(
            open(sorted(g.glob(os.path.join(table, "metadata",
                                            "*.metadata.json")))[-1])
        )["snapshots"]
    )
    v0 = read_iceberg_lite(spark, table, snapshot_id=meta_snaps[1])
    assert v0.count() == 10

    # copy-on-write DELETE composes with the live delete files
    # (r7 fence closed): the MOR-deleted rows stay deleted through the
    # rewrite and the predicate rows go
    stats = delete_iceberg_lite(spark, table, "id = 3")
    assert stats["rows_deleted"] == 1
    assert sorted(
        r["id"] for r in read_iceberg_lite(spark, table).collect()
    ) == [0, 1, 4, 5, 6, 8, 9]


def test_iceberg_mor_delete_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_mor_uri")
    write_iceberg_lite(spark.range(6).selectExpr("id"), table)
    _, src = resolve_source(
        f"rep+iceberg-delete://{table}?where=id >= 4&mode=merge-on-read"
    )
    report = src.read(spark).collect()[0]
    assert report.rows_deleted == 2 and report.files_rewritten == 0
    assert sorted(
        r.id for r in read_iceberg_lite(spark, table).collect()
    ) == [0, 1, 2, 3]


def test_iceberg_equality_delete_write(spark, tmp_path):
    """mode=merge-on-read + equality_columns: the DELETE writes an
    EQUALITY-delete file (content=2, equality_ids recorded) holding the
    matched rows' distinct keys; every older row with a matching key
    dies, a key re-inserted AFTER the delete survives (strict seq <)."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_eq_del")
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", -2.0), (3, "b", 3.0), (4, "c", 4.0)],
            "id long, k string, v double",
        ),
        table,
    )
    data_files = sorted(
        __import__("glob").glob(
            os.path.join(table, "data", "**", "*.parquet"), recursive=True
        )
    )
    sizes = {p: os.path.getsize(p) for p in data_files}
    # delete BY KEY k for rows matching v < 0: key 'b' is matched, so
    # BOTH b-rows die (ids 2 and 3) — the spec's delete-by-key shape
    stats = delete_iceberg_lite(
        spark, table, "v < 0", mode="merge-on-read",
        equality_columns=["k"],
    )
    assert stats["files_rewritten"] == 0
    assert stats["rows_deleted"] == 2
    for p, sz in sizes.items():
        assert os.path.getsize(p) == sz  # nothing rewritten
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert got == [1, 4]
    # manifest entry: content=2 with the key column's field id
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _load_metadata,
        _manifest_entries,
        _snapshot,
    )

    meta = _load_metadata(table)
    entries = _manifest_entries(table, _snapshot(meta, None))
    eq_entries = [
        e for e in entries if (e["data_file"].get("content") or 0) == 2
    ]
    assert eq_entries and eq_entries[0]["data_file"]["equality_ids"] == [2]
    # a 'b' row re-inserted AFTER the delete has a higher data seq and
    # survives (equality deletes apply strictly to older data)
    write_iceberg_lite(
        spark.createDataFrame([(9, "b", 9.0)], "id long, k string, v double"),
        table, mode="append",
    )
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert got == [1, 4, 9]


def test_iceberg_equality_delete_requires_mor_and_known_columns(
    spark, tmp_path
):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_eq_guard")
    write_iceberg_lite(spark.range(3).selectExpr("id"), table)
    with pytest.raises(ValueError, match="merge-on-read"):
        delete_iceberg_lite(
            spark, table, "id = 1", equality_columns=["id"]
        )
    with pytest.raises(ValueError, match="not in table schema"):
        delete_iceberg_lite(
            spark, table, "id = 1", mode="merge-on-read",
            equality_columns=["nope"],
        )


def test_iceberg_equality_delete_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_eq_uri")
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "x")], "id long, k string"
        ),
        table,
    )
    _, src = resolve_source(
        f"rep+iceberg-delete://{table}?where=id = 1"
        "&mode=merge-on-read&equality-columns=k"
    )
    report = src.read(spark).collect()[0]
    assert report.rows_deleted == 2  # both k='x' rows
    assert sorted(
        r.id for r in read_iceberg_lite(spark, table).collect()
    ) == [2]


def test_iceberg_as_of_timestamp_time_travel(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _load_metadata,
        snapshot_id_at_timestamp,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_ts")
    write_iceberg_lite(spark.range(3).selectExpr("id"), table)
    meta1 = _load_metadata(table)
    ts1 = meta1["snapshots"][-1]["timestamp-ms"]
    write_iceberg_lite(
        spark.range(3, 6).selectExpr("id"), table, mode="append"
    )
    # resolve by epoch millis (exactly the first snapshot's stamp)
    assert snapshot_id_at_timestamp(_load_metadata(table), ts1) == (
        meta1["snapshots"][-1]["snapshot-id"]
    )
    _, src = resolve_source(
        f"t+iceberg://{table}?as-of-timestamp={ts1}"
    )
    assert sorted(r.id for r in src.read(spark).collect()) == [0, 1, 2]
    # too-early timestamp raises
    with pytest.raises(ValueError, match="no iceberg snapshot"):
        snapshot_id_at_timestamp(_load_metadata(table), 0)
    # both params at once is an error
    _, src2 = resolve_source(
        f"t+iceberg://{table}?as-of-timestamp={ts1}&snapshot-id=1"
    )
    with pytest.raises(ValueError, match="at most one"):
        src2.read(spark)


def test_iceberg_merge_schema_appends_columns(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _current_schema,
        _load_metadata,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_evolve")
    write_iceberg_lite(
        spark.createDataFrame([(1, "a")], "id long, k string"), table
    )
    # plain append with extra column refuses, pointing at mergeSchema
    with pytest.raises(ValueError, match="mergeSchema"):
        write_iceberg_lite(
            spark.createDataFrame(
                [(2, "b", 2.5)], "id long, k string, score double"
            ),
            table, mode="append",
        )
    write_iceberg_lite(
        spark.createDataFrame(
            [(2, "b", 2.5)], "id long, k string, score double"
        ),
        table, mode="append", merge_schema=True,
    )
    got = {(r["id"], r["k"], r["score"])
           for r in read_iceberg_lite(spark, table).collect()}
    # pre-evolution rows read null for the added column
    assert got == {(1, "a", None), (2, "b", 2.5)}
    # prior field ids survived; the new column took a tail id
    fields = _current_schema(_load_metadata(table))["fields"]
    assert [(f["name"], f["id"]) for f in fields] == [
        ("id", 1), ("k", 2), ("score", 3),
    ]
    # a subsequent PLAIN append against the evolved schema still works
    # and regenerates the same ids
    _, sink = resolve_sink(f"s+iceberg://{table}?mode=append")
    sink.write(
        spark.createDataFrame(
            [(3, "c", 3.5)], "id long, k string, score double"
        )
    )
    assert read_iceberg_lite(spark, table).count() == 3
    fields2 = _current_schema(_load_metadata(table))["fields"]
    assert fields == fields2


def test_iceberg_merge_schema_cannot_retype_or_drop(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite

    table = str(tmp_path / "ice_evolve_guard")
    write_iceberg_lite(
        spark.createDataFrame([(1, "a")], "id long, k string"), table
    )
    with pytest.raises(ValueError, match="column types"):
        write_iceberg_lite(
            spark.createDataFrame(
                [(2, 2, 9.0)], "id long, k int, extra double"
            ),
            table, mode="append", merge_schema=True,
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg_lite(
            spark.createDataFrame([(2, 9.0)], "id long, extra double"),
            table, mode="append", merge_schema=True,
        )


def test_iceberg_upsert_replaces_matched_inserts_new(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_up")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5)], "id long, v double"
        ),
        table,
    )
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5, 10)], "id long, v double"
        ),
        table, mode="append",
    )
    stats = upsert_iceberg_lite(
        spark.createDataFrame(
            [(3, 300.0), (7, 700.0), (20, 20.0)], "id long, v double"
        ),
        table, on="id",
    )
    assert stats["rows_updated"] == 2 and stats["rows_inserted"] == 1
    assert stats["files_rewritten"] == 2  # both groups held a key
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {
        0: 0.0, 1: 1.0, 2: 2.0, 3: 300.0, 4: 4.0,
        5: 5.0, 6: 6.0, 7: 700.0, 8: 8.0, 9: 9.0, 20: 20.0,
    }
    # time travel: the pre-merge snapshot is intact
    meta_path = sorted(
        __import__("glob").glob(
            os.path.join(table, "metadata", "*.metadata.json")
        )
    )[-1]
    snaps = sorted(
        s["snapshot-id"]
        for s in json.load(open(meta_path))["snapshots"]
    )
    prev = read_iceberg_lite(spark, table, snapshot_id=snaps[1])
    assert {r["v"] for r in prev.filter("id = 3").collect()} == {3.0}


def test_iceberg_upsert_stats_with_duplicate_target_keys(spark, tmp_path):
    """rows_inserted is counted directly (source anti-join), not by
    subtraction: a target with duplicate keys (legal — only the source
    is validated unique) must not drive it negative."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_dup")
    # target holds id=1 three times
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, 1.0), (1, 1.1), (1, 1.2), (2, 2.0)], "id long, v double"
        ),
        table,
    )
    stats = upsert_iceberg_lite(
        spark.createDataFrame([(1, 100.0), (9, 9.0)], "id long, v double"),
        table, on="id",
    )
    assert stats["rows_inserted"] == 1  # only id=9 is new
    assert stats["rows_updated"] == 3  # three target rows replaced
    got = {(r["id"], r["v"]) for r in read_iceberg_lite(spark, table).collect()}
    assert got == {(1, 100.0), (2, 2.0), (9, 9.0)}


def test_iceberg_upsert_untouched_groups_not_rewritten(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        resolve_iceberg_files,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_up2")
    write_iceberg_lite(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), table
    )
    write_iceberg_lite(
        spark.createDataFrame([(2, 2.0)], "id long, v double"),
        table, mode="append",
    )
    before, _, _, _ = resolve_iceberg_files(spark, table)
    upsert_iceberg_lite(
        spark.createDataFrame([(2, 20.0)], "id long, v double"),
        table, on="id",
    )
    after, _, _, _ = resolve_iceberg_files(spark, table)
    # id=1's file survives verbatim (EXISTING)
    survivors = set(before) & set(after)
    assert len(survivors) == 1


def test_iceberg_upsert_partitioned_and_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_up3")
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
        ),
        table, partition_by=["part"],
    )
    _, sink = resolve_sink(
        f"s+iceberg://{table}?mode=upsert&merge-key=id"
    )
    sink.write(
        spark.createDataFrame(
            [(2, "b", 20.0), (3, "a", 3.0)], "id long, part string, v double"
        )
    )
    out = read_iceberg_lite(spark, table)
    got = {(r["id"], r["part"], r["v"]) for r in out.collect()}
    assert got == {(1, "a", 1.0), (2, "b", 20.0), (3, "a", 3.0)}
    # partition pruning still binds after the merge
    assert read_iceberg_lite(spark, table, where="part = 'a'").count() == 2


def test_iceberg_upsert_guards(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_up4")
    write_iceberg_lite(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), table
    )
    with pytest.raises(ValueError, match="unique"):
        upsert_iceberg_lite(
            spark.createDataFrame(
                [(1, 1.0), (1, 2.0)], "id long, v double"
            ),
            table, on="id",
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_iceberg_lite(
            spark.createDataFrame([(1,)], "id long"), table, on="id"
        )
    # live delete files are no longer a fence on unpartitioned tables:
    # the delete-aware rewrite applies them (deleted id=1 stays gone)
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    upsert_iceberg_lite(
        spark.createDataFrame([(2, 2.0)], "id long, v double"),
        table, on="id",
    )
    assert {r["id"] for r in read_iceberg_lite(spark, table).collect()} == {2}


def test_iceberg_apply_changes_latest_per_key(spark, tmp_path):
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        apply_changes_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cdc")
    write_iceberg_lite(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        table,
    )
    changes = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="update_postimage",
                _commit_version=1),
            Row(id=2, v=2.0, _change_type="delete", _commit_version=1),
            Row(id=3, v=3.0, _change_type="insert", _commit_version=1),
            # id=3 then updated in a later commit: latest wins
            Row(id=3, v=30.0, _change_type="update_postimage",
                _commit_version=2),
        ]
    )
    stats = apply_changes_iceberg_lite(changes, table, on="id")
    assert stats["rows_matched"] == 2  # ids 1 and 2 existed
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {1: 10.0, 3: 30.0}


def test_iceberg_compaction_applies_live_deletes(spark, tmp_path):
    """Compaction on an unpartitioned table with live merge-on-read
    deletes MATERIALIZES them: the new replace snapshot serves the same
    rows with zero delete files, and the stream reader still skips it
    (no double-delivery)."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cd")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id long, v double"
        ),
        table,
    )
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    delete_iceberg_lite(
        spark, table, "id = 4", mode="merge-on-read",
        equality_columns=["id"],
    )
    before = {(r["id"], r["v"])
              for r in read_iceberg_lite(spark, table).collect()}
    stats = compact_iceberg_lite(spark, table)
    assert stats["deletes_applied"] == 2
    after = {(r["id"], r["v"])
             for r in read_iceberg_lite(spark, table).collect()}
    assert after == before == {(0, 0.0), (2, 2.0), (3, 3.0), (5, 5.0)}
    # the new snapshot carries NO delete files
    _, pos_dels, eq_dels, _ = resolve_iceberg_files(spark, table)
    assert pos_dels == [] and eq_dels == []
    # and the previously-fenced COW upsert now runs on the clean table
    from spark_etl_cli_spark.sources.iceberg_lite import upsert_iceberg_lite

    upsert_iceberg_lite(
        spark.createDataFrame([(0, 100.0)], "id long, v double"),
        table, on="id",
    )
    assert {
        r["v"] for r in read_iceberg_lite(
            spark, table
        ).filter("id = 0").collect()
    } == {100.0}


def test_iceberg_upsert_under_live_delete_files(spark, tmp_path):
    """Upsert on a table carrying merge-on-read deletes: affected files
    are re-read POST-delete (a DV'd-away row never resurrects), the
    untouched files keep their deletes applying via carried delete
    manifests, and a key deleted by an equality delete then upserted
    again comes back."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_mor_up")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(4)], "id long, v double"
        ),
        table,
    )
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(4, 8)], "id long, v double"
        ),
        table, mode="append",
    )
    # MoR position delete on file 1 (id=1), equality delete on id=5
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    delete_iceberg_lite(
        spark, table, "id = 5", mode="merge-on-read",
        equality_columns=["id"],
    )
    assert sorted(
        r["id"] for r in read_iceberg_lite(spark, table).collect()
    ) == [0, 2, 3, 4, 6, 7]
    # upsert touches file 1 (id=2 update) and re-inserts deleted id=5
    stats = upsert_iceberg_lite(
        spark.createDataFrame(
            [(2, 200.0), (5, 500.0), (9, 9.0)], "id long, v double"
        ),
        table, on="id",
    )
    assert stats["rows_updated"] == 1  # only id=2 matched live rows
    assert stats["rows_inserted"] == 2  # id=5 (deleted) and id=9 (new)
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {0: 0.0, 2: 200.0, 3: 3.0, 4: 4.0,
                   5: 500.0, 6: 6.0, 7: 7.0, 9: 9.0}
    # id=1 (position-deleted, in the REWRITTEN file) did not resurrect;
    # the equality delete still applies to untouched older files but
    # not to the new higher-sequence files carrying id=5
    assert 1 not in got


def test_iceberg_partitioned_upsert_and_compaction_under_deletes(
    spark, tmp_path
):
    """The delete-aware paths work on identity-PARTITIONED tables:
    rewrites split per partition (manifest partition values intact, so
    ?where= pruning still works) and compaction materializes the
    deletes partition-by-partition."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_part_del")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, "a" if i < 3 else "b", float(i)) for i in range(6)],
            "id long, part string, v double",
        ),
        table, partition_by=["part"],
    )
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    stats = upsert_iceberg_lite(
        spark.createDataFrame(
            [(2, "a", 200.0), (9, "b", 9.0)], "id long, part string, v double"
        ),
        table, on="id",
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {(r["id"], r["part"], r["v"])
           for r in read_iceberg_lite(spark, table).collect()}
    assert got == {(0, "a", 0.0), (2, "a", 200.0), (3, "b", 3.0),
                   (4, "b", 4.0), (5, "b", 5.0), (9, "b", 9.0)}
    # partition pruning still serves the right slices post-rewrite
    only_a = read_iceberg_lite(spark, table, where="part = 'a'")
    assert {r["id"] for r in only_a.collect()} == {0, 2}
    # file-level proof: poison every data file the a-partition resolves
    # to; the pruned b-read never opens them
    a_files, _, _, _ = resolve_iceberg_files(
        spark, table, where="part = 'a'"
    )
    backups = {}
    for f in a_files:
        backups[f] = open(f, "rb").read()
        with open(f, "wb") as fh:
            fh.write(b"poisoned")
    assert {
        r["id"]
        for r in read_iceberg_lite(
            spark, table, where="part = 'b'"
        ).collect()
    } == {3, 4, 5, 9}
    for f, data in backups.items():
        with open(f, "wb") as fh:
            fh.write(data)
    # delete-applying compaction on the partitioned layout
    delete_iceberg_lite(spark, table, "id = 4", mode="merge-on-read")
    cstats = compact_iceberg_lite(spark, table)
    assert cstats["deletes_applied"] >= 1
    after = {(r["id"], r["part"])
             for r in read_iceberg_lite(spark, table).collect()}
    assert after == {(0, "a"), (2, "a"), (3, "b"), (5, "b"), (9, "b")}
    _, pos_dels, eq_dels, _ = resolve_iceberg_files(spark, table)
    assert pos_dels == [] and eq_dels == []
    assert {
        r["id"]
        for r in read_iceberg_lite(
            spark, table, where="part = 'b'"
        ).collect()
    } == {3, 5, 9}


def test_iceberg_apply_changes_under_live_delete_files(spark, tmp_path):
    """CDC apply on a table with live merge-on-read deletes: one
    overwrite snapshot, deletes delete, updates update, inserts
    insert, and previously-deleted rows stay gone."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        apply_changes_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_mor_cdc")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5)], "id long, v double"
        ),
        table,
    )
    delete_iceberg_lite(spark, table, "id = 0", mode="merge-on-read")
    changes = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="update_postimage",
                _commit_version=1),
            Row(id=2, v=2.0, _change_type="delete", _commit_version=1),
            Row(id=7, v=7.0, _change_type="insert", _commit_version=1),
        ]
    )
    stats = apply_changes_iceberg_lite(changes, table, on="id")
    assert stats["rows_matched"] == 2  # ids 1 and 2 live-matched
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {1: 10.0, 3: 3.0, 4: 4.0, 7: 7.0}


def test_iceberg_apply_changes_sequence_rules(spark, tmp_path):
    """No-sequence ambiguous batches raise; an explicit transport
    sequence column orders within key and stays out of the table."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        apply_changes_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cdc_seq")
    write_iceberg_lite(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), table
    )
    ambiguous = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="insert"),
            Row(id=1, v=10.0, _change_type="delete"),
        ]
    )
    with pytest.raises(ValueError, match="no sequence"):
        apply_changes_iceberg_lite(ambiguous, table, on="id")
    seq = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="delete", ts_ms=200),
            Row(id=1, v=10.0, _change_type="insert", ts_ms=100),
            Row(id=2, v=2.0, _change_type="insert", ts_ms=100),
        ]
    )
    apply_changes_iceberg_lite(seq, table, on="id", sequence_col="ts_ms")
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {2: 2.0}
    assert set(read_iceberg_lite(spark, table).columns) == {"id", "v"}


def test_cross_format_cdc_delta_to_iceberg(spark, tmp_path):
    """delta CDF stream -> iceberg ?mode=cdc sink: the iceberg replica
    tracks the delta source across incremental runs."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.registry import resolve_sink, resolve_source
    from spark_etl_cli_spark.sources.delta_lite import (
        delete_delta_lite,
        update_delta_lite,
        write_delta_lite,
    )
    from spark_etl_cli_spark.sources.iceberg_lite import read_iceberg_lite

    src_path = str(tmp_path / "delta_src")
    rep_path = str(tmp_path / "ice_rep")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4)]),
        src_path, properties={"delta.enableChangeDataFeed": "true"},
    )
    update_delta_lite(spark, src_path, "id = 2", {"v": "200.0"})
    delete_delta_lite(spark, src_path, "id = 1")

    def replicate():
        _, s = resolve_source(
            f"c+delta-stream://{src_path}?readChangeFeed=true"
        )
        _, sink = resolve_sink(
            f"r+iceberg://{rep_path}?mode=cdc&on=id"
            f"&checkpointLocation={tmp_path}/ckpt"
            "&trigger-interval=availableNow"
        )
        assert sink.write(s.read(spark)) is True
        for q in spark.streams.active:
            q.awaitTermination(180)

    replicate()
    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    def snap_delta():
        return {(r["id"], r["v"])
                for r in read_delta_lite(spark, src_path).collect()}

    def snap_ice():
        return {(r["id"], r["v"])
                for r in read_iceberg_lite(spark, rep_path).collect()}

    assert snap_ice() == snap_delta()
    # incremental: more source changes, resume from the checkpoint
    write_delta_lite(
        spark.createDataFrame([Row(id=9, v=9.0)]), src_path, mode="append"
    )
    delete_delta_lite(spark, src_path, "id = 3")
    replicate()
    assert snap_ice() == snap_delta()


def test_iceberg_refs_tag_read_and_expiry_pin(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import (
        expire_iceberg_snapshots,
        read_iceberg_lite,
        set_iceberg_ref,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_refs")
    write_iceberg_lite(spark.range(3).selectExpr("id"), table)
    set_iceberg_ref(table, "v1")  # tag the current snapshot
    write_iceberg_lite(
        spark.range(3, 6).selectExpr("id"), table, mode="append"
    )
    write_iceberg_lite(
        spark.range(6, 9).selectExpr("id"), table, mode="append"
    )
    # read the tag
    _, src = resolve_source(f"t+iceberg://{table}?ref=v1")
    assert sorted(r.id for r in src.read(spark).collect()) == [0, 1, 2]
    # 'main' resolves without an explicit ref
    _, main = resolve_source(f"t+iceberg://{table}?ref=main")
    assert main.read(spark).count() == 9
    # expiry keeps the tagged snapshot alive
    stats = expire_iceberg_snapshots(table, keep_last=1)
    assert stats["expired"] == 1  # only the untagged middle snapshot
    assert sorted(
        r.id for r in src.read(spark).collect()
    ) == [0, 1, 2]
    assert read_iceberg_lite(spark, table).count() == 9
    # unknown refs raise with the known list
    _, bad = resolve_source(f"t+iceberg://{table}?ref=nope")
    with pytest.raises(ValueError, match="unknown iceberg ref"):
        bad.read(spark)


def test_iceberg_tag_via_maintenance_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite

    table = str(tmp_path / "ice_tag_uri")
    write_iceberg_lite(spark.range(2).selectExpr("id"), table)
    _, tag = resolve_source(f"rep+iceberg-tag://{table}?name=rel&type=branch")
    row = tag.read(spark).head()
    assert row["ref"] == "rel" and row["snapshot_id"] > 0
    _, src = resolve_source(f"t+iceberg://{table}?ref=rel")
    assert src.read(spark).count() == 2


def test_iceberg_changelog_appends_and_cow_delete(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_changes,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cl")
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, v double"
        ).coalesce(1),  # one file, so the delete rewrites a survivor
        table,
    )
    write_iceberg_lite(
        spark.createDataFrame([(3, 3.0)], "id long, v double"),
        table, mode="append",
    )
    ch = read_iceberg_changes(spark, table)
    rows = {(r["id"], r["_change_type"]) for r in ch.collect()}
    assert rows == {(1, "insert"), (2, "insert"), (3, "insert")}
    assert {"_snapshot_id", "_commit_timestamp"} <= set(ch.columns)
    # bounded range: only the second snapshot
    meta_sids = sorted({r["_snapshot_id"] for r in ch.collect()})
    ch1 = read_iceberg_changes(spark, table, from_snapshot=meta_sids[0])
    assert {(r["id"], r["_change_type"]) for r in ch1.collect()} == {
        (3, "insert")
    }
    # COW delete: file-level derivation (delete old file rows, insert
    # survivors) — the engine's changelog shape
    delete_iceberg_lite(spark, table, "id = 1")
    ch2 = read_iceberg_changes(spark, table, from_snapshot=meta_sids[-1])
    got = {(r["id"], r["_change_type"]) for r in ch2.collect()}
    assert (1, "delete") in got
    assert (2, "insert") in got and (2, "delete") in got  # survivor rewrite
    assert (1, "insert") not in got


def test_iceberg_changelog_mor_deletes_resolve_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_changes,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cl_mor")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, "k" + str(i % 2)) for i in range(6)], "id long, k string"
        ),
        table,
    )
    sids0 = sorted(
        s["snapshot-id"]
        for s in __import__("json").load(
            open(sorted(__import__("glob").glob(
                os.path.join(table, "metadata", "*.metadata.json")
            ))[-1])
        )["snapshots"]
    )
    delete_iceberg_lite(spark, table, "id in (1, 4)", mode="merge-on-read")
    delete_iceberg_lite(
        spark, table, "id = 0", mode="merge-on-read",
        equality_columns=["k"],
    )
    ch = read_iceberg_changes(spark, table, from_snapshot=sids0[-1])
    got = sorted(
        (r["id"], r["_change_type"]) for r in ch.collect()
    )
    # pos delete removed 1 and 4; the equality delete (k='k0') removed
    # the remaining even ids 0 and 2 (4 was already dead)
    assert got == [(0, "delete"), (1, "delete"), (2, "delete"),
                   (4, "delete")]


def test_iceberg_changelog_skips_compaction_and_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cl_c")
    write_iceberg_lite(spark.range(2).selectExpr("id"), table)
    write_iceberg_lite(
        spark.range(2, 4).selectExpr("id"), table, mode="append"
    )
    compact_iceberg_lite(spark, table, min_files=2)
    _, src = resolve_source(f"c+iceberg://{table}?changelog=true")
    rows = [(r["id"], r["_change_type"]) for r in src.read(spark).collect()]
    # compaction contributes NOTHING; each row appears exactly once
    assert sorted(rows) == [(0, "insert"), (1, "insert"),
                            (2, "insert"), (3, "insert")]


def test_iceberg_bucket_transform_pruning(spark, tmp_path):
    """?where= equality pruning over a NON-identity partition spec
    (bucket[4] on id, truncate[2] on name): the reader evaluates the
    spec transforms (murmur3 per the Iceberg spec) on the literal and
    prunes the manifest entries — proven file-level by poisoning the
    non-matching buckets' files."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        resolve_iceberg_files,
    )
    from spark_etl_cli_spark.sources.iceberg_transforms import (
        apply_transform,
    )

    table = str(tmp_path / "ice_bucketed")
    os.makedirs(table)
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    # four data files, one per (bucket(id), truncate(name)) combo
    rows = [(1, "alpha"), (2, "beta"), (34, "gamma"), (100, "delta")]
    part_schema = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": "id_bucket", "type": ["null", "int"]},
            {"name": "name_trunc", "type": ["null", "string"]},
        ],
    }
    mschema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": ["null", "int"]},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "partition", "type": part_schema},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
    entries = []
    files_of = {}
    for i, (rid, name) in enumerate(rows):
        p = os.path.join(table, f"f{i}.parquet")
        spark.createDataFrame([(rid, name)], "id long, name string") \
            .coalesce(1).write.mode("overwrite").parquet(p + ".d")
        import glob as g
        import shutil

        piece = next(
            f for f in g.glob(os.path.join(p + ".d", "*.parquet"))
        )
        shutil.move(piece, p)
        shutil.rmtree(p + ".d")
        pv = {
            "id_bucket": apply_transform("bucket[4]", rid, "long"),
            "name_trunc": apply_transform("truncate[2]", name, "string"),
        }
        files_of[rid] = (p, pv)
        entries.append({
            "status": 1,
            "snapshot_id": 1,
            "data_file": {
                "content": 0,
                "file_path": p,
                "file_format": "PARQUET",
                "partition": pv,
                "record_count": 1,
                "file_size_in_bytes": os.path.getsize(p),
            },
        })
    manifest = os.path.join(meta_dir, "manifest-1.avro")
    write_container(manifest, mschema, iter(entries))
    mlist = os.path.join(meta_dir, "snap-1.avro")
    write_container(
        mlist,
        _MANIFEST_LIST_SCHEMA,
        iter([{
            "manifest_path": manifest,
            "manifest_length": os.path.getsize(manifest),
            "partition_spec_id": 0,
            "content": 0,
            "added_snapshot_id": 1,
        }]),
    )
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000102",
        "location": table,
        "current-snapshot-id": 1,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "name", "required": False,
                 "type": "string"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1000},
                {"name": "name_trunc", "transform": "truncate[2]",
                 "source-id": 2, "field-id": 1001},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [{
            "snapshot-id": 1, "manifest-list": mlist, "timestamp-ms": 1,
        }],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)

    # the full read serves all rows (files carry the real columns)
    assert {
        (r["id"], r["name"])
        for r in read_iceberg_lite(spark, table).collect()
    } == set(rows)
    # equality predicate prunes via BOTH transforms: only files whose
    # recorded bucket(34) AND truncate('gamma') agree survive
    kept, _, _, _ = resolve_iceberg_files(
        spark, table, where="id = 34 AND name = 'gamma'"
    )
    assert files_of[34][0] in kept
    assert all(
        p == files_of[34][0]
        or (files_of_pv := next(
            pv for q, (fp, pv) in files_of.items() if fp == p
        ))["id_bucket"] == files_of[34][1]["id_bucket"]
        and files_of_pv["name_trunc"] == files_of[34][1]["name_trunc"]
        for p in kept
    )
    # file-level poison proof on the definitely-pruned files
    for rid, (p, pv) in files_of.items():
        if p in kept:
            continue
        with open(p, "wb") as fh:
            fh.write(b"poisoned")
    got = read_iceberg_lite(
        spark, table, where="id = 34 AND name = 'gamma'"
    )
    assert {(r["id"], r["name"]) for r in got.collect()} == {(34, "gamma")}
    # a predicate shape the pruner must NOT touch (OR) keeps everything
    kept_or, _, _, _ = resolve_iceberg_files(
        spark, table, where="id = 34 OR id = 100"
    )
    assert len(kept_or) == len(rows)


def test_iceberg_append_into_transformed_spec_table(spark, tmp_path):
    """Appending to a table whose default spec is bucket[4](id) +
    truncate[2](name): the writer evaluates the transforms per row
    (spec murmur3 via the vectorized pandas_udf) so the NEW files land
    with prunable manifest partition values under the PRIOR spec."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.iceberg_transforms import (
        apply_transform,
    )

    table = str(tmp_path / "ice_tr_append")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000103",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "name", "required": False,
                 "type": "string"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1000},
                {"name": "name_trunc", "transform": "truncate[2]",
                 "source-id": 2, "field-id": 1001},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    rows = [(1, "alpha"), (2, "beta"), (34, "gamma"), (100, "delta")]
    write_iceberg_lite(
        spark.createDataFrame(rows, "id long, name string"), table,
        mode="append",
    )
    got = {(r["id"], r["name"])
           for r in read_iceberg_lite(spark, table).collect()}
    assert got == set(rows)
    # the prior spec survived the commit verbatim
    import glob as g

    latest = sorted(g.glob(os.path.join(meta_dir, "*.metadata.json")))[-1]
    m2 = json.load(open(latest))
    assert m2["partition-specs"][0]["fields"][0]["transform"] == "bucket[4]"
    # pruning works on the appended files: only bucket(34)+'ga' files
    kept, _, _, _ = resolve_iceberg_files(
        spark, table, where="id = 34 AND name = 'gamma'"
    )
    want_bucket = apply_transform("bucket[4]", 34, "long")
    other_bucket_rows = [
        (rid, n) for rid, n in rows
        if apply_transform("bucket[4]", rid, "long") != want_bucket
        or apply_transform("truncate[2]", n, "string") != "ga"
    ]
    assert other_bucket_rows  # the layout actually splits
    # poison everything not kept; the pruned read still answers
    all_files, _, _, _ = resolve_iceberg_files(spark, table)
    for p in set(all_files) - set(kept):
        with open(p, "wb") as fh:
            fh.write(b"poisoned")
    out = read_iceberg_lite(
        spark, table, where="id = 34 AND name = 'gamma'"
    )
    assert {(r["id"], r["name"]) for r in out.collect()} == {(34, "gamma")}


def test_iceberg_cow_delete_on_transformed_spec(spark, tmp_path):
    """Copy-on-write DELETE on a bucket[4]-partitioned table: affected
    buckets rewrite under their RECORDED partition tuple (transforms
    are deterministic on source columns, so the tuple can't change),
    untouched buckets stay EXISTING, and equality pruning still works
    after the rewrite."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.iceberg_transforms import (
        apply_transform,
    )

    table = str(tmp_path / "ice_tr_del")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000104",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    rows = [(i, float(i)) for i in range(12)]
    write_iceberg_lite(
        spark.createDataFrame(rows, "id long, v double"), table,
        mode="append",
    )
    files_before, _, _, _ = resolve_iceberg_files(spark, table)
    # delete two specific ids (they live in specific buckets)
    stats = delete_iceberg_lite(spark, table, "id IN (3, 7)")
    assert stats["rows_deleted"] == 2
    got = sorted(r["id"] for r in read_iceberg_lite(spark, table).collect())
    assert got == [i for i in range(12) if i not in (3, 7)]
    # untouched buckets kept their original files (EXISTING, no rewrite)
    files_after, _, _, _ = resolve_iceberg_files(spark, table)
    touched_buckets = {
        apply_transform("bucket[4]", i, "long") for i in (3, 7)
    }
    untouched_before = [
        p for p in files_before
        if all(f"id_bucket={b}" not in p for b in touched_buckets)
    ]
    # every untouched original file is still live post-delete
    assert set(untouched_before) <= set(files_after)
    # pruning still evaluates the transform on the rewritten layout
    kept, _, _, _ = resolve_iceberg_files(spark, table, where="id = 5")
    b5 = apply_transform("bucket[4]", 5, "long")
    all_pv = dict.fromkeys(files_after)
    assert len(kept) < len(files_after)
    assert {r["id"] for r in read_iceberg_lite(
        spark, table, where="id = 5"
    ).collect()} == {5}


def test_iceberg_cow_upsert_on_transformed_spec(spark, tmp_path):
    """UPSERT on a bucket[4]-partitioned table: matched buckets rewrite
    under their recorded tuple, inserts split by the evaluated
    transform, and the whole table stays prunable."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        resolve_iceberg_files,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_tr_up")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000105",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        ),
        table, mode="append",
    )
    stats = upsert_iceberg_lite(
        spark.createDataFrame(
            [(3, 300.0), (42, 42.0)], "id long, v double"
        ),
        table, on="id",
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {**{i: float(i) for i in range(8) if i != 3},
                   3: 300.0, 42: 42.0}
    # the inserted row is prunable by its bucket
    kept, _, _, _ = resolve_iceberg_files(spark, table, where="id = 42")
    all_files, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(kept) < len(all_files)
    assert {r["id"] for r in read_iceberg_lite(
        spark, table, where="id = 42"
    ).collect()} == {42}


def test_iceberg_compaction_on_transformed_spec(spark, tmp_path):
    """Compaction bin-packs a bucket-partitioned table per recorded
    tuple; the row set is unchanged, pruning still works, and a
    delete-applying compaction on the same layout also splits by the
    evaluated transform."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_tr_comp")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000106",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[2]",
                 "source-id": 1, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    for batch in ([(i, float(i)) for i in range(4)],
                  [(i, float(i)) for i in range(4, 8)]):
        write_iceberg_lite(
            spark.createDataFrame(batch, "id long, v double"), table,
            mode="append",
        )
    before = {(r["id"], r["v"])
              for r in read_iceberg_lite(spark, table).collect()}
    files0, _, _, _ = resolve_iceberg_files(spark, table)
    stats = compact_iceberg_lite(spark, table, min_files=2)
    assert stats["files_removed"] >= 2
    after = {(r["id"], r["v"])
             for r in read_iceberg_lite(spark, table).collect()}
    assert after == before
    # pruning still works on the compacted layout
    kept, _, _, _ = resolve_iceberg_files(spark, table, where="id = 3")
    allf, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(kept) < len(allf)
    # delete-applying compaction on the transformed layout
    delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    cstats = compact_iceberg_lite(spark, table)
    assert cstats["deletes_applied"] == 1
    assert {r["id"] for r in read_iceberg_lite(spark, table).collect()} \
        == {i for i in range(8) if i != 2}
    _, pos_d, eq_d, _ = resolve_iceberg_files(spark, table)
    assert pos_d == [] and eq_d == []


def test_iceberg_apply_changes_on_transformed_spec(spark, tmp_path):
    """CDC apply on a bucket-partitioned table: deletes delete, updates
    update, inserts insert — with the rewrites keeping the recorded
    tuples and the inserts split by the evaluated transform."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        apply_changes_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_tr_cdc")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000107",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[2]",
                 "source-id": 1, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5)], "id long, v double"
        ),
        table, mode="append",
    )
    changes = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="update_postimage",
                _commit_version=1),
            Row(id=2, v=2.0, _change_type="delete", _commit_version=1),
            Row(id=9, v=9.0, _change_type="insert", _commit_version=1),
        ]
    )
    apply_changes_iceberg_lite(changes, table, on="id")
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {0: 0.0, 1: 10.0, 3: 3.0, 4: 4.0, 9: 9.0}
    # still prunable after the apply
    kept, _, _, _ = resolve_iceberg_files(spark, table, where="id = 9")
    allf, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(kept) < len(allf)


def test_iceberg_apply_changes_sequence_with_spaces_stays_out_of_table(
    spark, tmp_path
):
    """r6 ADVICE (low): seq_meta stored unstripped '?sequence=' tokens,
    so ' ts_ms' never matched and the transport column leaked into the
    written table rows."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.iceberg_lite import (
        apply_changes_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cdc_strip")
    write_iceberg_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), table
    )
    seq = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="update_postimage", ts_ms=200),
            Row(id=2, v=2.0, _change_type="insert", ts_ms=100),
        ]
    )
    apply_changes_iceberg_lite(seq, table, on="id", sequence_col="v, ts_ms")
    out = read_iceberg_lite(spark, table)
    assert "ts_ms" not in out.columns
    assert {r["id"]: r["v"] for r in out.collect()} == {1: 10.0, 2: 2.0}


def test_iceberg_transformed_insert_percent_values_stay_prunable(
    spark, tmp_path
):
    """r6 ADVICE (low): _transformed_split_write URL-decoded the hive
    dir segment and then _hive_value decoded AGAIN — a truncate value
    that itself contains a %XX-looking sequence (literal '%254') was
    double-decoded, corrupting the recorded manifest partition value
    and breaking equality pruning for those files."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        resolve_iceberg_files,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_tr_pct")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000115",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "name", "required": False,
                 "type": "string"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "name_trunc", "transform": "truncate[4]",
                 "source-id": 2, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "id long, name string"
        ),
        table, mode="append",
    )
    # the INSERT path of upsert goes through _transformed_split_write;
    # truncate[4]('%2541x') = '%254' — a valid %XX sequence post-decode
    upsert_iceberg_lite(
        spark.createDataFrame([(9, "%2541x")], "id long, name string"),
        table, on="id",
    )
    # recorded manifest value must be '%254' (single decode), so the
    # equality predicate keeps the new file and prunes the others —
    # poison everything else to prove the kept set is sufficient
    kept, _, _, _ = resolve_iceberg_files(
        spark, table, where="name = '%2541x'"
    )
    all_files, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(kept) < len(all_files)
    for p in set(all_files) - set(kept):
        with open(p, "wb") as fh:
            fh.write(b"poisoned")
    out = read_iceberg_lite(spark, table, where="name = '%2541x'")
    assert {(r["id"], r["name"]) for r in out.collect()} == {(9, "%2541x")}


def test_iceberg_transformed_upsert_and_cdc_under_live_deletes(
    spark, tmp_path
):
    """r6 fence closed: keyed rewrites (UPSERT + CDC apply) on a
    bucket-partitioned table carrying live position-delete files —
    affected buckets re-read through the delete-applying reader and
    rewrite under their raw recorded tuple, inserts split by the
    evaluated transform, untouched files keep their delete manifests
    carried, and pruning stays intact (poison-proven)."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        apply_changes_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_tr_del")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000125",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        ),
        table, mode="append",
    )
    # live position delete, then a keyed UPSERT on the same table
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    stats = upsert_iceberg_lite(
        spark.createDataFrame(
            [(3, 300.0), (42, 42.0)], "id long, v double"
        ),
        table, on="id",
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {**{i: float(i) for i in range(8) if i not in (1, 3)},
                   3: 300.0, 42: 42.0}
    # the deleted key stays deleted (untouched files carry their
    # delete manifests), and the insert is prunable by its bucket:
    # poison everything the id=42 predicate prunes away
    kept, _, _, _ = resolve_iceberg_files(spark, table, where="id = 42")
    all_files, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(kept) < len(all_files)
    backups = {}
    for p in set(all_files) - set(kept):
        backups[p] = open(p, "rb").read()
        with open(p, "wb") as fh:
            fh.write(b"poisoned")
    assert {r["id"] for r in read_iceberg_lite(
        spark, table, where="id = 42"
    ).collect()} == {42}
    for p, data in backups.items():
        with open(p, "wb") as fh:
            fh.write(data)
    # CDC apply under a fresh live delete on the transformed layout
    delete_iceberg_lite(spark, table, "id = 5", mode="merge-on-read")
    changes = spark.createDataFrame(
        [
            (0, 0.5, "update_postimage", 1),
            (2, None, "delete", 1),
            (77, 77.0, "insert", 1),
        ],
        "id long, v double, _change_type string, _commit_version long",
    )
    apply_changes_iceberg_lite(changes, table, on="id")
    after = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert after == {0: 0.5, 3: 300.0, 4: 4.0, 6: 6.0, 7: 7.0,
                     42: 42.0, 77: 77.0}


def test_iceberg_cow_delete_under_live_delete_files(spark, tmp_path):
    """r7 fence closed: copy-on-write DELETE on a table carrying live
    position-delete files — already-MOR-deleted rows neither match the
    predicate again nor resurrect, untouched files keep their delete
    manifests carried, and a no-match predicate commits nothing."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cow_del_under")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        ),
        table,
    )
    # live MOR delete of id=1, then a COW predicate delete of ids >= 6
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    stats = delete_iceberg_lite(spark, table, "id >= 6")
    assert stats["rows_deleted"] == 2
    got = {r["id"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {0, 2, 3, 4, 5}
    # the MOR-deleted row stayed deleted through the rewrite and a
    # no-match COW delete commits nothing
    v0 = stats
    zero = delete_iceberg_lite(spark, table, "id = 999")
    assert zero == {"files_rewritten": 0, "files_added": 0,
                    "rows_deleted": 0}
    # NULL-predicate rows are KEPT (SQL DELETE semantics)
    write_iceberg_lite(
        spark.createDataFrame([(None, 99.0)], "id long, v double"),
        table, mode="append",
    )
    delete_iceberg_lite(spark, table, "id = 0")
    got = {r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert 99.0 in got and 0.0 not in got


def test_iceberg_cow_delete_under_deletes_transformed_spec(spark, tmp_path):
    """Same composition on a bucket[4] spec: survivors rewrite under
    their raw recorded tuples and pruning stays intact."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_cow_del_tr")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000135",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1000},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        ),
        table, mode="append",
    )
    delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    stats = delete_iceberg_lite(spark, table, "v >= 6.0")
    assert stats["rows_deleted"] == 2
    got = {r["id"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {0, 1, 3, 4, 5}
    # equality pruning still works on the rewritten layout
    kept, _, _, _ = resolve_iceberg_files(spark, table, where="id = 4")
    allf, _, _, _ = resolve_iceberg_files(spark, table)
    assert len(kept) < len(allf)
    assert {r["id"] for r in read_iceberg_lite(
        spark, table, where="id = 4"
    ).collect()} == {4}


def test_iceberg_mixed_spec_rewrite_under_deletes_keeps_full_tuple(
    spark, tmp_path
):
    """Review finding (r7): a MIXED spec [identity(part), bucket[4](id)]
    with live delete files used to route to the identity-only branch,
    committing rewritten files with partition records MISSING the
    bucket field — pruning silently lost. The transformed path now
    takes every spec with any non-identity field; both tuple components
    must survive the rewrite (poison-proven for each dimension)."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        read_iceberg_lite,
        resolve_iceberg_files,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_mixed_spec")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000145",
        "location": table,
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "part", "required": False,
                 "type": "string"},
                {"id": 3, "name": "v", "required": False, "type": "double"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"name": "part", "transform": "identity",
                 "source-id": 2, "field-id": 1000},
                {"name": "id_bucket", "transform": "bucket[4]",
                 "source-id": 1, "field-id": 1001},
            ],
        }],
        "default-spec-id": 0,
        "snapshots": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, "a" if i < 4 else "b", float(i)) for i in range(8)],
            "id long, part string, v double",
        ),
        table, mode="append",
    )
    delete_iceberg_lite(spark, table, "id = 0", mode="merge-on-read")
    stats = upsert_iceberg_lite(
        spark.createDataFrame(
            [(2, "a", 200.0), (42, "b", 42.0)], "id long, part string, v double"
        ),
        table, on="id",
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {**{i: float(i) for i in range(1, 8) if i != 2},
                   2: 200.0, 42: 42.0}
    # BOTH tuple dimensions still prune: the identity part AND the
    # bucket — poison everything outside each predicate's kept set
    for where, want in [("part = 'a' AND id = 2", {2}),
                        ("id = 42", {42})]:
        kept, _, _, _ = resolve_iceberg_files(spark, table, where=where)
        allf, _, _, _ = resolve_iceberg_files(spark, table)
        assert len(kept) < len(allf), where
        backups = {}
        for p in set(allf) - set(kept):
            backups[p] = open(p, "rb").read()
            with open(p, "wb") as fh:
                fh.write(b"poisoned")
        assert {r["id"] for r in read_iceberg_lite(
            spark, table, where=where
        ).collect()} == want, where
        for p, data in backups.items():
            with open(p, "wb") as fh:
                fh.write(data)


def test_iceberg_upsert_runs_one_probe_and_one_write(
    spark, tmp_path, sql_executions
):
    """An upsert into a live table runs exactly two SQL executions: the
    probe (key gate, files to rewrite, matched keys) and one write of
    the kept and the incoming rows. One that creates the table runs
    one."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        read_iceberg_lite,
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    table = str(tmp_path / "ice_budget")
    schema = "id long, v double"
    write_iceberg_lite(
        spark.createDataFrame([(i, float(i)) for i in range(5)], schema),
        table,
    )
    write_iceberg_lite(
        spark.createDataFrame([(i, float(i)) for i in range(5, 10)], schema),
        table, mode="append",
    )
    src = spark.createDataFrame([(3, 30.0), (8, 80.0), (20, 2.0)], schema)
    stats, n = sql_executions(upsert_iceberg_lite, src, table, on="id")
    assert n == 2
    assert (stats["rows_updated"], stats["rows_inserted"]) == (2, 1)
    assert stats["files_rewritten"] == 2
    got = {r["id"]: r["v"] for r in read_iceberg_lite(spark, table).collect()}
    assert got == {
        **{i: float(i) for i in range(10)}, 3: 30.0, 8: 80.0, 20: 2.0
    }

    stats, n = sql_executions(
        upsert_iceberg_lite, src, str(tmp_path / "ice_new"), on="id"
    )
    assert n == 1 and stats["rows_inserted"] == 3


def test_iceberg_upsert_bad_keys_raise_before_anything_commits(
    spark, tmp_path, files_under
):
    """NULL or duplicate incoming keys raise the same ValueError into a
    live table and into a missing one; the table keeps its snapshot and
    gains no file, also when the gate fails inside the write job."""
    import re

    from spark_etl_cli_spark.sources.iceberg_lite import (
        upsert_iceberg_lite,
        write_iceberg_lite,
    )

    live = str(tmp_path / "live")
    schema = "id long, v double"
    write_iceberg_lite(spark.createDataFrame([(1, 1.0)], schema), live)
    msg = (
        "iceberg upsert: incoming 'id' values must be unique and non-null; "
        "first offender: {}"
    )
    cases = [
        ([(None, 1.0)], msg.format("None")),
        ([(2, 1.0), (2, 2.0)], msg.format("2")),
    ]
    for path in (live, str(tmp_path / "missing")):
        before = files_under(path)
        for rows, text in cases:
            with pytest.raises(ValueError, match=re.escape(text)):
                upsert_iceberg_lite(
                    spark.createDataFrame(rows, schema), path, on="id"
                )
            assert files_under(path) == before
