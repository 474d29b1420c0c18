"""Row-level Delta ops: DELETE (copy-on-write + deletion-vector) and
key-matched MERGE/upsert (sources/delta_lite.py).

The reference has no row-level lakehouse ops (its delta connector wraps
engine jars); these extend the lite writer with the protocol shapes
real engines emit — remove/add rewrites, DV descriptors, MERGE commits.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from spark_etl_cli_spark.sources.delta_lite import (
    delete_delta_lite,
    read_delta_lite,
    write_delta_lite,
)


def _mk_table(spark, path, partitioned=True):
    """Two commits so every partition has ≥2 files."""
    rows1 = [Row(id=i, part="a" if i < 5 else "b", v=float(i)) for i in range(10)]
    rows2 = [Row(id=i, part="a" if i < 15 else "b", v=float(i)) for i in range(10, 20)]
    pb = ["part"] if partitioned else None
    write_delta_lite(spark.createDataFrame(rows1), path, partition_by=pb)
    write_delta_lite(spark.createDataFrame(rows2), path, mode="append", partition_by=pb)


def _data_files(path):
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _active_paths(spark, path):
    from spark_etl_cli_spark.sources.delta_lite import _replay

    adds, _ = _replay(spark, path)
    return {a["path"]: a for a in adds}


def test_delete_cow_rewrites_only_affected_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    before = _active_paths(spark, path)
    untouched = {p for p in before if p.startswith("part=b")}

    stats = delete_delta_lite(spark, path, "part = 'a' and id < 3")
    assert stats["rows_deleted"] == 3
    # only partition-a files holding ids 0-2 rewritten; partition b intact
    after = _active_paths(spark, path)
    assert untouched <= set(after)
    got = sorted(
        r["id"] for r in read_delta_lite(spark, path).collect()
    )
    assert got == sorted(set(range(20)) - {0, 1, 2})
    # time travel still sees the deleted rows
    v1 = read_delta_lite(spark, path, version_as_of=1)
    assert v1.count() == 20


def test_delete_never_opens_other_partitions_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    # poison partition-a files: a scan that OPENS them would crash.
    # A partition-equality conjunct must keep them unread — either via
    # log-level file pruning (partition-only predicate) or via Catalyst
    # constant-folding the per-group partition literals (mixed
    # predicate: lit('a') = 'b' folds to an empty subtree, zero I/O).
    for p in _active_paths(spark, path):
        if p.startswith("part=a"):
            with open(os.path.join(path, p), "wb") as fh:
                fh.write(b"not parquet")
    stats = delete_delta_lite(spark, path, "part = 'b' and id >= 18")
    assert stats["rows_deleted"] == 2
    rows = read_delta_lite(spark, path, where="part = 'b'").collect()
    # partition b held {5..9, 15..19}; 18 and 19 are gone
    assert sorted(r["id"] for r in rows) == [5, 6, 7, 8, 9, 15, 16, 17]


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [Row(id=1, v=1.0), Row(id=2, v=None), Row(id=3, v=9.0)]
    )
    write_delta_lite(df, path)
    stats = delete_delta_lite(spark, path, "v > 5.0")
    assert stats["rows_deleted"] == 1
    assert sorted(r["id"] for r in read_delta_lite(spark, path).collect()) == [1, 2]


def test_delete_no_match_is_a_noop_commit_free(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    log = os.path.join(path, "_delta_log")
    n_before = len(os.listdir(log))
    stats = delete_delta_lite(spark, path, "id > 1000")
    assert stats["rows_deleted"] == 0
    assert len(os.listdir(log)) == n_before  # no empty commit


def test_delete_with_deletion_vectors_rewrites_nothing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    files_before = _data_files(path)
    sizes_before = {p: os.path.getsize(p) for p in files_before}

    stats = delete_delta_lite(
        spark, path, "id in (1, 7, 11)", deletion_vectors=True
    )
    assert stats["rows_deleted"] == 3
    assert stats["files_added"] == 0
    # every pre-existing data file is still there, byte-identical size
    assert set(files_before) <= set(_data_files(path))
    for p, sz in sizes_before.items():
        assert os.path.getsize(p) == sz
    # a DV file landed
    assert any(
        f.startswith("deletion_vector_") for f in os.listdir(path)
    )
    got = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert got == sorted(set(range(20)) - {1, 7, 11})
    # protocol upgraded to table features + deletionVectors
    log = os.path.join(path, "_delta_log")
    protos = []
    for fname in sorted(os.listdir(log)):
        if not fname.endswith(".json"):
            continue
        with open(os.path.join(log, fname)) as fh:
            for line in fh:
                a = json.loads(line)
                if "protocol" in a:
                    protos.append(a["protocol"])
    assert protos[-1]["minReaderVersion"] == 3
    assert "deletionVectors" in protos[-1]["readerFeatures"]


def test_second_dv_delete_merges_with_existing_dv(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    delete_delta_lite(spark, path, "id = 1", deletion_vectors=True)
    stats = delete_delta_lite(spark, path, "id = 2", deletion_vectors=True)
    assert stats["rows_deleted"] == 1
    got = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert got == sorted(set(range(20)) - {1, 2})
    # time travel between the two deletes sees only the first
    v2 = read_delta_lite(spark, path, version_as_of=2)
    assert sorted(r["id"] for r in v2.collect()) == sorted(set(range(20)) - {1})


def test_cow_delete_on_dv_carrying_file_does_not_resurrect(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    delete_delta_lite(spark, path, "id = 3", deletion_vectors=True)
    # COW rewrite of the same file must keep id=3 dead
    delete_delta_lite(spark, path, "id = 4")
    got = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert got == sorted(set(range(20)) - {3, 4})


def test_upsert_replaces_matched_and_inserts_new(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    before = _active_paths(spark, path)
    # ids 0 and 11 exist (files in part=a and part=b); 100 is new
    up = spark.createDataFrame(
        [
            Row(id=0, part="a", v=-1.0),
            Row(id=11, part="b", v=-2.0),
            Row(id=100, part="b", v=-3.0),
        ]
    )
    write_delta_lite(up, path, mode="upsert", merge_key="id")
    rows = {r["id"]: r for r in read_delta_lite(spark, path).collect()}
    assert len(rows) == 21
    assert rows[0]["v"] == -1.0 and rows[11]["v"] == -2.0
    assert rows[100]["v"] == -3.0
    assert rows[5]["v"] == 5.0  # untouched row intact
    # files without matching keys were not rewritten
    after = _active_paths(spark, path)
    still_live = set(before) & set(after)
    assert still_live, "expected at least one untouched file to survive"
    # time travel: pre-merge snapshot unchanged
    v1 = read_delta_lite(spark, path, version_as_of=1)
    assert v1.count() == 20 and v1.filter("id = 0").head()["v"] == 0.0


def test_upsert_duplicate_or_null_keys_raise(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    dup = spark.createDataFrame(
        [Row(id=1, part="a", v=0.0), Row(id=1, part="a", v=1.0)]
    )
    with pytest.raises(ValueError, match="duplicate"):
        write_delta_lite(dup, path, mode="upsert", merge_key="id")
    nul = spark.createDataFrame(
        [(None, "a", 0.0)], "id long, part string, v double"
    )
    with pytest.raises(ValueError, match="NULL"):
        write_delta_lite(nul, path, mode="upsert", merge_key="id")


def test_upsert_creates_missing_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([Row(id=1, v=1.0)])
    write_delta_lite(df, path, mode="upsert", merge_key="id")
    assert read_delta_lite(spark, path).count() == 1


def test_upsert_via_sink_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    up = spark.createDataFrame([Row(id=0, part="z", v=99.0)])
    _, sink = resolve_sink(f"delta://{path}?mode=upsert&merge-key=id")
    sink.write(up)
    rows = {r["id"]: r for r in read_delta_lite(spark, path).collect()}
    assert rows[0]["part"] == "z" and len(rows) == 20


def test_delete_source_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    _, src = resolve_source(
        f"delta-delete://{path}?where=id%20%3C%202&deletion-vectors=true"
    )
    rep = src.read(spark).head()
    assert rep["rows_deleted"] == 2 and rep["deletion_vectors"] is True
    assert read_delta_lite(spark, path).count() == 18


def test_stream_fails_loudly_on_delete_commit_unless_skipped(spark, tmp_path):
    """Jar-less delta-stream on a table with a DELETE commit: fail with
    the protocol's data-update error by default; under
    ?skipChangeCommits=true the change commit is dropped whole (the
    documented Delta semantics) and append commits still flow."""
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.optional import _has_delta

    if _has_delta(spark):
        pytest.skip("delta-spark present: the jar path is the real one")
    path = str(tmp_path / "tbl")
    write_delta_lite(spark.range(4).selectExpr("id"), path)
    delete_delta_lite(spark, path, "id = 1")
    write_delta_lite(
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

    with pytest.raises(Exception, match="skipChangeCommits"):
        run(
            f"s+delta-stream://{path}",
            str(tmp_path / "o1"), str(tmp_path / "c1"),
        )
    out = str(tmp_path / "o2")
    run(
        f"s+delta-stream://{path}?skipChangeCommits=true",
        out, str(tmp_path / "c2"),
    )
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    # commit 0's append (0-3) and commit 2's append (10, 11) flow; the
    # DELETE commit's rewrite is skipped whole — id=1 was delivered by
    # commit 0 before it was deleted (additions-only stream, not CDC)
    assert got == [0, 1, 2, 3, 10, 11]


def test_update_rewrites_matched_rows_only(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import update_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    before = _active_paths(spark, path)
    stats = update_delta_lite(
        spark, path, "part = 'a' and id < 3", {"v": "v * 100"}
    )
    assert stats["rows_updated"] == 3
    rows = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert rows[0] == 0.0 and rows[1] == 100.0 and rows[2] == 200.0
    assert rows[3] == 3.0 and rows[15] == 15.0  # untouched
    # partition-b files were never rewritten
    after = _active_paths(spark, path)
    assert {p for p in before if p.startswith("part=b")} <= set(after)
    # time travel unaffected
    assert read_delta_lite(spark, path, version_as_of=1).filter(
        "id = 1"
    ).head()["v"] == 1.0


def test_update_set_and_predicate_see_original_row(spark, tmp_path):
    """SET a = b, b = a must SWAP (both read the pre-update row), and
    the predicate must not re-evaluate against updated values."""
    from spark_etl_cli_spark.sources.delta_lite import update_delta_lite

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10.0, 20.0)], "id long, a double, b double"
    )
    write_delta_lite(df, path)
    update_delta_lite(spark, path, "a < b", {"a": "b", "b": "a"})
    r = read_delta_lite(spark, path).head()
    assert (r["a"], r["b"]) == (20.0, 10.0)


def test_update_partition_column_moves_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import update_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    stats = update_delta_lite(spark, path, "id = 7", {"part": "'a'"})
    assert stats["rows_updated"] == 1
    moved = read_delta_lite(spark, path).filter("id = 7").head()
    assert moved["part"] == "a"
    # the row physically lives under part=a now
    got = read_delta_lite(spark, path, where="part = 'a'")
    assert 7 in {r["id"] for r in got.collect()}


def test_update_casts_back_to_column_type(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import update_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    # id is long; the SET expression yields a decimal-ish double — the
    # declared schema must win so the table never drifts
    update_delta_lite(spark, path, "id = 0", {"id": "1000.7"})
    df = read_delta_lite(spark, path)
    assert dict(df.dtypes)["id"] == "bigint"
    assert 1000 in {r["id"] for r in df.collect()}


def test_update_unknown_column_raises(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import update_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    with pytest.raises(ValueError, match="unknown columns"):
        update_delta_lite(spark, path, "id = 0", {"nope": "1"})


def test_update_source_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    _, src = resolve_source(
        f"delta-update://{path}?where=id%3D1&set.v=v%2B0.5"
    )
    rep = src.read(spark).head()
    assert rep["rows_updated"] == 1
    assert read_delta_lite(spark, path).filter("id = 1").head()["v"] == 1.5


def test_optimize_zorder_clusters_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): every file is rewritten
    (dataChange=false), the row set is unchanged, and the new layout
    actually clusters — each output file covers a narrow x-range AND a
    narrow y-range (that is the property parquet min/max stats prune
    on), unlike the random input layout."""
    import pyarrow.parquet as pq

    from spark_etl_cli_spark.sources.delta_lite import optimize_delta_lite

    path = str(tmp_path / "tbl")
    n = 4096
    # x random-ish, y anti-correlated: a single-column sort can't
    # cluster both; z-order can
    df = spark.range(n).selectExpr(
        "pmod(id * 2654435761, 4096) AS x",
        "pmod(id * 40503, 4096) AS y",
        "id AS payload",
    ).repartition(8)
    write_delta_lite(df, path)
    stats = optimize_delta_lite(
        spark, path, target_file_bytes=1 << 40, zorder_by=["x", "y"]
    )
    assert stats["files_removed"] >= 8
    after = read_delta_lite(spark, path)
    assert after.count() == n  # row set unchanged
    # span check: with one giant target size the rewrite lands in 1..k
    # files; force multiple output files via a tiny target instead
    optimize_delta_lite(
        spark, path, target_file_bytes=8 * 1024, zorder_by=["x", "y"]
    )
    active = _active_paths(spark, path)
    spans = []
    for rel in active:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        lo_x = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi_x = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        lo_y = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        hi_y = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        spans.append(((hi_x - lo_x) / 4096, (hi_y - lo_y) / 4096))
    assert len(spans) >= 4
    # random layout would give every file ~full span in both dims;
    # z-order keeps the AVERAGE span well under that in both
    avg_x = sum(s[0] for s in spans) / len(spans)
    avg_y = sum(s[1] for s in spans) / len(spans)
    assert avg_x < 0.8 and avg_y < 0.8, (avg_x, avg_y)


def test_optimize_zorder_rejects_bad_columns(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import optimize_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    with pytest.raises(ValueError, match="unknown columns"):
        optimize_delta_lite(spark, path, zorder_by=["nope"])
    with pytest.raises(ValueError, match="partition columns"):
        optimize_delta_lite(spark, path, zorder_by=["part"])


def test_vacuum_reclaims_superseded_dv_files_keeps_live(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import vacuum_delta_lite

    path = str(tmp_path / "tbl")
    # ONE data file so the second DV must merge-and-supersede the first
    write_delta_lite(
        spark.range(20).selectExpr("id", "cast(id as double) v").coalesce(1),
        path,
    )
    delete_delta_lite(spark, path, "id = 1", deletion_vectors=True)
    delete_delta_lite(spark, path, "id = 2", deletion_vectors=True)
    dvs = sorted(
        f for f in os.listdir(path) if f.startswith("deletion_vector_")
    )
    assert len(dvs) >= 2  # first DV superseded by the merged second
    reclaim = vacuum_delta_lite(spark, path, retention_hours=0.0)
    # superseded DV(s) are reclaimable; the live merged DV is NOT
    assert any(p.startswith("deletion_vector_") for p in reclaim)
    live_dvs = set(dvs) - set(reclaim)
    assert live_dvs
    vacuum_delta_lite(spark, path, retention_hours=0.0, dry_run=False)
    # table still reads correctly after the vacuum
    got = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert got == sorted(set(range(20)) - {1, 2})


def test_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    """A checkpoint written after a DV delete must carry the DV
    descriptors — dropping them silently resurrects the deleted rows
    for every reader that resumes from the checkpoint."""
    from spark_etl_cli_spark.sources.delta_lite import write_checkpoint

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    delete_delta_lite(
        spark, path, "id in (0, 1, 2, 3, 4)", deletion_vectors=True
    )
    before = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert before == list(range(5, 20))

    write_checkpoint(spark, path)
    # the read now resumes from the checkpoint (no JSON tail after it)
    after = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert after == before  # rows must NOT come back

    # and a post-checkpoint DV delete still merges correctly
    delete_delta_lite(spark, path, "id = 7", deletion_vectors=True)
    got = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert got == sorted(set(range(5, 20)) - {7})


def test_checkpoint_preserves_protocol_and_txn(spark, tmp_path):
    """The checkpoint must carry the table's CURRENT protocol (a DV
    table is reader 3 / writer 7 + features; hardcoding 1/2 strips the
    feature gate) and the latest SetTransaction per appId."""
    from spark_etl_cli_spark.sources.delta_lite import write_checkpoint

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    write_delta_lite(
        spark.createDataFrame([Row(id=99, part="b", v=9.0)]),
        path,
        mode="append",
        partition_by=["part"],
        txn_app_id="app-1",
        txn_version=41,
    )
    delete_delta_lite(spark, path, "id = 1", deletion_vectors=True)
    v = write_checkpoint(spark, path)

    cp = spark.read.parquet(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    proto = (
        cp.filter(F.col("protocol.minReaderVersion").isNotNull())
        .select("protocol")
        .head()[0]
        .asDict(recursive=True)
    )
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "deletionVectors" in (proto["readerFeatures"] or [])
    txns = {
        r[0]: r[1]
        for r in cp.filter(F.col("txn.appId").isNotNull())
        .select("txn.appId", "txn.version")
        .collect()
    }
    assert txns == {"app-1": 41}
    # DV descriptors present on exactly the deleted file's add row
    dv_adds = cp.filter(F.col("add.deletionVector.storageType").isNotNull())
    assert dv_adds.count() == 1


def test_normalize_add_df_tolerates_engine_extra_dv_fields(spark, tmp_path):
    """delta-spark checkpoints store deletionVector with a sixth field
    (maxRowIndex); DV subfields must be selected by name, not cast
    positionally."""
    from spark_etl_cli_spark.sources.delta_lite import _normalize_add_df

    df = spark.createDataFrame(
        [
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "size": 10,
                    "modificationTime": 1,
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": "ab<cd",
                        "offset": 1,
                        "sizeInBytes": 36,
                        "cardinality": 2,
                        "maxRowIndex": 99,
                    },
                }
            },
            {
                "add": {
                    "path": "f2.parquet",
                    "partitionValues": {},
                    "size": 10,
                    "modificationTime": 1,
                    "deletionVector": None,
                }
            },
        ],
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,"
        "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
        "offset:int,sizeInBytes:int,cardinality:bigint,maxRowIndex:bigint>>",
    )
    out = {r["path"]: r.asDict(recursive=True) for r in _normalize_add_df(df).collect()}
    assert out["f1.parquet"]["deletionVector"]["storageType"] == "u"
    assert out["f1.parquet"]["deletionVector"]["cardinality"] == 2
    assert "maxRowIndex" not in out["f1.parquet"]["deletionVector"]
    assert out["f2.parquet"]["deletionVector"] is None


# --- conditional MERGE ------------------------------------------------------


def test_merge_conditional_update_reads_both_sides(spark, tmp_path):
    """MERGE WHEN MATCHED THEN UPDATE SET v = target.v + source.v: only
    the SET column changes, non-matching rows and columns are verbatim,
    unmatched source rows insert."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame(
            [Row(id=i, part="a" if i < 5 else "b", v=float(i))
             for i in range(10)]
        ),
        path,
    )
    source = spark.createDataFrame(
        [Row(id=3, part="a", v=100.0), Row(id=42, part="b", v=1.0)]
    )
    stats = merge_delta_lite(
        source, path, on="id",
        update_set={"v": "target.v + source.v"},
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r["id"]: (r["part"], r["v"])
           for r in read_delta_lite(spark, path).collect()}
    assert got[3] == ("a", 103.0)  # SET read both sides
    assert got[42] == ("b", 1.0)   # inserted
    assert got[4] == ("a", 4.0)    # untouched matched-file neighbor
    assert len(got) == 11


def test_merge_matched_condition_limits_updates(spark, tmp_path):
    """WHEN MATCHED AND <cond>: matched rows failing the condition are
    NOT updated, and files whose matches all fail it are not rewritten."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    # two files: ids 0-4 and 5-9 (two commits)
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)]), path
    )
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5, 10)]),
        path, mode="append",
    )
    source = spark.createDataFrame(
        [Row(id=2, v=0.0), Row(id=7, v=50.0)]
    )
    stats = merge_delta_lite(
        source, path, on="id",
        update_set={"v": "source.v"},
        matched_condition="source.v > target.v",  # only id=7 passes
        insert=False,
    )
    assert stats["rows_updated"] == 1
    assert stats["files_rewritten"] == 1  # id=2's file untouched
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got[7] == 50.0 and got[2] == 2.0
    assert len(got) == 10  # insert=False: id-less source rows dropped


def test_merge_duplicate_or_null_source_keys_raise(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), path
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_delta_lite(
            spark.createDataFrame([Row(id=1, v=1.0), Row(id=1, v=2.0)]),
            path, on="id", update_set={"v": "source.v"},
        )
    with pytest.raises(ValueError, match="NULL"):
        merge_delta_lite(
            spark.createDataFrame([Row(id=None, v=1.0)], "id long, v double"),
            path, on="id", update_set={"v": "source.v"},
        )


def test_merge_set_casts_back_to_column_type(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    merge_delta_lite(
        spark.createDataFrame([Row(id=1, v=2.0)]), path, on="id",
        update_set={"v": "42"},  # int literal -> cast back to double
    )
    out = read_delta_lite(spark, path)
    assert dict(out.dtypes)["v"] == "double"
    assert out.collect()[0]["v"] == 42.0


def test_merge_creates_missing_table_when_inserting(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "new_tbl")
    stats = merge_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), path, on="id",
        update_set={"v": "source.v"},
    )
    assert stats["rows_inserted"] == 1
    assert read_delta_lite(spark, path).count() == 1


def test_merge_via_sink_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    _, sink = resolve_sink(
        f"s+delta://{path}?mode=merge&on=id&set.v=target.v %2B source.v"
    )
    sink.write(spark.createDataFrame([Row(id=2, v=10.0), Row(id=3, v=3.0)]))
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 1.0, 2: 12.0, 3: 3.0}


def test_zorder_pays_at_read_time_fewer_row_groups_match(spark, tmp_path):
    """Consumer-side proof that ZORDER pays: for a point-box predicate,
    count the parquet row groups whose min/max statistics overlap the
    box — exactly the statistic the reader's row-group pruning tests —
    in a z-ordered vs a linear (random-layout) copy of the SAME rows.
    The z-ordered table must expose far fewer matching row groups, and
    both tables must return identical query results."""
    import pyarrow.parquet as pq

    from spark_etl_cli_spark.sources.delta_lite import optimize_delta_lite

    n = 4096
    df = spark.range(n).selectExpr(
        "pmod(id * 2654435761, 4096) AS x",
        "pmod(id * 40503, 4096) AS y",
        "id AS payload",
    ).repartition(16)

    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zordered")
    write_delta_lite(df, linear)
    write_delta_lite(df, zordered)
    optimize_delta_lite(
        spark, zordered, target_file_bytes=8 * 1024, zorder_by=["x", "y"]
    )

    x_lo, x_hi, y_lo, y_hi = 100, 200, 100, 200

    def matching_row_groups(path):
        match = total = 0
        for rel in _active_paths(spark, path):
            md = pq.ParquetFile(os.path.join(path, rel)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            xi, yi = names.index("x"), names.index("y")
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                sx, sy = rg.column(xi).statistics, rg.column(yi).statistics
                total += 1
                if (sx.min <= x_hi and sx.max >= x_lo
                        and sy.min <= y_hi and sy.max >= y_lo):
                    match += 1
        return match, total

    lin_match, lin_total = matching_row_groups(linear)
    z_match, z_total = matching_row_groups(zordered)
    # random layout: essentially every row group spans the whole domain
    # and matches the box; z-order: only the box's neighborhood does
    assert lin_match == lin_total, (lin_match, lin_total)
    assert z_total >= 4
    assert z_match / z_total <= 0.5 * lin_match / lin_total, (
        z_match, z_total, lin_match, lin_total,
    )
    # and the pruning-relevant predicate returns identical rows
    pred = (
        f"x between {x_lo} and {x_hi} and y between {y_lo} and {y_hi}"
    )
    lin_rows = sorted(
        r["payload"]
        for r in read_delta_lite(spark, linear).filter(pred).collect()
    )
    z_rows = sorted(
        r["payload"]
        for r in read_delta_lite(spark, zordered).filter(pred).collect()
    )
    assert lin_rows == z_rows and lin_rows


def test_streaming_merge_sink_exactly_once(spark, tmp_path):
    """delta-stream ?mode=merge: each micro-batch is one conditional
    MERGE; a restarted run from the same checkpoint re-merges nothing
    (per-epoch txn), and the SET expression reads both sides."""
    path = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    spark.createDataFrame([Row(id=2, v=10.0), Row(id=3, v=3.0)]).write.parquet(src)
    stream = spark.readStream.schema("id long, v double").parquet(src)

    from spark_etl_cli_spark.registry import resolve_sink

    def run():
        _, sink = resolve_sink(
            f"s+delta-stream://{path}?mode=merge&on=id"
            "&set.v=target.v %2B source.v"
            f"&checkpointLocation={ckpt}&trigger-interval=availableNow"
        )
        assert sink.write(stream) is True
        for q in spark.streams.active:
            q.awaitTermination(120)

    run()
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 1.0, 2: 12.0, 3: 3.0}
    # restart with nothing new: no re-merge (2 would become 22.0)
    run()
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 1.0, 2: 12.0, 3: 3.0}


def test_streaming_upsert_sink(spark, tmp_path):
    """delta-stream ?mode=upsert&merge-key=: micro-batches replace by
    key instead of appending duplicates."""
    path = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    spark.createDataFrame([Row(id=2, v=20.0), Row(id=4, v=4.0)]).write.parquet(src)
    stream = spark.readStream.schema("id long, v double").parquet(src)

    from spark_etl_cli_spark.registry import resolve_sink

    _, sink = resolve_sink(
        f"s+delta-stream://{path}?mode=upsert&merge-key=id"
        f"&checkpointLocation={tmp_path}/ckpt&trigger-interval=availableNow"
    )
    assert sink.write(stream) is True
    for q in spark.streams.active:
        q.awaitTermination(120)
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 1.0, 2: 20.0, 4: 4.0}


# --- Change Data Feed -------------------------------------------------------


def _mk_cdf_table(spark, path):
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)]),
        path,
        properties={"delta.enableChangeDataFeed": "true"},
    )


def test_cdf_derives_inserts_from_appends(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import read_delta_changes

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    write_delta_lite(
        spark.createDataFrame([Row(id=9, v=9.0)]), path, mode="append"
    )
    ch = read_delta_changes(spark, path, starting_version=0)
    rows = {(r["id"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()}
    assert rows == {(i, "insert", 0) for i in range(5)} | {(9, "insert", 1)}
    assert "_commit_timestamp" in ch.columns
    # version-bounded read
    ch1 = read_delta_changes(spark, path, starting_version=1)
    assert [(r["id"], r["_change_type"]) for r in ch1.collect()] == [
        (9, "insert")
    ]


def test_cdf_update_writes_pre_and_post_images(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_changes,
        update_delta_lite,
    )

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    update_delta_lite(spark, path, "id = 2", {"v": "v * 10"})
    ch = read_delta_changes(spark, path, starting_version=1)
    rows = {(r["id"], r["v"], r["_change_type"]) for r in ch.collect()}
    assert rows == {
        (2, 2.0, "update_preimage"),
        (2, 20.0, "update_postimage"),
    }
    # cdc files landed under _change_data/
    assert os.path.isdir(os.path.join(path, "_change_data"))


def test_cdf_delete_records_deleted_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import read_delta_changes

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    # both delete strategies must produce the same change records
    delete_delta_lite(spark, path, "id = 1")
    delete_delta_lite(spark, path, "id = 3", deletion_vectors=True)
    ch = read_delta_changes(spark, path, starting_version=1)
    rows = {(r["id"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()}
    assert rows == {(1, "delete", 1), (3, "delete", 2)}


def test_cdf_merge_emits_all_three_kinds(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        merge_delta_lite,
        read_delta_changes,
    )

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    merge_delta_lite(
        spark.createDataFrame([Row(id=2, v=100.0), Row(id=50, v=50.0)]),
        path, on="id", update_set={"v": "source.v"},
    )
    ch = read_delta_changes(spark, path, starting_version=1)
    rows = {(r["id"], r["v"], r["_change_type"]) for r in ch.collect()}
    assert rows == {
        (2, 2.0, "update_preimage"),
        (2, 100.0, "update_postimage"),
        (50, 50.0, "insert"),
    }


def test_cdf_requires_the_table_property(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import read_delta_changes

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        read_delta_changes(spark, path, starting_version=0)


def test_cdf_via_uris(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink, resolve_source

    path = str(tmp_path / "tbl")
    _, sink = resolve_sink(f"s+delta://{path}?enableChangeDataFeed=true")
    sink.write(spark.createDataFrame([Row(id=1, v=1.0)]))
    _, sink2 = resolve_sink(
        f"s+delta://{path}?mode=merge&on=id&set.v=source.v"
    )
    sink2.write(spark.createDataFrame([Row(id=1, v=11.0)]))
    _, src = resolve_source(
        f"c+delta://{path}?readChangeFeed=true&startingVersion=1"
    )
    rows = {(r["id"], r["v"], r["_change_type"])
            for r in src.read(spark).collect()}
    assert rows == {
        (1, 1.0, "update_preimage"),
        (1, 11.0, "update_postimage"),
    }


# --- MERGE WHEN MATCHED THEN DELETE + CDC apply ------------------------------


def test_merge_composite_key(spark, tmp_path):
    """MERGE ON (k1, k2): a row matches only when EVERY key column
    matches; ?on=a,b works on the sink URI; duplicate composite keys
    in the source raise."""
    from spark_etl_cli_spark.registry import resolve_sink
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame(
            [
                Row(k1=1, k2="a", v=1.0),
                Row(k1=1, k2="b", v=2.0),
                Row(k1=2, k2="a", v=3.0),
            ]
        ),
        path,
    )
    src = spark.createDataFrame(
        [
            Row(k1=1, k2="a", v=10.0),   # matches (1,a) only
            Row(k1=2, k2="b", v=20.0),   # no match: inserts
        ]
    )
    stats = merge_delta_lite(
        src, path, on=["k1", "k2"], update_set={"v": "source.v"}
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {(r["k1"], r["k2"]): r["v"]
           for r in read_delta_lite(spark, path).collect()}
    assert got == {(1, "a"): 10.0, (1, "b"): 2.0,
                   (2, "a"): 3.0, (2, "b"): 20.0}
    # URI form with comma keys + full-sync clause
    _, sink = resolve_sink(
        f"s+delta://{path}?mode=merge&on=k1,k2&set.v=source.v"
        "&not-matched-by-source=delete"
    )
    sink.write(spark.createDataFrame([Row(k1=1, k2="b", v=200.0)]))
    got = {(r["k1"], r["k2"]): r["v"]
           for r in read_delta_lite(spark, path).collect()}
    assert got == {(1, "b"): 200.0}
    # duplicate COMPOSITE keys raise (distinct single columns are fine)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_delta_lite(
            spark.createDataFrame(
                [Row(k1=1, k2="b", v=1.0), Row(k1=1, k2="b", v=2.0)]
            ),
            path, on="k1,k2", update_set={"v": "source.v"},
        )


def test_merge_not_matched_by_source_delete_full_sync(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE — the full-sync idiom:
    after the merge the table equals the source exactly (updates +
    inserts + source-absent deletes in ONE commit)."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame(
            [Row(id=i, v=float(i)) for i in range(6)]
        ),
        path,
    )
    src = spark.createDataFrame(
        [Row(id=1, v=10.0), Row(id=3, v=3.0), Row(id=9, v=9.0)]
    )
    stats = merge_delta_lite(
        src, path, on="id",
        update_set={"v": "source.v"},
        not_matched_by_source="delete",
    )
    assert stats["rows_updated"] == 2
    assert stats["rows_inserted"] == 1
    assert stats["rows_deleted"] == 4  # ids 0,2,4,5
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 10.0, 3: 3.0, 9: 9.0}


def test_merge_not_matched_by_source_condition_and_update(spark, tmp_path):
    """The clause's condition gates it (only condition-true source-
    absent rows are touched), and the UPDATE variant rewrites instead
    of deleting — both referencing target columns only."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame(
            [Row(id=i, v=float(i), stale=False) for i in range(4)]
        ),
        path,
    )
    src = spark.createDataFrame([Row(id=0, v=0.5, stale=False)])
    # conditioned delete: only source-absent rows with v >= 2 go
    stats = merge_delta_lite(
        src, path, on="id",
        update_set={"v": "source.v"},
        not_matched_by_source="delete",
        not_matched_by_source_condition="target.v >= 2.0",
    )
    assert stats["rows_deleted"] == 2  # ids 2,3
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {0: 0.5, 1: 1.0}
    # UPDATE variant: source-absent rows get flagged, not deleted
    stats = merge_delta_lite(
        spark.createDataFrame([Row(id=0, v=0.7, stale=False)]),
        path, on="id",
        update_set={"v": "source.v"},
        not_matched_by_source="update",
        not_matched_by_source_set={"stale": "true"},
    )
    assert stats["rows_updated"] == 2  # id=0 matched, id=1 flagged
    rows = {r["id"]: (r["v"], r["stale"])
            for r in read_delta_lite(spark, path).collect()}
    assert rows == {0: (0.7, False), 1: (1.0, True)}
    # update variant without a SET is a contract error
    with pytest.raises(ValueError, match="not_matched_by_source_set"):
        merge_delta_lite(
            src, path, on="id", not_matched_by_source="update",
        )


def test_merge_not_matched_by_source_via_uri_and_cdf(spark, tmp_path):
    """?not-matched-by-source=delete on the merge sink URI; with CDF
    enabled the clause's deletes land in the change feed."""
    from spark_etl_cli_spark.registry import resolve_sink
    from spark_etl_cli_spark.sources.delta_lite import read_delta_changes

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]),
        path, properties={"delta.enableChangeDataFeed": "true"},
    )
    _, sink = resolve_sink(
        f"s+delta://{path}?mode=merge&on=id&set.v=source.v"
        "&not-matched-by-source=delete"
    )
    sink.write(spark.createDataFrame([Row(id=1, v=10.0)]))
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 10.0}
    cdf = read_delta_changes(spark, path, starting_version=1)
    kinds = {(r["id"], r["_change_type"]) for r in cdf.collect()}
    assert (2, "delete") in kinds
    assert (1, "update_postimage") in kinds


def test_merge_delete_clause_removes_matched_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    src = spark.createDataFrame(
        [
            Row(id=2, part="a", v=0.0),   # delete (flag in v)
            Row(id=7, part="b", v=70.0),  # update
            Row(id=99, part="b", v=99.0),  # insert
        ]
    )
    stats = merge_delta_lite(
        src, path, on="id",
        update_set={"v": "source.v"},
        delete_condition="source.v = 0.0",
    )
    assert stats["rows_deleted"] == 1
    assert stats["rows_updated"] == 1
    assert stats["rows_inserted"] == 1
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert 2 not in got
    assert got[7] == 70.0 and got[99] == 99.0
    # untouched rows survive
    assert got[0] == 0.0 and got[19] == 19.0


def test_merge_delete_clause_wins_over_update(spark, tmp_path):
    # a matched row satisfying BOTH conditions is deleted (clause order)
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    merge_delta_lite(
        spark.createDataFrame([Row(id=1, v=100.0)]), path, on="id",
        update_set={"v": "source.v"},
        matched_condition="source.v > 0",
        delete_condition="source.v > 50",
        insert=False,
    )
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {2: 2.0}


def test_merge_insert_condition_filters_new_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    stats = merge_delta_lite(
        spark.createDataFrame([Row(id=8, v=8.0), Row(id=9, v=-9.0)]),
        path, on="id", insert_condition="v > 0",
    )
    assert stats["rows_inserted"] == 1
    got = {r["id"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1, 8}


def test_merge_source_may_carry_extra_columns(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    src = spark.createDataFrame(
        [Row(id=1, v=10.0, _op="u"), Row(id=2, v=2.0, _op="i")]
    )
    merge_delta_lite(
        src, path, on="id", update_set={"v": "source.v"},
        matched_condition="source._op = 'u'",
    )
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 10.0, 2: 2.0}
    # the extra column never lands in the table
    assert set(read_delta_lite(spark, path).columns) == {"id", "v"}


def test_merge_delete_emits_cdf_delete_records(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        merge_delta_lite,
        read_delta_changes,
    )

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    merge_delta_lite(
        spark.createDataFrame([Row(id=1, v=-1.0), Row(id=2, v=22.0)]),
        path, on="id", update_set={"v": "source.v"},
        delete_condition="source.v < 0",
    )
    ch = read_delta_changes(spark, path, starting_version=1)
    rows = {(r["id"], r["v"], r["_change_type"]) for r in ch.collect()}
    assert rows == {
        (1, 1.0, "delete"),
        (2, 2.0, "update_preimage"),
        (2, 22.0, "update_postimage"),
    }


def test_apply_changes_latest_per_key_wins(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        apply_changes_delta_lite,
    )

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    changes = spark.createDataFrame(
        [
            # id=1: update then delete -> delete wins
            Row(id=1, v=10.0, _change_type="update_postimage",
                _commit_version=1),
            Row(id=1, v=10.0, _change_type="delete", _commit_version=2),
            # id=2: preimage rows are descriptive only
            Row(id=2, v=2.0, _change_type="update_preimage",
                _commit_version=1),
            Row(id=2, v=20.0, _change_type="update_postimage",
                _commit_version=1),
            # id=3: insert then update -> latest value lands
            Row(id=3, v=3.0, _change_type="insert", _commit_version=1),
            Row(id=3, v=30.0, _change_type="update_postimage",
                _commit_version=2),
            # id=4: insert then delete -> never appears
            Row(id=4, v=4.0, _change_type="insert", _commit_version=1),
            Row(id=4, v=4.0, _change_type="delete", _commit_version=2),
        ]
    )
    apply_changes_delta_lite(changes, path, on="id")
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {2: 20.0, 3: 30.0}


def test_apply_changes_ambiguous_batch_without_sequence_raises(
    spark, tmp_path
):
    """A batch with two applicable changes for one key and NO sequence
    (no _commit_version, no ?sequence=) must raise — any invented
    tie-break (change-type order) resurrects insert→delete keys."""
    from spark_etl_cli_spark.sources.delta_lite import (
        apply_changes_delta_lite,
    )

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    changes = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="insert"),
            Row(id=1, v=10.0, _change_type="delete"),
        ]
    )
    with pytest.raises(ValueError, match="no sequence"):
        apply_changes_delta_lite(changes, path, on="id")
    # unambiguous batches (≤1 applicable change per key) still apply
    ok = spark.createDataFrame(
        [
            Row(id=1, v=11.0, _change_type="update_postimage"),
            Row(id=2, v=2.0, _change_type="insert"),
        ]
    )
    apply_changes_delta_lite(ok, path, on="id")
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 11.0, 2: 2.0}


def test_apply_changes_explicit_sequence_col(spark, tmp_path):
    """?sequence=<col> orders a sequence-bearing CDC export (Debezium
    ts_ms style): the metadata column orders within key and stays out
    of the written rows; insert→delete under it deletes."""
    from spark_etl_cli_spark.sources.delta_lite import (
        apply_changes_delta_lite,
    )

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    changes = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="delete", ts_ms=200),
            Row(id=1, v=10.0, _change_type="insert", ts_ms=100),
            Row(id=2, v=2.0, _change_type="insert", ts_ms=100),
            Row(id=2, v=22.0, _change_type="update_postimage", ts_ms=300),
        ]
    )
    apply_changes_delta_lite(changes, path, on="id", sequence_col="ts_ms")
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {2: 22.0}
    assert set(read_delta_lite(spark, path).columns) == {"id", "v"}
    # an unknown sequence column is an explicit error
    with pytest.raises(ValueError, match="sequence column"):
        apply_changes_delta_lite(
            changes.drop("ts_ms"), path, on="id", sequence_col="nope"
        )


def test_apply_changes_creates_missing_table(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        apply_changes_delta_lite,
        read_delta_lite,
    )

    path = str(tmp_path / "tbl")
    changes = spark.createDataFrame(
        [
            Row(id=1, v=1.0, _change_type="insert", _commit_version=0),
            Row(id=2, v=2.0, _change_type="insert", _commit_version=0),
            Row(id=2, v=2.0, _change_type="delete", _commit_version=1),
        ]
    )
    apply_changes_delta_lite(changes, path, on="id")
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 1.0}
    # CDC bookkeeping columns never land in the replica schema
    assert set(read_delta_lite(spark, path).columns) == {"id", "v"}


# --- Change Data Feed STREAMING (sources/cdfstream.py) -----------------------


def _await_streams(spark, timeout=180):
    for q in spark.streams.active:
        q.awaitTermination(timeout)


def test_cdf_stream_matches_batch_read(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_changes,
        update_delta_lite,
    )

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    write_delta_lite(
        spark.createDataFrame([Row(id=9, v=9.0)]), path, mode="append"
    )
    update_delta_lite(spark, path, "id = 2", {"v": "v * 10"})
    delete_delta_lite(spark, path, "id = 1")

    _, src = resolve_source(f"c+delta-stream://{path}?readChangeFeed=true")
    q = (
        src.read(spark)
        .writeStream.format("memory")
        .queryName("cdf_stream_t1")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.sql("select * from cdf_stream_t1").collect()
    }
    batch = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in read_delta_changes(spark, path, starting_version=0).collect()
    }
    assert streamed == batch and streamed


def test_cdf_stream_resumes_from_checkpoint(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)

    out = str(tmp_path / "out")

    def run_once():
        _, src = resolve_source(
            f"c+delta-stream://{path}?readChangeFeed=true"
        )
        q = (
            src.read(spark)
            .writeStream.format("parquet")
            .option("path", out)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(out).collect()

    first = run_once()
    assert {r["_commit_version"] for r in first} == {0}
    delete_delta_lite(spark, path, "id = 3")
    second = run_once()
    # the sink accumulates; ONLY the new commit arrived after resume —
    # exactly-once (no version-0 re-delivery)
    assert len(second) == len(first) + 1
    assert {(r["id"], r["_change_type"], r["_commit_version"])
            for r in second}
    assert {(r["id"], r["_change_type"], r["_commit_version"])
            for r in second
            if r["_commit_version"] == 1} == {(3, "delete", 1)}


def test_cdf_stream_starting_version(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    _mk_cdf_table(spark, path)
    write_delta_lite(
        spark.createDataFrame([Row(id=7, v=7.0)]), path, mode="append"
    )
    _, src = resolve_source(
        f"c+delta-stream://{path}?readChangeFeed=true&startingVersion=1"
    )
    q = (
        src.read(spark)
        .writeStream.format("memory")
        .queryName("cdf_sv")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from cdf_sv").collect()
    assert {(r["id"], r["_change_type"], r["_commit_version"])
            for r in rows} == {(7, "insert", 1)}


def test_cdf_stream_requires_the_table_property(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    _, src = resolve_source(f"c+delta-stream://{path}?readChangeFeed=true")
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        df = src.read(spark)
        q = (
            df.writeStream.format("memory")
            .queryName("cdf_noprop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(60)
        raise RuntimeError("stream should have failed")


def test_cdc_replication_end_to_end(spark, tmp_path):
    """CDF stream of table A -> ?mode=cdc sink on table B keeps B == A,
    including across a second incremental run from the checkpoint —
    the reference's Test-1 self-checking shape (ETLTest.scala:92-128)
    applied to table replication."""
    from spark_etl_cli_spark.registry import resolve_sink, resolve_source
    from spark_etl_cli_spark.sources.delta_lite import (
        merge_delta_lite,
        update_delta_lite,
    )

    src_path = str(tmp_path / "src")
    rep_path = str(tmp_path / "rep")
    _mk_cdf_table(spark, src_path)
    update_delta_lite(spark, src_path, "id = 2", {"v": "v * 10"})
    delete_delta_lite(spark, src_path, "id = 1")
    merge_delta_lite(
        spark.createDataFrame([Row(id=3, v=300.0), Row(id=20, v=20.0)]),
        src_path, on="id", update_set={"v": "source.v"},
    )

    def replicate():
        _, s = resolve_source(
            f"c+delta-stream://{src_path}?readChangeFeed=true"
        )
        _, sink = resolve_sink(
            f"r+delta-stream://{rep_path}?mode=cdc&on=id"
            f"&checkpointLocation={tmp_path}/ckpt"
            "&trigger-interval=availableNow"
        )
        assert sink.write(s.read(spark)) is True
        _await_streams(spark)

    def snap(p):
        return {(r["id"], r["v"]) for r in read_delta_lite(spark, p).collect()}

    replicate()
    assert snap(rep_path) == snap(src_path)
    # incremental changes, resumed replication
    update_delta_lite(spark, src_path, "id = 0", {"v": "99.0"})
    delete_delta_lite(spark, src_path, "id = 3", deletion_vectors=True)
    replicate()
    assert snap(rep_path) == snap(src_path)


# --- RESTORE -----------------------------------------------------------------


def test_restore_rolls_back_appends(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import restore_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    write_delta_lite(
        spark.createDataFrame([Row(id=2, v=2.0)]), path, mode="append"
    )
    stats = restore_delta_lite(spark, path, version_as_of=0)
    assert stats["files_removed"] == 1 and stats["files_restored"] == 0
    got = {r["id"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1}
    # history preserved: the pre-restore state is still time-travelable
    v1 = {r["id"] for r in read_delta_lite(spark, path, version_as_of=1).collect()}
    assert v1 == {1, 2}


def test_restore_undoes_delete_and_update(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        restore_delta_lite,
        update_delta_lite,
    )

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)  # versions 0,1
    update_delta_lite(spark, path, "id = 2", {"v": "200.0"})
    delete_delta_lite(spark, path, "id = 7")
    before = {(r["id"], r["v"])
              for r in read_delta_lite(spark, path, version_as_of=1).collect()}
    restore_delta_lite(spark, path, version_as_of=1)
    after = {(r["id"], r["v"]) for r in read_delta_lite(spark, path).collect()}
    assert after == before


def test_restore_undoes_dv_delete(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import restore_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(10)]), path
    )
    delete_delta_lite(spark, path, "id < 3", deletion_vectors=True)
    assert read_delta_lite(spark, path).count() == 7
    stats = restore_delta_lite(spark, path, version_as_of=0)
    # DV re-add: same file, target (absent) descriptor
    assert stats["files_restored"] >= 1
    assert read_delta_lite(spark, path).count() == 10


def test_restore_refuses_vacuumed_snapshots(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        optimize_delta_lite,
        restore_delta_lite,
        vacuum_delta_lite,
    )

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    optimize_delta_lite(spark, path, min_files=2)
    vacuum_delta_lite(spark, path, retention_hours=0, dry_run=False)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_delta_lite(spark, path, version_as_of=0)


def test_restore_via_maintenance_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    write_delta_lite(
        spark.createDataFrame([Row(id=2, v=2.0)]), path, mode="append"
    )
    _, src = resolve_source(f"rep+delta-restore://{path}?version=0")
    row = src.read(spark).head()
    assert row["restored_to"] == 0
    assert {r["id"] for r in read_delta_lite(spark, path).collect()} == {1}


# --- ALTER TABLE (rename / drop / add via column mapping) --------------------


def test_alter_rename_column_keeps_data_readable(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    stats = alter_delta_lite(spark, path, rename={"v": "amount"})
    assert stats["renamed"] == 1
    assert stats["dropped"] == 0 and stats["added"] == 0
    out = read_delta_lite(spark, path)
    assert out.columns == ["id", "amount"]
    assert {(r["id"], r["amount"]) for r in out.collect()} == {
        (1, 1.0), (2, 2.0),
    }
    # metadata-only: no new data files
    assert len(_data_files(path)) == len(_data_files(path))
    # protocol upgraded for column mapping
    log = os.path.join(path, "_delta_log")
    protos = []
    for fname in sorted(os.listdir(log)):
        if fname.endswith(".json"):
            with open(os.path.join(log, fname)) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "protocol" in a:
                        protos.append(a["protocol"])
    assert protos[-1]["minReaderVersion"] >= 2


def test_alter_drop_and_add_columns(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0, k="a")]), path
    )
    alter_delta_lite(spark, path, drop=["k"], add={"score": "double"})
    out = read_delta_lite(spark, path)
    assert out.columns == ["id", "v", "score"]
    row = out.head()
    assert row["score"] is None  # old files read null for added cols


def test_alter_then_append_writes_physical_names(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    alter_delta_lite(spark, path, rename={"v": "amount"})
    # append AFTER the rename: the new file must store the PHYSICAL
    # name ('v'), not the logical one, or reads would null it out
    write_delta_lite(
        spark.createDataFrame([Row(id=2, amount=2.0)]), path, mode="append"
    )
    got = {(r["id"], r["amount"])
           for r in read_delta_lite(spark, path).collect()}
    assert got == {(1, 1.0), (2, 2.0)}
    import pyarrow.parquet as _pq

    newest = max(_data_files(path), key=os.path.getmtime)
    assert "v" in {f.name for f in _pq.read_schema(newest)}


def test_alter_rename_partition_column(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)  # partitioned by 'part'
    alter_delta_lite(spark, path, rename={"part": "bucket"})
    out = read_delta_lite(spark, path, where="bucket = 'a'")
    assert out.count() > 0 and "bucket" in out.columns
    # appends keep working, directories stay under the physical name
    write_delta_lite(
        spark.createDataFrame([Row(id=99, bucket="a", v=9.0)]),
        path, mode="append", partition_by=["bucket"],
    )
    assert read_delta_lite(
        spark, path, where="bucket = 'a' and id = 99"
    ).count() == 1


def test_alter_guards(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)
    with pytest.raises(ValueError, match="unknown columns"):
        alter_delta_lite(spark, path, rename={"nope": "x"})
    with pytest.raises(ValueError, match="partition columns"):
        alter_delta_lite(spark, path, drop=["part"])
    with pytest.raises(ValueError, match="duplicate"):
        alter_delta_lite(spark, path, rename={"v": "id"})
    with pytest.raises(ValueError, match="nothing to do"):
        alter_delta_lite(spark, path)


# --- CHECK constraints -------------------------------------------------------


def _mk_constrained(spark, path):
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), path,
        properties={"delta.constraints.v_positive": "v > 0"},
    )


def test_check_constraint_blocks_bad_appends(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _mk_constrained(spark, path)
    with pytest.raises(ValueError, match="constraint violation"):
        write_delta_lite(
            spark.createDataFrame([Row(id=2, v=-2.0)]), path, mode="append"
        )
    # nothing was committed
    assert read_delta_lite(spark, path).count() == 1
    # satisfying rows (and NULLs — SQL CHECK passes on NULL) commit
    write_delta_lite(
        spark.createDataFrame(
            [Row(id=3, v=3.0), Row(id=4, v=None)],
            "id long, v double",
        ),
        path, mode="append",
    )
    assert read_delta_lite(spark, path).count() == 3
    # constraint tables declare writer version 3
    with open(os.path.join(path, "_delta_log",
                           "00000000000000000000.json")) as fh:
        protos = [json.loads(l)["protocol"]
                  for l in fh if '"protocol"' in l]
    assert protos[0]["minWriterVersion"] >= 3


def test_check_constraint_blocks_bad_update_and_merge(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        merge_delta_lite,
        update_delta_lite,
    )

    path = str(tmp_path / "tbl")
    _mk_constrained(spark, path)
    with pytest.raises(ValueError, match="constraint violation"):
        update_delta_lite(spark, path, "id = 1", {"v": "-5.0"})
    with pytest.raises(ValueError, match="constraint violation"):
        merge_delta_lite(
            spark.createDataFrame([Row(id=1, v=-9.0)]), path, on="id",
            update_set={"v": "source.v"},
        )
    # the table is untouched after both refusals
    assert {r["v"] for r in read_delta_lite(spark, path).collect()} == {1.0}


def test_check_constraint_via_sink_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink

    path = str(tmp_path / "tbl")
    _, sink = resolve_sink(f"s+delta://{path}?check.v_pos=v %3E 0")
    sink.write(spark.createDataFrame([Row(id=1, v=1.0)]))
    _, sink2 = resolve_sink(f"s+delta://{path}?mode=append")
    with pytest.raises(ValueError, match="constraint violation"):
        sink2.write(spark.createDataFrame([Row(id=2, v=-1.0)]))


def test_not_null_invariant_enforced(spark, tmp_path):
    from pyspark.sql import types as T

    path = str(tmp_path / "tbl")
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.DoubleType(), True),
    ])
    write_delta_lite(
        spark.createDataFrame([(1, 1.0)], schema), path
    )
    nullable = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("v", T.DoubleType(), True),
    ])
    with pytest.raises(ValueError, match="NOT NULL"):
        write_delta_lite(
            spark.createDataFrame([(None, 2.0)], nullable), path,
            mode="append",
        )


def test_stream_max_commits_per_batch_caps_tailing(spark, tmp_path):
    """?max-commits-per-batch=1: while tailing, each micro-batch covers
    at most one commit (steady-state backlog control; the first batch
    after a (re)start is uncapped by design)."""
    import time

    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=0, v=0.0)]), path)
    _, src = resolve_source(
        f"c+delta-stream://{path}?max-commits-per-batch=1"
    )
    q = (
        src.read(spark)
        .writeStream.format("memory")
        .queryName("cap_t")
        .trigger(processingTime="500 milliseconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while (time.time() < deadline
               and spark.sql("select count(*) c from cap_t").head()["c"] < 1):
            time.sleep(0.5)
        for i in (1, 2, 3):
            write_delta_lite(
                spark.createDataFrame([Row(id=i, v=float(i))]), path,
                mode="append",
            )
        while (time.time() < deadline
               and spark.sql("select count(*) c from cap_t").head()["c"] < 4):
            time.sleep(0.5)
    finally:
        q.stop()
    assert spark.sql("select count(*) c from cap_t").head()["c"] == 4
    sizes = [p["numInputRows"] for p in q.recentProgress
             if p["numInputRows"] > 0]
    # the three tailed commits arrived one per batch
    assert sizes[1:] == [1, 1, 1], sizes


# --- SHALLOW CLONE -----------------------------------------------------------


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import clone_delta_lite

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    _mk_table(spark, src)  # 2 commits, partitioned
    stats = clone_delta_lite(spark, src, tgt)
    assert stats["files_referenced"] > 0
    # zero-copy: no parquet under the clone
    assert _data_files(tgt) == []
    got = {(r["id"], r["v"]) for r in read_delta_lite(spark, tgt).collect()}
    want = {(r["id"], r["v"]) for r in read_delta_lite(spark, src).collect()}
    assert got == want
    # independence: append + delete on the CLONE leave the source alone
    write_delta_lite(
        spark.createDataFrame([Row(id=99, part="a", v=99.0)]),
        tgt, mode="append", partition_by=["part"],
    )
    delete_delta_lite(spark, tgt, "id = 0")
    assert read_delta_lite(spark, tgt).count() == 20
    assert read_delta_lite(spark, src).count() == 20
    assert {r["id"] for r in read_delta_lite(spark, src).collect()} == set(
        range(20)
    )


def test_shallow_clone_at_version_and_vacuum_safety(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import (
        clone_delta_lite,
        vacuum_delta_lite,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), src)
    write_delta_lite(
        spark.createDataFrame([Row(id=2, v=2.0)]), src, mode="append"
    )
    clone_delta_lite(spark, src, tgt, version_as_of=0)
    assert {r["id"] for r in read_delta_lite(spark, tgt).collect()} == {1}
    # VACUUM on the clone finds nothing to reclaim (source files live
    # outside its directory)
    paths = vacuum_delta_lite(spark, tgt, retention_hours=0, dry_run=False)
    assert paths == []
    assert read_delta_lite(spark, tgt).count() == 1
    # a second clone into the same target refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already a delta table"):
        clone_delta_lite(spark, src, tgt)


def test_shallow_clone_of_dv_table(spark, tmp_path):
    """Cloning a deletion-vector table: the clone's descriptors flip to
    absolute-path storage ('p') pointing at the SOURCE's bitmap files —
    zero copy, deleted rows stay deleted, and the two tables then
    evolve independently."""
    from spark_etl_cli_spark.sources.delta_lite import clone_delta_lite

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)]), src
    )
    delete_delta_lite(spark, src, "id = 1", deletion_vectors=True)
    clone_delta_lite(spark, src, tgt)
    assert sorted(r["id"] for r in read_delta_lite(spark, tgt).collect()) \
        == [0, 2, 3, 4]
    # the clone's descriptor is absolute-path storage into the source
    log = os.path.join(tgt, "_delta_log", f"{0:020d}.json")
    dvs = [
        json.loads(l)["add"]["deletionVector"]
        for l in open(log)
        if l.strip() and "deletionVector" in l
        and json.loads(l).get("add", {}).get("deletionVector")
    ]
    assert dvs and all(d["storageType"] == "p" for d in dvs)
    assert all(d["pathOrInlineDv"].startswith(os.path.abspath(src))
               for d in dvs)
    # independence: a DV delete on the clone leaves the source intact
    delete_delta_lite(spark, tgt, "id = 2", deletion_vectors=True)
    assert sorted(r["id"] for r in read_delta_lite(spark, tgt).collect()) \
        == [0, 3, 4]
    assert sorted(r["id"] for r in read_delta_lite(spark, src).collect()) \
        == [0, 2, 3, 4]


def test_shallow_clone_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), src)
    _, s = resolve_source(f"rep+delta-clone://{tgt}?source={src}")
    row = s.read(spark).head()
    assert row["files_referenced"] == 1
    assert read_delta_lite(spark, tgt).count() == 1


def test_row_ops_on_column_mapped_tables(spark, tmp_path):
    """ALTER rename (upgrades to column mapping) composes with the row
    ops: DELETE, UPDATE, MERGE and DV deletes all keep working, and
    rewritten files keep speaking PHYSICAL names."""
    from spark_etl_cli_spark.sources.delta_lite import (
        alter_delta_lite,
        merge_delta_lite,
        update_delta_lite,
    )

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(8)]),
        path,
    )
    alter_delta_lite(spark, path, rename={"v": "amount"})
    update_delta_lite(spark, path, "id = 2", {"amount": "200.0"})
    delete_delta_lite(spark, path, "id = 3")
    merge_delta_lite(
        spark.createDataFrame([Row(id=4, amount=400.0), Row(id=99, amount=99.0)]),
        path, on="id", update_set={"amount": "source.amount"},
    )
    delete_delta_lite(spark, path, "id = 5", deletion_vectors=True)
    got = {r["id"]: r["amount"]
           for r in read_delta_lite(spark, path).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 200.0, 4: 400.0, 6: 6.0,
                   7: 7.0, 99: 99.0}
    # rewritten data files carry the PHYSICAL column name ('v')
    import pyarrow.parquet as _pq

    names = set()
    for p in _data_files(path):
        names |= {f.name for f in _pq.read_schema(p)}
    assert "v" in names and "amount" not in names


def test_row_ops_on_mapped_partitioned_table(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path)  # partitioned by 'part'
    alter_delta_lite(spark, path, rename={"part": "bucket", "v": "amount"})
    stats = delete_delta_lite(spark, path, "bucket = 'a' and id < 3")
    assert stats["rows_deleted"] == 3
    out = read_delta_lite(spark, path, where="bucket = 'a'")
    assert sorted(r["id"] for r in out.collect()) == [3, 4, 10, 11, 12, 13, 14]


def test_alter_add_constraint_validates_existing_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=-2.0)]), path
    )
    # a violated constraint refuses (and commits nothing)
    with pytest.raises(ValueError, match="existing rows violate"):
        alter_delta_lite(spark, path, add_check={"v_pos": "v > 0"})
    write_delta_lite(spark.createDataFrame([Row(id=2, v=2.0)]), path,
                     mode="upsert", merge_key="id")
    stats = alter_delta_lite(spark, path, add_check={"v_pos": "v > 0"})
    assert stats["checks_added"] == 1
    # the constraint now gates writes
    with pytest.raises(ValueError, match="constraint violation"):
        write_delta_lite(
            spark.createDataFrame([Row(id=3, v=-3.0)]), path, mode="append"
        )
    # and can be dropped again
    alter_delta_lite(spark, path, drop_check=["v_pos"])
    write_delta_lite(
        spark.createDataFrame([Row(id=3, v=-3.0)]), path, mode="append"
    )
    assert read_delta_lite(spark, path).count() == 3
    with pytest.raises(ValueError, match="unknown constraint"):
        alter_delta_lite(spark, path, drop_check=["nope"])


def test_alter_add_constraint_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    _, s = resolve_source(
        f"rep+delta-alter://{path}?add-check.v_pos=v %3E 0"
    )
    assert s.read(spark).head()["checks_added"] == 1
    with pytest.raises(ValueError, match="constraint violation"):
        write_delta_lite(
            spark.createDataFrame([Row(id=2, v=-1.0)]), path, mode="append"
        )


# --- optimistic concurrency --------------------------------------------------


def test_blind_append_retries_on_version_collision(spark, tmp_path):
    """A concurrent writer claiming the same version makes a blind
    append REBASE to the next version (Delta's appends-never-conflict
    rule); a row op (which read table state) raises instead."""
    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    # simulate a concurrent winner: pre-claim version 1
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
    # the blind append lands as version 2 without error
    write_delta_lite(
        spark.createDataFrame([Row(id=2, v=2.0)]), path, mode="append"
    )
    assert os.path.exists(os.path.join(log, f"{2:020d}.json"))
    assert read_delta_lite(spark, path).count() == 2


def test_blind_append_refuses_to_rebase_past_metadata_change(
    spark, tmp_path, monkeypatch
):
    """An append racing with a metaData/protocol commit must FAIL, not
    rebase: its files were written under the old schema/physical names
    and its constraints were checked against the old configuration."""
    import spark_etl_cli_spark.sources.delta_lite as dl

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    log = os.path.join(path, "_delta_log")
    meta = json.loads(
        open(os.path.join(log, f"{0:020d}.json")).read().splitlines()[1]
    )["metaData"]
    real_next = dl._next_version
    calls = {"n": 0}

    def racing_next(log_dir):
        calls["n"] += 1
        v = real_next(log_dir)
        if calls["n"] == 2:
            # a concurrent ALTER commits a metaData change between the
            # append's snapshot read (call 1) and its commit claim
            with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
                fh.write(json.dumps({"metaData": meta}) + "\n")
                fh.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
            return real_next(log_dir)
        return v

    monkeypatch.setattr(dl, "_next_version", racing_next)
    with pytest.raises(RuntimeError, match="concurrent metadata change"):
        write_delta_lite(
            spark.createDataFrame([Row(id=2, v=2.0)]), path, mode="append"
        )
    monkeypatch.setattr(dl, "_next_version", real_next)
    # the table stays readable at its pre-append state
    assert read_delta_lite(spark, path).count() == 1


def test_row_op_conflict_raises(spark, tmp_path, monkeypatch):
    import spark_etl_cli_spark.sources.delta_lite as dl

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4)]),
        path,
    )
    log = os.path.join(path, "_delta_log")
    real_next = dl._next_version

    def stale_next(log_dir):
        v = real_next(log_dir)
        # a concurrent writer claims the version right before us
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            fh.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
        return v

    monkeypatch.setattr(dl, "_next_version", stale_next)
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        delete_delta_lite(spark, path, "id = 1")


def test_merge_schema_on_column_mapped_table(spark, tmp_path):
    """mergeSchema append on a column-mapped table: the new column gets
    a fresh mapping id + col-<uuid> physical name (maxColumnId bumped),
    old rows read null for it, and a rename of the NEW column works."""
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    alter_delta_lite(spark, path, rename={"v": "amount"})  # upgrades mapping
    write_delta_lite(
        spark.createDataFrame([Row(id=2, amount=2.0, tag="x")]),
        path, mode="append", merge_schema=True,
    )
    got = {(r["id"], r["amount"], r["tag"])
           for r in read_delta_lite(spark, path).collect()}
    assert got == {(1, 1.0, None), (2, 2.0, "x")}
    # the new column is mapped: physical col-<uuid>, id past the max
    import spark_etl_cli_spark.sources.delta_lite as dl

    _, meta = dl._replay(spark, path)
    schema = dl.T.StructType.fromJson(json.loads(meta["schemaString"]))
    md = schema["tag"].metadata
    assert md["delta.columnMapping.physicalName"].startswith("col-")
    assert int(meta["configuration"]["delta.columnMapping.maxColumnId"]) \
        == md["delta.columnMapping.id"]
    # the mapped new column renames like any other
    alter_delta_lite(spark, path, rename={"tag": "label"})
    assert {(r["id"], r["label"])
            for r in read_delta_lite(spark, path).collect()} == {
        (1, None), (2, "x"),
    }


def test_overwrite_on_column_mapped_table(spark, tmp_path):
    """Overwrite on a column-mapped table: same-schema replace keeps
    the mapping intact (no metaData action with physical names), and a
    schema-CHANGING replace keeps same-named columns' mapping ids while
    new columns get fresh ones."""
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite
    import spark_etl_cli_spark.sources.delta_lite as dl

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    alter_delta_lite(spark, path, rename={"v": "amount"})
    _, meta0 = dl._replay(spark, path)
    sch0 = dl.T.StructType.fromJson(json.loads(meta0["schemaString"]))
    id_of_amount = sch0["amount"].metadata["delta.columnMapping.id"]
    # same-logical-schema overwrite: mapping untouched, reads fine
    write_delta_lite(
        spark.createDataFrame([Row(id=9, amount=9.0)]), path,
        mode="overwrite",
    )
    _, meta1 = dl._replay(spark, path)
    assert meta1["schemaString"] == meta0["schemaString"]
    assert {(r["id"], r["amount"])
            for r in read_delta_lite(spark, path).collect()} == {(9, 9.0)}
    # schema-changing overwrite: 'amount' keeps its id, 'tag' is fresh
    write_delta_lite(
        spark.createDataFrame([Row(id=2, amount=2.0, tag="x")]),
        path, mode="overwrite",
    )
    _, meta2 = dl._replay(spark, path)
    sch2 = dl.T.StructType.fromJson(json.loads(meta2["schemaString"]))
    assert sch2["amount"].metadata["delta.columnMapping.id"] == id_of_amount
    assert sch2["tag"].metadata["delta.columnMapping.physicalName"] \
        .startswith("col-")
    assert {(r["id"], r["amount"], r["tag"])
            for r in read_delta_lite(spark, path).collect()} == {
        (2, 2.0, "x"),
    }
    # and the renamed-into existence column still renames onward
    alter_delta_lite(spark, path, rename={"tag": "label"})
    assert {r["label"] for r in read_delta_lite(spark, path).collect()} \
        == {"x"}


def test_merge_null_conditions_leave_rows_untouched(spark, tmp_path):
    """r6 ADVICE (medium): a clause condition that evaluates to NULL is
    NOT satisfied — the row must survive unchanged. The rewrite filter
    negates the conditions (~NULL = NULL = dropped = silently deleted)
    while the count probes treated the same NULL as false, so rows
    vanished without being counted. Covers both the NMBS delete
    condition and the matched-DELETE condition."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame(
            [
                Row(id=0, v=0.0, flag=True),
                Row(id=1, v=1.0, flag=None),   # NULL: NMBS cond -> NULL
                Row(id=2, v=2.0, flag=False),
                Row(id=3, v=3.0, flag=None),   # NULL: matched-del cond -> NULL
                Row(id=4, v=4.0, flag=True),
            ]
        ),
        path,
    )
    src = spark.createDataFrame(
        [Row(id=3, v=30.0, flag=None), Row(id=4, v=40.0, flag=True)]
    )
    stats = merge_delta_lite(
        src, path, on="id",
        update_set={"v": "source.v"},
        delete_condition="target.flag",          # NULL for id=3
        not_matched_by_source="delete",
        not_matched_by_source_condition="target.flag",  # NULL for id=1
    )
    # id=4 matched + flag true -> deleted; id=3 matched + flag NULL ->
    # condition not satisfied -> UPDATED (falls to the update clause);
    # id=0 source-absent + flag true -> deleted; id=1 flag NULL and
    # id=2 flag false -> survive untouched
    assert stats["rows_deleted"] == 2
    assert stats["rows_updated"] == 1
    got = {r["id"]: r["v"] for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 30.0}


def _make_nested_mapped_table(spark, table):
    """Hand-built delta table with NESTED column mapping: the parquet
    files carry col-<n> physical names at BOTH levels (what a real
    mapped writer produces)."""
    import json as _json

    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir)
    spark.createDataFrame(
        [(1, ("ber", 10115)), (2, ("muc", 80331))],
        "`col-1111` long, `col-2222` struct<`col-3333` string, `col-4444` int>",
    ).coalesce(1).write.parquet(os.path.join(table, "part0"))
    data_file = [
        f"part0/{f}"
        for f in os.listdir(os.path.join(table, "part0"))
        if f.endswith(".parquet")
    ][0]
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-1111"}},
            {"name": "info", "nullable": True,
             "type": {"type": "struct", "fields": [
                 {"name": "city", "type": "string", "nullable": True,
                  "metadata": {
                      "delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-3333"}},
                 {"name": "zip", "type": "integer", "nullable": True,
                  "metadata": {
                      "delta.columnMapping.id": 4,
                      "delta.columnMapping.physicalName": "col-4444"}},
             ]},
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-2222"}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "tn1", "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "4"},
        }},
        {"add": {
            "path": data_file, "partitionValues": {},
            "size": 1, "modificationTime": 0, "dataChange": True,
        }},
    ]
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(_json.dumps(a) for a in actions))


def test_nested_column_mapped_writes_and_row_ops(spark, tmp_path):
    """r6 fences closed: APPEND, UPDATE, DELETE, and MERGE on a table
    with NESTED column mapping — the write path projects to the
    physical shape via positional struct casts and _snapshot_scan
    restores the logical one, so row ops round-trip."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.delta_lite import (
        delete_delta_lite,
        merge_delta_lite,
        update_delta_lite,
    )

    table = str(tmp_path / "nested_cm")
    _make_nested_mapped_table(spark, table)
    got = {r["id"]: (r["info"]["city"], r["info"]["zip"])
           for r in read_delta_lite(spark, table).collect()}
    assert got == {1: ("ber", 10115), 2: ("muc", 80331)}

    # append writes PHYSICAL nested names (old + new files both read)
    write_delta_lite(
        spark.createDataFrame(
            [Row(id=3, info=Row(city="ham", zip=20095))],
            "id long, info struct<city string, zip int>",
        ),
        table, mode="append",
    )
    got = {r["id"]: r["info"]["city"]
           for r in read_delta_lite(spark, table).collect()}
    assert got == {1: "ber", 2: "muc", 3: "ham"}
    # the new file really carries physical names
    import glob as _g

    import pyarrow.parquet as _pq

    newest = max(
        _g.glob(os.path.join(table, "*.parquet"))
        + _g.glob(os.path.join(table, "part-*.parquet")),
        key=os.path.getmtime,
        default=None,
    )
    if newest:
        names = _pq.ParquetFile(newest).schema_arrow.names
        assert "col-1111" in names and "col-2222" in names, names

    # UPDATE touching a nested field's parent column
    update_delta_lite(
        spark, table, "id = 2",
        {"info": "named_struct('city', 'MUC', 'zip', info.zip)"},
    )
    got = {r["id"]: r["info"]["city"]
           for r in read_delta_lite(spark, table).collect()}
    assert got == {1: "ber", 2: "MUC", 3: "ham"}

    # DELETE by a nested predicate
    delete_delta_lite(spark, table, "info.zip = 10115")
    assert {r["id"] for r in read_delta_lite(spark, table).collect()} == {
        2, 3,
    }

    # MERGE: update one nested row, insert another
    stats = merge_delta_lite(
        spark.createDataFrame(
            [Row(id=3, info=Row(city="HAM", zip=20095)),
             Row(id=9, info=Row(city="cgn", zip=50667))],
            "id long, info struct<city string, zip int>",
        ),
        table, on="id", update_set={"info": "source.info"},
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    got = {r["id"]: (r["info"]["city"], r["info"]["zip"])
           for r in read_delta_lite(spark, table).collect()}
    assert got == {2: ("MUC", 80331), 3: ("HAM", 20095),
                   9: ("cgn", 50667)}


# --- generated columns (writer feature, PROTOCOL.md "Generated Columns") ----


def test_generated_columns_create_append_validate(spark, tmp_path):
    """CREATE with a generation expression: the absent column is
    computed, the expression lands in schema metadata, the protocol
    bumps to writer v4. Appends compute absent / validate provided;
    a mismatching provided value aborts before commit."""
    import json

    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "gen")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00"), (2, "2024-03-02 11:30:00")],
        "id long, ts string",
    )
    write_delta_lite(
        df, table, generated={"day": "CAST(substr(ts, 1, 10) AS DATE)"}
    )
    got = {
        (r.id, str(r.day))
        for r in read_delta_lite(spark, table).collect()
    }
    assert got == {(1, "2024-03-01"), (2, "2024-03-02")}
    # expression recorded in schemaString; protocol is writer v4
    log = sorted(
        __import__("glob").glob(f"{table}/_delta_log/*.json")
    )[0]
    actions = [json.loads(line) for line in open(log)]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] == 4
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    fields = {
        f["name"]: f for f in json.loads(meta["schemaString"])["fields"]
    }
    assert (
        fields["day"]["metadata"]["delta.generationExpression"]
        == "CAST(substr(ts, 1, 10) AS DATE)"
    )

    # append WITHOUT the generated column: computed
    write_delta_lite(
        spark.createDataFrame([(3, "2024-03-03 09:00:00")],
                              "id long, ts string"),
        table, mode="append",
    )
    assert (str((read_delta_lite(spark, table)
                 .filter("id = 3").collect())[0].day)
            == "2024-03-03")
    # append WITH a correct provided value: accepted
    ok = spark.createDataFrame(
        [(4, "2024-03-04 08:00:00")], "id long, ts string"
    ).selectExpr("id", "ts", "CAST(substr(ts, 1, 10) AS DATE) AS day")
    write_delta_lite(ok, table, mode="append")
    # append WITH a wrong provided value: loud abort
    bad = spark.createDataFrame(
        [(5, "2024-03-05 08:00:00")], "id long, ts string"
    ).selectExpr("id", "ts", "CAST('1999-01-01' AS DATE) AS day")
    with pytest.raises(ValueError, match="generated-column mismatch"):
        write_delta_lite(bad, table, mode="append")
    assert read_delta_lite(spark, table).count() == 4


def test_generated_columns_upsert_and_uri(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "gen_uri")
    run_pipeline(
        spark,
        sources=["v+values://?header=id:long,amount:long&values=1,250;2,90"],
        sinks=[
            f"v+delta://{table}?generated=tier:CASE WHEN amount >= 100 "
            "THEN 'big' ELSE 'small' END"
        ],
    )
    got = {(r.id, r.tier) for r in read_delta_lite(spark, table).collect()}
    assert got == {(1, "big"), (2, "small")}
    # upsert computes the generated column for the source rows too
    write_delta_lite(
        spark.createDataFrame([(2, 500)], "id long, amount long"),
        table, mode="upsert", merge_key="id",
    )
    got = {(r.id, r.tier) for r in read_delta_lite(spark, table).collect()}
    assert got == {(1, "big"), (2, "big")}


# --- identity columns (writer feature, PROTOCOL.md "Identity Columns") ------


def test_identity_columns_assign_and_advance_hwm(spark, tmp_path):
    """CREATE with an identity spec: values are engine-assigned
    (start + k·step, gaps allowed), the high-water mark advances in
    each commit's metaData, appends never collide with earlier ids,
    and providing the column explicitly is refused."""
    import json

    from spark_etl_cli_spark.sources.delta_lite import (
        _identity_specs,
        read_delta_lite,
        write_delta_lite,
    )
    from pyspark.sql import types as T

    table = str(tmp_path / "idy")
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",), ("c",)], "v string"),
        table, identity={"id": (100, 10)},
    )
    first = read_delta_lite(spark, table).collect()
    ids1 = sorted(r.id for r in first)
    assert len(set(ids1)) == 3
    assert all(i >= 100 and (i - 100) % 10 == 0 for i in ids1)

    # protocol is writer v6; metadata records spec + high-water mark
    log0 = sorted(__import__("glob").glob(f"{table}/_delta_log/*.json"))[0]
    acts = [json.loads(line) for line in open(log0)]
    assert next(a["protocol"] for a in acts if "protocol" in a)[
        "minWriterVersion"
    ] == 6
    schema = T.StructType.fromJson(json.loads(
        next(a["metaData"] for a in acts if "metaData" in a)["schemaString"]
    ))
    spec = _identity_specs(schema)["id"]
    assert spec["start"] == 100 and spec["step"] == 10
    assert spec["hwm"] == max(ids1)

    # append: new ids strictly beyond the recorded mark
    write_delta_lite(
        spark.createDataFrame([("d",), ("e",)], "v string"),
        table, mode="append",
    )
    allrows = read_delta_lite(spark, table).collect()
    ids2 = sorted(r.id for r in allrows)
    assert len(ids2) == 5 and len(set(ids2)) == 5
    assert min(set(ids2) - set(ids1)) > max(ids1)
    assert all((i - 100) % 10 == 0 for i in ids2)

    # explicit values are refused (allowExplicitInsert = false)
    with pytest.raises(ValueError, match="engine-assigned"):
        write_delta_lite(
            spark.createDataFrame([(999, "x")], "id long, v string"),
            table, mode="append",
        )
    # overwrite carries the high-water mark forward: replacement rows
    # continue beyond every pre-overwrite id (protocol: hwm never
    # resets), and the replacement metaData keeps the identity spec
    pre_max = max(ids2)
    write_delta_lite(
        spark.createDataFrame([("z",), ("w",)], "v string"),
        table, mode="overwrite",
    )
    post = read_delta_lite(spark, table).collect()
    ids3 = sorted(r.id for r in post)
    assert {r.v for r in post} == {"z", "w"}
    assert len(set(ids3)) == 2 and min(ids3) > pre_max
    assert all((i - 100) % 10 == 0 for i in ids3)
    # next append continues above the overwrite's ids — spec survived
    write_delta_lite(
        spark.createDataFrame([("q",)], "v string"), table, mode="append",
    )
    ids4 = sorted(
        r.id for r in read_delta_lite(spark, table).collect()
    )
    assert len(set(ids4)) == 3 and max(ids4) > max(ids3)


def test_identity_columns_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    table = str(tmp_path / "idy_uri")
    run_pipeline(
        spark,
        sources=["v+values://?header=v&values=a;b"],
        sinks=[f"v+delta://{table}?identity=doc_id:1:1"],
    )
    run_pipeline(
        spark,
        sources=["v+values://?header=v&values=c"],
        sinks=[f"v+delta://{table}?mode=append"],
    )
    rows = read_delta_lite(spark, table).collect()
    assert len({r.doc_id for r in rows}) == 3
    assert all(r.doc_id >= 1 for r in rows)


def test_identity_columns_on_column_mapped_table(spark, tmp_path):
    """Identity assignment works through column mapping: the table is
    upgraded to mapping mode (physical col-<uuid> file names), appends
    still engine-assign the identity column and advance the high-water
    mark — the logical→physical projection covers identity like any
    other column."""
    from spark_etl_cli_spark.sources.delta_lite import (
        _identity_specs,
        _physical_schema,
        alter_delta_lite,
        read_delta_lite,
        write_delta_lite,
    )
    from pyspark.sql import types as T
    import json as _json

    table = str(tmp_path / "idy_mapped")
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",)], "v string"),
        table, identity={"id": (1, 1)},
    )
    # upgrade to column mapping via a rename (ALTER assigns mapping ids)
    alter_delta_lite(spark, table, rename={"v": "val"})
    from spark_etl_cli_spark.sources.delta_lite import _replay

    _adds, meta = _replay(spark, table)
    schema = T.StructType.fromJson(_json.loads(meta["schemaString"]))
    assert _physical_schema(schema)[1], "table should be column-mapped now"

    ids1 = sorted(r.id for r in read_delta_lite(spark, table).collect())
    write_delta_lite(
        spark.createDataFrame([("c",), ("d",)], "val string"),
        table, mode="append",
    )
    rows = read_delta_lite(spark, table).collect()
    ids2 = sorted(r.id for r in rows)
    assert len(ids2) == 4 and len(set(ids2)) == 4
    assert min(set(ids2) - set(ids1)) > max(ids1)  # hwm advanced
    assert {r.val for r in rows} == {"a", "b", "c", "d"}
    _adds2, meta2 = _replay(spark, table)
    schema2 = T.StructType.fromJson(_json.loads(meta2["schemaString"]))
    spec = _identity_specs(schema2)["id"]
    assert spec["hwm"] == max(ids2)
    assert _physical_schema(schema2)[1]  # mapping survived the append


def test_identity_negative_step_descends_without_collision(spark, tmp_path):
    """A DESCENDING identity (step < 0) tracks its high-water mark in
    the step direction (min, not max): the second batch starts BELOW
    every id the first batch issued — no silent duplicates."""
    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "idy_neg")
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",), ("c",)], "v string"),
        table, identity={"id": (10, -1)},
    )
    ids1 = sorted(r.id for r in read_delta_lite(spark, table).collect())
    assert len(set(ids1)) == 3 and all(i <= 10 for i in ids1)

    write_delta_lite(
        spark.createDataFrame([("d",), ("e",)], "v string"),
        table, mode="append",
    )
    ids2 = sorted(r.id for r in read_delta_lite(spark, table).collect())
    assert len(ids2) == 5 and len(set(ids2)) == 5, (
        f"descending identity collided: {ids2}"
    )
    assert max(set(ids2) - set(ids1)) < min(ids1)


def test_identity_overwrite_preserves_hwm_descending_and_mapped(
    spark, tmp_path
):
    """The collision regression extends to the OVERWRITE path: a
    descending identity's replacement batch starts below every
    pre-overwrite id (hwm is direction-correct through the replace),
    and on a column-mapped table the replacement metaData keeps BOTH
    the mapping ids and the advanced identity mark."""
    import json as _json

    from pyspark.sql import types as T

    from spark_etl_cli_spark.sources.delta_lite import (
        _identity_specs,
        _physical_schema,
        _replay,
        alter_delta_lite,
        read_delta_lite,
        write_delta_lite,
    )

    # descending: overwrite continues BELOW the pre-overwrite minimum
    t1 = str(tmp_path / "idy_neg_ow")
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",)], "v string"),
        t1, identity={"id": (10, -1)},
    )
    ids1 = sorted(r.id for r in read_delta_lite(spark, t1).collect())
    write_delta_lite(
        spark.createDataFrame([("z",), ("w",)], "v string"),
        t1, mode="overwrite",
    )
    ids_ow = sorted(r.id for r in read_delta_lite(spark, t1).collect())
    assert len(set(ids_ow)) == 2 and max(ids_ow) < min(ids1), (
        f"descending overwrite collided: pre={ids1} post={ids_ow}"
    )
    write_delta_lite(
        spark.createDataFrame([("q",)], "v string"), t1, mode="append",
    )
    ids_all = sorted(r.id for r in read_delta_lite(spark, t1).collect())
    assert len(set(ids_all)) == 3 and min(ids_all) < min(ids_ow)

    # column-mapped: mapping ids AND advanced hwm both survive
    t2 = str(tmp_path / "idy_map_ow")
    write_delta_lite(
        spark.createDataFrame([("a",), ("b",)], "v string"),
        t2, identity={"id": (1, 1)},
    )
    alter_delta_lite(spark, t2, rename={"v": "val"})
    pre = sorted(r.id for r in read_delta_lite(spark, t2).collect())
    write_delta_lite(
        spark.createDataFrame([("c",), ("d",)], "val string"),
        t2, mode="overwrite",
    )
    rows = read_delta_lite(spark, t2).collect()
    assert {r.val for r in rows} == {"c", "d"}
    ids_m = sorted(r.id for r in rows)
    assert min(ids_m) > max(pre)
    _adds, meta = _replay(spark, t2)
    schema = T.StructType.fromJson(_json.loads(meta["schemaString"]))
    assert _physical_schema(schema)[1], "mapping lost through overwrite"
    spec = _identity_specs(schema)["id"]
    assert spec["hwm"] == max(ids_m)
    write_delta_lite(
        spark.createDataFrame([("e",)], "val string"), t2, mode="append",
    )
    ids_m2 = sorted(r.id for r in read_delta_lite(spark, t2).collect())
    assert len(set(ids_m2)) == 3 and max(ids_m2) > max(ids_m)


def test_identity_uri_segment_without_colon_is_clear_error(spark, tmp_path):
    """?identity=col (no colon) must raise a usable message, not an
    unpack ValueError; a bare name defaults to start=1, step=1 —
    only >3 segments or an empty column name are malformed."""
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    table = str(tmp_path / "idy_bare")
    run_pipeline(
        spark,
        sources=["v+values://?header=v&values=a;b"],
        sinks=[f"v+delta://{table}?identity=doc_id"],
    )
    rows = read_delta_lite(spark, table).collect()
    ids = [r.doc_id for r in rows]
    # gaps allowed (protocol contract) — but defaults start=1, step=1
    assert len(set(ids)) == 2 and all(i >= 1 for i in ids)

    with pytest.raises(ValueError, match="identity"):
        run_pipeline(
            spark,
            sources=["v+values://?header=v&values=a"],
            sinks=[f"v+delta://{tmp_path / 'idy_bad'}?identity=a:1:2:3"],
        )


# --- row tracking (writer feature, PROTOCOL.md "Row Tracking") --------------


def test_row_tracking_assigns_and_survives_checkpoint(spark, tmp_path):
    """delta.enableRowTracking=true: fresh files get contiguous
    baseRowId blocks, the rowIdHighWaterMark domain metadata advances
    per commit, _row_id reads derive base+position, and both survive a
    checkpoint."""
    import glob
    import json

    from spark_etl_cli_spark.sources.delta_lite import (
        _row_id_hwm,
        read_delta_lite,
        write_checkpoint,
        write_delta_lite,
    )

    table = str(tmp_path / "rt")
    write_delta_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).repartition(3),
        table, properties={"delta.enableRowTracking": "true"},
    )
    got = read_delta_lite(spark, table, with_row_id=True)
    assert sorted(r._row_id for r in got.collect()) == list(range(10))
    assert _row_id_hwm(f"{table}/_delta_log") == 9

    # protocol: table features with rowTracking + domainMetadata listed
    log0 = sorted(glob.glob(f"{table}/_delta_log/*.json"))[0]
    acts = [json.loads(line) for line in open(log0)]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])
    dm = next(a["domainMetadata"] for a in acts if "domainMetadata" in a)
    assert dm["domain"] == "delta.rowTracking"
    assert json.loads(dm["configuration"])["rowIdHighWaterMark"] == 9

    # appends continue beyond the mark; a checkpoint keeps everything
    write_delta_lite(
        spark.createDataFrame([(100, "x"), (101, "y")], "id long, v string"),
        table, mode="append",
    )
    write_checkpoint(spark, table)
    write_delta_lite(
        spark.createDataFrame([(200, "z")], "id long, v string"),
        table, mode="append",
    )
    ids = sorted(
        r._row_id
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    )
    assert ids == list(range(13))


def test_row_tracking_dv_delete_keeps_ids_and_cow_materializes(
    spark, tmp_path
):
    """A DV delete keeps survivors' row ids stable (positions don't
    shift); a COW rewrite MATERIALIZES survivors' ids into the new
    files (the protocol's materialized row-id column), so _row_id
    reads keep working — ids stable across routine maintenance."""
    from spark_etl_cli_spark.sources.delta_lite import (
        delete_delta_lite,
        read_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "rt_dv")
    write_delta_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).coalesce(1),
        table, properties={"delta.enableRowTracking": "true"},
    )
    delete_delta_lite(spark, table, "id IN (3, 7)", deletion_vectors=True)
    got = sorted(
        (r.id, r._row_id)
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    )
    assert got == [(i, i) for i in range(10) if i not in (3, 7)]

    # a COW rewrite materializes survivors' ids -> reads still work,
    # ids unchanged for the 7 surviving rows
    delete_delta_lite(spark, table, "id = 9", deletion_vectors=False)
    got2 = sorted(
        (r.id, r._row_id)
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    )
    assert got2 == [(i, i) for i in range(10) if i not in (3, 7, 9)]


def test_row_tracking_survives_update_merge_optimize(spark, tmp_path):
    """Round-trip across the full maintenance surface: UPDATE keeps
    the updated row's id, upsert-MERGE keeps replaced keys' ids and
    mints fresh ids only for inserts, OPTIMIZE compaction preserves
    every id — exactly the protocol's stability contract."""
    from spark_etl_cli_spark.sources.delta_lite import (
        _upsert_delta_lite,
        optimize_delta_lite,
        read_delta_lite,
        update_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "rt_maint")
    write_delta_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ).coalesce(1),
        table, properties={"delta.enableRowTracking": "true"},
    )
    base = {
        r.id: r._row_id
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    }

    update_delta_lite(spark, table, "id = 2", {"v": "'patched'"})
    after_upd = {
        r.id: (r.v, r._row_id)
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    }
    assert after_upd[2] == ("patched", base[2])
    assert {k: rid for k, (_, rid) in after_upd.items()} == base

    # upsert: replace id=5, insert id=100
    _upsert_delta_lite(
        spark.createDataFrame(
            [(5, "five2"), (100, "hundred")], "id long, v string"
        ),
        table, "id",
    )
    after_ups = {
        r.id: (r.v, r._row_id)
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    }
    assert after_ups[5] == ("five2", base[5])  # replaced key keeps id
    assert after_ups[100][1] not in base.values()  # insert = fresh id
    assert len({rid for _, rid in after_ups.values()}) == len(after_ups)

    # compaction: ids identical before/after
    before_opt = {
        r.id: r._row_id
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    }
    optimize_delta_lite(spark, table, target_file_bytes=1 << 30, min_files=2)
    after_opt = {
        r.id: r._row_id
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    }
    assert after_opt == before_opt


def test_row_tracking_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline

    table = str(tmp_path / "rt_uri")
    run_pipeline(
        spark,
        sources=["v+values://?header=id:long&values=1;2;3"],
        sinks=[f"v+delta://{table}?enableRowTracking=true"],
    )
    run_pipeline(
        spark,
        sources=[f"r+delta://{table}?with-row-id=true"],
        sinks=["r+memory://rt_back"],
    )
    rows = spark.table("rt_back").collect()
    assert sorted(r._row_id for r in rows) == [0, 1, 2]


def test_row_commit_version_tracks_last_modification(spark, tmp_path):
    """_row_commit_version = the commit a row was last inserted or
    updated at: appends stamp their own version, an UPDATE bumps only
    the matched rows (survivors keep their old version through the
    rewrite's materialized column), MERGE bumps replaced keys and
    stamps inserts, OPTIMIZE preserves everything."""
    from spark_etl_cli_spark.sources.delta_lite import (
        _upsert_delta_lite,
        optimize_delta_lite,
        read_delta_lite,
        update_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "rt_rcv")
    write_delta_lite(                                        # version 0
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(4)], "id long, v string"
        ).coalesce(1),
        table, properties={"delta.enableRowTracking": "true"},
    )
    write_delta_lite(                                        # version 1
        spark.createDataFrame([(10, "ten")], "id long, v string"),
        table, mode="append",
    )

    def rcv(path):
        return {
            r.id: r._row_commit_version
            for r in read_delta_lite(
                spark, path, with_row_commit_version=True
            ).collect()
        }

    v = rcv(table)
    assert v == {0: 0, 1: 0, 2: 0, 3: 0, 10: 1}

    update_delta_lite(spark, table, "id = 2", {"v": "'x'"})  # version 2
    v = rcv(table)
    assert v[2] == 2
    assert {k: x for k, x in v.items() if k != 2} == {
        0: 0, 1: 0, 3: 0, 10: 1
    }

    _upsert_delta_lite(                                      # version 3
        spark.createDataFrame(
            [(3, "three2"), (99, "new")], "id long, v string"
        ),
        table, "id",
    )
    v = rcv(table)
    assert v[3] == 3 and v[99] == 3
    assert v[0] == 0 and v[2] == 2 and v[10] == 1

    before = rcv(table)
    optimize_delta_lite(spark, table, target_file_bytes=1 << 30)
    assert rcv(table) == before  # compaction modifies nothing

    # ids still stable through all of it
    ids = {
        r.id: r._row_id
        for r in read_delta_lite(spark, table, with_row_id=True).collect()
    }
    assert len(set(ids.values())) == len(ids)


def test_with_row_id_warns_on_foreign_file_without_base_row_id(
    spark, tmp_path
):
    """A file lacking baseRowId on a table WITH a materialized row-id
    column resolves through that column alone — nothing guarantees a
    foreign writer populated it, so the read warns loudly (mirroring
    the with_row_commit_version rcv_missing fence) instead of serving
    possibly-NULL _row_id silently."""
    import glob as _glob
    import json as _json
    import warnings

    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "rt_foreign")
    write_delta_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, properties={"delta.enableRowTracking": "true"},
    )
    # simulate a foreign writer: strip baseRowId from the add action
    commit0 = sorted(_glob.glob(f"{table}/_delta_log/*.json"))[0]
    lines = []
    for line in open(commit0):
        a = _json.loads(line)
        if "add" in a:
            a["add"].pop("baseRowId", None)
        lines.append(_json.dumps(a))
    with open(commit0, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = read_delta_lite(spark, table, with_row_id=True).collect()
    assert len(rows) == 2
    msgs = [str(w.message) for w in caught]
    assert any(
        "materialized column" in m and "baseRowId" in m for m in msgs
    ), msgs


def test_with_row_id_strict_raises_on_foreign_file(spark, tmp_path):
    """?strict-row-id=true escalates the foreign-file warning to an
    error (mirroring the iceberg side's unassigned-lineage raise):
    a file lacking baseRowId that would resolve through the
    materialized column alone refuses instead of possibly serving
    NULL _row_id. Default (non-strict) keeps reading."""
    import glob as _glob
    import json as _json

    import pytest

    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.delta_lite import (
        read_delta_lite,
        write_delta_lite,
    )

    table = str(tmp_path / "rt_strict")
    write_delta_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, properties={"delta.enableRowTracking": "true"},
    )
    commit0 = sorted(_glob.glob(f"{table}/_delta_log/*.json"))[0]
    lines = []
    for line in open(commit0):
        a = _json.loads(line)
        if "add" in a:
            a["add"].pop("baseRowId", None)
        lines.append(_json.dumps(a))
    with open(commit0, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    with pytest.raises(ValueError, match="strict"):
        read_delta_lite(
            spark, table, with_row_id=True, strict_row_id=True
        )
    # non-strict still reads (2 rows), and the URI surface wires both
    assert (
        read_delta_lite(spark, table, with_row_id=True).count() == 2
    )
    _, src = resolve_source(
        f"t+delta://{table}?with-row-id=true&strict-row-id=true"
    )
    with pytest.raises(ValueError, match="strict"):
        src.read(spark)


def test_merge_and_upsert_run_one_probe_and_one_write(
    spark, tmp_path, sql_executions
):
    """A MERGE or upsert into a live table runs exactly two SQL
    executions: the probe, which carries the source-key gate, and the
    write, which yields the rewritten rows and the inserts and counts
    them. One that creates the table runs one: the write."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, partitioned=False)
    schema = "id long, part string, v double"
    src = spark.createDataFrame(
        [(3, "a", -3.0), (15, "b", -15.0), (40, "b", 40.0)], schema
    )
    stats, n = sql_executions(
        merge_delta_lite, src, path, on="id", update_set={"v": "source.v"}
    )
    assert n == 2
    assert (stats["rows_updated"], stats["rows_inserted"]) == (2, 1)
    assert stats["files_rewritten"] == 2 and stats["rows_deleted"] == 0
    up = spark.createDataFrame([(3, "z", 33.0), (41, "c", 41.0)], schema)
    _, n = sql_executions(
        write_delta_lite, up, path, mode="upsert", merge_key="id"
    )
    assert n == 2
    got = {r["id"]: (r["part"], r["v"]) for r in read_delta_lite(spark, path).collect()}
    assert len(got) == 22
    assert got[3] == ("z", 33.0) and got[15] == ("b", -15.0)
    assert got[40] == ("b", 40.0) and got[41] == ("c", 41.0)
    assert got[4] == ("a", 4.0)

    stats, n = sql_executions(
        merge_delta_lite, src, str(tmp_path / "new_merge"), on="id",
        update_set={"v": "source.v"},
    )
    assert n == 1 and stats["rows_inserted"] == 3
    _, n = sql_executions(
        write_delta_lite, up, str(tmp_path / "new_upsert"), mode="upsert",
        merge_key="id",
    )
    assert n == 1
    assert read_delta_lite(spark, str(tmp_path / "new_upsert")).count() == 2


@pytest.mark.parametrize("op", ["merge", "upsert"])
def test_bad_source_keys_raise_before_anything_commits(
    spark, tmp_path, files_under, op
):
    """NULL or duplicate source keys (composite ones too, for MERGE)
    raise the writer's ValueError into a live table and into a missing
    one; the table keeps its version and gains no file, also when the
    gate fails inside the write job."""
    from spark_etl_cli_spark.sources.delta_lite import merge_delta_lite

    live = str(tmp_path / "live")
    _mk_table(spark, live, partitioned=False)
    schema = "id long, part string, v double"
    if op == "merge":
        null, dup = (
            "merge: NULL keys in the source frame",
            "merge: duplicate keys in the source frame",
        )
        cases = [
            ([(None, "a", 1.0)], ["id"], null),
            ([(1, "a", 1.0), (1, "b", 2.0)], ["id"], dup),
            ([(1, None, 1.0)], ["id", "part"], null),
            ([(1, "a", 1.0), (1, "a", 2.0)], ["id", "part"], dup),
        ]
    else:
        null, dup = (
            "upsert: NULL merge keys in the incoming frame",
            "upsert: duplicate merge keys in the incoming frame",
        )
        cases = [
            ([(None, "a", 1.0)], ["id"], null),
            ([(1, "a", 1.0), (1, "b", 2.0)], ["id"], dup),
        ]
    for path in (live, str(tmp_path / "missing")):
        before = files_under(path)
        for rows, on, msg in cases:
            df = spark.createDataFrame(rows, schema)
            with pytest.raises(ValueError, match=msg):
                if op == "merge":
                    merge_delta_lite(
                        df, path, on=on, update_set={"v": "source.v"}
                    )
                else:
                    write_delta_lite(df, path, mode="upsert", merge_key="id")
            assert files_under(path) == before
