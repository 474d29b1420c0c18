"""Engine-free Hudi COW reader tests: tables hand-built per the public
timeline spec (parquet base files + .hoodie commit JSONs)."""

import glob
import json
import os

import pytest
from pyspark.sql import Row


def _write_base_file(spark, table, part, name, df):
    d = os.path.join(table, part) if part else table
    tmp = os.path.join(d, f"_tmp_{name}")
    df.coalesce(1).write.parquet(tmp)
    src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(os.path.join(tmp, src), os.path.join(d, name))
    import shutil

    shutil.rmtree(tmp)
    return os.path.join(part, name) if part else name


def _commit(table, ts, stats, action="commit", replaced=None):
    tdir = os.path.join(table, ".hoodie")
    os.makedirs(tdir, exist_ok=True)
    body = {"partitionToWriteStats": stats}
    if replaced:
        body["partitionToReplaceFileIds"] = replaced
    with open(os.path.join(tdir, f"{ts}.{action}"), "w") as fh:
        json.dump(body, fh)


def _props(table, ttype="COPY_ON_WRITE", record_key=None):
    tdir = os.path.join(table, ".hoodie")
    os.makedirs(tdir, exist_ok=True)
    with open(os.path.join(tdir, "hoodie.properties"), "w") as fh:
        fh.write(f"hoodie.table.name=t\nhoodie.table.type={ttype}\n")
        if record_key:
            fh.write(f"hoodie.table.recordkey.fields={record_key}\n")


def test_hudi_cow_latest_file_slice_wins(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    table = str(tmp_path / "hudi_t")
    os.makedirs(table)
    _props(table)
    # commit 1: file group fg1 with ids 0..4 (v1)
    p1 = _write_base_file(
        spark, table, "", "fg1_v1.parquet",
        spark.range(5).selectExpr("id", "'v1' AS ver"),
    )
    _commit(table, "20240101000000", {"": [{"fileId": "fg1", "path": p1}]})
    # commit 2: fg1 REWRITTEN (update) + new group fg2
    p2 = _write_base_file(
        spark, table, "", "fg1_v2.parquet",
        spark.range(5).selectExpr("id", "'v2' AS ver"),
    )
    p3 = _write_base_file(
        spark, table, "", "fg2_v1.parquet",
        spark.range(5, 8).selectExpr("id", "'v2' AS ver"),
    )
    _commit(table, "20240102000000", {
        "": [{"fileId": "fg1", "path": p2}, {"fileId": "fg2", "path": p3}],
    })
    _, src = resolve_source(f"h+hudi://{table}")
    out = src.read(spark)
    rows = {(r.id, r.ver) for r in out.collect()}
    # fg1's v1 file must NOT appear — latest slice only
    assert rows == {(i, "v2") for i in range(8)}
    # time travel to the first commit
    _, src0 = resolve_source(f"h+hudi://{table}?as-of=20240101000000")
    assert {(r.id, r.ver) for r in src0.read(spark).collect()} == {
        (i, "v1") for i in range(5)
    }


def test_hudi_replacecommit_drops_file_groups(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = str(tmp_path / "hudi_rc")
    os.makedirs(table)
    _props(table)
    p1 = _write_base_file(
        spark, table, "", "a.parquet", spark.range(3).selectExpr("id")
    )
    p2 = _write_base_file(
        spark, table, "", "b.parquet", spark.range(3, 6).selectExpr("id")
    )
    _commit(table, "20240101000000", {
        "": [{"fileId": "ga", "path": p1}, {"fileId": "gb", "path": p2}],
    })
    # clustering: both groups replaced by one compacted file
    p3 = _write_base_file(
        spark, table, "", "c.parquet", spark.range(6).selectExpr("id")
    )
    _commit(table, "20240102000000",
            {"": [{"fileId": "gc", "path": p3}]},
            action="replacecommit", replaced={"": ["ga", "gb"]})
    out = read_hudi_lite(spark, table)
    assert sorted(r.id for r in out.collect()) == list(range(6))
    # exactly one live file -> no double counting
    assert out.count() == 6


def test_hudi_meta_columns_dropped(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = str(tmp_path / "hudi_meta")
    os.makedirs(table)
    _props(table)
    df = spark.range(2).selectExpr(
        "'k' AS _hoodie_record_key", "id", "id * 2 AS v"
    )
    p = _write_base_file(spark, table, "", "m.parquet", df)
    _commit(table, "20240101000000", {"": [{"fileId": "g", "path": p}]})
    out = read_hudi_lite(spark, table)
    assert out.columns == ["id", "v"]


def test_hudi_mor_without_record_key_raises_clearly(spark, tmp_path):
    """The MOR snapshot merge needs the record key; a table whose
    hoodie.properties lacks recordkey.fields gets an actionable error
    (not a wrong merge), and ?view=read_optimized stays available."""
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = str(tmp_path / "hudi_mor")
    os.makedirs(table)
    _props(table, ttype="MERGE_ON_READ")
    p1 = _write_base_file(
        spark, table, "", "fg1_base.parquet", spark.range(3).selectExpr("id")
    )
    _commit(table, "20240101000000",
            {"": [{"fileId": "fg1", "path": p1}]}, action="deltacommit")
    log_name = ".fg1_20240101.log.1"
    with open(os.path.join(table, log_name), "wb") as fh:
        fh.write(b"\x00hudilog")
    _commit(table, "20240102000000",
            {"": [{"fileId": "fg1", "path": log_name}]}, action="deltacommit")
    with pytest.raises(NotImplementedError, match="recordkey"):
        read_hudi_lite(spark, table)


def test_hudi_upsert_rewrites_only_affected_groups(spark, tmp_path):
    """mode=upsert: rows with matching record keys are replaced, new
    keys inserted, and file groups WITHOUT matching keys keep their
    original base file untouched (no rewrite amplification)."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_up")
    # two separate commits -> two file groups: ids 0-4 and 5-9
    write_hudi_lite(
        spark.range(5).selectExpr("id", "'v1' AS ver"), table
    )
    write_hudi_lite(
        spark.range(5, 10).selectExpr("id", "'v1' AS ver"), table
    )
    before = {
        f for f in os.listdir(table) if not f.startswith(".")
    }
    # upsert: update ids 3,4 (group 1) + insert ids 20,21; group 2
    # (ids 5-9) holds no matching key and must not be rewritten
    t3 = write_hudi_lite(
        spark.createDataFrame(
            [(3, "v2"), (4, "v2"), (20, "v2"), (21, "v2")],
            "id long, ver string",
        ),
        table, mode="upsert", record_key="id",
    )
    out = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    assert out == (
        {(i, "v1") for i in (0, 1, 2)}
        | {(i, "v1") for i in range(5, 10)}
        | {(3, "v2"), (4, "v2"), (20, "v2"), (21, "v2")}
    )
    # time travel: pre-upsert snapshot still intact
    prev = sorted(r.id for r in read_hudi_lite(
        spark, table, as_of=f"{int(t3) - 1:014d}").collect())
    assert prev == list(range(10))
    # rewrite amplification check: group 2's commit wrote into its own
    # data dir; that dir's base file set is unchanged
    import json as _json

    commits = sorted(
        f for f in os.listdir(os.path.join(table, ".hoodie"))
        if f.endswith(".commit")
    )
    with open(os.path.join(table, ".hoodie", commits[-1])) as fh:
        c3 = _json.load(fh)
    rewritten_fids = {
        st["fileId"] for sts in c3["partitionToWriteStats"].values()
        for st in sts
    }
    with open(os.path.join(table, ".hoodie", commits[1])) as fh:
        c2 = _json.load(fh)
    g2_fids = {
        st["fileId"] for sts in c2["partitionToWriteStats"].values()
        for st in sts
    }
    assert not (g2_fids & rewritten_fids)  # untouched group not rewritten


def test_hudi_upsert_all_rows_of_a_group(spark, tmp_path):
    # upserting EVERY key of a group leaves an empty new slice — the
    # group contributes nothing, and reads stay correct
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_up_all")
    write_hudi_lite(spark.range(3).selectExpr("id", "'a' AS v"), table)
    write_hudi_lite(
        spark.range(3).selectExpr("id", "'b' AS v"), table,
        mode="upsert", record_key="id",
    )
    out = {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()}
    assert out == {(0, "b"), (1, "b"), (2, "b")}


def test_hudi_upsert_rejects_duplicate_or_null_keys(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    table = str(tmp_path / "hudi_up_bad")
    write_hudi_lite(spark.range(2).selectExpr("id"), table)
    with pytest.raises(ValueError, match="unique and non-null"):
        write_hudi_lite(
            spark.createDataFrame([(1,), (1,)], "id long"), table,
            mode="upsert", record_key="id",
        )
    with pytest.raises(ValueError, match="record_key"):
        write_hudi_lite(spark.range(1), table, mode="upsert")


def test_hudi_partitioned_write_prune_and_upsert(spark, tmp_path):
    """partition_by: files land per partition value but still CONTAIN
    the partition columns (Hudi semantics); commit stats are keyed by
    canonical hive paths so ?where= pruning works on this writer's own
    output; upserts respect the partitioning."""
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_pw")
    df = spark.createDataFrame(
        [Row(id=1, part="a"), Row(id=2, part="a"), Row(id=3, part="b")]
    )
    write_hudi_lite(df, table, partition_by=["part"])
    got = {(r.id, r.part) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b")}
    # pruning on the writer's own stats keys
    assert {r.id for r in read_hudi_lite(spark, table, where="part = 'b'")
            .collect()} == {3}
    # appends inherit the partitioning; mismatches are refused
    import pytest as _pt

    with _pt.raises(ValueError, match="partitioning"):
        write_hudi_lite(df, table, partition_by=["id"])
    write_hudi_lite(
        spark.createDataFrame([Row(id=9, part="b")]), table
    )
    assert {r.id for r in read_hudi_lite(spark, table, where="part = 'b'")
            .collect()} == {3, 9}
    # upsert across partitions: only the groups holding key 2 rewrite
    write_hudi_lite(
        spark.createDataFrame([Row(id=2, part="a2")]), table,
        mode="upsert", record_key="id",
    )
    got = {(r.id, r.part) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "a"), (2, "a2"), (3, "b"), (9, "b")}


def test_hudi_null_partition_is_null_prune(spark, tmp_path):
    # the hive null sentinel must behave as SQL NULL in partition
    # pruning: `IS NULL` keeps the null partition, `= 'x'` drops it
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_nullp")
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, part="a"), Row(id=2, part=None)]),
        table, partition_by=["part"],
    )
    assert {r.id for r in read_hudi_lite(spark, table, where="part IS NULL")
            .collect()} == {2}
    assert {r.id for r in read_hudi_lite(spark, table, where="part = 'a'")
            .collect()} == {1}


def test_hudi_upsert_via_pipeline_uri(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = f"{tmp_path}/hudi_up_uri"
    run_pipeline(
        spark, sources=["v+range://?end=4"], sinks=[f"v+hudi://{table}"]
    )
    run_pipeline(
        spark,
        sources=["v+values://?header=id:long&values=2;3;9"],
        sinks=[f"v+hudi://{table}?mode=upsert&record-key=id"],
    )
    assert sorted(r.id for r in read_hudi_lite(spark, table).collect()) == [
        0, 1, 2, 3, 9
    ]


def test_hudi_mor_read_optimized_view_opt_in(spark, tmp_path):
    """MOR table without a record key: default (snapshot) read raises
    with guidance, and ?view=read_optimized serves the documented RO
    view — latest BASE files only, .log delta files never opened."""
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = str(tmp_path / "hudi_mor_ro")
    os.makedirs(table)
    _props(table, ttype="MERGE_ON_READ")
    # deltacommit 1: insert creates a base file
    p1 = _write_base_file(
        spark, table, "", "fg1_base.parquet",
        spark.range(3).selectExpr("id", "'base' AS ver"),
    )
    _commit(table, "20240101000000",
            {"": [{"fileId": "fg1", "path": p1}]}, action="deltacommit")
    # deltacommit 2: an update lands in a LOG file (fake bytes — the RO
    # view must never try to open it)
    log_name = ".fg1_20240102.log.1"
    with open(os.path.join(table, log_name), "wb") as fh:
        fh.write(b"\x00hudilog")
    _commit(table, "20240102000000",
            {"": [{"fileId": "fg1", "path": log_name}]}, action="deltacommit")
    with pytest.raises(NotImplementedError, match="read_optimized"):
        read_hudi_lite(spark, table)
    out = read_hudi_lite(spark, table, view="read_optimized")
    assert {(r.id, r.ver) for r in out.collect()} == {
        (0, "base"), (1, "base"), (2, "base")
    }
    # URI surface
    _, src = resolve_source(f"h+hudi://{table}?view=read_optimized")
    assert src.read(spark).count() == 3


def test_hudi_where_prunes_partition_paths(spark, tmp_path):
    """Hive-style partition paths are pruned from the file list by
    ?where= before any footer is opened; non-hive layouts and
    non-partition predicates fall back to row filtering."""
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = str(tmp_path / "hudi_prune")
    os.makedirs(table)
    _props(table)
    stats = {}
    for part, ids in [("part=a", [1, 2]), ("part=b", [3])]:
        os.makedirs(os.path.join(table, part), exist_ok=True)
        p = _write_base_file(
            spark, table, part, "f.parquet",
            spark.createDataFrame(
                [(i, part.split("=")[1]) for i in ids], "id long, part string"
            ),
        )
        stats[part] = [{"fileId": f"g{part}", "path": p}]
    _commit(table, "20240101000000", stats)
    got = {(r.id, r.part)
           for r in read_hudi_lite(spark, table, where="part = 'b'").collect()}
    assert got == {(3, "b")}
    # non-partition predicate: no pruning possible, row filter applies
    assert read_hudi_lite(spark, table, where="id >= 3").collect()[0].id == 3
    # file-level proof: poison partition a's base file on disk; the
    # pruned read never opens it (an unpruned read would crash here)
    a_file = os.path.join(table, "part=a", "f.parquet")
    with open(a_file, "wb") as fh:
        fh.write(b"not parquet")
    assert read_hudi_lite(spark, table, where="part = 'b'").count() == 1


def test_hudi_missing_table_raises(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.optional import MissingDependencyError

    _, src = resolve_source(f"h+hudi://{tmp_path}/nope")
    with pytest.raises(MissingDependencyError, match="[Hh]udi"):
        src.read(spark)


def test_hudi_write_read_roundtrip(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hw")
    t1 = write_hudi_lite(spark.range(4).selectExpr("id"), table)
    t2 = write_hudi_lite(spark.range(4, 6).selectExpr("id"), table)
    assert int(t2) == int(t1) + 1
    assert sorted(r.id for r in read_hudi_lite(spark, table).collect()) == [
        0, 1, 2, 3, 4, 5
    ]
    # as-of the first instant
    assert read_hudi_lite(spark, table, as_of=t1).count() == 4
    # overwrite replaces everything but history stays readable
    write_hudi_lite(
        spark.range(100, 102).selectExpr("id"), table, mode="overwrite"
    )
    assert {r.id for r in read_hudi_lite(spark, table).collect()} == {100, 101}
    assert read_hudi_lite(spark, table, as_of=t2).count() == 6
    # pipeline surface both directions
    run_pipeline(
        spark,
        sources=["v+range://?end=3"],
        sinks=[f"v+hudi://{tmp_path}/hw2"],
    )
    run_pipeline(
        spark,
        sources=[f"h+hudi://{tmp_path}/hw2"],
        sinks=["h+memory://hudi_rt"],
    )
    assert spark.table("hudi_rt").count() == 3


# --- row-level DELETE ------------------------------------------------------


def test_hudi_delete_rewrites_only_affected_groups(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "t")
    write_hudi_lite(
        spark.createDataFrame(
            [(i, "a" if i < 5 else "b", float(i)) for i in range(10)],
            "id long, part string, v double",
        ).coalesce(1),
        table,
        partition_by=["part"],
    )
    write_hudi_lite(
        spark.createDataFrame(
            [(i, "b", float(i)) for i in range(10, 14)],
            "id long, part string, v double",
        ).coalesce(1),
        table,
        mode="append",
        partition_by=["part"],
    )
    stats = delete_hudi_lite(spark, table, "part = 'a' and id < 3")
    assert stats["rows_deleted"] == 3
    assert stats["files_rewritten"] == 1  # only partition a's one group
    got = sorted(r["id"] for r in read_hudi_lite(spark, table).collect())
    assert got == sorted(set(range(14)) - {0, 1, 2})
    # as-of travel before the delete still sees everything
    # (instants are monotonic: the delete is the newest one)
    instants = sorted(
        f.split(".")[0]
        for f in __import__("os").listdir(f"{table}/.hoodie")
        if f.endswith((".commit", ".replacecommit"))
    )
    pre = read_hudi_lite(spark, table, as_of=instants[-2])
    assert pre.count() == 14


def test_hudi_delete_empties_whole_group(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "t")
    write_hudi_lite(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        table,
    )
    stats = delete_hudi_lite(spark, table, "id >= 1")
    assert stats["rows_deleted"] == 2
    assert stats["files_added"] == 0  # replaced by nothing
    with pytest.raises(ValueError, match="no live base files"):
        read_hudi_lite(spark, table)


def test_hudi_delete_null_pred_keeps_and_noop_commits_nothing(spark, tmp_path):
    import os as _os

    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "t")
    write_hudi_lite(
        spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 9.0)], "id long, v double"
        ),
        table,
    )
    n_before = len(_os.listdir(f"{table}/.hoodie"))
    assert delete_hudi_lite(spark, table, "id > 99")["rows_deleted"] == 0
    assert len(_os.listdir(f"{table}/.hoodie")) == n_before
    stats = delete_hudi_lite(spark, table, "v > 5.0")
    assert stats["rows_deleted"] == 1
    got = sorted(r["id"] for r in read_hudi_lite(spark, table).collect())
    assert got == [1, 2]


def test_hudi_delete_via_pipeline_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "t")
    write_hudi_lite(spark.range(6).selectExpr("id"), table)
    _, src = resolve_source(f"hudi-delete://{table}?where=id%20%3C%202")
    rep = src.read(spark).head()
    assert rep["rows_deleted"] == 2
    assert read_hudi_lite(spark, table).count() == 4


# --- HoodieLogFormat codec + MOR snapshot view -----------------------------

_ID_VER_AVRO = {
    "type": "record",
    "name": "rec",
    "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "ver", "type": ["null", "string"]},
    ],
}


def test_hudi_log_block_roundtrip(tmp_path):
    from spark_etl_cli_spark.sources.hudi_log import (
        AVRO_DATA_BLOCK,
        DELETE_BLOCK,
        INSTANT_TIME,
        append_data_block,
        append_delete_block,
        append_rollback_block,
        read_log_blocks,
    )

    log = str(tmp_path / ".fg1_001.log.1")
    append_data_block(
        log, [{"id": 1, "ver": "a"}, {"id": 2, "ver": "b"}],
        _ID_VER_AVRO, "t1",
    )
    append_delete_block(log, [("1", None)], "t2")
    with open(log, "rb") as fh:
        blocks = read_log_blocks(fh.read())
    assert [b["type"] for b in blocks] == [AVRO_DATA_BLOCK, DELETE_BLOCK]
    assert blocks[0]["records"] == [{"id": 1, "ver": "a"}, {"id": 2, "ver": "b"}]
    assert blocks[0]["header"][INSTANT_TIME] == "t1"
    assert blocks[1]["records"][0]["recordKey"] == "1"

    # rollback invalidates earlier blocks of the SAME instant
    append_data_block(log, [{"id": 9, "ver": "bad"}], _ID_VER_AVRO, "t3")
    append_rollback_block(log, "t3")
    with open(log, "rb") as fh:
        blocks = read_log_blocks(fh.read())
    assert [b["header"][INSTANT_TIME] for b in blocks] == ["t1", "t2"]


def test_hudi_log_truncated_tail_block_is_dropped(tmp_path):
    """A writer that died mid-append leaves a truncated final block;
    the reader serves everything before it, like Hudi's corrupt-block
    skipping."""
    from spark_etl_cli_spark.sources.hudi_log import (
        append_data_block,
        read_log_blocks,
    )

    log = str(tmp_path / ".fg1_001.log.1")
    append_data_block(log, [{"id": 1, "ver": "a"}], _ID_VER_AVRO, "t1")
    good_len = os.path.getsize(log)
    append_data_block(log, [{"id": 2, "ver": "b"}], _ID_VER_AVRO, "t2")
    with open(log, "rb") as fh:
        data = fh.read()
    truncated = data[: good_len + (len(data) - good_len) // 2]
    blocks = read_log_blocks(truncated)
    assert len(blocks) == 1 and blocks[0]["records"][0]["id"] == 1
    # garbage at a block boundary is NOT silently skipped
    with pytest.raises(ValueError, match="bad magic"):
        read_log_blocks(data[:good_len] + b"garbage-not-a-block-header!")


def _mk_mor_table(spark, tmp_path):
    """Base fg1 (ids 0-4) + fg2 (ids 5-7); logs on fg1: update id=1,
    delete id=2, then a later block re-updating id=1."""
    from spark_etl_cli_spark.sources.hudi_log import (
        append_data_block,
        append_delete_block,
    )

    table = str(tmp_path / "hudi_mor_snap")
    os.makedirs(table)
    _props(table, ttype="MERGE_ON_READ", record_key="id")
    p1 = _write_base_file(
        spark, table, "", "fg1_base.parquet",
        spark.range(5).selectExpr("id", "'base' AS ver"),
    )
    p2 = _write_base_file(
        spark, table, "", "fg2_base.parquet",
        spark.range(5, 8).selectExpr("id", "'base' AS ver"),
    )
    _commit(table, "20240101000000",
            {"": [{"fileId": "fg1", "path": p1},
                  {"fileId": "fg2", "path": p2}]},
            action="deltacommit")
    log1 = ".fg1_20240101.log.1"
    append_data_block(
        os.path.join(table, log1),
        [{"id": 1, "ver": "u1"}], _ID_VER_AVRO, "20240102000000",
    )
    append_delete_block(
        os.path.join(table, log1), [("2", None)], "20240102000000"
    )
    _commit(table, "20240102000000",
            {"": [{"fileId": "fg1", "path": log1}]}, action="deltacommit")
    log2 = ".fg1_20240101.log.2"
    append_data_block(
        os.path.join(table, log2),
        [{"id": 1, "ver": "u2"}, {"id": 100, "ver": "new"}],
        _ID_VER_AVRO, "20240103000000",
    )
    _commit(table, "20240103000000",
            {"": [{"fileId": "fg1", "path": log2}]}, action="deltacommit")
    return table


def test_hudi_mor_snapshot_merges_log_blocks(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = _mk_mor_table(spark, tmp_path)
    out = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    # id=1 updated twice (latest wins), id=2 deleted, id=100 inserted
    assert out == {
        (0, "base"), (1, "u2"), (3, "base"), (4, "base"),
        (5, "base"), (6, "base"), (7, "base"), (100, "new"),
    }
    # RO view: base files only, no log merge
    ro = {(r.id, r.ver)
          for r in read_hudi_lite(spark, table, view="read_optimized").collect()}
    assert ro == {(i, "base") for i in range(8)}
    # time travel to before the second log file
    v1 = {(r.id, r.ver)
          for r in read_hudi_lite(spark, table, as_of="20240102000000").collect()}
    assert v1 == {
        (0, "base"), (1, "u1"), (3, "base"), (4, "base"),
        (5, "base"), (6, "base"), (7, "base"),
    }


def test_hudi_mor_snapshot_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    table = _mk_mor_table(spark, tmp_path)
    _, src = resolve_source(f"h+hudi://{table}")
    assert src.read(spark).count() == 8


def test_hudi_mor_compaction_resets_log_slice(spark, tmp_path):
    """A new base file for a file group (compaction) starts a new file
    slice: earlier log files no longer apply."""
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = _mk_mor_table(spark, tmp_path)
    # compaction: new base for fg1 materializing the merged state
    p = _write_base_file(
        spark, table, "", "fg1_compacted.parquet",
        spark.createDataFrame(
            [(0, "c"), (1, "c"), (3, "c"), (4, "c"), (100, "c")],
            "id long, ver string",
        ),
    )
    _commit(table, "20240104000000",
            {"": [{"fileId": "fg1", "path": p}]}, action="commit")
    out = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    assert out == {
        (0, "c"), (1, "c"), (3, "c"), (4, "c"), (100, "c"),
        (5, "base"), (6, "base"), (7, "base"),
    }


def test_hudi_mor_writer_upsert_appends_log_blocks(spark, tmp_path):
    """End-to-end MOR round-trip through OUR writer: create a
    MERGE_ON_READ table, upsert (matched rows must land as log blocks —
    base files byte-identical — unmatched as a new file group), then
    DELETE via delete blocks; the snapshot view merges it all, the RO
    view stays stale base-only."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "mor_w")
    write_hudi_lite(
        spark.range(5).selectExpr("id", "'v1' AS ver"), table,
        record_key="id", table_type="MERGE_ON_READ",
    )
    base_files = {
        f: os.path.getsize(f)
        for f in __import__("glob").glob(
            os.path.join(table, "**", "*.parquet"), recursive=True
        )
    }
    # timeline: the insert is a deltacommit
    assert any(
        f.endswith(".deltacommit")
        for f in os.listdir(os.path.join(table, ".hoodie"))
    )

    ts = write_hudi_lite(
        spark.createDataFrame(
            [(1, "v2"), (3, "v2"), (50, "new")], "id long, ver string"
        ),
        table, mode="upsert", record_key="id",
    )
    assert ts
    # base files untouched, byte-identical
    for f, sz in base_files.items():
        assert os.path.getsize(f) == sz
    # a log file landed
    logs = [f for f in os.listdir(table) if ".log." in f]
    assert logs
    got = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    assert got == {
        (0, "v1"), (1, "v2"), (2, "v1"), (3, "v2"), (4, "v1"), (50, "new"),
    }
    # RO view: base only — upserts invisible, new file group visible
    ro = {(r.id, r.ver)
          for r in read_hudi_lite(spark, table, view="read_optimized").collect()}
    assert ro == {(i, "v1") for i in range(5)} | {(50, "new")}

    # MOR DELETE: delete blocks, nothing rewritten
    sizes_before = {
        f: os.path.getsize(f)
        for f in __import__("glob").glob(
            os.path.join(table, "**", "*.parquet"), recursive=True
        )
    }
    stats = delete_hudi_lite(spark, table, "ver = 'v1'")
    assert stats["files_rewritten"] == 0 and stats["rows_deleted"] == 3
    for f, sz in sizes_before.items():
        assert os.path.getsize(f) == sz
    got = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "v2"), (3, "v2"), (50, "new")}
    # second upsert after the delete stacks correctly
    write_hudi_lite(
        spark.createDataFrame([(1, "v3")], "id long, ver string"),
        table, mode="upsert", record_key="id",
    )
    got = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "v3"), (3, "v2"), (50, "new")}


def test_hudi_mor_writer_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    table = str(tmp_path / "mor_uri")
    _, sink = resolve_sink(
        f"h+hudi://{table}?record-key=id&table-type=MERGE_ON_READ"
    )
    sink.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    _, sink2 = resolve_sink(f"h+hudi://{table}?mode=upsert&record-key=id")
    sink2.write(spark.createDataFrame([(2, "B")], "id long, v string"))
    got = {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "a"), (2, "B")}


def test_hudi_mor_upsert_partitioned_round_trip(spark, tmp_path):
    """Partitioned MOR upsert: matched rows append log blocks in their
    group's partition path, unmatched rows start hive-partitioned file
    groups, the snapshot merges correctly, partition pruning still
    works, and compaction materializes per-partition base files."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        compact_hudi_mor_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "mor_part")
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")],
            "id long, v string, part string",
        ),
        table, record_key="id", table_type="MERGE_ON_READ",
        partition_by=["part"],
    )
    # update one key per partition + insert a new key into p2 and a
    # key opening a brand-new partition p3
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "A", "p1"), (3, "C", "p2"), (4, "d", "p2"), (5, "e", "p3")],
            "id long, v string, part string",
        ),
        table, mode="upsert", record_key="id",
    )
    expect = {(1, "A", "p1"), (2, "b", "p1"), (3, "C", "p2"),
              (4, "d", "p2"), (5, "e", "p3")}
    got = {(r.id, r.v, r.part)
           for r in read_hudi_lite(spark, table).collect()}
    assert got == expect
    # the matched-row updates landed as log files under the partition
    # dirs (zero base rewrites)
    logs = glob.glob(os.path.join(table, "**", ".*.log.*"), recursive=True)
    assert logs and all(
        os.sep + "p" in l.replace("part=", "") or "part=" in l for l in logs
    )
    # partition pruning via ?where= still serves the right slices
    p2 = read_hudi_lite(spark, table, where="part = 'p2'")
    assert {(r.id, r.v) for r in p2.collect()} == {(3, "C"), (4, "d")}
    # a partition-moving update round-trips (r6 fence closed): the key
    # tombstones in its old group via a DELETE log block and re-inserts
    # as a new file group under the new partition, one deltacommit
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "moved", "p2")], "id long, v string, part string"
        ),
        table, mode="upsert", record_key="id",
    )
    expect = (expect - {(1, "A", "p1")}) | {(1, "moved", "p2")}
    got_mv = {(r.id, r.v, r.part)
              for r in read_hudi_lite(spark, table).collect()}
    assert got_mv == expect
    # the moved key is served under its NEW partition path, and the old
    # partition no longer claims it
    assert {(r.id, r.v) for r in read_hudi_lite(
        spark, table, where="part = 'p2'"
    ).collect()} == {(1, "moved"), (3, "C"), (4, "d")}
    assert {(r.id, r.v) for r in read_hudi_lite(
        spark, table, where="part = 'p1'"
    ).collect()} == {(2, "b")}
    # file-level pruning proof: poison EVERY file under partition p1
    # (base + logs); the pruned p2 read never opens them
    import shutil as _sh

    backup = str(tmp_path / "p1_backup")
    _sh.copytree(os.path.join(table, "part=p1"), backup)
    for f in glob.glob(
        os.path.join(table, "part=p1", "**", "*"), recursive=True
    ):
        if os.path.isfile(f):
            with open(f, "wb") as fh:
                fh.write(b"poisoned")
    p2b = read_hudi_lite(spark, table, where="part = 'p2'")
    assert {(r.id, r.v) for r in p2b.collect()} == {
        (1, "moved"), (3, "C"), (4, "d")}
    _sh.rmtree(os.path.join(table, "part=p1"))
    _sh.copytree(backup, os.path.join(table, "part=p1"))
    # compaction materializes merged per-partition base files; the
    # snapshot is unchanged and the logs stop applying
    stats = compact_hudi_mor_lite(spark, table)
    assert stats["groups_compacted"] >= 2
    got2 = {(r.id, r.v, r.part)
            for r in read_hudi_lite(spark, table).collect()}
    assert got2 == expect
    # further upserts start a fresh slice on the compacted base
    write_hudi_lite(
        spark.createDataFrame(
            [(2, "B2", "p1")], "id long, v string, part string"
        ),
        table, mode="upsert", record_key="id",
    )
    assert {(r.id, r.v, r.part)
            for r in read_hudi_lite(spark, table).collect()} == (
        expect - {(2, "b", "p1")} | {(2, "B2", "p1")}
    )


def test_hudi_mor_compaction_materializes_merged_base(spark, tmp_path):
    """compact_hudi_mor_lite: log-carrying groups get a NEW base file
    holding their merged state (a commit instant), the RO view catches
    up to the snapshot view, and further upserts start a fresh slice."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        compact_hudi_mor_lite,
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "mor_compact")
    write_hudi_lite(
        spark.range(4).selectExpr("id", "'v1' AS ver"), table,
        record_key="id", table_type="MERGE_ON_READ",
    )
    write_hudi_lite(
        spark.createDataFrame([(1, "v2")], "id long, ver string"),
        table, mode="upsert", record_key="id",
    )
    delete_hudi_lite(spark, table, "id = 3")
    expect = {(0, "v1"), (1, "v2"), (2, "v1")}
    snap_before = {(r.id, r.ver) for r in read_hudi_lite(spark, table).collect()}
    assert snap_before == expect
    # RO view is stale before compaction
    ro = {(r.id, r.ver)
          for r in read_hudi_lite(spark, table, view="read_optimized").collect()}
    assert ro == {(i, "v1") for i in range(4)}

    stats = compact_hudi_mor_lite(spark, table)
    # the insert may have split rows over several file groups (one per
    # part file); every LOG-CARRYING group compacts, each to one base
    assert stats["groups_compacted"] >= 1
    assert stats["files_added"] == stats["groups_compacted"]
    # snapshot unchanged; RO view now equals it
    assert {(r.id, r.ver)
            for r in read_hudi_lite(spark, table).collect()} == expect
    assert {(r.id, r.ver)
            for r in read_hudi_lite(spark, table,
                                    view="read_optimized").collect()} == expect
    # idempotent: nothing left to compact
    assert compact_hudi_mor_lite(spark, table)["groups_compacted"] == 0
    # post-compaction upsert opens a fresh slice and still merges
    write_hudi_lite(
        spark.createDataFrame([(0, "v3")], "id long, ver string"),
        table, mode="upsert", record_key="id",
    )
    assert {(r.id, r.ver)
            for r in read_hudi_lite(spark, table).collect()} == {
        (0, "v3"), (1, "v2"), (2, "v1"),
    }


def test_hudi_compact_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    table = str(tmp_path / "mor_compact_uri")
    write_hudi_lite(
        spark.range(2).selectExpr("id", "'a' AS v"), table,
        record_key="id", table_type="MERGE_ON_READ",
    )
    write_hudi_lite(
        spark.createDataFrame([(0, "b")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    _, src = resolve_source(f"rep+hudi-compact://{table}")
    row = src.read(spark).collect()[0]
    assert row.groups_compacted == 1


def test_hudi_stream_incremental_instants(spark, tmp_path):
    """hudi-stream:// reads only the base files each new PURE-INSERT
    instant added; a resumed run picks up later instants without
    re-reading earlier files (offset = instant ts)."""
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    table = str(tmp_path / "hudi_stream")
    write_hudi_lite(
        spark.range(4).selectExpr("id", "concat('s', id) AS tag"), table
    )
    _, src = resolve_source(f"s+hudi-stream://{table}")
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

    write_hudi_lite(
        spark.range(4, 6).selectExpr("id", "concat('s', id) AS tag"),
        table, mode="append",
    )
    q2 = (
        src.read(spark)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    # exactly-once: ids 0-3 appear ONCE, plus the new 4,5
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [
        0, 1, 2, 3, 4, 5
    ]


def test_hudi_stream_refuses_change_instants_unless_skipped(spark, tmp_path):
    """A COW upsert (re-listing an existing file group) or a
    replacecommit must fail the stream loudly; ?skip-change-commits=true
    drops such instants whole but still streams later pure inserts."""
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    table = str(tmp_path / "hudi_stream_chg")
    write_hudi_lite(
        spark.range(3).selectExpr("id", "'v1' AS ver"), table
    )
    # COW upsert rewrites the existing group AND adds a new one
    write_hudi_lite(
        spark.createDataFrame([(0, "v2")], "id long, ver string"),
        table, mode="upsert", record_key="id",
    )
    _, src = resolve_source(f"s+hudi-stream://{table}")
    q = (
        src.read(spark)
        .writeStream.format("memory")
        .queryName("hudi_chg_fail")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="skip-change-commits"):
        q.awaitTermination(60)
        raise AssertionError("stream should have failed")

    # with the skip flag: the upsert instant is dropped whole, a later
    # pure insert still streams
    write_hudi_lite(
        spark.createDataFrame([(9, "v1")], "id long, ver string"),
        table, mode="append",
    )
    _, src2 = resolve_source(
        f"s+hudi-stream://{table}?skip-change-commits=true"
    )
    q2 = (
        src2.read(spark)
        .writeStream.format("memory")
        .queryName("hudi_chg_skip")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    got = {(r.id, r.ver) for r in spark.table("hudi_chg_skip").collect()}
    # instant 1 (insert 0-2) streams; instant 2 (upsert) skipped whole;
    # instant 3 (insert id=9) streams
    assert got == {(0, "v1"), (1, "v1"), (2, "v1"), (9, "v1")}


# --- incremental queries ------------------------------------------------------


def test_incremental_returns_only_new_rows(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_incremental,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    ts0 = write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    ts1 = write_hudi_lite(
        spark.createDataFrame([Row(id=3, v=3.0)]), path, mode="append"
    )
    inc = read_hudi_incremental(spark, path, begin_instant=ts0)
    rows = {(r["id"], r["_hoodie_commit_time"]) for r in inc.collect()}
    assert rows == {(3, ts1)}
    # full-history pull: begin before the first commit
    all_rows = read_hudi_incremental(spark, path, begin_instant="0")
    assert {r["id"] for r in all_rows.collect()} == {1, 2, 3}


def test_incremental_upsert_reports_changed_rows_only(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_incremental,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    ts0 = write_hudi_lite(
        spark.createDataFrame(
            [Row(id=i, v=float(i)) for i in range(5)]
        ),
        path, record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([Row(id=2, v=200.0), Row(id=9, v=9.0)]),
        path, mode="upsert", record_key="id",
    )
    inc = read_hudi_incremental(spark, path, begin_instant=ts0)
    rows = {(r["id"], r["v"]) for r in inc.collect()}
    # survivors (0,1,3,4) kept their original commit time -> excluded
    assert rows == {(2, 200.0), (9, 9.0)}


def test_incremental_end_instant_bounds_the_range(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_incremental,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    ts0 = write_hudi_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    ts1 = write_hudi_lite(
        spark.createDataFrame([Row(id=2, v=2.0)]), path, mode="append"
    )
    write_hudi_lite(
        spark.createDataFrame([Row(id=3, v=3.0)]), path, mode="append"
    )
    inc = read_hudi_incremental(
        spark, path, begin_instant=ts0, end_instant=ts1
    )
    assert {r["id"] for r in inc.collect()} == {2}


def test_incremental_after_delete_excludes_survivors(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_incremental,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    write_hudi_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)]),
        path,
    )
    instants_before = read_hudi_incremental(spark, path, begin_instant="0")
    assert instants_before.count() == 5
    ts1 = sorted({r["_hoodie_commit_time"]
                  for r in instants_before.collect()})[-1]
    delete_hudi_lite(spark, path, "id >= 3")
    # survivors were not changed: nothing inserted or updated in range
    inc = read_hudi_incremental(spark, path, begin_instant=ts1)
    assert inc.count() == 0
    # deleted rows don't appear in a full pull either
    assert {r["id"]
            for r in read_hudi_incremental(spark, path, "0").collect()} == {
        0, 1, 2,
    }


def test_incremental_mor_log_changes(spark, tmp_path):
    """MOR incremental: log-block upserts/deletes resolve to the
    snapshot state of the changed keys; compaction contributes
    nothing; insert→delete within range never appears."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        compact_hudi_mor_lite,
        delete_hudi_lite,
        read_hudi_incremental,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    ts0 = write_hudi_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4)]),
        path, record_key="id", table_type="MERGE_ON_READ",
    )
    # full pull from 0: every row inserted at ts0
    inc0 = read_hudi_incremental(spark, path, begin_instant="0")
    assert {(r["id"], r["_hoodie_commit_time"])
            for r in inc0.collect()} == {(i, ts0) for i in range(4)}
    # log-appending upsert: update id=1, insert id=9 (new file group)
    ts1 = write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=100.0), Row(id=9, v=9.0)]),
        path, mode="upsert", record_key="id",
    )
    inc1 = read_hudi_incremental(spark, path, begin_instant=ts0)
    assert {(r["id"], r["v"]) for r in inc1.collect()} == {
        (1, 100.0), (9, 9.0),
    }
    assert {r["_hoodie_commit_time"] for r in inc1.collect()} == {ts1}
    # delete id=9 via log delete block: insert->delete in range -> gone
    delete_hudi_lite(
        spark, path, keys=spark.createDataFrame([(9,)], "id long")
    )
    inc2 = read_hudi_incremental(spark, path, begin_instant=ts0)
    assert {(r["id"], r["v"]) for r in inc2.collect()} == {(1, 100.0)}
    # compaction is not a data change: incremental past it is empty
    ts3 = sorted(
        f.split(".")[0]
        for f in os.listdir(os.path.join(path, ".hoodie"))
        if f.endswith((".commit", ".deltacommit"))
    )[-1]
    compact_hudi_mor_lite(spark, path)
    assert read_hudi_incremental(
        spark, path, begin_instant=ts3
    ).count() == 0
    # end_instant bounds the range: only ts1's changes
    inc3 = read_hudi_incremental(
        spark, path, begin_instant=ts0, end_instant=ts1
    )
    assert {(r["id"], r["v"]) for r in inc3.collect()} == {
        (1, 100.0), (9, 9.0),
    }


def test_incremental_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    path = str(tmp_path / "tbl")
    ts0 = write_hudi_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    write_hudi_lite(
        spark.createDataFrame([Row(id=2, v=2.0), Row(id=3, v=30.0)]),
        path, mode="append",
    )
    _, src = resolve_source(
        f"h+hudi://{path}?begin-instant={ts0}&where=v < 10"
    )
    assert {r["id"] for r in src.read(spark).collect()} == {2}


def test_hudi_streaming_upsert_sink(spark, tmp_path):
    """?mode=upsert&record-key= on a streaming hudi sink: each
    micro-batch is a record-key MERGE — the hudi streaming-CDC shape."""
    from spark_etl_cli_spark.registry import resolve_sink
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]),
        path, record_key="id",
    )
    spark.createDataFrame(
        [Row(id=2, v=20.0), Row(id=4, v=4.0)]
    ).write.parquet(src)
    stream = spark.readStream.schema("id long, v double").parquet(src)
    _, sink = resolve_sink(
        f"s+hudi://{path}?mode=upsert&record-key=id"
        f"&checkpointLocation={tmp_path}/ckpt&trigger-interval=availableNow"
    )
    assert sink.write(stream) is True
    for q in spark.streams.active:
        q.awaitTermination(120)
    got = {r["id"]: r["v"] for r in read_hudi_lite(spark, path).collect()}
    assert got == {1: 1.0, 2: 20.0, 4: 4.0}


def test_hudi_streaming_sink_rejects_unknown_mode(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_sink

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    _, sink = resolve_sink(
        f"s+hudi://{tmp_path}/t?mode=overwrite&trigger-interval=availableNow"
    )
    with pytest.raises(ValueError, match="append|upsert"):
        sink.write(stream)


def test_hudi_delete_by_keys(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    write_hudi_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(6)]),
        path, record_key="id",
    )
    stats = delete_hudi_lite(
        spark, path, keys=spark.createDataFrame([(1,), (4,)], "id long")
    )
    assert stats["rows_deleted"] == 2
    assert sorted(
        r["id"] for r in read_hudi_lite(spark, path).collect()
    ) == [0, 2, 3, 5]
    with pytest.raises(ValueError, match="exactly one"):
        delete_hudi_lite(spark, path)


def test_hudi_mor_delete_by_keys(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        delete_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    write_hudi_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4)]),
        path, record_key="id", table_type="MERGE_ON_READ",
    )
    stats = delete_hudi_lite(
        spark, path, keys=spark.createDataFrame([(2,)], "id long")
    )
    assert stats["rows_deleted"] == 1
    assert sorted(
        r["id"] for r in read_hudi_lite(spark, path).collect()
    ) == [0, 1, 3]


def test_hudi_apply_changes_sequence_rules(spark, tmp_path):
    """No-sequence ambiguous batches raise; an explicit transport
    sequence column orders within key and stays out of the table."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        apply_changes_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    path = str(tmp_path / "hudi_cdc_seq")
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), path, record_key="id"
    )
    ambiguous = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="insert"),
            Row(id=1, v=10.0, _change_type="delete"),
        ]
    )
    with pytest.raises(ValueError, match="no sequence"):
        apply_changes_hudi_lite(ambiguous, path, on="id")
    seq = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="delete", ts_ms=200),
            Row(id=1, v=10.0, _change_type="insert", ts_ms=100),
            Row(id=2, v=2.0, _change_type="insert", ts_ms=100),
        ]
    )
    apply_changes_hudi_lite(seq, path, on="id", sequence_col="ts_ms")
    got = {r["id"]: r["v"] for r in read_hudi_lite(spark, path).collect()}
    assert got == {2: 2.0}
    assert "ts_ms" not in read_hudi_lite(spark, path).columns


def test_cross_format_cdc_delta_to_hudi(spark, tmp_path):
    """delta CDF stream -> hudi ?mode=cdc sink: the hudi replica tracks
    the delta source across incremental runs."""
    from spark_etl_cli_spark.registry import resolve_sink, resolve_source
    from spark_etl_cli_spark.sources.delta_lite import (
        delete_delta_lite,
        read_delta_lite,
        update_delta_lite,
        write_delta_lite,
    )
    from spark_etl_cli_spark.sources.hudi_lite import read_hudi_lite

    src_path = str(tmp_path / "delta_src")
    rep_path = str(tmp_path / "hudi_rep")
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
            f"r+hudi://{rep_path}?mode=cdc&on=id"
            f"&checkpointLocation={tmp_path}/ckpt"
            "&trigger-interval=availableNow"
        )
        assert sink.write(s.read(spark)) is True
        for q in spark.streams.active:
            q.awaitTermination(180)

    def snap_delta():
        return {(r["id"], r["v"])
                for r in read_delta_lite(spark, src_path).collect()}

    def snap_hudi():
        return {(r["id"], r["v"])
                for r in read_hudi_lite(spark, rep_path).collect()}

    replicate()
    assert snap_hudi() == snap_delta()
    write_delta_lite(
        spark.createDataFrame([Row(id=9, v=9.0)]), src_path, mode="append"
    )
    delete_delta_lite(spark, src_path, "id = 3")
    replicate()
    assert snap_hudi() == snap_delta()


def test_incremental_mor_survives_compaction_inside_range(spark, tmp_path):
    """r6 ADVICE (high): a compaction landing INSIDE (begin, end] must
    not hide changes — the pre-compaction log blocks vanish from the
    live slice (new base resets the group's logs) and the compacted
    group fails the old base-instant action check. Both paths must
    still report the in-range changes at their snapshot state."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        compact_hudi_mor_lite,
        read_hudi_incremental,
        write_hudi_lite,
    )

    path = str(tmp_path / "tbl")
    ts0 = write_hudi_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4)]),
        path, record_key="id", table_type="MERGE_ON_READ",
    )
    # in-range change 1: log-block update of id=1, plus a NEW file
    # group for id=9 (insert) in the same deltacommit
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=100.0), Row(id=9, v=9.0)]),
        path, mode="upsert", record_key="id",
    )
    # compaction lands INSIDE the queried range: new base files for
    # every log-carrying group, logs reset
    compact_hudi_mor_lite(spark, path)
    inc = read_hudi_incremental(spark, path, begin_instant=ts0)
    assert {(r["id"], r["v"]) for r in inc.collect()} == {
        (1, 100.0), (9, 9.0),
    }
    # post-compaction log change in the same pull window still reports,
    # served at the latest snapshot state
    ts2 = write_hudi_lite(
        spark.createDataFrame([Row(id=2, v=200.0)]),
        path, mode="upsert", record_key="id",
    )
    inc2 = read_hudi_incremental(spark, path, begin_instant=ts0)
    assert {(r["id"], r["v"]) for r in inc2.collect()} == {
        (1, 100.0), (9, 9.0), (2, 200.0),
    }
    # and a range that starts AT the compaction still sees only ts2
    got = read_hudi_incremental(spark, path, begin_instant=ts2)
    assert got.count() == 0


def test_hudi_apply_changes_sequence_with_spaces_stays_out_of_table(
    spark, tmp_path
):
    """r6 ADVICE (low): '?sequence=v, ts_ms' stored the unstripped
    token ' ts_ms' in seq_meta, which never matched the real column —
    the transport column leaked into the written rows."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        apply_changes_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    path = str(tmp_path / "hudi_cdc_strip")
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), path, record_key="id"
    )
    seq = spark.createDataFrame(
        [
            Row(id=1, v=10.0, _change_type="update_postimage", ts_ms=200),
            Row(id=2, v=2.0, _change_type="insert", ts_ms=100),
        ]
    )
    apply_changes_hudi_lite(seq, path, on="id", sequence_col="v, ts_ms")
    out = read_hudi_lite(spark, path)
    assert "ts_ms" not in out.columns
    assert {r["id"]: r["v"] for r in out.collect()} == {1: 10.0, 2: 2.0}


def test_incremental_mor_partition_moving_upsert(spark, tmp_path):
    """A partition-moving upsert shows up in the incremental pull as
    the key's NEW row (new partition), exactly once."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_incremental,
        write_hudi_lite,
    )

    table = str(tmp_path / "mor_move_inc")
    ts0 = write_hudi_lite(
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p2")],
            "id long, v string, part string",
        ),
        table, record_key="id", table_type="MERGE_ON_READ",
        partition_by=["part"],
    )
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "A", "p2")], "id long, v string, part string"
        ),
        table, mode="upsert", record_key="id",
    )
    inc = read_hudi_incremental(spark, table, begin_instant=ts0)
    assert [(r["id"], r["v"], r["part"]) for r in inc.collect()] == [
        (1, "A", "p2")
    ]


def test_hudi_composite_record_keys_mor_and_cow(spark, tmp_path):
    """Composite record keys (hoodie.table.recordkey.fields=k1,k2, the
    ComplexKeyGenerator shape) work across the keyed surface: MOR
    upsert (log blocks), key-based delete, compaction, incremental
    pull, and the COW upsert/delete paths. The canonical string key
    'k1:v1,k2:v2' keeps delete blocks and the snapshot merge agreeing."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        compact_hudi_mor_lite,
        delete_hudi_lite,
        read_hudi_incremental,
        read_hudi_lite,
        write_hudi_lite,
    )

    # --- MOR ---
    mor = str(tmp_path / "mor_ck")
    ts0 = write_hudi_lite(
        spark.createDataFrame(
            [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)],
            "k1 long, k2 string, v double",
        ),
        mor, record_key="k1,k2", table_type="MERGE_ON_READ",
    )
    # update (1,'a'), insert (9,'z'); (1,'b') must stay untouched —
    # a single-field key would collide the two k1=1 rows
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "a", 100.0), (9, "z", 9.0)], "k1 long, k2 string, v double"
        ),
        mor, mode="upsert", record_key="k1,k2",
    )
    got = {(r.k1, r.k2): r.v for r in read_hudi_lite(spark, mor).collect()}
    assert got == {(1, "a"): 100.0, (1, "b"): 2.0, (2, "a"): 3.0,
                   (9, "z"): 9.0}
    inc = {(r.k1, r.k2, r.v) for r in read_hudi_incremental(
        spark, mor, begin_instant=ts0).collect()}
    assert inc == {(1, "a", 100.0), (9, "z", 9.0)}
    # key-based delete needs BOTH key columns
    delete_hudi_lite(
        spark, mor,
        keys=spark.createDataFrame([(1, "b")], "k1 long, k2 string"),
    )
    got = {(r.k1, r.k2) for r in read_hudi_lite(spark, mor).collect()}
    assert got == {(1, "a"), (2, "a"), (9, "z")}
    # a keys frame missing a key column refuses
    with pytest.raises(ValueError, match="composite"):
        delete_hudi_lite(
            spark, mor, keys=spark.createDataFrame([(1,)], "k1 long")
        )
    # compaction preserves the merged state
    compact_hudi_mor_lite(spark, mor)
    got2 = {(r.k1, r.k2): r.v for r in read_hudi_lite(spark, mor).collect()}
    assert got2 == {(1, "a"): 100.0, (2, "a"): 3.0, (9, "z"): 9.0}

    # --- COW ---
    cow = str(tmp_path / "cow_ck")
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "a", 1.0), (1, "b", 2.0)], "k1 long, k2 string, v double"
        ),
        cow, record_key="k1,k2",
    )
    write_hudi_lite(
        spark.createDataFrame(
            [(1, "b", 20.0), (3, "c", 3.0)], "k1 long, k2 string, v double"
        ),
        cow, mode="upsert", record_key="k1,k2",
    )
    got = {(r.k1, r.k2): r.v for r in read_hudi_lite(spark, cow).collect()}
    assert got == {(1, "a"): 1.0, (1, "b"): 20.0, (3, "c"): 3.0}
    delete_hudi_lite(
        spark, cow,
        keys=spark.createDataFrame([(1, "a")], "k1 long, k2 string"),
    )
    got = {(r.k1, r.k2) for r in read_hudi_lite(spark, cow).collect()}
    assert got == {(1, "b"), (3, "c")}
    # duplicate composite keys in an upsert batch refuse
    with pytest.raises(ValueError, match="unique"):
        write_hudi_lite(
            spark.createDataFrame(
                [(5, "x", 1.0), (5, "x", 2.0)], "k1 long, k2 string, v double"
            ),
            cow, mode="upsert", record_key="k1,k2",
        )


def test_hudi_upsert_refuses_mismatched_record_key(spark, tmp_path):
    """An upsert keyed differently from the table's recordkey.fields
    would merge on the wrong column (and MOR delete blocks store the
    TABLE key's string form) — it must refuse, not silently diverge."""
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    table = str(tmp_path / "rk_guard")
    write_hudi_lite(
        spark.createDataFrame([(1, "a", 1.0)], "k1 long, k2 string, v double"),
        table, record_key="k1,k2",
    )
    with pytest.raises(ValueError, match="recordkey"):
        write_hudi_lite(
            spark.createDataFrame(
                [(1, "a", 2.0)], "k1 long, k2 string, v double"
            ),
            table, mode="upsert", record_key="k1",
        )


# --- cleaner (KEEP_LATEST_COMMITS) ------------------------------------------


def test_hudi_clean_cow_drops_unreachable_slices(spark, tmp_path):
    """COW upserts stack file slices; clean(retain=1) deletes every
    base file the LATEST view can't reach, the snapshot is unchanged,
    and time travel behind the horizon fails loudly instead of
    serving partial data."""
    import glob as g

    from spark_etl_cli_spark.sources.hudi_lite import (
        clean_hudi_lite,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_clean_cow")
    ts0 = write_hudi_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(1, "A2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(2, "B3")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    n_before = len(
        g.glob(os.path.join(table, "**", "*.parquet"), recursive=True)
    )
    stats = clean_hudi_lite(table, retain_commits=1)
    assert stats["files_deleted"] >= 1
    n_after = len(
        g.glob(os.path.join(table, "**", "*.parquet"), recursive=True)
    )
    assert n_after == n_before - stats["files_deleted"]
    got = {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "A2"), (2, "B3")}
    # behind-the-horizon time travel: loud failure, not silent rows
    with pytest.raises(Exception):
        read_hudi_lite(spark, table, as_of=ts0).collect()
    # idempotent: nothing left to clean
    assert clean_hudi_lite(table, retain_commits=1)["files_deleted"] == 0


def test_hudi_clean_mor_keeps_window_and_incremental(spark, tmp_path):
    """MOR: compaction starts new slices; clean(retain=2) keeps both
    retained views servable — snapshot, RO view, and an incremental
    pull INSIDE the window all still work; the pre-compaction logs
    outside the window are gone."""
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import (
        compact_hudi_mor_lite,
        read_hudi_incremental,
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_clean_mor")
    write_hudi_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, record_key="id", table_type="MERGE_ON_READ",
    )
    write_hudi_lite(
        spark.createDataFrame([(1, "a2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    compact_hudi_mor_lite(spark, table)
    ts3 = write_hudi_lite(
        spark.createDataFrame([(2, "b4")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    import glob as g

    logs_before = g.glob(os.path.join(table, "**", "*.log.*"),
                         recursive=True)
    _, src = resolve_source(f"rep+hudi-clean://{table}?retain-commits=2")
    rep = src.read(spark).collect()[0]
    assert rep.files_deleted >= 1
    got = {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()}
    assert got == {(1, "a2"), (2, "b4")}
    ro = {(r.id, r.v) for r in read_hudi_lite(
        spark, table, view="read_optimized").collect()}
    assert ro == {(1, "a2"), (2, "b")}
    # incremental inside the retained window still serves ts3's change
    inc = read_hudi_incremental(
        spark, table, begin_instant=str(int(ts3) - 1)
    )
    assert {(r.id, r.v) for r in inc.select("id", "v").collect()} == {
        (2, "b4")
    }


# --- RESTORE (rollback to instant) ------------------------------------------


def test_hudi_restore_cow_rolls_back_upserts(spark, tmp_path):
    """Three COW commits; restore to the second physically drops the
    third's files and timeline entry — snapshot, time travel, and a
    follow-up write all behave as if it never happened."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        _completed_instants,
        read_hudi_lite,
        restore_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_restore_cow")
    write_hudi_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, record_key="id",
    )
    ts2 = write_hudi_lite(
        spark.createDataFrame([(1, "A2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(2, "B3")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    assert {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()} == {
        (1, "A2"), (2, "B3"),
    }

    stats = restore_hudi_lite(table, ts2)
    assert stats["instants_rolled_back"] == 1
    assert stats["files_deleted"] >= 1
    assert {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()} == {
        (1, "A2"), (2, "b"),
    }
    assert [t for t, _a, _p in _completed_instants(table)][-1] == ts2
    # restoring to the (new) head is a no-op
    assert restore_hudi_lite(table, ts2)["instants_rolled_back"] == 0
    # the table keeps working after restore
    write_hudi_lite(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    assert {r.id for r in read_hudi_lite(spark, table).collect()} == {1, 2, 3}
    with pytest.raises(ValueError, match="unknown instant"):
        restore_hudi_lite(table, "19700101000000000")


def test_hudi_restore_mor_drops_log_blocks(spark, tmp_path):
    """MOR: the rolled-back deltacommit's fresh log file disappears;
    snapshot and incremental agree with the truncated timeline."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_incremental,
        read_hudi_lite,
        restore_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_restore_mor")
    ts1 = write_hudi_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, record_key="id", table_type="MERGE_ON_READ",
    )
    ts2 = write_hudi_lite(
        spark.createDataFrame([(1, "a2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(2, "b3")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    restore_hudi_lite(table, ts2)
    assert {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()} == {
        (1, "a2"), (2, "b"),
    }
    inc = read_hudi_incremental(spark, table, begin_instant=ts1)
    assert {(r.id, r.v) for r in inc.select("id", "v").collect()} == {
        (1, "a2"),
    }


def test_hudi_restore_refuses_cleaned_horizon(spark, tmp_path):
    """A cleaner run after the restore point deleted files the
    restored view may need — restore raises instead of serving a
    hole."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        clean_hudi_lite,
        restore_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_restore_clean")
    write_hudi_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, record_key="id",
    )
    ts2 = write_hudi_lite(
        spark.createDataFrame([(1, "A2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(2, "B3")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    assert clean_hudi_lite(table, retain_commits=1)["files_deleted"] >= 1
    with pytest.raises(ValueError, match="cleaner already deleted"):
        restore_hudi_lite(table, ts2)


def test_hudi_restore_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_restore_uri")
    ts1 = write_hudi_lite(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        table, record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(1, "A2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    run_pipeline(
        spark,
        sources=[f"r+hudi-restore://{table}?instant={ts1}"],
        sinks=["r+console://"],
    )
    assert {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()} == {
        (1, "a"),
    }


def test_hudi_savepoint_pins_through_clean_and_restores(spark, tmp_path):
    """Savepoint an early instant, stack more commits, clean(retain=1):
    the savepointed view survives (time travel works), restore returns
    to it — while a NON-savepointed cleaned instant stays unrestorable."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        clean_hudi_lite,
        read_hudi_lite,
        restore_hudi_lite,
        savepoint_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_sp")
    write_hudi_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        table, record_key="id",
    )
    ts2 = write_hudi_lite(
        spark.createDataFrame([(1, "A2")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    assert savepoint_hudi_lite(table, name="audited")["savepointed"] == ts2
    ts3 = write_hudi_lite(
        spark.createDataFrame([(1, "A3")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(1, "A4")], "id long, v string"),
        table, mode="upsert", record_key="id",
    )
    stats = clean_hudi_lite(table, retain_commits=1)
    # the savepointed view is retained alongside the latest
    assert ts2 in stats["retained_instants"]
    assert {(r.id, r.v) for r in
            read_hudi_lite(spark, table, as_of=ts2).collect()} == {
        (1, "A2"), (2, "b"),
    }
    # ts3 was NOT savepointed: its files are gone, restore refuses
    with pytest.raises(ValueError, match="cleaner already deleted"):
        restore_hudi_lite(table, ts3)
    # restore to the savepoint works and serves the pinned view
    restore_hudi_lite(table, ts2)
    assert {(r.id, r.v) for r in read_hudi_lite(spark, table).collect()} == {
        (1, "A2"), (2, "b"),
    }
    # ts3's savepoint-less siblings were rolled back with it: the
    # timeline head is the savepoint now
    from spark_etl_cli_spark.sources.hudi_lite import _completed_instants
    assert [t for t, _a, _p in _completed_instants(table)][-1] == ts2


def test_hudi_savepoint_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import run_pipeline
    from spark_etl_cli_spark.sources.hudi_lite import (
        _savepointed_instants,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_sp_uri")
    ts1 = write_hudi_lite(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        table, record_key="id",
    )
    run_pipeline(
        spark,
        sources=[f"s+hudi-savepoint://{table}?name=rel1"],
        sinks=["s+console://"],
    )
    assert _savepointed_instants(table) == {ts1}


def test_hudi_upsert_runs_one_probe_and_one_write(
    spark, tmp_path, sql_executions
):
    """A COW upsert into a live table runs exactly two SQL executions:
    the probe (key gate, affected file groups) and one write of the
    incoming file group together with the rewritten ones. One that
    creates the table runs one."""
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )

    table = str(tmp_path / "hudi_budget")
    schema = "id long, v double"
    write_hudi_lite(
        spark.createDataFrame([(i, float(i)) for i in range(5)], schema),
        table, record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([(i, float(i)) for i in range(5, 10)], schema),
        table, record_key="id",
    )
    src = spark.createDataFrame([(3, 30.0), (8, 80.0), (20, 2.0)], schema)
    _, n = sql_executions(
        write_hudi_lite, src, table, mode="upsert", record_key="id"
    )
    assert n == 2
    got = {r["id"]: r["v"] for r in read_hudi_lite(spark, table).collect()}
    assert got == {
        **{i: float(i) for i in range(10)}, 3: 30.0, 8: 80.0, 20: 2.0
    }
    _, n = sql_executions(
        write_hudi_lite, src, str(tmp_path / "hudi_new"), mode="upsert",
        record_key="id",
    )
    assert n == 1


def test_hudi_upsert_bad_keys_raise_before_anything_commits(
    spark, tmp_path, files_under
):
    """NULL or duplicate incoming keys, composite ones too, raise the
    same ValueError into a live table and into a missing one; the
    table keeps its timeline and gains no file, also when the gate
    fails inside the write job."""
    import re

    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    schema = "id long, part string, v double"
    msg = (
        "hudi_lite upsert: incoming {!r} values must be unique and "
        "non-null (no precombine field is emulated); first offender: {}"
    )
    cases = {
        "id": [
            ([(None, "a", 1.0)], "None"),
            ([(2, "a", 1.0), (2, "b", 2.0)], "2"),
        ],
        "id,part": [
            ([(2, None, 1.0)], "2"),
            ([(2, "a", 1.0), (2, "a", 2.0)], "2"),
        ],
    }
    for key, key_cases in cases.items():
        live = str(tmp_path / f"live_{key}")
        write_hudi_lite(
            spark.createDataFrame([(1, "a", 1.0)], schema), live,
            record_key=key,
        )
        for path in (live, str(tmp_path / f"missing_{key}")):
            before = files_under(path)
            for rows, offender in key_cases:
                with pytest.raises(
                    ValueError, match=re.escape(msg.format(key, offender))
                ):
                    write_hudi_lite(
                        spark.createDataFrame(rows, schema), path,
                        mode="upsert", record_key=key,
                    )
                assert files_under(path) == before
