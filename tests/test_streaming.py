"""Structured Streaming semantics tests: late-data drops across
checkpointed restarts, and the foreachBatch sink path.

The oracle-gate queries (q50-q56) prove streaming results equal batch
semantics when nothing is late; these tests pin the *streaming-only*
behaviors — watermark state recovery from a checkpoint and per-batch
custom sinks — which no batch oracle can express.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SCHEMA = "id long, ts timestamp"


def _write(spark, path: str, rows: list[tuple[int, str]]) -> None:
    df = spark.createDataFrame(
        [(i, ts) for i, ts in rows], "id long, ts string"
    ).select("id", F.to_timestamp("ts").alias("ts"))
    df.coalesce(1).write.mode("append").parquet(path)


def _run(spark, src: str, ckpt: str, out: str):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    # file sink: append-only and checkpoint-recoverable (memory sink
    # cannot resume from a checkpoint)
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    return spark.read.parquet(out), dropped


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # run 1, two files -> two micro-batches: the second advances the
    # watermark to 10:50 and flushes every window ending before it
    _write(spark, src, [(1, "2024-01-01 10:00:30"), (2, "2024-01-01 10:04:00")])
    _write(spark, src, [(3, "2024-01-01 11:00:00")])
    out1, dropped1 = _run(spark, src, ckpt, out)
    wins1 = {(r["ws"].hour, r["ws"].minute): r["n"] for r in out1.collect()}
    assert wins1[(10, 0)] == 2  # [10:00,10:05) closed with both rows
    assert dropped1 == 0

    # run 2, same checkpoint: a row at 10:01 is behind the recovered
    # watermark -> dropped by the state store, not double-counted
    _write(spark, src, [(4, "2024-01-01 10:01:00"), (5, "2024-01-01 11:30:00")])
    out2, dropped2 = _run(spark, src, ckpt, out)
    assert dropped2 == 1
    rows2 = [r for r in out2.collect() if (r["ws"].hour, r["ws"].minute) == (10, 0)]
    assert len(rows2) == 1 and rows2[0]["n"] == 2  # never re-emitted/recounted


def test_checkpoints_go_through_the_filesystem_api(spark, tmp_path):
    """Checkpoints are written through Hadoop's FileSystem API
    (``session.BASE_CONFS``; without libhadoop a FileContext rename on a
    local path forks ``readlink``). The manager still refuses to replace
    an existing file, and a restarted stateful stream's state dir still
    holds Spark's checksum file and Hadoop's ``.crc`` of each file."""
    import os

    from py4j.protocol import Py4JJavaError

    pkg = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    existing = tmp_path / "commit"
    existing.write_bytes(b"first")
    path = spark._jvm.org.apache.hadoop.fs.Path(str(existing))
    manager = pkg.CheckpointFileManager.create(path, hadoop_conf)
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    out = manager.createAtomic(path, False)
    out.write(bytearray(b"second"))
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        out.close()
    assert existing.read_bytes() == b"first"

    src, ckpt, out_dir = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    _write(spark, src, [(1, "2024-01-01 10:00:30")])
    _write(spark, src, [(2, "2024-01-01 11:00:00")])
    _run(spark, src, ckpt, out_dir)
    _write(spark, src, [(3, "2024-01-01 11:30:00")])
    _run(spark, src, ckpt, out_dir)  # restarted from the checkpoint
    state = tmp_path / "ckpt" / "state" / "0" / "0"
    names = set(os.listdir(state))
    deltas = sorted(n for n in names if n.endswith(".delta"))
    assert len(deltas) >= 3
    for d in deltas:
        assert {f"{d}.crc", f".{d}.crc", f".{d}.crc.crc"} <= names
    for log in ("offsets", "commits"):
        files = set(os.listdir(tmp_path / "ckpt" / log))
        assert "0" in files and ".0.crc" in files


def test_foreach_batch_sink(spark, tmp_path):
    src = str(tmp_path / "fbsrc")
    _write(spark, src, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00")])
    _write(spark, src, [(3, "2024-01-01 10:02:00")])

    seen: list[tuple[int, int]] = []

    def handle(df, epoch_id: int):
        seen.append((epoch_id, df.count()))

    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) == 2  # one invocation per micro-batch
    assert sum(n for _, n in seen) == 3


def test_record_high_cross_batch_state(spark, tmp_path):
    """State survives micro-batch boundaries: a record set in batch 1
    suppresses smaller values arriving in batch 2 — the behavior the
    batch oracle for q58 cannot observe (it sees one epoch)."""
    from spark_etl_cli_spark.streaming.stateful import record_high_events

    schema = "user_id long, event_id long, ts timestamp, value double"
    src = str(tmp_path / "rh")

    def write_batch(rows):
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts string, value double"
        ).select(
            "user_id", "event_id", F.to_timestamp("ts").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src)

    write_batch([(1, 1, "2024-01-01 10:00:00", 5.0),
                 (1, 2, "2024-01-01 10:01:00", 3.0)])
    write_batch([(1, 3, "2024-01-01 10:02:00", 4.0),
                 (1, 4, "2024-01-01 10:03:00", 7.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        record_high_events(stream)
        .writeStream.format("memory")
        .queryName("rh_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = sorted(r["event_id"] for r in spark.table("rh_test").collect())
    # 1 sets the first record; 2 and 3 are below it (3 only because the
    # 5.0 state crossed the batch boundary); 4 sets a new record.
    assert emitted == [1, 4]


def test_watermark_transform_and_filesink_available_now(spark, tmp_path):
    # NTZ event time cast mid-pipeline, watermark:// applied after the
    # cast, windowed agg, parquet stream sink driven by availableNow
    from pyspark.sql import Row

    from spark_etl_cli_spark.pipeline import run_pipeline

    src = f"{tmp_path}/wm_src"
    spark.createDataFrame(
        [Row(k=i, ts=f"2024-01-01 00:{i:02d}:00") for i in range(30)]
    ).write.parquet(src)
    out = f"{tmp_path}/wm_out"
    run_pipeline(
        spark,
        sources=[f"s+parquet-stream://{src}?schema=k BIGINT, ts STRING"],
        transforms=[
            "s+cast+sql://SELECT k, CAST(ts AS TIMESTAMP) AS ts FROM s",
            "cast+wm+watermark://ts:5 minutes",
            "wm+agg+sql://SELECT window(ts, '10 minutes') AS w, COUNT(*) AS n FROM wm GROUP BY 1",
            "agg+flat+sql://SELECT w.start AS ws, n FROM agg",
        ],
        sinks=[
            f"flat+parquet-stream://{out}?checkpointLocation={tmp_path}/ckpt"
            "&trigger-interval=availableNow"
        ],
    )
    for q in spark.streams.active:
        q.awaitTermination(60)
    got = spark.read.parquet(out)
    # windows 00:00 and 00:10 are sealed by the watermark; 00:20 is held
    assert got.count() == 2
    assert got.agg({"n": "sum"}).first()[0] == 20


def test_streaming_into_jdbc_via_foreach_batch(spark, tmp_path):
    # batch-only sink (JDBC/Derby) fed by a stream: the foreachBatch
    # bridge appends each micro-batch through the ordinary batch writer
    from pyspark.sql import Row

    from spark_etl_cli_spark.pipeline import run_pipeline

    src = f"{tmp_path}/fb_src"
    spark.createDataFrame([Row(k=i) for i in range(12)]).write.parquet(src)
    url = f"jdbc:derby:{tmp_path}/fbdb;create=true"
    run_pipeline(
        spark,
        sources=[f"s+parquet-stream://{src}?schema=k BIGINT"],
        sinks=[
            f"s+jdbc:///STREAMED?url={url}&checkpointLocation={tmp_path}/fb_ckpt"
            "&trigger-interval=availableNow"
        ],
    )
    for q in spark.streams.active:
        q.awaitTermination(60)
    back = spark.read.format("jdbc").options(url=url, dbtable="STREAMED").load()
    assert back.count() == 12


def test_stream_outer_join_emits_evicted_nulls(spark):
    import __spark_entry__ as entry

    out = entry.queries()["q148_stream_outer_join"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    nulls = [r for r in out if r.purchase_id is None]
    matched = [r for r in out if r.purchase_id is not None]
    # the final no-data batch must evict and emit unmatched clicks
    # older than the watermark horizon; both classes must be present
    assert nulls and matched
    assert len({r.click_id for r in nulls}) == len(nulls)  # one null row each


def test_stateful_stream_under_rocksdb_provider(spark, tmp_path):
    """The RocksDB state-store opt-in (session.rocksdb_state_confs) must
    actually run a stateful query: watermarked window agg, results equal
    the on-heap provider's, and the checkpoint's state dir shows RocksDB
    artifacts (.zip snapshots / changelog files, not HDFS .delta)."""
    import glob
    import os

    from spark_etl_cli_spark.session import (
        ROCKSDB_STATE_PROVIDER,
        rocksdb_state_confs,
    )

    confs = rocksdb_state_confs()
    assert confs["spark.sql.streaming.stateStore.providerClass"] == (
        ROCKSDB_STATE_PROVIDER
    )
    src = f"{tmp_path}/rdb_src"
    _write(spark, src, [
        (1, "2024-01-01 00:00:10"), (2, "2024-01-01 00:01:10"),
        (3, "2024-01-01 00:06:10"), (4, "2024-01-01 00:06:20"),
    ])
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        ckpt, out = f"{tmp_path}/rdb_ckpt", f"{tmp_path}/rdb_out"
        q = (
            spark.readStream.schema(SCHEMA).parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
            .writeStream.format("memory")
            .queryName("rocksdb_state_t")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {(str(r.ws), r.n) for r in spark.table("rocksdb_state_t").collect()}
        assert rows == {
            ("2024-01-01 00:00:00", 2),
            ("2024-01-01 00:05:00", 2),
        }
        # proof the provider actually engaged: RocksDB checkpoints state
        # as zip snapshots/changelogs under state/, never HDFS .delta
        state_files = glob.glob(f"{ckpt}/state/**/*", recursive=True)
        assert any(f.endswith((".zip", ".changelog")) for f in state_files), (
            sorted(os.path.basename(f) for f in state_files)[:10]
        )
        assert not any(f.endswith(".delta") for f in state_files)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
