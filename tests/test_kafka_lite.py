"""kafka option contract + kafka-lite file-backed topic emulation.

The sandbox has no broker/jar, so the broker path is verified by
(a) pinning the EXACT reader/writer options the connector hands to
``format("kafka")`` (parity with ``KafkaUriParser.scala:12-19``), and
(b) running the reference's Test-1 pipeline shape (produce 5 JSON
people → source → diff vs values → empty diff,
``ETLTest.scala:92-128``) end-to-end over ``kafka-lite://``, which
shares the serde module with the real connector.
"""

from __future__ import annotations

import pytest

from spark_etl_cli_spark.pipeline import run_pipeline
from spark_etl_cli_spark.registry import resolve_sink, resolve_source


# ------------------------------------------------- option contract (S9)


def test_kafka_reader_option_contract():
    from spark_etl_cli_spark.sources.optional import kafka_reader_contract

    uri, _ = resolve_source(
        "k+kafka://broker1:9092,broker2:9092/events"
        "?serde=none&startingOffsets=earliest"
        "&kafka.security.protocol=SSL&maxOffsetsPerTrigger=500"
    )
    serde, opts = kafka_reader_contract(uri)
    assert serde == "none"
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "kafka.security.protocol": "SSL",
        "maxOffsetsPerTrigger": "500",
    }


def test_kafka_writer_option_contract():
    from spark_etl_cli_spark.sources.optional import kafka_writer_contract

    uri, _ = resolve_sink(
        "k+kafka-stream://broker:9092/out?serde=json"
        "&checkpointLocation=/tmp/ck&kafka.acks=all"
    )
    serde, opts = kafka_writer_contract(uri)
    assert serde == "json"
    assert opts == {
        "kafka.bootstrap.servers": "broker:9092",
        "topic": "out",
        "checkpointLocation": "/tmp/ck",
        "kafka.acks": "all",
    }


def test_kafka_contract_default_serde_and_watermark_excluded():
    from spark_etl_cli_spark.sources.optional import kafka_reader_contract

    uri, _ = resolve_source("k+kafka-stream://b:9092/t?watermark=ts:10 seconds")
    serde, opts = kafka_reader_contract(uri)
    assert serde == "json"
    assert "watermark" not in opts
    assert opts["subscribe"] == "t"


# ------------------------------------------------- kafka-lite roundtrips


def test_kafka_lite_batch_roundtrip_json_schema(spark, tmp_path):
    topic = f"{tmp_path}/people"
    df = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(5)], "id long, name string"
    )
    resolve_sink(f"p+kafka-lite://{topic}")[1].write(df)
    _, src = resolve_source(
        f"p+kafka-lite://{topic}?serde=json:id long, name string"
    )
    back = src.read(spark)
    assert {(r.id, r.name) for r in back.collect()} == {
        (i, f"name-{i}") for i in range(5)
    }


def test_kafka_lite_record_shape_matches_kafka(spark, tmp_path):
    # segment rows carry the kafka source's exact column contract
    topic = f"{tmp_path}/shape"
    resolve_sink(f"p+kafka-lite://{topic}")[1].write(
        spark.createDataFrame([(1,)], "id long")
    )
    raw = spark.read.parquet(topic)
    assert [f.name for f in raw.schema.fields] == [
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType",
    ]
    row = raw.collect()[0]
    assert row.topic == "shape" and row.timestampType == 0
    assert isinstance(bytes(row.value), bytes)


def test_kafka_lite_avro_serde_roundtrip(spark, tmp_path):
    # full avro produce→consume over the file topic: same serde code
    # the broker path uses, golden-byte-pinned elsewhere
    schema = (
        '{"type": "record", "name": "p", "fields": ['
        '{"name": "id", "type": ["null", "long"]},'
        '{"name": "name", "type": ["null", "string"]}]}'
    )
    topic = f"{tmp_path}/avro_topic"
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    resolve_sink(f"p+kafka-lite://{topic}?serde=avro:{schema}")[1].write(df)
    _, src = resolve_source(f"p+kafka-lite://{topic}?serde=avro:{schema}")
    got = {(r.id, r.name) for r in src.read(spark).collect()}
    assert got == {(1, "x"), (2, "y")}


def test_kafka_lite_reference_test1_pipeline(spark, tmp_path):
    """The reference's Test 1 (ETLTest.scala:92-128), broker-free:
    produce 5 people as JSON → kafka-lite source → diff against the
    expected inline values → the diff must be EMPTY (handle=fail raises
    on any difference, so pipeline success == equality proven)."""
    topic = f"{tmp_path}/person_topic"
    expected = (
        "expected+values://?header=id:long,name"
        "&values=" + ";".join(f"{i},name-{i}" for i in range(5))
    )
    # produce
    run_pipeline(
        spark,
        sources=[expected.replace("expected+", "people+")],
        sinks=[f"people+kafka-lite://{topic}"],
    )
    # consume → diff vs expected → fail on ANY difference
    res = run_pipeline(
        spark,
        sources=[
            f"people+kafka-lite://{topic}?serde=json:id long, name string",
            expected,
        ],
        transforms=[
            "people+checked+diff://expected?id=id&handleDifferences=fail"
        ],
        sinks=["checked+console://"],
    )
    assert all(res.values())
    # and the negative: a poisoned expectation must FAIL the pipeline
    bad = expected.replace("4,name-4", "4,imposter")
    with pytest.raises(Exception, match="[Dd]iff|difference"):
        run_pipeline(
            spark,
            sources=[
                f"people+kafka-lite://{topic}?serde=json:id long, name string",
                bad,
            ],
            transforms=[
                "people+checked+diff://expected?id=id&handleDifferences=fail"
            ],
            sinks=["checked+console://"],
        )


def test_kafka_lite_keyed_messages_roundtrip(spark, tmp_path):
    """?key-column= serializes a payload column as the message key
    (UTF-8 string convention; binary passes through); ?include-key=
    surfaces it back as kafka_key next to the value fields."""
    topic = f"{tmp_path}/keyed"
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    resolve_sink(f"p+kafka-lite://{topic}?key-column=id")[1].write(df)
    raw = spark.read.parquet(topic)
    keys = {bytes(r.key) for r in raw.collect()}
    assert keys == {b"1", b"2"}
    _, src = resolve_source(
        f"p+kafka-lite://{topic}?serde=json:id long, name string"
        "&include-key=string"
    )
    rows = {(r.kafka_key, r.id, r.name) for r in src.read(spark).collect()}
    assert rows == {("1", 1, "a"), ("2", 2, "b")}
    # binary form keeps raw bytes; avro serde carries the key too
    schema = (
        '{"type": "record", "name": "p", "fields": ['
        '{"name": "id", "type": ["null", "long"]}]}'
    )
    t2 = f"{tmp_path}/keyed_avro"
    resolve_sink(f"p+kafka-lite://{t2}?serde=avro:{schema}&key-column=id")[1].write(
        spark.createDataFrame([(7,)], "id long")
    )
    _, src2 = resolve_source(
        f"p+kafka-lite://{t2}?serde=avro:{schema}&include-key=binary"
    )
    row = src2.read(spark).collect()[0]
    assert row.id == 7 and bytes(row.kafka_key) == b"7"
    # include-key without a schema (inference) is refused with a clear
    # error rather than silently misaligning rows
    _, src3 = resolve_source(f"p+kafka-lite://{topic}?include-key=string")
    with pytest.raises(ValueError, match="include-key"):
        src3.read(spark)


def test_kafka_lite_stream_read(spark, tmp_path):
    # streaming consume: native file streaming over the segment dir
    topic = f"{tmp_path}/stream_topic"
    resolve_sink(f"p+kafka-lite://{topic}")[1].write(
        spark.createDataFrame([(i,) for i in range(4)], "id long")
    )
    _, src = resolve_source(
        f"p+kafka-lite-stream://{topic}?serde=json:id long"
    )
    stream = src.read(spark)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("kafka_lite_stream_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(r.id for r in spark.table("kafka_lite_stream_t").collect())
    assert got == [0, 1, 2, 3]


def test_kafka_lite_compacted_view(spark, tmp_path):
    """?compacted=true: latest record per key wins across produce
    batches, tombstones delete the key, unkeyed records drop."""
    import time

    topic = f"{tmp_path}/compacted"
    resolve_sink(f"p+kafka-lite://{topic}?key-column=id")[1].write(
        spark.createDataFrame([(1, "old"), (2, "keep")], "id long, v string")
    )
    # NO sleep: produce-epoch offsets order same-timestamp-tick batches
    resolve_sink(f"p+kafka-lite://{topic}?key-column=id")[1].write(
        spark.createDataFrame([(1, "new")], "id long, v string")
    )
    # tombstone for key 2 + an unkeyed record, appended at the log
    # level with an offset ABOVE every produce epoch so far
    from pyspark.sql import functions as F2

    spark.createDataFrame(
        [(b"2", None), (None, b"{}")], "key binary, value binary"
    ).select(
        "key", "value", F2.lit("compacted").alias("topic"),
        F2.lit(0).alias("partition"),
        F2.lit(1 << 60).cast("long").alias("offset"),
        F2.current_timestamp().alias("timestamp"),
        F2.lit(0).alias("timestampType"),
    ).write.mode("append").parquet(topic)
    _, src = resolve_source(
        f"p+kafka-lite://{topic}?serde=json:id long, v string"
        "&compacted=true&include-key=string"
    )
    rows = {(r.kafka_key, r.id, r.v) for r in src.read(spark).collect()}
    assert rows == {("1", 1, "new")}  # key 2 tombstoned, unkeyed dropped
    # compacted streams are refused (whole-log semantics)
    _, s2 = resolve_source(
        f"p+kafka-lite-stream://{topic}?serde=json:id long, v string"
        "&compacted=true"
    )
    with pytest.raises(ValueError, match="compacted"):
        s2.read(spark)


def test_kafka_lite_streaming_write(spark, tmp_path):
    """Streaming PRODUCE runs via foreachBatch so each micro-batch
    claims a produce epoch like a batch produce (the native file sink
    could not stamp usable offsets — monotonically_increasing_id is
    rejected in streaming plans)."""
    src = f"{tmp_path}/sw_src"
    topic = f"{tmp_path}/sw_topic"
    spark.createDataFrame([(i,) for i in range(3)], "id long").write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    _, sink = resolve_sink(
        f"p+kafka-lite-stream://{topic}?key-column=id"
        f"&checkpointLocation={tmp_path}/sw_ckpt&trigger-interval=availableNow"
    )
    assert sink.write(stream) is True
    for q in spark.streams.active:
        q.awaitTermination(120)
    _, rsrc = resolve_source(
        f"p+kafka-lite://{topic}?serde=json:id long&include-key=string"
    )
    rows = {(r.kafka_key, r.id) for r in rsrc.read(spark).collect()}
    assert rows == {("0", 0), ("1", 1), ("2", 2)}
    # first produce to an empty topic = epoch 0: real (non-sentinel)
    # offsets inside epoch 0's range
    raw = spark.read.parquet(topic)
    assert all(0 <= r.offset < (1 << 32) for r in raw.collect())


def test_kafka_lite_serde_none_key_column(spark, tmp_path):
    # serde=none must still honor key-column (silently dropping it made
    # compacted reads of such topics return zero rows)
    topic = f"{tmp_path}/none_keyed"
    df = spark.createDataFrame(
        [(b"payload-1", 1)], "value binary, id long"
    )
    resolve_sink(f"p+kafka-lite://{topic}?serde=none&key-column=id")[1].write(df)
    raw = spark.read.parquet(topic)
    row = raw.collect()[0]
    assert bytes(row.key) == b"1" and bytes(row.value) == b"payload-1"
    # include-key with serde=none surfaces the kafka_key alias
    _, src = resolve_source(
        f"p+kafka-lite://{topic}?serde=none&include-key=string"
    )
    assert src.read(spark).select("kafka_key").collect()[0][0] == "1"


def test_kafka_lite_missing_topic_raises(spark, tmp_path):
    _, src = resolve_source(f"p+kafka-lite://{tmp_path}/nope?serde=none")
    with pytest.raises(FileNotFoundError, match="produce"):
        src.read(spark)


def test_kafka_lite_same_tick_produces_order_deterministically(spark, tmp_path):
    """Two produces landing in the same timestamp tick must compact to
    the LATER produce's record — the produce epoch (segment-count, high
    offset bits) orders them even when timestamps tie. Ten rapid
    back-to-back produce pairs all pin the same winner."""
    from spark_etl_cli_spark.registry import resolve_sink, resolve_source

    topic = f"{tmp_path}/rapid"
    for i in range(10):
        resolve_sink(f"p+kafka-lite://{topic}?key-column=id")[1].write(
            spark.createDataFrame([(1, f"v{i}")], "id long, v string")
        )
    _, src = resolve_source(
        f"p+kafka-lite://{topic}?serde=json:id long, v string"
        "&compacted=true&include-key=string"
    )
    rows = [(r.id, r.v) for r in src.read(spark).collect()]
    assert rows == [(1, "v9")]  # highest epoch wins, no tie possible
    # raw offsets confirm strictly increasing epochs across produces
    raw = sorted(r.offset for r in spark.read.parquet(topic).collect())
    epochs = [o >> 32 for o in raw]
    assert epochs == sorted(set(epochs))  # one distinct epoch/produce
