"""Deletion-vector codec + delta_lite DV read tests.

The roaring/Z85/framing codec is from-scratch (Delta PROTOCOL.md
"Deletion Vector Format"); pinned by round-trips across container
types, a with-run-container golden fixture, and an end-to-end
delta_lite table read with all three DV storage forms.
"""

import json
import os
import struct

import pytest

from spark_etl_cli_spark.sources.dv_lite import (
    dv_file_path,
    parse_bitmap_array,
    parse_roaring32,
    read_deletion_vector,
    serialize_bitmap_array,
    write_deletion_vector_file,
    z85_decode,
    z85_encode,
)


def test_z85_golden():
    # ZeroMQ's own reference vector: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B
    # encodes to "HelloWorld"
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])


def test_roaring_array_and_bitmap_containers_roundtrip():
    # array container (sparse) + bitmap container (dense) + two keys
    sparse = [1, 7, 100, 65535]
    dense = [65536 + i for i in range(0, 50000)]  # card > 4096
    high = [(1 << 32) + 5, (1 << 32) + 9]
    vals = sorted(sparse + dense + high)
    assert parse_bitmap_array(serialize_bitmap_array(vals)) == vals


def test_roaring_run_container_parses():
    # hand-build a 12347-cookie bitmap with ONE run container:
    # runs [(10, len 5)] -> values 10..14
    buf = bytearray()
    buf += struct.pack("<i", (0 << 16) | 12347)  # size-1=0, cookie
    buf += b"\x01"  # run flag bitset: container 0 is a run
    buf += struct.pack("<HH", 0, 5 - 1)  # key 0, card-1
    # size < 4 -> no offsets header
    buf += struct.pack("<H", 1)  # 1 run
    buf += struct.pack("<HH", 10, 4)  # start 10, length-1 4
    vals, pos = parse_roaring32(bytes(buf))
    assert vals == [10, 11, 12, 13, 14]
    assert pos == len(buf)


def test_dv_file_roundtrip_with_crc(tmp_path):
    path = str(tmp_path / "dv.bin")
    desc = write_deletion_vector_file(path, [0, 2, 4, (1 << 33) + 7])
    assert desc["cardinality"] == 4
    got = read_deletion_vector(
        "", {"storageType": "p", "pathOrInlineDv": path, **desc}
    )
    assert got == [0, 2, 4, (1 << 33) + 7]
    # corrupt one byte -> checksum must catch it
    raw = bytearray(open(path, "rb").read())
    raw[7] ^= 0xFF
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="checksum"):
        read_deletion_vector(
            "", {"storageType": "p", "pathOrInlineDv": path, **desc}
        )


def test_uuid_path_resolution():
    import uuid

    u = uuid.uuid4()
    enc = z85_encode(u.bytes)
    assert dv_file_path("/t", enc) == f"/t/deletion_vector_{u}.bin"
    assert dv_file_path("/t", "ab/" + enc) == f"/t/ab/deletion_vector_{u}.bin"


def _write_commit(log_dir, version, actions):
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))


def test_delta_lite_reads_table_with_deletion_vectors(spark, tmp_path):
    import uuid

    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    table = str(tmp_path / "dv_delta")
    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir)
    # one data file with ids 0..9
    spark.range(10).coalesce(1).write.parquet(os.path.join(table, "d0"))
    data_file = [
        f"d0/{f}"
        for f in os.listdir(os.path.join(table, "d0"))
        if f.endswith(".parquet")
    ][0]
    # DV deleting positions 2, 5, 7 — stored in the "u" (uuid file) form
    u = uuid.uuid4()
    desc = write_deletion_vector_file(
        os.path.join(table, f"deletion_vector_{u}.bin"), [2, 5, 7]
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
    _write_commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": data_file, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {"storageType": "u",
                                    "pathOrInlineDv": z85_encode(u.bytes),
                                    **desc}}},
    ])
    out = read_delta_lite(spark, table)
    assert sorted(r.id for r in out.collect()) == [0, 1, 3, 4, 6, 8, 9]

    # a later commit re-adds the file with a BIGGER DV (delete 0,1 too,
    # inline form this round) — latest add wins
    inline = serialize_bitmap_array([0, 1, 2, 5, 7])
    pad = (-len(inline)) % 4
    _write_commit(log_dir, 1, [
        {"add": {"path": data_file, "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": False,
                 "deletionVector": {"storageType": "i",
                                    "pathOrInlineDv": z85_encode(inline + b"\x00" * pad),
                                    "sizeInBytes": len(inline),
                                    "cardinality": 5}}},
    ])
    out = read_delta_lite(spark, table)
    assert sorted(r.id for r in out.collect()) == [3, 4, 6, 8, 9]
    # time travel back to v0 still sees the first DV
    out0 = read_delta_lite(spark, table, version_as_of=0)
    assert sorted(r.id for r in out0.collect()) == [0, 1, 3, 4, 6, 8, 9]


def test_unsupported_reader_feature_raises(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    table = str(tmp_path / "v2cp_delta")
    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    _write_commit(log_dir, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
    ])
    with pytest.raises(NotImplementedError, match="typeWidening"):
        read_delta_lite(spark, table)


def test_delta_lite_v2_checkpoint_with_sidecars(spark, tmp_path):
    # V2 checkpoint: <v>.checkpoint.<uuid>.parquet holds metaData +
    # sidecar refs; the add actions live in _delta_log/_sidecars/*.
    # Pre-checkpoint commits are deleted so the checkpoint+sidecars are
    # the only source of the file list.
    from pyspark.sql import Row

    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    table = str(tmp_path / "v2cp")
    log_dir = os.path.join(table, "_delta_log")
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir)
    # two data files
    files = []
    for lo, hi in [(0, 5), (5, 9)]:
        sub = f"d{lo}"
        spark.range(lo, hi).coalesce(1).write.parquet(
            os.path.join(table, sub)
        )
        name = [
            f"{sub}/{f}"
            for f in os.listdir(os.path.join(table, sub))
            if f.endswith(".parquet")
        ][0]
        files.append(name)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    meta = {"id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [], "configuration": {}}
    # sidecar parquet: one add per row (same struct shape as v1)
    add_rows = [
        Row(add=Row(path=f, partitionValues={}, size=1,
                    modificationTime=0, dataChange=True))
        for f in files
    ]
    sc_schema = (
        "add struct<path: string, partitionValues: map<string,string>, "
        "size: bigint, modificationTime: bigint, dataChange: boolean>"
    )
    spark.createDataFrame(add_rows, sc_schema).coalesce(1).write.parquet(
        os.path.join(side_dir, "tmp_sc")
    )
    sc_file = [f for f in os.listdir(os.path.join(side_dir, "tmp_sc"))
               if f.endswith(".parquet")][0]
    os.replace(os.path.join(side_dir, "tmp_sc", sc_file),
               os.path.join(side_dir, "sc-1.parquet"))
    # the v2 checkpoint itself (json flavor), with a sidecar action
    cp_name = f"{1:020d}.checkpoint.abcd1234.json"
    with open(os.path.join(log_dir, cp_name), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in [
            {"checkpointMetadata": {"version": 1}},
            {"metaData": meta},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1,
                         "modificationTime": 0}},
        ]))
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": 4, "path": cp_name}, fh)
    # a post-checkpoint commit proves tail replay still applies
    _write_commit(log_dir, 2, [
        {"remove": {"path": files[0], "dataChange": True}},
    ])
    out = read_delta_lite(spark, table)
    assert sorted(r.id for r in out.collect()) == [5, 6, 7, 8]


def test_delta_lite_v2_json_checkpoint_with_inline_adds(spark, tmp_path):
    # A V2 JSON checkpoint may carry its add actions inline instead of
    # delegating them to sidecars; each add becomes a full _ADD_SCHEMA
    # row (row-tracking fields included).
    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

    table = str(tmp_path / "v2cp_inline")
    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir)
    adds = []
    for lo, hi in [(0, 5), (5, 9)]:
        sub = f"d{lo}"
        spark.range(lo, hi).coalesce(1).write.parquet(
            os.path.join(table, sub)
        )
        name = next(
            f for f in os.listdir(os.path.join(table, sub))
            if f.endswith(".parquet")
        )
        adds.append({"add": {
            "path": f"{sub}/{name}", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({"numRecords": hi - lo}), "baseRowId": lo,
        }})
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
    cp_name = f"{1:020d}.checkpoint.inline01.json"
    with open(os.path.join(log_dir, cp_name), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in [
            {"checkpointMetadata": {"version": 1}},
            {"metaData": {"id": "t",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": json.dumps(schema),
                          "partitionColumns": [], "configuration": {}}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            *adds,
        ]))
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": 5, "path": cp_name}, fh)
    out = read_delta_lite(spark, table)
    assert sorted(r.id for r in out.collect()) == list(range(9))
