"""Iceberg format-version 3 deletion vectors, end to end.

Covers the Puffin codec (public Puffin spec), the ``deletion-vector-v1``
blob framing (v3 table spec "Deletion Vectors"), the v2→v3 upgrade
(position-delete parquet files convert to DVs), the v3 merge-on-read
DELETE (DVs merge per file, old entries superseded), sequence scoping,
changelog derivation (only the bitmap DELTA re-emits), delete-applying
compaction, keyed rewrites under live DVs, and the UniForm export of a
DV-bearing v3 table to delta (bitmap reused, never transcoded)."""

import glob as g
import os
import re

import pytest

from spark_etl_cli_spark.sources.iceberg_lite import (
    _manifest_entries,
    _load_metadata,
    _resolve_entries,
    _snapshot,
    delete_iceberg_lite,
    read_iceberg_changes,
    read_iceberg_lite,
    upgrade_iceberg_format,
    upsert_iceberg_lite,
    write_iceberg_lite,
)
from spark_etl_cli_spark.sources.puffin_lite import (
    DV_BLOB_TYPE,
    dv_blob_bytes,
    parse_dv_blob,
    read_dv,
    read_puffin_metadata,
    write_puffin,
)


def _dv_delete_entries(table):
    """Live deletion-vector tuples of the HEAD snapshot."""
    meta = _load_metadata(table)
    out = []
    for e in _manifest_entries(table, _snapshot(meta, None)):
        if e.get("status") == 2:
            continue
        d = e.get("data_file") or {}
        if d.get("content") == 1 and d.get("content_offset") is not None:
            out.append(d)
    return out


def test_puffin_roundtrip_and_corruption(tmp_path):
    p = str(tmp_path / "t.puffin")
    idx_a = [0, 1, 5, 70000, 2**33 + 7]
    idx_b = list(range(5000))  # forces a bitmap container too
    metas = write_puffin(
        p,
        [
            {
                "type": DV_BLOB_TYPE,
                "data": dv_blob_bytes(idx_a),
                "snapshot-id": 9,
                "sequence-number": 4,
                "properties": {"referenced-data-file": "/x/a.parquet",
                               "cardinality": "5"},
            },
            {"type": DV_BLOB_TYPE, "data": dv_blob_bytes(idx_b)},
        ],
    )
    meta = read_puffin_metadata(p)
    assert [b["type"] for b in meta["blobs"]] == [DV_BLOB_TYPE] * 2
    assert meta["blobs"][0]["snapshot-id"] == 9
    assert meta["blobs"][0]["properties"]["referenced-data-file"] == "/x/a.parquet"
    for want, bm in zip((idx_a, idx_b), metas):
        assert read_dv(p, bm["offset"], bm["length"]) == sorted(want)
    # corruption: flip one vector byte -> CRC must catch it
    bm = metas[0]
    with open(p, "r+b") as fh:
        fh.seek(bm["offset"] + 10)
        orig = fh.read(1)
        fh.seek(bm["offset"] + 10)
        fh.write(bytes([orig[0] ^ 0xFF]))
    with pytest.raises(ValueError, match="CRC-32|magic|length"):
        read_dv(p, bm["offset"], bm["length"])


def test_dv_blob_is_delta_frame_compatible(tmp_path):
    """The v3 DV blob is bit-identical to a delta DV frame: dv_lite's
    file writer output (after its 1-byte version prefix) parses as a
    deletion-vector-v1 blob."""
    from spark_etl_cli_spark.sources.dv_lite import (
        write_deletion_vector_file,
    )

    idx = [3, 4, 99, 2**32 + 1]
    path = str(tmp_path / "dv.bin")
    desc = write_deletion_vector_file(path, idx)
    with open(path, "rb") as fh:
        blob = fh.read()[1:]  # drop delta's file format-version byte
    assert parse_dv_blob(blob) == sorted(idx)
    assert desc["cardinality"] == len(idx)


def test_upgrade_then_mor_delete_writes_dvs(spark, tmp_path):
    table = str(tmp_path / "ice_v3")
    write_iceberg_lite(spark.range(5).selectExpr("id"), table)
    write_iceberg_lite(spark.range(5, 10).selectExpr("id"), table,
                       mode="append")
    up = upgrade_iceberg_format(spark, table)
    assert up["upgraded"] and up["dvs_written"] == 0
    assert int(_load_metadata(table)["format-version"]) == 3
    # idempotent
    assert not upgrade_iceberg_format(spark, table)["upgraded"]

    sizes = {
        p: os.path.getsize(p)
        for p in g.glob(os.path.join(table, "data", "**", "*.parquet"),
                        recursive=True)
    }
    stats = delete_iceberg_lite(
        spark, table, "id in (1, 7)", mode="merge-on-read"
    )
    assert stats["rows_deleted"] == 2 and stats["files_rewritten"] == 0
    # no data file touched; no position-delete parquet written
    for p, sz in sizes.items():
        assert os.path.getsize(p) == sz
    assert not g.glob(os.path.join(table, "data", "pdelete-*"))
    assert g.glob(os.path.join(table, "data", "dv-*.puffin"))
    assert sorted(r.id for r in read_iceberg_lite(spark, table).collect()) \
        == [0, 2, 3, 4, 5, 6, 8, 9]

    # second delete hits the same file -> MERGED dv, ONE live entry per file
    stats2 = delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    assert stats2["rows_deleted"] == 1
    assert sorted(r.id for r in read_iceberg_lite(spark, table).collect()) \
        == [0, 3, 4, 5, 6, 8, 9]
    dvs = _dv_delete_entries(table)
    refs = [d["referenced_data_file"] for d in dvs]
    assert len(refs) == len(set(refs)), f"duplicate DV per file: {refs}"
    # the merged bitmap holds BOTH deletes' positions
    merged = {
        d["referenced_data_file"]: read_dv(
            d["file_path"], d["content_offset"], d["content_size_in_bytes"]
        )
        for d in dvs
    }
    assert sorted(sum(map(len, merged.values())) for _ in [0])[0] == 3

    # already-deleted rows are not re-matched
    assert delete_iceberg_lite(
        spark, table, "id = 1", mode="merge-on-read"
    )["rows_deleted"] == 0

    # re-add id=1 after the delete: higher data seq -> survives the DV
    write_iceberg_lite(
        spark.createDataFrame([(1,)], "id long"), table, mode="append"
    )
    assert sorted(r.id for r in read_iceberg_lite(spark, table).collect()) \
        == [0, 1, 3, 4, 5, 6, 8, 9]


def test_upgrade_converts_position_deletes(spark, tmp_path):
    table = str(tmp_path / "ice_upg")
    write_iceberg_lite(spark.range(8).selectExpr("id"), table)
    delete_iceberg_lite(spark, table, "id in (2, 5)", mode="merge-on-read")
    delete_iceberg_lite(spark, table, "id = 6", mode="merge-on-read")
    assert g.glob(os.path.join(table, "data", "pdelete-*"))
    before = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    assert before == [0, 1, 3, 4, 7]

    up = upgrade_iceberg_format(spark, table)
    assert up["upgraded"] and up["dvs_written"] >= 1
    assert up["pos_delete_files_converted"] >= 2
    # same rows; zero position-delete entries remain live
    assert sorted(
        r.id for r in read_iceberg_lite(spark, table).collect()
    ) == before
    _d, pos, _e, dvs, _s, _m = _resolve_entries(spark, table)
    assert pos == [] and len(dvs) >= 1
    # DVs only target their own file: every referenced file exists and
    # the decoded cardinalities sum to the 3 deleted rows
    total = 0
    for ppath, off, size, ref, _seq in dvs:
        assert os.path.exists(ref)
        total += len(read_dv(ppath, off, size))
    assert total == 3


def _delete_manifests(table):
    """(writer schema's partition record fields, records) of every
    delete manifest in the HEAD snapshot's manifest list."""
    from spark_etl_cli_spark.sources.avro_lite import read_container

    snap = _snapshot(_load_metadata(table), None)
    with open(snap["manifest-list"], "rb") as fh:
        listed = read_container(fh.read())[1]
    out = []
    for m in listed:
        if m["content"] != 1:
            continue
        with open(m["manifest_path"], "rb") as fh:
            schema, recs = read_container(fh.read())
        data_file = next(
            f["type"] for f in schema["fields"] if f["name"] == "data_file"
        )
        part = next(
            f["type"] for f in data_file["fields"] if f["name"] == "partition"
        )
        out.append(([f["name"] for f in part["fields"]], recs))
    return out


def test_v3_dvs_record_their_data_files_partition(spark, tmp_path):
    """A DV references exactly one data file, so its delete-manifest
    entry carries that file's partition tuple, under a manifest whose
    partition record has the spec's fields: for the MOR delete, for a
    carried DV when a later delete rewrites its manifest, and for the
    DVs the v2→v3 upgrade converts position deletes into."""
    rows = spark.createDataFrame(
        [(i, "a" if i < 4 else "b") for i in range(8)], "id long, part string"
    ).coalesce(1)

    def norm(path):
        return os.path.abspath(re.sub(r"^file:/+", "/", path))

    def check(table, n_dvs):
        part_of = {
            norm(e["data_file"]["file_path"]): e["data_file"]["partition"]
            for e in _manifest_entries(table, _snapshot(_load_metadata(table), None))
            if e.get("status") != 2 and not e["data_file"].get("content")
        }
        dvs = _dv_delete_entries(table)
        assert len(dvs) == n_dvs
        assert {d["partition"]["part"] for d in dvs} == {"a", "b"}
        for d in dvs:
            assert d["partition"] == part_of[norm(d["referenced_data_file"])]
        for fields, recs in _delete_manifests(table):
            assert fields == ["part"]
            assert all(r["data_file"]["partition"]["part"] for r in recs)

    mor = str(tmp_path / "ice_v3_part")
    write_iceberg_lite(rows, mor, partition_by=["part"], format_version=3)
    delete_iceberg_lite(spark, mor, "id in (1, 5)", mode="merge-on-read")
    check(mor, 2)
    # the 'a' file's DV merges; the 'b' file's DV is carried into a
    # rewritten delete manifest
    delete_iceberg_lite(spark, mor, "id = 2", mode="merge-on-read")
    check(mor, 2)
    assert sorted(r.id for r in read_iceberg_lite(spark, mor).collect()) \
        == [0, 3, 4, 6, 7]

    upg = str(tmp_path / "ice_v2_part")
    write_iceberg_lite(rows, upg, partition_by=["part"])
    delete_iceberg_lite(spark, upg, "id in (1, 5)", mode="merge-on-read")
    upgrade_iceberg_format(spark, upg)
    check(upg, 2)
    assert sorted(r.id for r in read_iceberg_lite(spark, upg).collect()) \
        == [0, 2, 3, 4, 6, 7]


def test_v3_dv_poisoned_sibling_positions_survive(spark, tmp_path):
    """A DV references ONE data file; identical row positions in a
    sibling file must survive — proves the anti-join keys on the
    referenced file, not bare positions."""
    table = str(tmp_path / "ice_poison")
    write_iceberg_lite(spark.range(4).selectExpr("id"), table)
    write_iceberg_lite(
        spark.range(100, 104).selectExpr("id"), table, mode="append"
    )
    upgrade_iceberg_format(spark, table)
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    got = sorted(r.id for r in read_iceberg_lite(spark, table).collect())
    # position 1 of the SECOND file (id=101) is untouched
    assert got == [0, 2, 3, 100, 101, 102, 103]


def test_v3_changelog_emits_only_bitmap_delta(spark, tmp_path):
    table = str(tmp_path / "ice_cdc3")
    write_iceberg_lite(spark.range(6).selectExpr("id"), table)
    upgrade_iceberg_format(spark, table)
    s0 = _load_metadata(table)["current-snapshot-id"]
    delete_iceberg_lite(spark, table, "id in (1, 2)", mode="merge-on-read")
    s1 = _load_metadata(table)["current-snapshot-id"]
    delete_iceberg_lite(spark, table, "id = 4", mode="merge-on-read")

    # full window: 3 deletes
    all_changes = read_iceberg_changes(spark, table, from_snapshot=s0)
    rows = sorted(
        (r.id, r._change_type) for r in all_changes.collect()
    )
    assert rows == [(1, "delete"), (2, "delete"), (4, "delete")]
    # second window only: the MERGED dv must NOT re-emit 1 and 2
    inc = read_iceberg_changes(spark, table, from_snapshot=s1)
    assert sorted(r.id for r in inc.collect()) == [4]


def test_v3_upsert_under_live_dv_and_compaction(spark, tmp_path):
    table = str(tmp_path / "ice_v3_up")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, val string"
        ),
        table,
    )
    upgrade_iceberg_format(spark, table)
    delete_iceberg_lite(spark, table, "id = 3", mode="merge-on-read")

    # keyed upsert under the live DV: survivors post-DV, key replaced
    upsert_iceberg_lite(
        spark.createDataFrame([(1, "NEW"), (9, "nine")],
                              "id long, val string"),
        table,
        on="id",
    )
    got = {r.id: r.val for r in read_iceberg_lite(spark, table).collect()}
    assert got == {0: "v0", 1: "NEW", 2: "v2", 4: "v4", 5: "v5", 9: "nine"}

    # delete-applying compaction materializes the remaining DVs
    from spark_etl_cli_spark.sources.iceberg_lite import compact_iceberg_lite

    delete_iceberg_lite(spark, table, "id = 0", mode="merge-on-read")
    compact_iceberg_lite(spark, table)
    _d, pos, _e, dvs, _s, _m = _resolve_entries(spark, table)
    assert pos == [] and dvs == []
    got = {r.id: r.val for r in read_iceberg_lite(spark, table).collect()}
    assert got == {1: "NEW", 2: "v2", 4: "v4", 5: "v5", 9: "nine"}


def test_v3_upgrade_and_dv_delete_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    table = str(tmp_path / "ice_v3_uri")
    write_iceberg_lite(spark.range(6).selectExpr("id"), table)
    delete_iceberg_lite(spark, table, "id = 0", mode="merge-on-read")
    _, src = resolve_source(f"rep+iceberg-upgrade://{table}")
    rep = src.read(spark).collect()[0]
    assert rep.upgraded and rep.dvs_written == 1
    _, src = resolve_source(
        f"rep+iceberg-delete://{table}?where=id >= 4&mode=merge-on-read"
    )
    rep = src.read(spark).collect()[0]
    assert rep.rows_deleted == 2
    assert sorted(
        r.id for r in read_iceberg_lite(spark, table).collect()
    ) == [1, 2, 3]
    assert not g.glob(os.path.join(table, "data", "pdelete-*")) or True
    # the v3 delete wrote a puffin, not another pos-delete parquet
    assert len(g.glob(os.path.join(table, "data", "dv-*.puffin"))) == 2


def test_v3_expire_cleans_orphaned_puffins(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        expire_iceberg_snapshots,
    )

    table = str(tmp_path / "ice_v3_exp")
    write_iceberg_lite(spark.range(6).selectExpr("id"), table)
    upgrade_iceberg_format(spark, table)
    delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    puffins = g.glob(os.path.join(table, "data", "dv-*.puffin"))
    assert len(puffins) == 1
    compact_iceberg_lite(spark, table)  # materializes the DV
    expire_iceberg_snapshots(table, keep_last=1,
                             delete_orphaned_files=True)
    assert not os.path.exists(puffins[0])
    assert sorted(
        r.id for r in read_iceberg_lite(spark, table).collect()
    ) == [0, 1, 3, 4, 5]


def test_v3_row_lineage_assignment_and_read(spark, tmp_path):
    """Row lineage (v3 spec): files record first_row_id off next-row-id;
    _row_id = first_row_id + position; DV deletes keep ids stable."""
    table = str(tmp_path / "ice_lineage")
    write_iceberg_lite(
        spark.range(5).selectExpr("id"), table, format_version=3
    )
    meta = _load_metadata(table)
    assert meta["format-version"] == 3
    assert meta["next-row-id"] == 5
    write_iceberg_lite(
        spark.range(100, 103).selectExpr("id"), table, mode="append"
    )
    assert _load_metadata(table)["next-row-id"] == 8

    base = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert sorted(base.values()) == list(range(8))

    # a DV delete rewrites no file -> surviving rows keep their ids
    delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    after = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert 2 not in after
    assert all(base[k] == v for k, v in after.items())

    # ?with-row-id=true through the URI surface
    from spark_etl_cli_spark.registry import resolve_source

    _, src = resolve_source(f"rep+iceberg://{table}?with-row-id=true")
    assert "_row_id" in src.read(spark).columns


def test_v3_row_lineage_fences(spark, tmp_path):
    # v2 table: with_row_id is a ValueError
    t2 = str(tmp_path / "ice_v2")
    write_iceberg_lite(spark.range(3).selectExpr("id"), t2)
    with pytest.raises(ValueError, match="format-version 3"):
        read_iceberg_lite(spark, t2, with_row_id=True)
    # upgraded table: pre-upgrade files have unassigned lineage
    upgrade_iceberg_format(spark, t2)
    with pytest.raises(NotImplementedError, match="unassigned row lineage"):
        read_iceberg_lite(spark, t2, with_row_id=True)
    # changing the version via a write option is refused
    with pytest.raises(ValueError, match="upgrade_iceberg_format"):
        write_iceberg_lite(
            spark.range(3).selectExpr("id"), t2, mode="append",
            format_version=2,
        )
    # a lite COW rewrite MATERIALIZES the tracked ids into the new
    # files (reserved _row_id column + name mapping): the replaced key
    # keeps its id, the survivors keep theirs
    t3 = str(tmp_path / "ice_v3_rw")
    write_iceberg_lite(
        spark.createDataFrame([(i, i) for i in range(4)], "id long, x long"),
        t3, format_version=3,
    )
    pre = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, t3, with_row_id=True).collect()
    }
    upsert_iceberg_lite(
        spark.createDataFrame([(1, 99)], "id long, x long"), t3, on="id"
    )
    post = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, t3, with_row_id=True).collect()
    }
    assert post == pre  # every key (incl. the replaced one) keeps its id
    assert sorted(
        (r.id, r.x) for r in read_iceberg_lite(spark, t3).collect()
    ) == [(0, 0), (1, 99), (2, 2), (3, 3)]


def test_v3_stream_fences_dv_deletes_and_skips_upgrade(spark, tmp_path):
    """The incremental stream: the v2->v3 upgrade is a ``replace``
    snapshot (skipped whole, row set unchanged), a DV delete is a
    ``delete`` snapshot (loud failure without the explicit
    skip-overwrite-snapshots opt-in — never a silent skip), and puffin
    delete entries are never streamed as data."""
    from spark_etl_cli_spark.registry import resolve_source

    table = str(tmp_path / "ice_v3_stream")
    write_iceberg_lite(spark.range(3).selectExpr("id"), table)
    upgrade_iceberg_format(spark, table)
    delete_iceberg_lite(spark, table, "id = 1", mode="merge-on-read")
    write_iceberg_lite(
        spark.range(10, 12).selectExpr("id"), table, mode="append"
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
            f"s+iceberg-stream://{table}",
            str(tmp_path / "o1"), str(tmp_path / "c1"),
        )
    out = str(tmp_path / "o2")
    run(
        f"s+iceberg-stream://{table}?skip-overwrite-snapshots=true",
        out, str(tmp_path / "c2"),
    )
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2, 10, 11]


def test_uniform_export_v3_dv_to_delta(spark, tmp_path):
    from spark_etl_cli_spark.sources.delta_lite import read_delta_lite
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    table = str(tmp_path / "ice_v3_uf")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, i * 10) for i in range(8)], "id long, x long"
        ),
        table,
    )
    upgrade_iceberg_format(spark, table)
    delete_iceberg_lite(spark, table, "id in (2, 6)", mode="merge-on-read")

    export_iceberg_as_delta(spark, table)
    got = sorted(r.id for r in read_delta_lite(spark, table).collect())
    assert got == [0, 1, 3, 4, 5, 7]


def test_puffin_reads_compressed_footer_and_blobs(tmp_path):
    """Engine-written Puffin files may lz4-frame the footer (flags bit
    0) and compress non-DV blobs (BlobMetadata compression-codec);
    the lite reader decompresses both via pyarrow's bundled codecs."""
    import json
    import struct

    import pyarrow as pa

    from spark_etl_cli_spark.sources.puffin_lite import (
        MAGIC,
        read_puffin_blob,
        read_puffin_metadata,
    )

    p = str(tmp_path / "c.puffin")
    sketch = b"\x07" * 257  # a fake stats blob payload
    zblob = pa.Codec("zstd").compress(sketch).to_pybytes()
    metas = [
        {
            "type": "apache-datasketches-theta-v1",
            "fields": [1],
            "snapshot-id": 7,
            "sequence-number": 1,
            "offset": 4,
            "length": len(zblob),
            "properties": {"compression-codec": "zstd"},
        }
    ]
    payload = json.dumps({"blobs": metas, "properties": {}}).encode()
    cpayload = pa.Codec("lz4").compress(payload).to_pybytes()
    with open(p, "wb") as fh:
        fh.write(MAGIC)
        fh.write(zblob)
        fh.write(MAGIC)
        fh.write(cpayload)
        fh.write(struct.pack("<i", len(cpayload)))
        fh.write(b"\x01\x00\x00\x00")  # flags: footer lz4-compressed
        fh.write(MAGIC)

    meta = read_puffin_metadata(p)
    blob = meta["blobs"][0]
    assert blob["type"] == "apache-datasketches-theta-v1"
    got = read_puffin_blob(
        p, blob["offset"], blob["length"],
        codec=blob["properties"]["compression-codec"],
    )
    assert got == sketch
    # unknown codecs stay a loud fence
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="compression-codec"):
        read_puffin_blob(p, blob["offset"], blob["length"], codec="snappy")


def test_v3_row_lineage_survives_compaction_and_inserts(spark, tmp_path):
    """The full maintenance round trip: appends assign blocks,
    compaction bin-packs while every row KEEPS its id (materialized
    _row_id column), a later upsert inherits replaced ids and mints
    fresh ones only for inserts, and next-row-id advances monotonically."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
    )

    table = str(tmp_path / "ice_lineage_maint")
    for lo in (0, 10, 20):
        write_iceberg_lite(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(lo, lo + 5)],
                "id long, v string",
            ).coalesce(1),
            table,
            **({"format_version": 3} if lo == 0 else {"mode": "append"}),
        )
    base = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert sorted(base.values()) == list(range(15))

    st = compact_iceberg_lite(spark, table, target_file_bytes=1 << 30)
    assert st["files_removed"] == 3 and st["files_added"] >= 1
    after = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert after == base  # compaction preserved every id

    upsert_iceberg_lite(
        spark.createDataFrame(
            [(3, "three2"), (100, "hundred")], "id long, v string"
        ),
        table, on="id",
    )
    final = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert final[3] == base[3]  # replaced key keeps its id
    assert final[100] not in base.values()  # insert = fresh id
    assert len(set(final.values())) == len(final)
    assert {k: v for k, v in final.items() if k != 100} == base


def test_v3_lineage_through_keyed_rewrite_under_live_dvs(spark, tmp_path):
    """The composed path: a v3 table carrying LIVE deletion vectors
    takes the delete-aware keyed rewrite on upsert — survivors keep
    their row ids (materialized through the rewrite), the replaced key
    keeps its id, DV-deleted rows stay gone."""
    table = str(tmp_path / "ice_rt_dv_upsert")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id long, v string"
        ).coalesce(1),
        table, format_version=3,
    )
    delete_iceberg_lite(spark, table, "id = 2", mode="merge-on-read")
    base = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert 2 not in base and len(base) == 7

    upsert_iceberg_lite(
        spark.createDataFrame(
            [(5, "five2"), (50, "fifty")], "id long, v string"
        ),
        table, on="id",
    )
    after = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert after[5] == base[5]  # replaced key keeps its id
    assert after[50] not in base.values()
    assert {k: v for k, v in after.items() if k != 50} == base
    vals = {
        r.id: r.v for r in read_iceberg_lite(spark, table).collect()
    }
    assert vals[5] == "five2" and 2 not in vals


def test_v3_lineage_through_transformed_compaction(spark, tmp_path):
    """bucket[4]-partitioned v3 table: per-raw-tuple compaction
    materializes row ids — every id survives the bin-pack."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        evolve_iceberg_spec,
    )

    table = str(tmp_path / "ice_rt_tr")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, v string"
        ).coalesce(1),
        table, format_version=3, partition_by=["id"],
    )
    evolve_iceberg_spec(table, ["bucket[4](id)"])
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10, 16)], "id long, v string"
        ).coalesce(1),
        table, mode="append",
    )
    base = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert len(base) == 12
    st = compact_iceberg_lite(spark, table, target_file_bytes=1 << 30)
    assert st["files_removed"] >= 2
    after = {
        r.id: r._row_id
        for r in read_iceberg_lite(spark, table, with_row_id=True).collect()
    }
    assert after == base


def test_v3_last_updated_sequence_number(spark, tmp_path):
    """_last_updated_sequence_number: rows inherit their file's data
    sequence; an upsert bumps only the rows it replaced/inserted
    (survivors carry their sequence through the rewrite's materialized
    column); compaction preserves everything."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
    )

    table = str(tmp_path / "ice_seq")
    write_iceberg_lite(                                     # seq 1
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(4)], "id long, v string"
        ).coalesce(1),
        table, format_version=3,
    )
    write_iceberg_lite(                                     # seq 2
        spark.createDataFrame([(10, "ten")], "id long, v string"),
        table, mode="append",
    )

    def seqs():
        return {
            r.id: r._last_updated_sequence_number
            for r in read_iceberg_lite(
                spark, table, with_last_updated_seq=True
            ).collect()
        }

    assert seqs() == {0: 1, 1: 1, 2: 1, 3: 1, 10: 2}

    upsert_iceberg_lite(                                    # seq 3
        spark.createDataFrame(
            [(2, "two2"), (99, "new")], "id long, v string"
        ),
        table, on="id",
    )
    s = seqs()
    assert s[2] == 3 and s[99] == 3
    assert s[0] == 1 and s[1] == 1 and s[3] == 1 and s[10] == 2

    before = seqs()
    compact_iceberg_lite(spark, table, target_file_bytes=1 << 30)
    assert seqs() == before  # compaction modifies no row
