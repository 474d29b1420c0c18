"""UniForm interop: delta tables exposed as iceberg tables
(sources/uniform.py) — zero data copy, metadata-only exports."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from spark_etl_cli_spark.sources.delta_lite import (
    delete_delta_lite,
    read_delta_lite,
    write_delta_lite,
)
from spark_etl_cli_spark.sources.iceberg_lite import read_iceberg_lite
from spark_etl_cli_spark.sources.uniform import export_delta_as_iceberg


def _snap(df, cols=("id", "v")):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_uniform_export_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(10)]),
        path,
    )
    sid = export_delta_as_iceberg(spark, path)
    assert sid == 1
    assert _snap(read_iceberg_lite(spark, path)) == _snap(
        read_delta_lite(spark, path)
    )
    # zero copy: the iceberg metadata references the delta parquet
    # files; no new data file appeared
    data_files = [
        f
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and "_delta_log" not in root
        and "metadata" not in root
    ]
    assert len(data_files) > 0


def test_uniform_refresh_tracks_delta_commits(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), path
    )
    export_delta_as_iceberg(spark, path)
    write_delta_lite(
        spark.createDataFrame([Row(id=3, v=3.0)]), path, mode="append"
    )
    delete_delta_lite(spark, path, "id = 1")
    sid2 = export_delta_as_iceberg(spark, path)
    assert sid2 == 2
    assert _snap(read_iceberg_lite(spark, path)) == {(2, 2.0), (3, 3.0)}
    # the previous iceberg snapshot still time-travels to the old view
    assert _snap(read_iceberg_lite(spark, path, snapshot_id=1)) == {
        (1, 1.0), (2, 2.0),
    }


def test_uniform_partitioned_tables_prune(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_delta_lite(
        spark.createDataFrame(
            [Row(id=i, part="a" if i < 3 else "b", v=float(i))
             for i in range(6)]
        ),
        path, partition_by=["part"],
    )
    export_delta_as_iceberg(spark, path)
    out = read_iceberg_lite(spark, path, where="part = 'a'")
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2]


def test_uniform_via_uri_and_iceberg_source(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source

    path = str(tmp_path / "tbl")
    write_delta_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    _, u = resolve_source(f"rep+delta-uniform://{path}")
    assert u.read(spark).head()["iceberg_snapshot_id"] == 1
    _, ice = resolve_source(f"t+iceberg://{path}")
    assert _snap(ice.read(spark)) == {(1, 1.0)}


def test_uniform_dv_exports_as_position_deletes(spark, tmp_path):
    """A DV-deleted delta table exports: the deletion vector becomes an
    iceberg position-delete file and the iceberg reader returns the
    post-delete rows — zero data copy, no rewrite."""
    p1 = str(tmp_path / "dv")
    write_delta_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(5)]), p1
    )
    delete_delta_lite(spark, p1, "id = 1", deletion_vectors=True)
    export_delta_as_iceberg(spark, p1)
    assert _snap(read_iceberg_lite(spark, p1)) == _snap(
        read_delta_lite(spark, p1)
    )
    assert sorted(
        r["id"] for r in read_iceberg_lite(spark, p1).collect()
    ) == [0, 2, 3, 4]
    # the export wrote a real content=1 position-delete parquet
    import glob as g

    pd_files = g.glob(os.path.join(p1, "data", "uniform-pos-del-*", "*.parquet"))
    assert pd_files
    rows = spark.read.parquet(pd_files[0]).collect()
    assert len(rows) == 1 and rows[0]["pos"] >= 0


def test_uniform_column_mapped_table_exports_with_name_mapping(
    spark, tmp_path
):
    """Renaming a delta column (column-mapping upgrade) then
    re-exporting: the iceberg reader serves the NEW logical name over
    the SAME physical parquet, resolved via schema.name-mapping.default
    and delta's stable mapping field ids."""
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite
    from spark_etl_cli_spark.sources.iceberg_lite import _load_metadata

    p2 = str(tmp_path / "mapped")
    write_delta_lite(
        spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=2.0)]), p2
    )
    alter_delta_lite(spark, p2, rename={"v": "amount"})
    export_delta_as_iceberg(spark, p2)
    out = read_iceberg_lite(spark, p2)
    assert set(out.columns) == {"id", "amount"}
    assert {(r["id"], r["amount"]) for r in out.collect()} == {
        (1, 1.0), (2, 2.0),
    }
    # the metadata carries the name mapping (physical file names → ids)
    meta = _load_metadata(p2)
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert {e["field-id"] for e in nm} == {
        f["id"] for f in meta["schemas"][0]["fields"]
    }
    # a second rename re-export keeps the SAME field id for the column
    fid_before = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "amount"
    )
    alter_delta_lite(spark, p2, rename={"amount": "price"})
    export_delta_as_iceberg(spark, p2)
    meta2 = _load_metadata(p2)
    fid_after = next(
        f["id"]
        for f in meta2["schemas"][0]["fields"]
        if f["name"] == "price"
    )
    assert fid_after == fid_before
    out2 = read_iceberg_lite(spark, p2)
    assert {(r["id"], r["price"]) for r in out2.collect()} == {
        (1, 1.0), (2, 2.0),
    }


def test_uniform_mapped_nested_types_roundtrip(spark, tmp_path):
    """r6 fence closed: a column-mapped delta table with nested types
    (struct/array/map) exports — struct fields at any depth reuse
    delta's stable mapping ids, list/map id slots get fresh ids above
    the max, and the name mapping recurses — and the lite iceberg
    reader round-trips the values post-rename."""
    from spark_etl_cli_spark.sources.delta_lite import alter_delta_lite
    from spark_etl_cli_spark.sources.iceberg_lite import _load_metadata

    p = str(tmp_path / "nested")
    write_delta_lite(
        spark.createDataFrame(
            [
                Row(id=1, v=1.0, tags=["a", "b"],
                    info=Row(city="ber", zip=10115), m={"k": 7}),
                Row(id=2, v=2.0, tags=[],
                    info=Row(city="muc", zip=80331), m={}),
            ],
            "id long, v double, tags array<string>, "
            "info struct<city string, zip int>, m map<string, int>",
        ),
        p,
    )
    alter_delta_lite(spark, p, rename={"v": "amount"})
    export_delta_as_iceberg(spark, p)
    out = read_iceberg_lite(spark, p)
    assert set(out.columns) == {"id", "amount", "tags", "info", "m"}
    got = {
        (r["id"], r["amount"], tuple(r["tags"]),
         (r["info"]["city"], r["info"]["zip"]), tuple(sorted(r["m"].items())))
        for r in out.collect()
    }
    assert got == {
        (1, 1.0, ("a", "b"), ("ber", 10115), (("k", 7),)),
        (2, 2.0, (), ("muc", 80331), ()),
    }
    # ids are unique across the whole schema (incl. element/key/value
    # slots) and the name mapping recurses into the struct
    meta = _load_metadata(p)

    def _walk_ids(node, acc):
        if isinstance(node, dict):
            for k, v in node.items():
                if k in ("id", "element-id", "key-id", "value-id"):
                    acc.append(v)
                else:
                    _walk_ids(v, acc)
        elif isinstance(node, list):
            for v in node:
                _walk_ids(v, acc)

    ids: list[int] = []
    _walk_ids(meta["schemas"][0], ids)
    assert len(ids) == len(set(ids))
    nm = json.loads(meta["properties"]["schema.name-mapping.default"])
    info_ent = next(
        e for e in nm
        if any(f["name"] == "info" for f in meta["schemas"][0]["fields"]
               if f["id"] == e["field-id"])
    )
    assert [c["names"][0] for c in info_ent["fields"]] == ["city", "zip"]
    # a rename of the struct column itself re-exports with the same id
    fid_before = next(
        f["id"] for f in meta["schemas"][0]["fields"] if f["name"] == "info"
    )
    alter_delta_lite(spark, p, rename={"info": "address"})
    export_delta_as_iceberg(spark, p)
    meta2 = _load_metadata(p)
    assert next(
        f["id"] for f in meta2["schemas"][0]["fields"]
        if f["name"] == "address"
    ) == fid_before
    out2 = read_iceberg_lite(spark, p)
    assert {r["address"]["city"] for r in out2.collect()} == {"ber", "muc"}


# --- reverse direction: iceberg exposed as delta -----------------------------


def test_uniform_iceberg_to_delta_roundtrip(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    path = str(tmp_path / "tbl")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        ),
        path,
    )
    v = export_iceberg_as_delta(spark, path)
    assert v == 0
    assert _snap(read_delta_lite(spark, path)) == _snap(
        read_iceberg_lite(spark, path)
    )
    # Spark reports file paths URI-encoded: a live delete under a path
    # with a space, a '%' and a '+' still exports what the reader serves
    from spark_etl_cli_spark.sources.iceberg_lite import delete_iceberg_lite

    odd = str(tmp_path / "a b%20c+d" / "tbl")
    write_iceberg_lite(spark.range(6).selectExpr("id"), odd)
    delete_iceberg_lite(spark, odd, "id = 2", mode="merge-on-read")
    export_iceberg_as_delta(spark, odd)
    assert sorted(r.id for r in read_delta_lite(spark, odd).collect()) == sorted(
        r.id for r in read_iceberg_lite(spark, odd).collect()
    )


def test_uniform_iceberg_to_delta_refresh_and_noop(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        write_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    path = str(tmp_path / "tbl")
    write_iceberg_lite(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
        .coalesce(1),
        path,
    )
    export_iceberg_as_delta(spark, path)
    write_iceberg_lite(
        spark.createDataFrame([(3, 3.0)], "id long, v double"),
        path, mode="append",
    )
    delete_iceberg_lite(spark, path, "id = 1")
    v = export_iceberg_as_delta(spark, path)
    assert v >= 1
    assert _snap(read_delta_lite(spark, path)) == {(2, 2.0), (3, 3.0)}
    # delta time travel still sees the first export
    assert _snap(read_delta_lite(spark, path, version_as_of=0)) == {
        (1, 1.0), (2, 2.0),
    }
    # exporting again with no iceberg change is a commit-free no-op
    import os as _os

    log = _os.path.join(path, "_delta_log")
    n_before = len(_os.listdir(log))
    v2 = export_iceberg_as_delta(spark, path)
    assert v2 == v and len(_os.listdir(log)) == n_before


def test_uniform_iceberg_to_delta_partitioned(spark, tmp_path):
    from spark_etl_cli_spark.sources.iceberg_lite import write_iceberg_lite
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    path = str(tmp_path / "tbl")
    write_iceberg_lite(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
        ),
        path, partition_by=["part"],
    )
    export_iceberg_as_delta(spark, path)
    out = read_delta_lite(spark, path, where="part = 'a'")
    assert [(r["id"], r["part"]) for r in out.collect()] == [(1, "a")]


def test_uniform_iceberg_to_delta_exports_equality_deletes(spark, tmp_path):
    """LIVE equality deletes export: the iceberg reader locates the
    rows they delete, and those positions ride the same DV path
    position deletes use — both readers agree row-for-row with the
    deletes still live (no compaction needed), also when the key column
    carries a v3 initial-default that older files read per vintage."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        compact_iceberg_lite,
        delete_iceberg_lite,
        read_iceberg_lite,
        write_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    path = str(tmp_path / "tbl")
    write_iceberg_lite(spark.range(4).selectExpr("id"), path)
    delete_iceberg_lite(
        spark, path, "id = 1", mode="merge-on-read",
        equality_columns=["id"],
    )
    export_iceberg_as_delta(spark, path)
    ice = sorted(r["id"] for r in read_iceberg_lite(spark, path).collect())
    dl_rows = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert ice == dl_rows == [0, 2, 3]
    # a row RE-ADDED after the delete survives (strictly-older scoping:
    # the new file's sequence >= the delete's, so the key must not
    # re-match it) — the reader-parity edge that matters
    write_iceberg_lite(
        spark.createDataFrame([(1,)], "id long"), path, mode="append",
    )
    export_iceberg_as_delta(spark, path)
    ice2 = sorted(r["id"] for r in read_iceberg_lite(spark, path).collect())
    dl2 = sorted(r["id"] for r in read_delta_lite(spark, path).collect())
    assert ice2 == dl2 == [0, 1, 2, 3]
    # compaction afterwards still round-trips
    compact_iceberg_lite(spark, path)
    export_iceberg_as_delta(spark, path)
    assert sorted(
        r["id"] for r in read_delta_lite(spark, path).collect()
    ) == [0, 1, 2, 3]
    # an equality delete keyed on a column with an initial-default:
    # rows of files written before the column existed carry the
    # default, so the key 7 deletes ids 1 and 2
    dflt = str(tmp_path / "tbl_dflt")
    write_iceberg_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        dflt, format_version=3,
    )
    write_iceberg_lite(
        spark.createDataFrame(
            [(3, "c", 99), (4, "d", None)], "id long, v string, score long"
        ),
        dflt, merge_schema=True, column_defaults={"score": 7},
    )
    delete_iceberg_lite(
        spark, dflt, "id = 1", mode="merge-on-read",
        equality_columns=["score"],
    )
    export_iceberg_as_delta(spark, dflt)
    ice3 = sorted(r["id"] for r in read_iceberg_lite(spark, dflt).collect())
    dl3 = sorted(r["id"] for r in read_delta_lite(spark, dflt).collect())
    assert ice3 == dl3 == [3, 4]


# --- hudi exposed as delta / iceberg ------------------------------------------


def test_uniform_hudi_to_delta_and_iceberg(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import (
        read_hudi_lite,
        write_hudi_lite,
    )
    from spark_etl_cli_spark.sources.uniform import (
        export_hudi_as_delta,
        export_hudi_as_iceberg,
    )

    path = str(tmp_path / "tbl")
    write_hudi_lite(
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(6)]),
        path, record_key="id",
    )
    write_hudi_lite(
        spark.createDataFrame([Row(id=2, v=200.0), Row(id=9, v=9.0)]),
        path, mode="upsert", record_key="id",
    )
    v = export_hudi_as_delta(spark, path)
    sid = export_hudi_as_iceberg(spark, path)
    hudi = _snap(read_hudi_lite(spark, path))
    assert _snap(read_delta_lite(spark, path)) == hudi
    assert _snap(read_iceberg_lite(spark, path)) == hudi
    # hoodie meta columns never surface
    assert not any(
        c.startswith("_hoodie_")
        for c in read_delta_lite(spark, path).columns
    )
    # refresh after another upsert tracks the new live set
    write_hudi_lite(
        spark.createDataFrame([Row(id=0, v=100.0)]), path,
        mode="upsert", record_key="id",
    )
    assert export_hudi_as_delta(spark, path) > v
    assert export_hudi_as_iceberg(spark, path) > sid
    hudi2 = _snap(read_hudi_lite(spark, path))
    assert _snap(read_delta_lite(spark, path)) == hudi2
    assert _snap(read_iceberg_lite(spark, path)) == hudi2


def test_uniform_hudi_fences_uncompacted_mor(spark, tmp_path):
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite
    from spark_etl_cli_spark.sources.uniform import export_hudi_as_delta

    path = str(tmp_path / "tbl")
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=1.0)]), path,
        record_key="id", table_type="MERGE_ON_READ",
    )
    write_hudi_lite(
        spark.createDataFrame([Row(id=1, v=11.0)]), path,
        mode="upsert", record_key="id",
    )
    with pytest.raises(NotImplementedError, match="compact"):
        export_hudi_as_delta(spark, path)


def test_uniform_hudi_via_uri(spark, tmp_path):
    from spark_etl_cli_spark.registry import resolve_source
    from spark_etl_cli_spark.sources.hudi_lite import write_hudi_lite

    path = str(tmp_path / "tbl")
    write_hudi_lite(spark.createDataFrame([Row(id=1, v=1.0)]), path)
    _, u = resolve_source(f"rep+hudi-uniform://{path}?as=both")
    rows = {(r["format"], r["version"] >= 0) for r in u.read(spark).collect()}
    assert rows == {("delta", True), ("iceberg", True)}
    assert _snap(read_delta_lite(spark, path)) == {(1, 1.0)}
    assert _snap(read_iceberg_lite(spark, path)) == {(1, 1.0)}


def test_uniform_iceberg_position_deletes_export_as_dvs(spark, tmp_path):
    """An iceberg table with live merge-on-read POSITION deletes
    exports to delta: each affected file gets a deletion vector (the
    dv_lite codec both writes and reads it), the delta reader returns
    the post-delete rows, and a re-export after MORE deletes refreshes
    the DV. Equality deletes stack onto the same DVs."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        delete_iceberg_lite,
        write_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    path = str(tmp_path / "ice_dv")
    write_iceberg_lite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id long, v double"
        ),
        path,
    )
    delete_iceberg_lite(spark, path, "id = 1", mode="merge-on-read")
    export_iceberg_as_delta(spark, path)
    assert _snap(read_delta_lite(spark, path)) == _snap(
        read_iceberg_lite(spark, path)
    )
    assert sorted(
        r["id"] for r in read_delta_lite(spark, path).collect()
    ) == [0, 2, 3, 4, 5]
    # a real DV landed in the log and the protocol carries the feature
    import glob as g

    log = sorted(g.glob(os.path.join(path, "_delta_log", "*.json")))[-1]
    acts = [json.loads(l) for l in open(log) if l.strip()]
    assert any(
        a.get("add", {}).get("deletionVector") for a in acts
    )
    protos = [
        json.loads(l).get("protocol")
        for f in sorted(g.glob(os.path.join(path, "_delta_log", "*.json")))
        for l in open(f)
        if l.strip() and json.loads(l).get("protocol")
    ]
    assert protos and protos[-1]["minReaderVersion"] == 3
    assert "deletionVectors" in protos[-1]["readerFeatures"]
    # more deletes stack; the re-export refreshes the DV
    delete_iceberg_lite(spark, path, "id = 3", mode="merge-on-read")
    export_iceberg_as_delta(spark, path)
    assert sorted(
        r["id"] for r in read_delta_lite(spark, path).collect()
    ) == [0, 2, 4, 5]
    # a no-change re-export is a no-op (no new version)
    import spark_etl_cli_spark.sources.delta_lite as dl

    before = sorted(os.listdir(os.path.join(path, "_delta_log")))
    export_iceberg_as_delta(spark, path)
    assert sorted(os.listdir(os.path.join(path, "_delta_log"))) == before
    # equality deletes STACK onto the DV like the position deletes did
    delete_iceberg_lite(
        spark, path, "id = 5", mode="merge-on-read",
        equality_columns=["id"],
    )
    export_iceberg_as_delta(spark, path)
    assert sorted(
        r["id"] for r in read_delta_lite(spark, path).collect()
    ) == [0, 2, 4]


def test_uniform_transformed_iceberg_exports_as_unpartitioned_delta(
    spark, tmp_path
):
    """A bucket-partitioned iceberg table exports to delta
    UNPARTITIONED (delta can't express the transform; the files carry
    every column physically) — identical rows, zero copy."""
    from spark_etl_cli_spark.sources.iceberg_lite import (
        write_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.uniform import export_iceberg_as_delta

    table = str(tmp_path / "ice_tr")
    meta_dir = os.path.join(table, "metadata")
    os.makedirs(meta_dir)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000108",
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
            [(i, float(i)) for i in range(6)], "id long, v double"
        ),
        table, mode="append",
    )
    export_iceberg_as_delta(spark, table)
    assert _snap(read_delta_lite(spark, table)) == _snap(
        read_iceberg_lite(spark, table)
    )


def test_rowtracked_delta_exports_iceberg_v3_row_lineage(spark, tmp_path):
    """delta row tracking ↔ iceberg v3 row lineage share one model
    (per-file base id + position), so a row-tracked delta table
    exports as iceberg FORMAT V3 and ``_row_id`` matches VERBATIM on
    both sides; live DVs export as PUFFIN deletion-vector blobs and
    parity still holds for the survivors."""
    from spark_etl_cli_spark.sources.delta_lite import (
        delete_delta_lite,
        read_delta_lite,
        write_delta_lite,
    )
    from spark_etl_cli_spark.sources.iceberg_lite import (
        _load_metadata,
        read_iceberg_lite,
    )
    from spark_etl_cli_spark.sources.uniform import export_delta_as_iceberg

    t = str(tmp_path / "rt_uniform")
    write_delta_lite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        ).repartition(3),
        t, properties={"delta.enableRowTracking": "true"},
    )
    write_delta_lite(
        spark.createDataFrame([(100, "x")], "id long, v string"),
        t, mode="append",
    )
    export_delta_as_iceberg(spark, t)
    meta = _load_metadata(t)
    assert meta["format-version"] == 3
    assert meta["next-row-id"] == 11
    ice = sorted(
        (r.id, r._row_id)
        for r in read_iceberg_lite(spark, t, with_row_id=True).collect()
    )
    dl = sorted(
        (r.id, r._row_id)
        for r in read_delta_lite(spark, t, with_row_id=True).collect()
    )
    assert ice == dl and len(ice) == 11

    # live DVs: the v3 export re-wraps the deleted-position bitmaps as
    # PUFFIN deletion-vector-v1 blobs (parquet position deletes are
    # v2-only); the iceberg reader applies them and _row_id parity
    # holds for every surviving row
    import glob as _glob2

    delete_delta_lite(spark, t, "id = 4", deletion_vectors=True)
    export_delta_as_iceberg(spark, t)
    assert _glob2.glob(os.path.join(t, "data", "uniform-dv-*.puffin"))
    ice2 = sorted(
        (r.id, r._row_id)
        for r in read_iceberg_lite(spark, t, with_row_id=True).collect()
    )
    dl2 = sorted(
        (r.id, r._row_id)
        for r in read_delta_lite(spark, t, with_row_id=True).collect()
    )
    assert ice2 == dl2 and len(ice2) == 10
    assert all(i != 4 for i, _rid in ice2)
    # survivors keep the ids they had before the delete
    assert set(ice2) <= set(ice)

    # COW rewrite: delta materializes survivors' ids into the new
    # files; the export maps that column onto iceberg v3's reserved
    # materialized _row_id field (name mapping, id 2147483546) so
    # parity STILL holds after routine maintenance
    delete_delta_lite(spark, t, "id = 7", deletion_vectors=False)
    export_delta_as_iceberg(spark, t)
    ice3 = sorted(
        (r.id, r._row_id)
        for r in read_iceberg_lite(spark, t, with_row_id=True).collect()
    )
    dl3 = sorted(
        (r.id, r._row_id)
        for r in read_delta_lite(spark, t, with_row_id=True).collect()
    )
    assert ice3 == dl3 and len(ice3) == 9
    assert set(ice3) <= set(ice2)  # rewrite preserved surviving ids
