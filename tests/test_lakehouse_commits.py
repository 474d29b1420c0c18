"""One committer per table format: the Iceberg snapshot committer's
parent links, spec ids and lost-claim cleanup; the hudi instant claim;
delta OPTIMIZE committing through ``_write_commit``."""

from __future__ import annotations

import glob
import json
import os

import pytest

from spark_etl_cli_spark.sources import hudi_lite, iceberg_lite
from spark_etl_cli_spark.sources.avro_lite import MAGIC, Reader, read_container


def _container_meta(data: bytes) -> dict[str, bytes]:
    """The key/value metadata of an Avro container file's header."""
    r = Reader(data)
    assert r.read(4) == MAGIC
    meta = {}
    while (n := r.read_long()) != 0:
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode("utf-8")
            meta[k] = r.read_bytes()
    return meta


def _manifests(meta: dict) -> tuple[list[dict], list[tuple[dict, list]]]:
    """The current snapshot's manifest-list entries, and each manifest's
    (container metadata, records)."""
    snap = iceberg_lite._snapshot(meta, None)
    with open(snap["manifest-list"], "rb") as fh:
        _, ml = read_container(fh.read())
    out = []
    for m in ml:
        with open(m["manifest_path"], "rb") as fh:
            data = fh.read()
        out.append((_container_meta(data), read_container(data)[1]))
    return ml, out


def test_iceberg_history_chains_every_snapshot_to_its_parent(spark, tmp_path):
    from spark_etl_cli_spark.sources.meta_tables import iceberg_meta_df

    t = str(tmp_path / "t")
    rows = "id long, v string"
    iceberg_lite.write_iceberg_lite(
        spark.createDataFrame([(1, "a"), (2, "b")], rows), t
    )
    iceberg_lite.write_iceberg_lite(
        spark.createDataFrame([(3, "c")], rows), t
    )
    iceberg_lite.upsert_iceberg_lite(
        spark.createDataFrame([(2, "B"), (4, "d")], rows), t, on="id"
    )
    iceberg_lite.delete_iceberg_lite(spark, t, "id = 1", mode="merge-on-read")
    iceberg_lite.compact_iceberg_lite(spark, t)
    hist = iceberg_meta_df(spark, t, "history").collect()
    assert [r.snapshot_id for r in hist] == [1, 2, 3, 4, 5]
    assert [r.parent_id for r in hist] == [None, 1, 2, 3, 4]
    assert all(r.is_current_ancestor for r in hist)
    got = {
        (r.id, r.v) for r in iceberg_lite.read_iceberg_lite(spark, t).collect()
    }
    assert got == {(2, "B"), (3, "c"), (4, "d")}


def test_rewrite_of_an_evolved_table_records_the_spec_it_wrote(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    rows = "id long, k int"
    iceberg_lite.write_iceberg_lite(
        spark.createDataFrame([(1, 0), (2, 1)], rows), t
    )
    iceberg_lite.evolve_iceberg_spec(t, ["k"])
    iceberg_lite.write_iceberg_lite(
        spark.createDataFrame([(3, 0)], rows), t
    )
    iceberg_lite.compact_iceberg_lite(spark, t)
    meta = iceberg_lite._load_metadata(t)
    assert meta["default-spec-id"] == 1
    ml, manifests = _manifests(meta)
    assert [m["partition_spec_id"] for m in ml] == [1]
    header, recs = manifests[0]
    assert header["partition-spec-id"] == b"1"
    (spec1,) = [s for s in meta["partition-specs"] if s["spec-id"] == 1]
    assert json.loads(header["partition-spec"]) == spec1["fields"]
    assert {tuple(r["data_file"]["partition"]) for r in recs} == {("k",)}


def test_delta_export_of_a_partitioned_table_records_its_spec(
    spark, tmp_path
):
    from spark_etl_cli_spark.sources.delta_lite import write_delta_lite
    from spark_etl_cli_spark.sources.uniform import export_delta_as_iceberg

    t = str(tmp_path / "d")
    write_delta_lite(
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, p string"),
        t,
        partition_by=["p"],
    )
    export_delta_as_iceberg(spark, t)
    meta = iceberg_lite._load_metadata(t)
    (spec,) = meta["partition-specs"]
    assert [f["name"] for f in spec["fields"]] == ["p"]
    ml, manifests = _manifests(meta)
    header, recs = manifests[0]
    assert json.loads(header["partition-spec"]) == spec["fields"]
    assert header["partition-spec-id"] == str(spec["spec-id"]).encode()
    assert ml[0]["partition_spec_id"] == spec["spec-id"]
    assert {r["data_file"]["partition"]["p"] for r in recs} == {"x", "y"}


def _lose_next_claim(monkeypatch):
    """Make the next metadata claim lose: another writer took the
    version first."""

    def taken(meta_dir, meta):
        raise FileExistsError(os.path.join(meta_dir, "vN.metadata.json"))

    monkeypatch.setattr(iceberg_lite, "_commit_iceberg_metadata", taken)


def _metadata_files(table: str) -> set[str]:
    meta_dir = os.path.join(table, "metadata")
    return {
        p
        for pat in ("manifest-*", "snap-*")
        for p in glob.glob(os.path.join(meta_dir, pat))
    }


def test_lost_iceberg_claim_removes_only_what_the_commit_wrote(
    spark, tmp_path, monkeypatch
):
    from spark_etl_cli_spark.sources.delta_lite import write_delta_lite
    from spark_etl_cli_spark.sources.uniform import export_delta_as_iceberg

    t = str(tmp_path / "t")
    rows = "id long, v string"
    iceberg_lite.write_iceberg_lite(
        spark.createDataFrame([(1, "a")], rows), t
    )
    before = _metadata_files(t)
    with monkeypatch.context() as m:
        _lose_next_claim(m)
        with pytest.raises(FileExistsError):
            iceberg_lite.write_iceberg_lite(
                spark.createDataFrame([(2, "b")], rows), t
            )
    assert _metadata_files(t) == before
    assert len(glob.glob(os.path.join(t, "metadata", "v*.metadata.json"))) == 1
    assert [r.id for r in iceberg_lite.read_iceberg_lite(spark, t).collect()] == [1]

    # a UniForm export lists the delta table's own files: losing the
    # claim must leave every one of them in place
    d = str(tmp_path / "d")
    write_delta_lite(spark.createDataFrame([(1, "a"), (2, "b")], rows), d)
    export_delta_as_iceberg(spark, d)
    data_files = set(glob.glob(os.path.join(d, "*.parquet")))
    before = _metadata_files(d)
    with monkeypatch.context() as m:
        _lose_next_claim(m)
        with pytest.raises(FileExistsError):
            export_delta_as_iceberg(spark, d)
    assert _metadata_files(d) == before
    assert data_files and set(glob.glob(os.path.join(d, "*.parquet"))) == data_files


def test_hudi_markers_on_one_instant_do_not_overwrite(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "h")
    first = hudi_lite.write_hudi_lite(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        t,
        record_key="id",
    )
    second = hudi_lite.write_hudi_lite(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        t,
        record_key="id",
    )
    monkeypatch.setattr(hudi_lite, "_marker_ts", lambda: "20260101000000000")
    hudi_lite.savepoint_hudi_lite(t, instant=first, name="keep")
    with pytest.raises(FileExistsError):
        hudi_lite.savepoint_hudi_lite(t, instant=second, name="other")
    (marker,) = glob.glob(
        os.path.join(t, ".hoodie", "**", "*.savepoint"), recursive=True
    )
    with open(marker) as fh:
        assert json.load(fh) == {"savepointedInstant": first, "name": "keep"}


def test_delta_optimize_on_the_interval_version_writes_a_checkpoint(
    spark, tmp_path
):
    from spark_etl_cli_spark.sources.delta_lite import (
        CHECKPOINT_INTERVAL,
        optimize_delta_lite,
        write_delta_lite,
    )

    t = str(tmp_path / "d")
    for i in range(CHECKPOINT_INTERVAL - 1):  # versions 0 .. interval-2
        write_delta_lite(spark.range(i, i + 1), t)
    stats = optimize_delta_lite(spark, t)
    assert stats["files_removed"] == CHECKPOINT_INTERVAL - 1
    with open(os.path.join(t, "_delta_log", "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == CHECKPOINT_INTERVAL - 1
