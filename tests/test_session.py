"""Session construction and ``local_frame``: driver-built rows become a
JVM LocalRelation with the same rows ``createDataFrame`` over a Python
list gives, and the package builds no Python-RDD frames."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from spark_etl_cli_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "spark_etl_cli_spark"


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _same_as_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


@pytest.mark.parametrize(
    "ddl, values",
    [
        ("v string", ["a", "", "ünï", None]),
        ("v int", [0, -(2**31), 2**31 - 1, None]),
        ("v bigint", [0, -(2**63), 2**63 - 1, None]),
        ("v double", [0.0, -1.5, 1e300, float("inf"), None]),
        ("v boolean", [True, False, None]),
        (
            "v decimal(18,4)",
            [decimal.Decimal("1.2345"), decimal.Decimal("-99999.0001"), None],
        ),
        (
            "v timestamp",
            [
                dt.datetime(2020, 2, 29, 23, 59, 59, 999999),
                dt.datetime(1969, 12, 31, 0, 0),
                dt.datetime(2021, 1, 1, 12, tzinfo=dt.timezone.utc),
                None,
            ],
        ),
        ("v array<string>", [["a", None, "b"], [], None]),
        ("v map<string,string>", [{"k": "v", "n": None}, {}, None]),
    ],
)
def test_local_frame_types_match_list_path(spark, ddl, values):
    _same_as_list_path(spark, [(v,) for v in values], ddl)


def test_local_frame_delta_action_structs_match_list_path(spark):
    from spark_etl_cli_spark.sources.delta_lite import (
        _ADD_SCHEMA,
        _checkpoint_schema,
    )

    adds = [
        ("a.parquet", {"p": "1"}, 10, 20, ("u", "xyz", 1, 2, 3), "{}", 0, 1),
        ("b.parquet", {}, None, None, None, None, None, None),
    ]
    _same_as_list_path(spark, adds, _ADD_SCHEMA)
    blank = {f: None for f in ("protocol", "txn", "metaData", "add")}
    actions = [
        {**blank, "protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"], "writerFeatures": None,
        }},
        # a key the struct does not declare is dropped, as by the list path
        {**blank, "txn": {"appId": "a", "version": 3, "lastUpdated": 4,
                          "extra": 1}},
        {**blank, "metaData": {
            "id": "i", "format": {"provider": "parquet", "options": {}},
            "schemaString": "{}", "partitionColumns": ["p"],
            "configuration": {"k": "v"}, "createdTime": None,
        }},
        {**blank, "add": {
            "path": "a.parquet", "partitionValues": {"p": "1"}, "size": 1,
            "modificationTime": 2, "dataChange": False,
            "deletionVector": {"storageType": "u", "pathOrInlineDv": "x",
                               "offset": None, "sizeInBytes": 4,
                               "cardinality": 2},
            "stats": None, "baseRowId": 0, "defaultRowCommitVersion": 1,
        }},
    ]
    _same_as_list_path(spark, actions, _checkpoint_schema())


def test_local_frame_row_forms(spark):
    ddl = "name string, n bigint"
    want = [Row(name="a", n=1), Row(name="b", n=None)]
    assert local_frame(spark, [("a", 1), ("b", None)], ddl).collect() == want
    assert local_frame(spark, [["a", 1], ["b", None]], ddl).collect() == want
    # dicts by field name; a missing key is null
    dicts = [{"n": 1, "name": "a"}, {"name": "b"}]
    assert local_frame(spark, dicts, ddl).collect() == want
    gen = ((c, i) for i, c in enumerate("abc"))
    assert [r.name for r in local_frame(spark, gen, ddl).collect()] == list(
        "abc"
    )
    empty = local_frame(spark, [], ddl)
    assert empty.collect() == [] and empty.schema == T.StructType.fromDDL(ddl)
    with pytest.raises(ValueError):
        local_frame(spark, [("a",)], ddl)


def test_local_frame_zero_column_frame(spark):
    from spark_etl_cli_spark.registry import resolve_source

    df = resolve_source("console://")[1].read(spark)
    assert df.columns == [] and df.collect() == [] and df.count() == 0
    assert "LocalRelation" in _plan(df)


def test_local_frame_is_a_local_relation(spark):
    rows = [("a", 1), ("b", 2)]
    got = _plan(local_frame(spark, rows, "k string, v int"))
    assert "LocalRelation" in got and "LogicalRDD" not in got
    # the list path it replaces is a Python RDD
    assert "LogicalRDD" in _plan(spark.createDataFrame(rows, "k string, v int"))


def test_row_op_report_is_a_local_relation(spark, tmp_path):
    import spark_etl_cli_spark.sources.delta_lite as dl
    from spark_etl_cli_spark.registry import resolve_source

    table = str(tmp_path / "rep_dl")
    dl.write_delta_lite(
        local_frame(spark, [(i,) for i in range(6)], "id bigint"), table
    )
    _, src = resolve_source(
        f"rep+delta-delete://{table}?where=id<2&deletion-vectors=true"
    )
    rep = src.read(spark)
    plan = _plan(rep)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert rep.collect()[0].rows_deleted == 2
    assert sorted(r.id for r in dl.read_delta_lite(spark, table).collect()) == [
        2, 3, 4, 5,
    ]


def _create_dataframe_calls(path: Path):
    tree = ast.parse(path.read_text(), str(path))
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef | ast.AsyncFunctionDef)
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            owner = min(
                (f for f in funcs
                 if f.lineno <= node.lineno <= f.end_lineno),
                key=lambda f: f.end_lineno - f.lineno,
                default=None,
            )
            yield node, owner.name if owner else None


def test_package_builds_no_python_rdd_frames():
    """``createDataFrame`` is called only by ``local_frame`` (on an Arrow
    table) and by the Excel source on a pandas frame, which already goes
    through Arrow; Python rows anywhere else would start Python workers."""
    allowed = {
        ("session.py", "local_frame", "table"),
        ("optional.py", "read", "pdf"),
    }
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for call, owner in _create_dataframe_calls(path):
            first = call.args[0] if call.args else None
            arg = first.id if isinstance(first, ast.Name) else None
            if (path.name, owner, arg) not in allowed:
                found.append(f"{path.relative_to(PKG)}:{call.lineno}")
    assert found == [], (
        "createDataFrame over Python rows; use session.local_frame: "
        + ", ".join(found)
    )


def test_python_workers_find_package_from_any_cwd(tmp_path):
    """An Arrow stage that imports the package inside its Python worker,
    run from a directory where the package is not importable by cwd."""
    script = tmp_path / "arrow_stage.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(PKG.parent)!r})
        from spark_etl_cli_spark.session import get_spark

        spark = get_spark(master="local[1]")

        def stage(batches):
            import spark_etl_cli_spark.functions.text  # noqa: F401
            yield from batches

        print("rows", spark.range(3).mapInArrow(stage, "id long").count())
        spark.stop()
    """))
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 3" in out.stdout
