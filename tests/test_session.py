"""Session construction and ``local_frame``: driver-built rows become a
JVM LocalRelation with the same rows ``createDataFrame`` over a Python
list gives, and the package builds no Python-RDD frames. Also the
driver JVM's class-data-sharing archive (``cds.py``): its key, when it
is skipped, built or used, and that a bad archive still starts a
session."""

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


def test_column_calls_skip_dataframe_debugging(tmp_path):
    """With the session's confs, a Column op captures no call site, so
    the first one imports no IPython."""
    script = tmp_path / "column_op.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(PKG.parent)!r})
        from pyspark.sql import functions as F
        from spark_etl_cli_spark.session import get_spark

        spark = get_spark(master="local[1]")
        spark.range(1).select((F.col("id") + 1).alias("x")).collect()
        print("ipython", "IPython" in sys.modules)
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ipython False" in out.stdout


# --- class-data-sharing archive (cds.py), no SparkSession ---------------

CONFS = {"spark.driver.memory": "1g",
         "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
         "spark.sql.shuffle.partitions": "8"}


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A fake Spark home (two jars, a conf dir of templates), a fake JDK
    and an empty cache; returns (home, jdk, cache)."""
    from spark_etl_cli_spark import cds

    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    jdk.mkdir()
    for name in ("spark-core.jar", "scala-library.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    (home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    monkeypatch.setattr(cds, "spark_home", lambda: home)
    monkeypatch.setattr(cds, "java_home", lambda: jdk)
    for v in (*cds.USER_CONFIG_ENV, "SPARK_CONF_DIR"):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    return home, jdk, tmp_path / "xdg" / "spark_etl_cli_spark" / "cds"


def _launch(confs=CONFS):
    """cds.launch with a fake start: the confs and SPARK_CONF_DIR the
    gateway would have been launched with."""
    from spark_etl_cli_spark import cds

    return cds.launch(confs, lambda c: (c, os.environ.get("SPARK_CONF_DIR")))


def _no_build(*_a):
    raise AssertionError("archive build started")


def test_cds_key_follows_jdk_jars_heap_mode_and_java_options(
    cds_env, monkeypatch
):
    from spark_etl_cli_spark import cds
    from spark_etl_cli_spark.cds import archive_key

    home, jdk, _ = cds_env
    key = archive_key(CONFS, home, jdk)
    assert archive_key(dict(CONFS), home, jdk) == key
    # a conf that never reaches the JVM's command line
    assert archive_key({**CONFS, "spark.sql.shuffle.partitions": "4"},
                       home, jdk) == key
    assert archive_key({**CONFS, "spark.driver.memory": "48g"}, home, jdk) != key
    assert archive_key(
        {**CONFS, "spark.driver.extraJavaOptions": "-Xss4m"}, home, jdk
    ) != key
    assert archive_key({**CONFS, "spark.jars": "/x.jar"}, home, jdk) != key
    (jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert archive_key(CONFS, home, jdk) != key
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (home / "jars" / "delta.jar").write_bytes(b"jar")
    assert archive_key(CONFS, home, jdk) != key
    (home / "jars" / "delta.jar").unlink()
    assert archive_key(CONFS, home, jdk) == key
    # an archive another warm-up built holds other classes
    monkeypatch.setattr(cds, "warm_up_digest", lambda: "another warm-up")
    assert archive_key(CONFS, home, jdk) != key


def test_cds_warm_up_stream_ends_with_its_sessions(spark, tmp_path):
    """The warm-up's stream part on the test session ends on its own
    within its bound, emits the sessions of its first file (the second
    file's stay open) and leaves no query running."""
    import time

    from spark_etl_cli_spark import cds

    t0 = time.monotonic()
    queries = cds.warm_up_stream(spark, tmp_path)
    assert time.monotonic() - t0 < cds.STREAM_BOUND_S
    assert len(queries) == 1 and queries[0].exception() is None
    progress = queries[0].recentProgress
    assert [p["numInputRows"] for p in progress] == [6, 4, 0]
    active = {q.id for q in spark.streams.active}
    assert queries[0].id not in active
    rows = spark.read.parquet(str(tmp_path / "sessions")).selectExpr(
        "user_id", "unix_seconds(session_start)", "unix_seconds(session_end)",
        "n",
    ).collect()
    start = 1_700_000_000  # the first file's first event
    assert sorted(tuple(r) for r in rows) == [
        (u, start, start + 7 * 60, 3) for u in (1, 2)
    ]


@pytest.mark.parametrize("config", [
    "conf/spark-defaults.conf", "conf/log4j2.properties", "HADOOP_CONF_DIR",
])
def test_cds_user_config_skips_the_archive(cds_env, monkeypatch, config):
    from spark_etl_cli_spark import cds

    home, _, cache = cds_env
    if config.startswith("conf/"):
        (home / config).write_text("spark.x 1\n")
    else:
        monkeypatch.setenv(config, str(home / "hadoop"))
    monkeypatch.setattr(cds, "build", _no_build)
    env = dict(os.environ)
    assert _launch() == (CONFS, None)
    assert dict(os.environ) == env
    assert not cache.exists()


def test_cds_hit_launches_with_archive_and_restores_environ(cds_env):
    from spark_etl_cli_spark.cds import archive_key

    home, jdk, cache = cds_env
    cache.mkdir(parents=True)
    jsa = cache / f"{archive_key(CONFS, home, jdk)}.jsa"
    jsa.write_bytes(b"archive")
    env = dict(os.environ)
    confs, conf_dir = _launch()
    assert dict(os.environ) == env
    assert conf_dir == str(cache / "conf")
    assert not any((cache / "conf").iterdir())
    assert confs == {**CONFS, "spark.driver.extraJavaOptions":
                     f"-XX:ReservedCodeCacheSize=1g -XX:SharedArchiveFile={jsa}"}


def test_cds_miss_builds_once_then_hits(cds_env, monkeypatch):
    from spark_etl_cli_spark import cds

    builds = []

    def fake_build(confs, jsa, conf):
        builds.append(confs)
        jsa.write_bytes(b"archive")

    monkeypatch.setattr(cds, "build", fake_build)
    first, second = _launch(), _launch()
    assert builds == [CONFS]
    assert first == second and "SharedArchiveFile" in first[0][cds.JAVA_OPTS]


def test_cds_failed_build_is_marked_and_never_retried(cds_env, monkeypatch):
    from spark_etl_cli_spark import cds

    _, _, cache = cds_env
    monkeypatch.setattr(cds, "build", lambda *_a: "build exited with 1")
    assert _launch() == (CONFS, None)
    assert [p.suffix for p in cache.glob("*.failed")] == [".failed"]
    monkeypatch.setattr(cds, "build", _no_build)
    assert _launch() == (CONFS, None)


def test_cds_held_lock_starts_without_archive(cds_env, monkeypatch):
    import fcntl
    import time

    from spark_etl_cli_spark import cds

    home, jdk, cache = cds_env
    cache.mkdir(parents=True)
    monkeypatch.setattr(cds, "build", _no_build)
    with open(cache / f"{cds.archive_key(CONFS, home, jdk)}.lock", "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        t0 = time.monotonic()
        assert _launch() == (CONFS, None)
        assert time.monotonic() - t0 < 5


def test_cds_unwritable_cache_starts_without_archive(cds_env, monkeypatch):
    from spark_etl_cli_spark import cds

    _, _, cache = cds_env
    cache.parent.mkdir(parents=True)
    cache.write_text("not a directory")
    monkeypatch.setattr(cds, "build", _no_build)
    assert _launch() == (CONFS, None)


def test_cds_jvm_dying_on_archive_restarts_without_it(
    cds_env, tmp_path, monkeypatch
):
    """The session starts again without the archive, and of the crash
    logs in the working directory only the dead JVM's goes: one written
    during the failed launch whose jvm_args name this archive."""
    from pyspark.errors import PySparkRuntimeError

    from spark_etl_cli_spark import cds

    home, jdk, cache = cds_env
    cache.mkdir(parents=True)
    jsa = cache / f"{cds.archive_key(CONFS, home, jdk)}.jsa"
    jsa.write_bytes(b"truncated")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    crash = "#\n# A fatal error has been detected\njvm_args: -Xmx1g {}\n"
    opt = f"-XX:SharedArchiveFile={jsa}"
    (cwd / "hs_err_pid100.log").write_text(crash.format(opt))  # earlier
    launched = []

    def start(confs):
        launched.append(confs)
        if "SharedArchiveFile" in confs[cds.JAVA_OPTS]:
            (cwd / "hs_err_pid101.log").write_text(crash.format(opt))
            (cwd / "hs_err_pid102.log").write_text(crash.format("-Xss4m"))
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED",
                                      messageParameters={})
        return "session"

    assert cds.launch(CONFS, start) == "session"
    assert launched[1:] == [CONFS]
    assert not jsa.exists() and jsa.with_suffix(".failed").exists()
    assert sorted(p.name for p in cwd.iterdir()) == [
        "hs_err_pid100.log", "hs_err_pid102.log"
    ]


def test_corrupt_archive_still_starts_a_session(tmp_path):
    """A fresh process whose cache holds a corrupt archive under its own
    key: the session starts, runs a job, and no build is started."""
    from spark_etl_cli_spark.cds import java_home

    base = java_home() / "lib" / "server" / "classes.jsa"
    corrupt = base.read_bytes()[: 1 << 20] if base.is_file() else os.urandom(1 << 16)
    (tmp_path / "corrupt.jsa").write_bytes(corrupt)
    script = tmp_path / "start.py"
    script.write_text(textwrap.dedent(f"""
        import shutil, sys
        sys.path.insert(0, {str(PKG.parent)!r})
        from spark_etl_cli_spark import cds
        from spark_etl_cli_spark.session import get_spark

        key = cds.archive_key

        def seeded(*a):
            k = key(*a)
            shutil.copy({str(tmp_path / "corrupt.jsa")!r},
                        cds.cache_dir() / (k + ".jsa"))
            return k

        def no_build(*a):
            raise SystemExit("archive build started")

        cds.archive_key, cds.build = seeded, no_build
        spark = get_spark(master="local[1]")
        print("rows", spark.range(3).count())
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env.update(XDG_CACHE_HOME=str(tmp_path / "xdg"),
               SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 3" in out.stdout
    # looked up: still there if the JVM refused it, marked if it died on it
    assert [*(tmp_path / "xdg").rglob("*.jsa"), *(tmp_path / "xdg").rglob("*.failed")]
