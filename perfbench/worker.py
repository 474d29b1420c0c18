"""One benchmark run inside a fresh process: session, cold pipeline, ops.

Started by ``run.py`` as ``python3 -m perfbench.worker SPEC.json``. It
starts the session the way the CLI does, runs one fixed tiny pipeline
cold (together: what every CLI call pays), then runs the workload's ops
closed-loop, one at a time, in whole passes until the time budget is
spent. Results, checks and (when traced) per-layer counters go to the
result file named in the spec; stdout/stderr belong to Spark.
"""

from __future__ import annotations

import json
import statistics
import os
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

from perfbench import stats
from perfbench import trace as tr
from perfbench.procs import tree_cpu_s
from perfbench.common import Check, Context, pq, view_setup


def canary_s(spark, data: Path) -> float:
    """bench.py's contention canary: a fixed lineitem aggregation, the
    faster of two runs."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (spark.read.parquet(str(data / "lineitem.parquet"))
         .groupBy("l_suppkey")
         .agg(F.sum("l_extendedprice").alias("s"), F.avg("l_discount").alias("a"))
         .count())
        best = min(best, time.perf_counter() - t0)
    return best


def install_layer_spans(tracer: tr.Tracer, spark) -> dict:
    """Wrap each layer's public entry points with spans (traced runs)."""
    from spark_etl_cli_spark import pipeline, registry
    from spark_etl_cli_spark.plans import all_queries  # noqa: F401  registers
    from spark_etl_cli_spark.plans.registry import QUERIES
    from spark_etl_cli_spark.sources import delta_lite, hudi_lite, iceberg_lite

    def count_uri(args, kwargs, _s):
        tracer.add("registry.uris")

    for fn in ("resolve_source", "resolve_sink", "resolve_transform"):
        tracer.wrap(registry, fn, "registry.resolve", count_uri)
    tracer.wrap(pipeline.SourceStep, "run", "pipeline.source")
    tracer.wrap(pipeline.TransformStep, "run", "pipeline.transform")
    tracer.wrap(pipeline.SinkStep, "run", "pipeline.sink")

    builds: list[tuple[int, int]] = []

    def build_with_jobs(fn):
        def spanned(spark_, sf_dir):
            before = tr.sql_execution_count(spark_)
            with tracer.span("plans.build"):
                df = fn(spark_, sf_dir)
            builds.append((before, tr.sql_execution_count(spark_)))
            return df

        return spanned

    for name in list(QUERIES):
        QUERIES[name] = build_with_jobs(QUERIES[name])

    commits = {
        delta_lite: ["write_delta_lite", "merge_delta_lite",
                     "update_delta_lite", "delete_delta_lite"],
        iceberg_lite: ["write_iceberg_lite", "upsert_iceberg_lite",
                       "delete_iceberg_lite"],
        hudi_lite: ["write_hudi_lite", "delete_hudi_lite"],
    }
    reads = {delta_lite: "read_delta_lite", iceberg_lite: "read_iceberg_lite",
             hudi_lite: "read_hudi_lite"}
    maint = {
        delta_lite: ["optimize_delta_lite", "vacuum_delta_lite"],
        iceberg_lite: ["compact_iceberg_lite", "expire_iceberg_snapshots"],
        hudi_lite: ["clean_hudi_lite"],
    }
    for mod, fns in commits.items():
        fmt = mod.__name__.rsplit(".", 1)[1]
        for fn in fns:
            tracer.wrap(mod, fn, f"{fmt}.commit")
        tracer.wrap(mod, reads[mod], f"{fmt}.snapshot")
        for fn in maint[mod]:
            tracer.wrap(mod, fn, f"{fmt}.maint")
    return {"builds": builds, "listener": tr.stream_listener(spark)}


def build_job_seconds(spark, builds: list[tuple[int, int]]) -> float:
    """Wall time of the SQL executions started while frames were built."""
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sorted(tr._iter(sql.executionsList()), key=lambda e: e.executionId())
    total = 0.0
    for lo, hi in builds:
        for e in execs[lo:hi]:
            done = e.completionTime()
            if done.isDefined():
                total += (done.get().getTime() - e.submissionTime()) / 1e3
    return total


def cold_pipeline(ctx: Context) -> None:
    """The fixed tiny pipeline every setup runs once, cold."""
    from spark_etl_cli_spark.pipeline import Pipeline

    out = ctx.work / "cold"
    Pipeline.from_uris(
        [f"n+parquet://{ctx.data / 'nation.parquet'}"],
        ["n+r+sql://SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n "
         "FROM n GROUP BY 1"],
        [f"r+parquet://{out}?mode=overwrite"],
    ).run(ctx.spark)
    ctx.checks.append(Check(
        "cold", f"SELECT * FROM {pq(out)}",
        "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation GROUP BY 1",
        view_setup(ctx.data, ["nation"]),
    ))


def main(spec_path: str) -> int:
    from perfbench.workloads import WORKLOADS

    spec = json.loads(Path(spec_path).read_text())
    trace_on = bool(spec["trace"])
    tracer = tr.Tracer(trace_on)
    wl = WORKLOADS[spec["workload"]]

    # the modules the CLI imports before it builds a session
    from spark_etl_cli_spark import pipeline, registry  # noqa: F401
    from spark_etl_cli_spark.session import get_spark

    t_import = time.time()
    spark = get_spark(
        app_name="perfbench", extra_confs=registry.registered_spark_confs()
    )
    t_session = time.time()
    ctx = Context(spark, Path(spec["data"]), Path(spec["work"]), spec["seed"],
                  tracer)
    cold_pipeline(ctx)
    t_ready = time.time()

    hooks = install_layer_spans(tracer, spark) if trace_on else {}
    base_stage = tr.max_stage_id(spark) if trace_on else -1
    base_exec = tr.max_execution_id(spark) if trace_on else -1
    cpu0 = tree_cpu_s(os.getpid())

    ops_out = []
    passes = []
    deadline = time.perf_counter() + spec["seconds"]
    p = 0
    while p == 0 or time.perf_counter() < deadline:
        pass_ops = wl.ops(ctx, p)  # untimed: inputs and checks for the pass
        pass_s = 0.0
        for op in pass_ops:
            tracer.op_id = len(ops_out)
            err = None
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    op.fn(ctx)
            except Exception as exc:  # a failed op is counted, not fatal
                err = f"{type(exc).__name__}: {exc}"[:400]
                traceback.print_exc()
            sec = time.perf_counter() - t0
            pass_s += sec
            ops_out.append({"pass": p, "name": op.name, "kind": op.kind,
                            "seconds": sec, "rows_in": op.rows_in, "error": err})
            if wl.after_op:
                wl.after_op(ctx, op, err)  # untimed bookkeeping
        passes.append({"pass": p, "seconds": pass_s,
                       "rows_in": sum(o.rows_in for o in pass_ops)})
        p += 1
    tracer.op_id = None
    if wl.finish:
        wl.finish(ctx)  # untimed: last checks and figures

    cpu1 = tree_cpu_s(os.getpid())
    layers: dict[str, float] = {"proc.canary_s": canary_s(spark, ctx.data)}
    if trace_on:
        hooks["listener"].settle()
        layers.update(tr.stage_totals(spark, base_stage))
        layers.update(tr.sql_totals(spark, base_exec))
        prog, epochs = tr.progress_totals(hooks["listener"].events)
        layers.update(prog)
        if epochs:
            ctx.figures["stream.epoch_p50_s"] = statistics.median(epochs)
            ctx.figures["stream.epoch_tail_s"] = stats.tail(epochs).value
        layers["operators.build_jobs"] = float(
            sum(hi - lo for lo, hi in hooks["builds"])
        )
        layers["operators.build_job_s"] = build_job_seconds(
            spark, hooks["builds"]
        )
        layers["proc.cpu_s"] = cpu1 - cpu0
        layers["tracing.overhead_s"] = len(tracer.spans) * tr.span_cost_s()
        for k, v in tracer.counts.items():
            layers[k] = layers.get(k, 0.0) + v
    result = {
        "t_import": t_import,
        "t_session": t_session,
        "t_ready": t_ready,
        "ops": ops_out,
        "passes": passes,
        "checks": [asdict(c) for c in ctx.checks],
        "figures": ctx.figures,
        "layers": layers,
        "spans": [asdict(s) for s in tracer.spans],
        "cores": spark.sparkContext.defaultParallelism,
    }
    Path(spec["result"]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main(sys.argv[1])
    sys.stdout.flush()
    sys.stderr.flush()
    # No spark.stop(): run.py kills the whole process group (JVM and
    # Python workers) and waits for it, which is faster than a shutdown.
    os._exit(code)
