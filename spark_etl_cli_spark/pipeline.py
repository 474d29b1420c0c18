"""Pipeline model: ordered sources → transforms → sinks over temp views.

The IR is the Spark temp-view catalog, exactly as in the reference
(reference ``etl/src/main/scala/dev/mauch/spark/dfio/ETL.scala:11-33``):
a source reads an external system into a DataFrame and registers it as
a named view; a transform maps one view to another; a sink persists a
named view. Transforms default to ``identity`` from "source" to "sink"
when none are given (reference ``ETL.scala:120-124``).

Deliberate deviations from the reference (documented quirks we do NOT
copy, per SURVEY.md §7):

- A sink failure raises by default instead of silently skipping all
  later sinks (reference ``ETL.scala:125`` used ``takeWhile``);
  ``fail_fast=False`` restores lenient behavior but still runs every
  sink and reports per-sink status.
- Streaming termination is explicit: ``await_termination`` (seconds or
  ``True`` for unbounded) instead of relying on non-daemon threads.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark import registry
from spark_etl_cli_spark.session import observed_metrics
from spark_etl_cli_spark.uri import (
    ParsedUri,
    sink_view_name,
    source_view_name,
    transform_views,
)

# A transform is (spark, input_df) -> output_df. The input view is also
# registered as "input" for SQL transforms (reference
# core/.../TransformerParser.scala:29).
TransformFn = Callable[[SparkSession, DataFrame], DataFrame]


@dataclass
class SourceStep:
    uri: ParsedUri
    view: str
    source: "object"  # DataFrameSource

    def run(self, spark: SparkSession) -> None:
        df = self.source.read(spark)
        df.createOrReplaceTempView(self.view)


@dataclass
class TransformStep:
    uri: ParsedUri
    in_view: str
    out_view: str
    fn: TransformFn

    def run(self, spark: SparkSession) -> None:
        df = spark.table(self.in_view)
        df.createOrReplaceTempView("input")
        out = self.fn(spark, df)
        out.createOrReplaceTempView(self.out_view)


@dataclass
class SinkStep:
    uri: ParsedUri
    view: str
    sink: "object"  # DataFrameSink

    def run(self, spark: SparkSession, df: DataFrame | None = None) -> bool:
        if df is None:
            df = spark.table(self.view)
        return self.sink.write(df)


def _await_all(queries: list, await_termination: float | bool) -> None:
    """Wait until every query has stopped, or ``await_termination``
    seconds in all (``True``: no limit). A query that failed raises."""
    import time

    deadline = (
        None if await_termination is True
        else time.monotonic() + float(await_termination)
    )
    for q in queries:
        if deadline is None:
            q.awaitTermination()
            continue
        left = deadline - time.monotonic()
        # awaitTermination takes whole milliseconds, at least one
        if left <= 0 or not q.awaitTermination(max(left, 0.001)):
            return


@dataclass
class Pipeline:
    sources: list[SourceStep] = field(default_factory=list)
    transforms: list[TransformStep] = field(default_factory=list)
    sinks: list[SinkStep] = field(default_factory=list)

    @classmethod
    def from_uris(
        cls,
        source_uris: list[str],
        transform_uris: list[str],
        sink_uris: list[str],
    ) -> "Pipeline":
        sources = []
        for u in source_uris:
            p, src = registry.resolve_source(u)
            sources.append(SourceStep(p, source_view_name(p), src))
        transforms = []
        for u in transform_uris:
            p, fn = registry.resolve_transform(u)
            in_v, out_v = transform_views(p)
            transforms.append(TransformStep(p, in_v, out_v, fn))
        sinks = []
        for u in sink_uris:
            p, snk = registry.resolve_sink(u)
            sinks.append(SinkStep(p, sink_view_name(p), snk))
        if not transforms and any(s.view == "sink" for s in sinks):
            # reference default (ETL.scala:120-124): bridge the default
            # source view to the default sink view. Only needed when an
            # unnamed sink actually reads "sink" — unconditionally adding
            # it would break fully-named pipelines that never register a
            # "source" view.
            transforms = [
                TransformStep(None, "source", "sink", lambda _s, df: df)
            ]
        return cls(sources, transforms, sinks)

    def run(
        self,
        spark: SparkSession,
        fail_fast: bool = True,
        await_termination: float | bool = False,
        observe: bool = False,
        explain: bool = False,
    ) -> dict[str, bool]:
        """Interpret the pipeline. Returns per-sink success map.

        Each source and transform runs once; a source with side effects
        (the ``rep+*`` row-op and maintenance sources) applies them once.
        ``explain=True`` prints each sink view's physical plan after the
        transforms and before the sinks write.

        ``observe=True`` attaches a Spark ``Observation`` (row count)
        to every batch sink's frame — metrics ride the write job
        itself, zero extra passes — and stores the per-sink results in
        ``self.metrics`` (None for sinks whose write runs no full
        action, e.g. ``memory://``).

        The streaming queries the sinks start are kept in
        ``self.queries``; ``await_termination`` (seconds, or True for no
        limit) waits until each of them has stopped, so a stream that
        ended earlier in the session does not end the wait.
        """
        for s in self.sources:
            s.run(spark)
        for t in self.transforms:
            t.run(spark)
        if explain:
            for snk in self.sinks:
                print(f"=== plan for sink view {snk.view!r} ===")
                spark.table(snk.view).explain("formatted")
        results: dict[str, bool] = {}
        self.metrics: dict[str, dict | None] = {}
        self.queries: list = []
        for i, snk in enumerate(self.sinks):
            key = f"{i}:{snk.uri.raw if snk.uri else snk.view}"
            obs = None
            df = spark.table(snk.view)
            if observe and not df.isStreaming:
                from pyspark.sql import Observation
                from pyspark.sql import functions as F

                obs = Observation()
                df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
            # only a streaming frame's sink starts a query
            before = (
                {q.id for q in spark.streams.active}
                if df.isStreaming else None
            )
            try:
                ok = snk.run(spark, df)
            except Exception:
                if fail_fast:
                    raise
                ok = False
            if before is not None:
                self.queries += [
                    q for q in spark.streams.active if q.id not in before
                ]
            results[key] = bool(ok)
            if observe:
                self.metrics[key] = observed_metrics(obs) if obs else None
        if await_termination:
            _await_all(self.queries, await_termination)
        return results

def run_pipeline(
    spark: SparkSession,
    sources: list[str],
    transforms: list[str] | None = None,
    sinks: list[str] | None = None,
    **kwargs,
) -> dict[str, bool]:
    """One-call convenience: build from URIs and run."""
    pipe = Pipeline.from_uris(sources, transforms or [], sinks or [])
    return pipe.run(spark, **kwargs)
