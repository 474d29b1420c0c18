"""CLI: declare a pipeline as ordered --source/--transform/--sink URIs.

Equivalent surface to the reference CLI (``etl/.../ETL.scala:36-42``):

    python -m spark_etl_cli_spark \
        --source lineitem+parquet:///root/testdata/sf0.001/lineitem.parquet \
        --transform lineitem+result+sql://SELECT%20count(*)%20AS%20n%20FROM%20lineitem \
        --sink result+console://

Improvements over the reference (SURVEY §7 quirks, deliberately fixed):
nonzero exit code on sink failure; explicit --await-termination for
streaming pipelines.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="spark_etl_cli_spark")
    ap.add_argument("--source", action="append", default=[], metavar="URI")
    ap.add_argument("--transform", action="append", default=[], metavar="URI")
    ap.add_argument("--sink", action="append", default=[], metavar="URI")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--await-termination",
        type=float,
        default=0,
        help="seconds to await streaming queries (0 = don't wait)",
    )
    ap.add_argument(
        "--list-schemes",
        action="store_true",
        help="list every scheme; sources and sinks with their parameters",
    )
    ap.add_argument("--lenient", action="store_true", help="don't fail fast on sink errors")
    ap.add_argument(
        "--explain",
        action="store_true",
        help="print each sink view's physical plan before writing",
    )
    ap.add_argument(
        "--observe",
        action="store_true",
        help="report per-sink row counts (rides the write job; no extra pass)",
    )
    args = ap.parse_args(argv)

    from spark_etl_cli_spark import registry
    from spark_etl_cli_spark.pipeline import Pipeline
    from spark_etl_cli_spark.session import get_spark

    if args.list_schemes:
        print(registry.describe_schemes())
        return 0

    # resolve first: a bad URI fails before a SparkSession starts
    pipe = Pipeline.from_uris(args.source, args.transform, args.sink)
    spark = get_spark(master=args.master, extra_confs=registry.registered_spark_confs())
    results = pipe.run(
        spark,
        fail_fast=not args.lenient,
        await_termination=args.await_termination or False,
        observe=args.observe,
        explain=args.explain,
    )
    ok = all(results.values()) if results else True
    for key, success in results.items():
        line = f"{'Write successful' if success else 'Writing to sink failed'}: {key}"
        if args.observe:
            m = pipe.metrics.get(key)
            if m:
                line += " " + " ".join(f"[{k}={v}]" for k, v in sorted(m.items()))
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
