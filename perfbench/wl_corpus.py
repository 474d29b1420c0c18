"""Oracle-backed named queries of the corpus family.

Each op builds one named query (``QUERIES[name](spark, data_dir)``) and
writes its result through a parquet sink, so the output can be checked
against the query's DuckDB oracle afterwards without running it twice.
The set leans on the repo's own operators, text/vector functions and
Python/Arrow workers, and on the eager jobs operators run while a frame
is built. The corpus is the fixture's documents table at sf0.01.
"""

from __future__ import annotations

from perfbench.common import FIXTURE, Check, Context, Op, pq, view_setup

# 500 documents: the oracles pair every document with every other, so
# their cost grows with the square of the corpus (sf0.1 has 5,000).
DATA = FIXTURE / "sf0.01"
TABLES = ["documents"]
# q168 runs its shingle stage in Python workers over Arrow and checkpoints
# eagerly while it is built.
QUERY_TABLES = {
    "q168_prefix_filter_pairs": ["documents"],
}


def _query(ctx: Context, p: int, name: str, rows: int) -> Op:
    from spark_etl_cli_spark.plans.registry import ORACLES, QUERIES

    out = ctx.work / f"p{p}_{name}"

    def run(c: Context):
        QUERIES[name](c.spark, str(DATA)).write.mode("overwrite").parquet(
            str(out)
        )

    ctx.checks.append(Check(
        f"p{p}_{name}", f"SELECT * FROM {pq(out)}", ORACLES[name],
        view_setup(DATA, TABLES),
    ))
    return Op(f"p{p}_{name}", "query", rows, run)


def ops(ctx: Context, p: int) -> list[Op]:
    from spark_etl_cli_spark.plans import all_queries  # noqa: F401  registers

    import pyarrow.parquet as pq_mod

    rows = {
        t: pq_mod.ParquetFile(DATA / f"{t}.parquet").metadata.num_rows
        for t in TABLES
    }
    return [
        _query(ctx, p, name, sum(rows[t] for t in tables))
        for name, tables in QUERY_TABLES.items()
    ]
