"""Shared shapes for workloads: ops, output checks and the run context."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.trace import Tracer

# Fixture tables copied byte for byte from the repository's seed-42
# synthetic test data (TESTDATA.md): lineitem, orders, events and nation
# at sf0.1, and documents at sf0.01.
FIXTURE = Path(__file__).resolve().parent / "fixture"


@dataclass
class Op:
    """One closed-loop operation. ``kind`` groups ops for the per-kind
    latency figures (``pipeline``, ``stream``, ``query``, ``commit``,
    ``scan``, ``maint``); ``rows_in`` is the input rows it processes."""

    name: str
    kind: str
    rows_in: int
    fn: Callable[["Context"], None]


@dataclass
class Check:
    """An output check the orchestrator runs in DuckDB after the worker
    exits: ``actual`` must return the same row multiset as ``expected``
    (floats compared to a relative 1e-9). ``setup`` statements run first."""

    op: str
    actual: str
    expected: str
    setup: list[str] = field(default_factory=list)


@dataclass
class Context:
    spark: object
    data: Path  # the sf0.1 fixture tables (read-only for the program)
    work: Path  # everything the program writes
    seed: int
    tracer: Tracer
    checks: list[Check] = field(default_factory=list)
    # per-workload figures that are not op latencies (bytes, epochs...)
    figures: dict[str, float] = field(default_factory=dict)
    # workload-private state kept across passes
    state: dict = field(default_factory=dict)


def pq(path: Path | str) -> str:
    """DuckDB expression reading every parquet file under ``path``."""
    p = Path(path)
    if p.suffix == ".parquet" and not p.is_dir():
        return f"read_parquet('{p}')"
    return f"read_parquet('{p}/**/*.parquet')"


def view_setup(data: Path, tables: list[str]) -> list[str]:
    return [
        f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {pq(data / f'{t}.parquet')}"
        for t in tables
    ]
