"""The benchmark's workloads: the ops each pass runs, and their hooks.

``etl_corpus_stream`` drives the URI surface for batch and streaming
pipelines and the named-query builders of the corpus family;
``lakehouse_rowops`` drives row operations and maintenance on the three
lakehouse formats. Each layer does most of its work in one of them (see
README.md).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from perfbench import wl_corpus, wl_etl, wl_lakehouse
from perfbench.common import Context, Op


@dataclass(frozen=True)
class Workload:
    parts: list[Callable[[Context, int], list[Op]]]
    # untimed hooks: after each op, and once after the last pass
    after_op: Callable | None = None
    finish: Callable | None = None

    def ops(self, ctx: Context, p: int) -> list[Op]:
        return [op for part in self.parts for op in part(ctx, p)]


WORKLOADS = {
    "etl_corpus_stream": Workload([wl_etl.ops, wl_corpus.ops]),
    "lakehouse_rowops": Workload(
        [wl_lakehouse.ops], wl_lakehouse.after_op, wl_lakehouse.finish,
    ),
}
