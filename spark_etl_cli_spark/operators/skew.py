"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting (on by default, session.py) handles most
cases at runtime; these operators are for the plans AQE can't fix:

- ``salted_agg`` — a hot grouping key funnels its entire group through
  one reducer. Salting splits each key into ``buckets`` sub-groups,
  aggregates partially per (key, salt), then merges the partials —
  two small shuffles instead of one skewed one.
- ``salted_join`` — a hot join key overloads one task. The big side is
  salted deterministically (hash of a unique column, NOT rand(), so
  retries and oracle comparisons stay stable); the small side is
  replicated ``buckets`` times; the join key becomes (key, salt).

Both are algebraic rewrites: results are identical to the unsalted
plan, which is exactly what their oracle-checked queries assert.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (partial agg, merge agg) pairs per supported algebraic aggregate
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _salt(unique_col: str, buckets: int) -> Column:
    return F.pmod(F.xxhash64(F.col(unique_col)), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_from: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation over salted keys.

    ``aggs`` maps output column → (input column, fn) with fn in
    sum/count/min/max (the algebraic aggregates that re-merge exactly).
    ``salt_from`` is any column whose hash spreads rows (a unique id is
    ideal). Output schema: keys + agg columns.
    """
    for _, (_, fn) in aggs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"unsupported salted aggregate {fn!r}")
    salted = df.withColumn("__salt", _salt(salt_from, buckets))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            _ALGEBRAIC[fn][0](F.col(src)).alias(f"__p_{out}")
            for out, (src, fn) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[fn][1](F.col(f"__p_{out}")).alias(out)
            for out, (src, fn) in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    Spreads each hot key across ``buckets`` reducers. ``salt_from`` must
    be a column of ``big`` (a unique id gives uniform spread). The small
    side grows by ``buckets``x — keep it genuinely small.
    """
    b = big.withColumn("__salt", _salt(salt_from, buckets))
    s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    # Pin a shuffle-hash join built from the SMALL side. Left to stats,
    # Spark will happily broadcast the *big* side when the small side's
    # size is unknown (e.g. a Python RDD) and the big side's scan
    # estimate is under the broadcast threshold — observed BuildLeft on
    # the fact table, which inverts at real scale (broadcasting the big
    # side = driver OOM). A salted join exists precisely because the
    # small side is to be shuffled+replicated, so say so in the plan:
    # both sides hash-partition on (key, salt) — the hot key spreads
    # across ``buckets`` reducers — and the replicated small side is
    # the build side. No sort, no broadcast of either side.
    out = b.join(s.hint("shuffle_hash"), on=[*on, "__salt"], how=how)
    return out.drop("__salt")
