"""Vector math over ``array<float/double>`` columns — pure built-ins.

``F.zip_with`` + ``F.aggregate`` keep the arithmetic inside Tungsten
(sequential left-fold, so results are deterministic — important both
for reproducibility at scale and for oracle comparison). No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Single-pass cosine: one zip, one fold carrying (dot, |a|², |b|²).

    Numerically identical to ``dot(a,b)/(norm(a)*norm(b))`` — each of
    the three sums accumulates the same terms in the same order — but
    one array traversal instead of three. The ``finish`` lambda binds
    the accumulator struct once (references to a subtree inside HOF
    lambdas re-evaluate it; a finish-lambda variable doesn't).
    """
    pairs = F.zip_with(
        a,
        b,
        lambda x, y: F.struct(
            x.cast("double").alias("x"), y.cast("double").alias("y")
        ),
    )
    return F.aggregate(
        pairs,
        F.struct(
            F.lit(0.0).alias("d"), F.lit(0.0).alias("na"), F.lit(0.0).alias("nb")
        ),
        lambda acc, p: F.struct(
            (acc["d"] + p["x"] * p["y"]).alias("d"),
            (acc["na"] + p["x"] * p["x"]).alias("na"),
            (acc["nb"] + p["y"] * p["y"]).alias("nb"),
        ),
        lambda acc: acc["d"] / (F.sqrt(acc["na"]) * F.sqrt(acc["nb"])),
    )


def unit(v: Column) -> Column:
    """v / ||v|| — normalize once so downstream similarity is one dot.

    Cosine between unit vectors is a single fold per pair instead of
    three (dot + two norms): the cheap-per-row / cheap-per-pair split
    that matters when candidates ≫ rows. Both the vector and its norm
    are let-bound (transform over one-element arrays) so the norm fold
    runs once, not once per element.
    """
    vd = _as_double(v)
    return F.element_at(
        F.transform(
            F.array(vd),
            lambda vv: F.element_at(
                F.transform(
                    F.array(
                        F.sqrt(
                            F.aggregate(
                                vv, F.lit(0.0), lambda acc, x: acc + x * x
                            )
                        )
                    ),
                    lambda nn: F.transform(vv, lambda x: x / nn),
                ),
                1,
            ),
        ),
        1,
    )
