"""Byte-exact shingle parity: ``word_shingles`` against ``_py_shingles``.

The shingle STRINGS feed md5/xxhash oracles in every adopting query, so
the bar is byte equality, not similarity: for every row, the JVM
``word_shingles`` array must equal the Python reference applied to the
JVM-normalized text, element for element (same values, same order,
same dedup behavior). The remaining Arrow stages (md5 longs, tagged
n-grams) are held to ``word_shingles`` in turn.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_etl_cli_spark.operators.arrowtext import (
    _py_shingles,
    with_word_shingles,
)
from spark_etl_cli_spark.functions.text import normalize_ws, word_shingles
from tests.conftest import SF_DIR

# Adversarial corpus: whitespace forms Java \s does/doesn't match,
# Unicode, dedup cases, short docs, NULL.
NASTY = [
    None,
    "",
    " ",
    "   \t \r\n ",
    "one",
    "one two",
    "one two three",
    "one two three four",
    "a b a b a b a b",  # heavy dedup
    "  leading and trailing   spaces  ",
    "tabs\tand\nnewlines\r\nand\x0bvertical\x0cfeeds",
    "nbsp stays inside one token   really",
    "ideographic　space is not java whitespace",
    "MiXeD CaSe ÉCLAIR Straße İstanbul ŉ",
    "emoji 🎉 in 🎉 the 🎉 middle 🎉 of 🎉 text",
    "🎉🎉 🎉 x🎉 🎉y",  # surrogate pairs at token starts and ends
    "punct, punct; punct! 3.14 --- () []",
    "dup dup dup dup dup dup dup",
    "x " * 500,  # long doc
]


def _assert_matches_reference(df, k, distinct):
    rows = df.select(
        F.lower(normalize_ws(F.col("text"))).alias("norm"),
        word_shingles(F.col("text"), k, distinct=distinct).alias("sh"),
    ).collect()
    bad = [
        (r["norm"], r["sh"])
        for r in rows
        if r["sh"] != _py_shingles(r["norm"], k, distinct)
    ]
    assert not bad


@pytest.mark.parametrize("k", [1, 2, 3, 5])
@pytest.mark.parametrize("distinct", [True, False])
def test_arrow_shingles_byte_equal_nasty(spark, k, distinct):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(NASTY)], "doc_id long, text string"
    )
    _assert_matches_reference(df, k, distinct)


def test_word_shingles_rejects_k_below_one(spark):
    with pytest.raises(ValueError, match="k must be >= 1"):
        word_shingles(F.col("text"), 0)


def test_arrow_shingles_byte_equal_real_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for k in (3, 5):
        _assert_matches_reference(docs, k, True)
    _assert_matches_reference(docs, 2, False)


# Plan nodes that evaluate in a Python worker ("MapInArrow" also
# matches "PythonMapInArrow").
PYTHON_NODES = ("MapInArrow", "MapInPandas", "PythonUDF",
                "ArrowEvalPython", "BatchEvalPython")


def _python_nodes(plan: str) -> list[str]:
    return [n for n in PYTHON_NODES if n in plan]


def test_with_word_shingles_plan_runs_no_python(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(NASTY)], "doc_id long, text string"
    )
    out = with_word_shingles(df, "text", 3, keep=["doc_id"])
    qe = out._jdf.queryExecution()
    assert _python_nodes(qe.optimizedPlan().toString()) == []
    assert _python_nodes(qe.executedPlan().toString()) == []
    assert out.columns == ["doc_id", "shingles"]


def test_q168_runs_no_python_stage(spark):
    """Every SQL execution q168 starts, its build jobs included, has a
    physical plan without a Python or Arrow evaluation node."""
    from __spark_entry__ import queries

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        n = int(store.executionsCount())
        it = store.executionsList(0, n).iterator()
        out = {}
        while it.hasNext():
            e = it.next()
            out[int(e.executionId())] = e.physicalPlanDescription()
        return out

    before = set(ids())
    queries()["q168_prefix_filter_pairs"](spark, SF_DIR).collect()
    plans = {i: p for i, p in ids().items() if i not in before}
    assert plans
    hits = {i: _python_nodes(p) for i, p in plans.items()}
    assert not any(hits.values()), hits


@pytest.mark.parametrize("hex_chars", [7, 15])
def test_arrow_shingle_md5_longs_byte_equal(spark, hex_chars):
    from spark_etl_cli_spark.functions.text import md5_long, md5_long28
    from spark_etl_cli_spark.operators.arrowtext import with_shingle_md5_longs

    fn = md5_long28 if hex_chars == 7 else md5_long
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(NASTY)], "doc_id long, text string"
    )
    expected = {
        r["doc_id"]: r["hs"]
        for r in df.select(
            "doc_id",
            F.transform(
                word_shingles(F.col("text"), 3), lambda s: fn(s)
            ).alias("hs"),
        ).collect()
    }
    got = {
        r["doc_id"]: r["hs"]
        for r in with_shingle_md5_longs(
            df, "text", 3, hex_chars=hex_chars, out_col="hs", keep=["doc_id"]
        ).collect()
    }
    assert got == expected


def test_arrow_tagged_ngrams_matches_three_passes(spark):
    from spark_etl_cli_spark.operators.arrowtext import with_tagged_ngrams

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(NASTY)], "doc_id long, text string"
    )

    def _leg(n):
        return F.transform(
            word_shingles(F.col("text"), n, distinct=False),
            lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("g")),
        )

    expected = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id",
            F.flatten(F.array(*[_leg(n) for n in (1, 2, 3)])).alias("t"),
        ).collect()
    }
    got = {
        r["doc_id"]: r["t"]
        for r in with_tagged_ngrams(
            df, "text", (1, 2, 3), distinct=False, out_col="t", keep=["doc_id"]
        ).collect()
    }
    assert got == expected


def test_py_shingles_edge_semantics():
    # NULL -> [] (size(NULL) is NULL -> otherwise-branch empty array)
    assert _py_shingles(None, 3, True) == []
    # empty normalized string -> one empty token -> short-doc guard
    assert _py_shingles("", 3, True) == []
    assert _py_shingles("", 1, True) == [""]  # k=1 keeps the empty token
    # fewer than k tokens -> []
    assert _py_shingles("a b", 3, True) == []
    # substring arithmetic: multi-codepoint tokens
    assert _py_shingles("aa b🎉 cc dd", 2, False) == ["aa b🎉", "b🎉 cc", "cc dd"]
    # dedup keeps first occurrence order
    assert _py_shingles("a b a b a", 2, True) == ["a b", "b a"]
    assert _py_shingles("a b a b a", 2, False) == ["a b", "b a", "a b", "b a"]
