"""Corpus retrieval + hygiene operators: train/test decontamination and
BM25 term scoring.

North-star extensions beyond the reference (SURVEY.md §2d): a training
corpus must be scrubbed of benchmark/eval text before training, and
ranked retrieval is the standard probe for corpus quality. Both are
pure built-in-function plans (JVM-side, codegen'd — no Python UDFs),
designed for the 100 TB shape:

- decontamination shuffles only 64-bit n-gram hashes (16 hex chars of
  md5), never document text, and broadcasts the benchmark side — at
  real scale the eval set is millions of n-grams against billions of
  training docs, the canonical broadcast-semi-join shape;
- BM25 term frequencies are computed in ONE pass over the token array
  per document (no explode/regroup shuffle for a fixed term list), and
  the corpus stats (N, avgdl, per-term df) reduce to a single
  broadcast-able row.

Determinism (cross-engine oracle discipline, see plans/registry.py):
document lengths and term frequencies are exact integers; avgdl is an
exact decimal sum divided in double; every BM25 float expression fixes
the IEEE operation order and is mirrored character-for-character in the
DuckDB oracle; rational idf ``(N - df + 0.5) / (df + 0.5)`` avoids
``ln`` (whose last-ulp rounding is libm-dependent) while preserving the
df-monotone ranking BM25 needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.text import (
    token_count,
    tokens,
    word_shingles,
)
from spark_etl_cli_spark.operators.arrowtext import with_word_shingles


def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, out_id: str
) -> DataFrame:
    """(doc id, 64-bit hash) per *distinct* word n-gram of each doc.

    Deliberately JVM-side (r11 measurement): a fused shingle+md5-hex
    Arrow stage measured SLOWER here in matched windows (0.59x/~0.75x
    drift-adjusted) — at n=8 the gram count per doc is small, the
    post-explode md5+substring is codegen'd, and the Python round trip
    has nothing to amortize.
    """
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(word_shingles(F.col(text_col), n)).alias("__ng"),
    ).select(out_id, F.substring(F.md5("__ng"), 1, 16).alias("__h"))


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """(train_doc_id, bench_doc_id, n_shared) for every train/benchmark
    doc pair sharing at least one word ``n``-gram.

    The standard n-gram-collision decontamination test (13-grams in GPT-3
    / PaLM data cards; ``n`` is a knob here). Shingles are distinct per
    doc, so ``n_shared`` counts distinct shared n-grams. Only (id, hash)
    pairs ever shuffle; with ``broadcast_bench`` (the realistic shape —
    eval suites are tiny next to a training corpus) the train side never
    shuffles at all and the join is a map-side hash probe.
    """
    tr = _gram_hashes(train, id_col, text_col, n, "train_doc_id")
    be = _gram_hashes(bench, id_col, text_col, n, "bench_doc_id")
    if broadcast_bench:
        be = F.broadcast(be)
    return (
        tr.join(be, "__h")
        .groupBy("train_doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    *,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop training docs sharing >= ``min_shared`` word n-grams with any
    benchmark doc (left-anti join against the contaminated-id set)."""
    hits = (
        contamination_pairs(train, bench, n=n, id_col=id_col, text_col=text_col)
        .groupBy("train_doc_id")
        .agg(F.sum("n_shared").alias("__tot"))
        .filter(F.col("__tot") >= min_shared)
        .select(F.col("train_doc_id").alias(id_col))
    )
    return train.join(hits, id_col, "left_anti")


def _tf(tk: Column, term: str) -> Column:
    """Exact term frequency from an already-materialized token array."""
    return F.size(F.filter(tk, lambda t: t == F.lit(term))).cast("bigint")


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 score of every document against a fixed bag of query terms.

    One projection computes (dl, tf_1..tf_m) per doc — the token array is
    let-bound so tokenization runs once per row, not once per term. The
    corpus statistics (N, avgdl, df_1..df_m) collapse to a single row,
    broadcast back over the per-doc relation; the score is a fixed-order
    double expression (left-fold sum over terms) so it is bit-identical
    across engines. Columns: ``id_col``, ``dl``, ``score``.
    """
    tk_arr = tokens(F.col(text_col))
    per_doc = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("dl"),
        F.element_at(
            F.transform(
                F.array(tk_arr),
                lambda tk: F.array(*[_tf(tk, term) for term in terms]),
            ),
            1,
        ).alias("__tfs"),
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("dl").cast("decimal(18,0)")).cast("double").alias("__sumdl"),
        *[
            F.sum((F.element_at("__tfs", i + 1) > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))

    n_d = F.col("__n").cast("double")
    avgdl = F.col("__sumdl") / n_d
    dl_d = F.col("dl").cast("double")
    k1_l, b_l = F.lit(float(k1)), F.lit(float(b))
    denom_len = (F.lit(1.0) - b_l) + b_l * (dl_d / avgdl)

    def term_score(i: int) -> Column:
        tf_d = F.element_at("__tfs", i + 1).cast("double")
        df_d = F.col(f"__df{i}").cast("double")
        idf = ((n_d - df_d) + F.lit(0.5)) / (df_d + F.lit(0.5))
        return idf * ((tf_d * (k1_l + F.lit(1.0))) / (tf_d + k1_l * denom_len))

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    return joined.select(id_col, "dl", score.alias("score"))


def bm25_sql(
    table_expr: str,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    norm_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`bm25_scores` (same IEEE operation order).

    ``norm_sql`` is the SQL fragment producing the normalized text
    (defaults to the shared ``textops`` normalization of ``text``).
    """
    norm = norm_sql or r"trim(regexp_replace(text, '\s+', ' ', 'g'))"
    toks = f"string_split(lower({norm}), ' ')"
    dl = (
        f"CAST(CASE WHEN length({norm}) = 0 THEN 0 "
        f"ELSE len({toks}) END AS BIGINT)"
    )
    tfs = ", ".join(
        f"CAST(len(list_filter(tk, x -> x = '{term}')) AS BIGINT) AS tf{i}"
        for i, term in enumerate(terms)
    )
    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    k1s, bs = repr(float(k1)), repr(float(b))
    denom_len = f"((1.0 - {bs}) + {bs} * (CAST(dl AS DOUBLE) / avgdl))"

    def term_score(i: int) -> str:
        tf_d = f"CAST(tf{i} AS DOUBLE)"
        df_d = f"CAST(df{i} AS DOUBLE)"
        idf = f"(((CAST(n AS DOUBLE) - {df_d}) + 0.5) / ({df_d} + 0.5))"
        return (
            f"({idf} * (({tf_d} * ({k1s} + 1.0)) "
            f"/ ({tf_d} + {k1s} * {denom_len})))"
        )

    score = term_score(0)
    for i in range(1, len(terms)):
        score = f"({score} + {term_score(i)})"
    return f"""
    WITH perdoc AS (
      SELECT {id_col}, {dl} AS dl, {tfs}
      FROM (SELECT {id_col}, {toks} AS tk, text FROM {table_expr})
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) AS sumdl,
             {dfs}
      FROM perdoc
    ),
    scored AS (
      SELECT {id_col}, dl, {score} AS score
      FROM perdoc CROSS JOIN
           (SELECT *, sumdl / CAST(n AS DOUBLE) AS avgdl FROM stats)
    )
    SELECT * FROM scored
    """


def sparse_cosine_topk(
    docs: DataFrame,
    k: int = 5,
    df_cap_frac: float = 0.2,
    ngram: int = 2,
    query_pred: Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Doc-vs-doc TF-IDF cosine top-k via an inverted index.

    The sparse complement of the dense ANN family
    (operators/similarity.py): documents become TF-IDF vectors over
    their word-``ngram`` vocabulary (n>1 separates "same text" from
    "same vocabulary distribution" exactly as in SimHash shingling,
    operators/dedup.py) and candidate pairs are generated by the
    posting-list join on shared terms — never |corpus| x |queries|.
    Terms present in more than ``df_cap_frac`` of the corpus are
    dropped from the vector space entirely (the stop-word cap that
    bounds every posting list, and with it the join fan-out, at corpus
    scale; rare terms stay because they dominate the norms).

    Determinism: idf is the rational ``(N+1)/(df+1)`` (no ``ln``), and
    both the norm's sum of squares and each pair's dot product are
    SORTED left folds over the term dimension, so every double is
    bit-reproducible under any partitioning — the property that lets
    the DuckDB oracle verify the whole retrieval plan hash-for-hash
    (same trick as PageRank, operators/graph.py).

    Returns (query_id, neighbor_id, cosine_sim, rank), top ``k``
    neighbors per query doc by (cosine desc, neighbor_id).
    ``query_pred`` (a predicate over ``query_id``) restricts which docs
    act as queries; None means every document (all-pairs top-k).
    """
    from pyspark.sql.window import Window

    from spark_etl_cli_spark.operators.util import fan_out

    # NON-distinct n-gram shingles: tf counts occurrences.
    tf = (
        with_word_shingles(
            fan_out(docs),
            text_col,
            ngram,
            distinct=False,
            out_col="__grams",
            keep=[F.col(id_col).alias("id")],
        )
        .select("id", F.explode("__grams").alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    weights = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("df").cast("double")
            <= F.lit(float(df_cap_frac)) * F.col("n_docs").cast("double")
        )
        .select(
            "id",
            "term",
            (
                F.col("tf").cast("double")
                * (
                    (F.col("n_docs").cast("double") + F.lit(1.0))
                    / (F.col("df").cast("double") + F.lit(1.0))
                )
            ).alias("w"),
        )
        # four downstream references (query postings broadcast, the
        # neighbor side of the dot join, both norm joins): materialize
        # the tokenize+explode+groupBy pipeline ONCE instead of
        # relying on plan-shape-sensitive ReusedExchange
        .localCheckpoint(eager=False)
    )

    norms = weights.groupBy("id").agg(
        F.sqrt(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct("term", (F.col("w") * F.col("w")).alias("ww"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["ww"],
            )
        ).alias("norm")
    )

    qp = weights.select(
        F.col("id").alias("query_id"), "term", F.col("w").alias("wq")
    )
    if query_pred is not None:
        qp = qp.filter(query_pred)
    dots = (
        weights.select(
            F.col("id").alias("neighbor_id"), "term", F.col("w").alias("wc")
        )
        .join(F.broadcast(qp), "term")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "term", (F.col("wq") * F.col("wc")).alias("p")
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["p"],
            ).alias("dot")
        )
    )
    scored = (
        dots.join(
            F.broadcast(
                norms.select(F.col("id").alias("query_id"), F.col("norm").alias("__nq"))
            ),
            "query_id",
        )
        .join(
            norms.select(
                F.col("id").alias("neighbor_id"), F.col("norm").alias("__nc")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (F.col("dot") / (F.col("__nq") * F.col("__nc"))).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)
