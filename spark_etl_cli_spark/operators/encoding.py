"""Vocabulary encoding: text → token-id arrays, the last hop before
tensors in a training-data pipeline.

Shape: posexplode tokens (keeps ordinal), broadcast-join the vocabulary
(map-side, no shuffle — a vocab is small by construction), then ONE
groupBy-doc shuffle of (pos, id) int pairs reassembles order with
``array_sort(collect_list(struct(pos, id)))``. Unknown tokens encode as
``unk_id`` rather than dropping (sequence lengths must survive
encoding).

The alternative — a map-literal lookup inside ``transform`` — avoids
the shuffle but degrades to a per-token linear scan of the vocab
(Spark's GetMapValue on complex literals), hopeless at 50k+ entries;
the join is the scale path.

North-star extension (reference has no text operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.text import tokens
from spark_etl_cli_spark.session import local_frame


def vocab_encode(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str = "token",
    token_id_col: str = "token_id",
    unk_id: int = -1,
) -> DataFrame:
    """(id, token_ids array<bigint>, n_tokens, n_unk) per document.

    Empty/blank documents produce an empty array (not a null), so
    downstream packing arithmetic needs no null guards.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.col(text_col))).alias("__pos", "__tok"),
    )
    v = vocab.select(
        F.col(token_col).alias("__tok"),
        F.col(token_id_col).cast("bigint").alias("__tid"),
    )
    enc = toks.join(F.broadcast(v), "__tok", "left").select(
        F.col(id_col),
        "__pos",
        F.when(F.col("__tok").isNull() | (F.col("__tok") == ""), None)
        .otherwise(F.coalesce("__tid", F.lit(unk_id).cast("bigint")))
        .alias("__tid"),
    )
    return (
        enc.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__tid"))
            ).alias("__ps")
        )
        .select(
            F.col(id_col),
            F.filter(
                F.transform(F.col("__ps"), lambda s: s["__tid"]),
                lambda x: x.isNotNull(),
            ).alias("token_ids"),
        )
        .select(
            id_col,
            "token_ids",
            F.size("token_ids").cast("bigint").alias("n_tokens"),
            F.size(
                F.filter(F.col("token_ids"), lambda x: x == unk_id)
            ).cast("bigint").alias("n_unk"),
        )
    )


def _bpe_train_serial(words: DataFrame, n_merges: int) -> DataFrame:
    """All ``n_merges`` rounds in ONE single-partition Arrow task over
    the word-frequency table.

    The merge loop is inherently sequential (each round's argmax feeds
    the next round's segmentation), so running it distributed costs one
    explode + shuffle + global argmax + fold-rewrite + checkpoint JOB
    per round — all fixed overhead when the vocab table is small, which
    it essentially always is relative to the corpus (this is how
    production BPE trainers are built: distributed word counting, then
    a serial merge loop over the counts). ``coalesce(1)`` is a narrow
    dependency — no shuffle — and the task sees every row.

    Determinism matches the distributed loop exactly: argmax by
    (count desc, left asc, right asc) — Python str comparison is
    code-point order, which equals Spark's UTF8 binary order for all
    valid code points — and the same greedy non-overlapping
    left-to-right merge scan.
    """

    def _train(it):
        import pyarrow as pa

        syms_list: list[list[str]] = []
        counts: list[int] = []
        for batch in it:
            syms_list.extend(batch.column(0).to_pylist())
            counts.extend(batch.column(1).to_pylist())
        merges = []
        for rank in range(n_merges):
            pair_counts: dict[tuple[str, str], int] = {}
            for syms, n in zip(syms_list, counts):
                for i in range(len(syms) - 1):
                    key = (syms[i], syms[i + 1])
                    pair_counts[key] = pair_counts.get(key, 0) + n
            if not pair_counts:
                break
            (left, right), best_n = min(
                pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if best_n <= 0:
                break
            merged = left + right
            merges.append((rank, left, right, merged, best_n))
            for wi, syms in enumerate(syms_list):
                out, j = [], 0
                changed = False
                while j < len(syms):
                    if (
                        j + 1 < len(syms)
                        and syms[j] == left
                        and syms[j + 1] == right
                    ):
                        out.append(merged)
                        j += 2
                        changed = True
                    else:
                        out.append(syms[j])
                        j += 1
                if changed:
                    syms_list[wi] = out
        if merges:
            rk, lf, rt, mg, pc = zip(*merges)
        else:
            rk = lf = rt = mg = pc = ()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(rk), type=pa.int32()),
                pa.array(list(lf), type=pa.string()),
                pa.array(list(rt), type=pa.string()),
                pa.array(list(mg), type=pa.string()),
                pa.array(list(pc), type=pa.int64()),
            ],
            ["merge_rank", "left", "right", "merged", "pair_count"],
        )

    return words.coalesce(1).mapInArrow(
        _train,
        "merge_rank int, left string, right string, merged string, "
        "pair_count bigint",
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    max_word_len: int = 32,
    serial_symbols_max: int = 30_000_000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a corpus (Sennrich et al.
    2016, the standard subword-tokenizer training loop), distributed.

    Returns the learned merge table: one row per merge,
    ``(merge_rank, left, right, merged, pair_count)`` — exactly what a
    tokenizer needs to segment new text (apply merges in rank order).

    Spark shape — the key property is that the corpus is touched ONCE:

    1. one pass collapses the corpus to the word-frequency table
       (``lower → split → groupBy word``) — every later round works on
       |vocab| rows, not |corpus|;
    2. each word is seeded as its character sequence plus the ``</w>``
       end-of-word marker (the classic formulation, so merges can span
       to word end but never across words);
    3. per merge round: explode adjacent symbol pairs weighted by word
       count → one groupBy(pair) → take the global max (count desc,
       then lexicographic pair for DETERMINISM across partitionings) —
       a driver-side head() of one row, control plane only;
    4. the winning pair is applied to every word's symbol array with a
       single greedy left-to-right ``aggregate`` fold (non-overlapping,
       matching reference BPE's scan), and the table is
       ``localCheckpoint``-ed so round R+1's plan does not replay
       rounds 1..R.

    ``max_word_len`` drops pathological "words" (URLs, DNA strings)
    whose O(len) symbol arrays would dominate every round — standard
    practice in BPE trainers.

    ADAPTIVE EXECUTION (r10, guide §1.2 "the distributed algorithm
    first"): the corpus collapse to the word-frequency table is always
    distributed, but the merge loop itself is sequential by nature, so
    when the vocab table is small ALL rounds run in one
    single-partition Arrow task (:func:`_bpe_train_serial`) —
    identical merges, one job instead of 2 jobs + 1 shuffle +
    1 checkpoint per round. Past the threshold the per-round
    distributed loop below takes over unchanged (same determinism
    rules), so arbitrarily large vocabularies still work.

    The gate is ``sum(size(syms)) <= serial_symbols_max`` — TOTAL
    SYMBOLS, not rows (r10 ADVICE): the serial loop rescans every
    symbol each round, so symbols are the quantity that bounds it; the
    aggregate is one cheap job over the already-materialized
    checkpoint. The default threshold is measured, not assumed
    (``scripts/bpe_crossover.py``, 20 merges on local[32], end-to-end
    including the shared corpus collapse — table in SCALE.md):

        symbols   serial    distributed
        1.1M      24.5 s    48.8 s   (2.0x)
        4.6M      34.0 s    65.9 s   (1.9x)
        11.5M     100.8 s   679.6 s  (6.7x)

    Serial wins at every measured size and the gap WIDENS — the
    distributed loop pays 20 rounds of explode + shuffle + global
    argmax + HOF fold-rewrite + checkpoint, each of which grows with
    vocab size too. The binding constraint on the serial path is the
    one-task word list (roughly 50-100 bytes/symbol as Python strings:
    ~2-3 GB at 30M symbols), which sets the 30M default; past it the
    distributed loop is the only shape that completes, not the faster
    one.

    Iterative by nature → registered with a rows-only driver check
    (no closed-form SQL oracle); determinism is still pinned by the
    repartition-invariance pytest (and the serial/distributed
    equivalence test).
    """
    from spark_etl_cli_spark.functions.text import tokens
    from spark_etl_cli_spark.operators.util import fan_out

    words = (
        fan_out(docs)
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter((F.length("w") > 0) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>"))).alias(
                "syms"
            ),
            "n",
        )
        .localCheckpoint()
    )
    total_symbols = (
        words.agg(F.coalesce(F.sum(F.size("syms")), F.lit(0)).alias("s"))
        .head()["s"]
    )
    if total_symbols <= serial_symbols_max:
        return _bpe_train_serial(words, n_merges)

    merges = []
    for rank in range(n_merges):
        pairs = (
            words.select(
                F.posexplode(F.slice("syms", 1, F.size("syms") - 1)).alias(
                    "__i", "left"
                ),
                F.col("syms"),
                F.col("n"),
            )
            .select(
                "left",
                F.expr("syms[__i + 1]").alias("right"),
                "n",
            )
            .groupBy("left", "right")
            .agg(F.sum("n").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("left"), F.col("right")
        ).head()
        if best is None or best["pair_count"] <= 0:
            break
        left, right = best["left"], best["right"]
        merged = left + right
        merges.append((rank, left, right, merged, best["pair_count"]))
        # greedy non-overlapping left-to-right merge of (left, right):
        # fold symbols into a new array; a just-merged element cannot
        # participate as `left` again within the same scan because the
        # accumulator's tail becomes `merged` = left+right, and
        # merged != left is guaranteed (right is non-empty, so merged
        # is strictly longer) — e.g. "aaa" under (a,a) yields [aa, a],
        # never [aa, aa] from overlapping re-use of the middle symbol
        words = words.select(
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (x == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
            "n",
        ).localCheckpoint()

    spark = docs.sparkSession
    schema = (
        "merge_rank int, left string, right string, merged string, "
        "pair_count bigint"
    )
    return local_frame(spark, merges, schema)
