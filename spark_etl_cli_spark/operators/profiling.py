"""Statistical profiling operators: regression, histogram, outliers,
vocabulary coverage, n-gram novelty.

These back the q139–q143 plan queries AND the ``regression:// /
histogram:// / outliers:// / vocab-coverage:// / novelty://`` URI
transforms. Determinism contract: when the value columns are INTEGER-
encoded (the plan queries pass prices as cents and dates as day
offsets), every aggregate below is an exact integer/decimal sum and
the derived doubles are bit-identical across engines and partitionings
— see plans/statsops.py. With raw double inputs the operators still
work; the sums are then ordinary float sums (order-dependent in the
last ulps, as any engine's would be).

Scale shapes: each operator reduces the input to |groups|, |buckets|,
or |vocabulary| rows with ONE map-side-combined groupBy before any
join or window; stats joins broadcast (group cardinality ≪ table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.text import tokens


_DEC = "decimal(38,0)"


def _suff_stats(df: DataFrame, x_col: str, y_col: str, group_cols: list[str]):
    """Per-group OLS sufficient statistics as EXACT decimal sums.

    Every sum (including the cross products) runs in DECIMAL(38,0):
    int64 overflows on squared integer encodings (cents² sums past
    2^63 around 10^8 rows/group), and — the subtler point — the
    *linear combinations* downstream stay in exact integer arithmetic
    with ONE final int→double conversion, because converting each
    >2^63 summand separately multiplies the engines' conversion
    quirks: DuckDB's int128→double rounds twice (upper·2^64 + lower)
    and can land 1 ulp off the correctly-rounded value the JVM's
    BigDecimal produces (observed on q139 at sf0.1). The SQL twins
    route that one conversion through VARCHAR (strtod is correctly
    rounded), making both engines bit-identical.
    """
    x, y = F.col(x_col), F.col(y_col)
    xd, yd = x.cast(_DEC), y.cast(_DEC)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * x).alias("sxx"),
        F.sum(xd * y).alias("sxy"),
        F.sum(yd * y).alias("syy"),
    )


def group_regression(
    df: DataFrame, x_col: str, y_col: str, group_cols: list[str]
) -> DataFrame:
    """Closed-form per-group OLS of ``y`` on ``x``.

    Returns one row per group: ``(*group_cols, n, slope, intercept,
    r2)`` in input units. Partition-order AND engine independent when
    x/y are integral: the sufficient statistics and all their linear
    combinations (covariance/variance numerators, the intercept
    numerator ΣyΣx² − ΣxΣxy) are exact decimal integers converted to
    double exactly once (correctly rounded on both engines — see
    _suff_stats); doubles appear only in final mul/div chains.
    """
    s = _suff_stats(df, x_col, y_col, group_cols)
    nd = F.col("n").cast(_DEC)
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    inum = (
        F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    ).cast("double")
    # degenerate groups (zero variance in x or y) have no defined
    # slope/r2: NULL, not an ANSI DIVIDE_BY_ZERO error
    return s.select(
        *group_cols,
        "n",
        F.when(var_x != 0, cov / var_x).alias("slope"),
        F.when(var_x != 0, inum / var_x).alias("intercept"),
        F.when(
            (var_x != 0) & (var_y != 0), cov * cov / (var_x * var_y)
        ).alias("r2"),
    )


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    lo: float = 0.0,
    width: float = 1.0,
    n_buckets: int = 20,
) -> DataFrame:
    """Equi-width histogram: ``(bucket, lo, hi, n_rows)`` per non-empty
    bucket, clamped to ``[0, n_buckets)``. One scan, one map-side-
    combined groupBy of ≤ ``n_buckets`` rows at any scale. NULL values
    are excluded (``greatest(NULL, 0)`` would otherwise silently fold
    them into bucket 0 — Spark's greatest/least skip nulls)."""
    df = df.filter(F.col(value_col).isNotNull())
    bucket = (
        F.least(
            F.greatest(
                F.floor(
                    (F.col(value_col).cast("double") - F.lit(float(lo)))
                    / F.lit(float(width))
                ),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        )
        .cast("int")
        .alias("bucket")
    )
    return (
        df.select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .select(
            "bucket",
            (F.lit(float(lo)) + F.col("bucket") * F.lit(float(width))).alias(
                "lo"
            ),
            (
                F.lit(float(lo)) + (F.col("bucket") + 1) * F.lit(float(width))
            ).alias("hi"),
            "n_rows",
        )
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose ``|value - μ_group| > threshold·σ_group``, with a
    ``z`` column appended.

    μ/σ come from one groupBy (exact sums for integral values) whose
    |groups| rows broadcast back over the fact table — never a window
    over the raw data, and never Spark's float ``stddev_pop`` (whose
    result depends on partition order). σ uses sqrt, which IEEE
    requires correctly rounded. Empty ``group_cols`` means GLOBAL
    moments (one stats row cross-broadcast over every row).
    """
    y = F.col(value_col)
    yd = y.cast(_DEC)
    stats = [
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(yd).alias("__sy"),
        F.sum(yd * y).alias("__syy"),
    ]
    s = df.groupBy(*group_cols).agg(*stats) if group_cols else df.agg(*stats)
    # exact-int variance numerator (n·Σy² − (Σy)²), doubles only in
    # mul/div/sqrt chains — engine-independent (see _suff_stats)
    ndec = F.col("__n").cast(_DEC)
    nd = F.col("__n").cast("double")
    mean = F.col("__sy").cast("double") / nd
    varnum = (ndec * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    std = F.sqrt(varnum / (nd * nd))
    # zero-variance groups have no outliers; NULL z (filtered below)
    # instead of an ANSI DIVIDE_BY_ZERO error
    z = F.when(varnum != 0, (y.cast("double") - mean) / std)
    joined = (
        df.join(F.broadcast(s), group_cols)
        if group_cols
        else df.crossJoin(F.broadcast(s))
    )
    return (
        joined.withColumn("z", z)
        .filter(F.abs(F.col("z")) > threshold)
        .drop("__n", "__sy", "__syy")
    )


def vocab_coverage(
    df: DataFrame, text_col: str = "text", pct: int = 95
) -> DataFrame:
    """Smallest frequency-ranked vocabulary covering ``pct``% of token
    occurrences: one row ``(vocab_size, covered_tokens, total_tokens)``.

    The corpus shrinks to |V| term-count rows before the single global
    cumulative window — the only non-distributed step, over millions
    of rows at 100 TB, not billions. Comparisons stay in integers
    (cum·100 vs pct·total): no float coverage ratios.
    """
    tf = (
        df.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    c = tf.select(
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    hit = F.col("cum") * 100 >= pct * F.col("total")
    return c.agg(
        (
            F.sum(F.when(~hit, F.lit(1)).otherwise(F.lit(0))) + 1
        )
        .cast("bigint")
        .alias("vocab_size"),
        F.min(F.when(hit, F.col("cum"))).cast("bigint").alias(
            "covered_tokens"
        ),
        F.max("total").cast("bigint").alias("total_tokens"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document share of distinct k-word shingles FIRST seen (by
    min id) in that document — the corpus-audit memorization/near-dup
    signal. Returns ``(id_col, n_shingles, n_novel, novelty)``.

    Two shuffles: shingle → min(id), then the shingle-keyed join back.
    At 100 TB, key the join on xxhash64(shingle) to shrink payloads;
    the raw string is kept here so the DuckDB oracle replays exactly.
    """
    from spark_etl_cli_spark.functions.text import word_shingles
    from spark_etl_cli_spark.operators.util import fan_out

    # shingle once into doc-grain arrays, fanned out and checkpointed:
    # `sh` feeds two branches (first-seen aggregate + the join back),
    # which otherwise re-run the tokenize+shingle subtree per branch.
    arrays = (
        fan_out(df)
        .select(
            F.col(id_col).alias("__id"),
            word_shingles(F.col(text_col), k=k).alias("__sh"),
        )
        .localCheckpoint()
    )
    sh = arrays.select("__id", F.explode("__sh").alias("__shingle"))
    first = sh.groupBy("__shingle").agg(F.min("__id").alias("__first"))
    return (
        sh.join(first, "__shingle")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("__first") == F.col("__id"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


def k_anonymity(
    df: DataFrame, qi_cols: list[str], k: int = 5
) -> DataFrame:
    """Privacy audit: quasi-identifier groups smaller than ``k``.

    Returns one row per risky group: ``(*qi_cols, group_size)`` where
    ``group_size < k`` — the equivalence classes whose members are
    re-identifiable. One map-side-combined groupBy; output is bounded
    by the number of QI combinations, not the table size.
    """
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def _cms_cells(term_col: str, depth: int, width: int,
               hash_family: str = "oracle"):
    """The sketch's (row, bucket) cells for one term — the single
    definition of the hash layout, shared by build and probe (a
    divergence between the two silently corrupts every estimate).

    ``hash_family='oracle'`` (default): salted md5 family
    (functions/text.py: ``md5_long(term, salt=i) % width``) so an
    ANSI-SQL oracle replays the sketch exactly. ``'fast'``: salted
    xxhash64 with pmod (xxhash64 is signed) — the production family;
    BUILD AND PROBE MUST AGREE, which this shared helper enforces."""
    from spark_etl_cli_spark.functions.text import md5_long

    if hash_family == "oracle":
        def cell(i):
            return md5_long(F.col(term_col), F.lit(i)) % width
    elif hash_family == "fast":
        def cell(i):
            return F.pmod(F.xxhash64(F.col(term_col), F.lit(i)), F.lit(width))
    else:
        raise ValueError(
            f"hash_family must be 'oracle'|'fast', got {hash_family!r}"
        )
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row"), cell(i).alias("bucket"))
                for i in range(depth)
            ]
        )
    )


def count_min_sketch(
    df: DataFrame, term_col: str, depth: int = 4, width: int = 1024,
    hash_family: str = "oracle",
) -> DataFrame:
    """Count-min sketch over a term/event stream.

    Returns the counter table ``(row, bucket, counter)`` — at most
    ``depth × width`` rows REGARDLESS of input size (zero cells are
    not materialized), built with one map-side-combined groupBy over
    the ``depth``-fanned stream (the sketch property that makes
    frequency estimation feasible when the key universe doesn't fit
    anywhere). Point estimates are ``min_i counter[i][h_i(term)]``;
    see :func:`cms_estimate`.
    """
    entries = df.select(
        _cms_cells(term_col, depth, width, hash_family).alias("e")
    )
    return (
        entries.select("e.row", "e.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )


def cms_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
    hash_family: str = "oracle",
) -> DataFrame:
    """Point-estimate counts for ``terms`` from a count-min sketch.
    ``hash_family`` must match the one the sketch was built with.

    Adds ``est_cnt = min_i counter[i][h_i(term)]`` (never an
    underestimate). The candidate set fans out ``depth`` rows each and
    LEFT-joins the (tiny, broadcastable) counter table: the sketch
    stores only non-zero cells, so an absent cell means counter = 0 —
    an inner join would silently drop never-seen terms (and overstate
    partially-absent ones) instead of estimating 0.
    """
    # internal probe columns are __-prefixed so a caller's own "row"/
    # "bucket"/"counter" columns can't collide with the join keys or
    # the post-join aggregate
    probes = (
        terms.select(
            "*", _cms_cells(term_col, depth, width, hash_family).alias("__e")
        )
        .select(
            "*",
            F.col("__e.row").alias("__row"),
            F.col("__e.bucket").alias("__bucket"),
        )
        .drop("__e")
    )
    others = list(terms.columns)
    sk = F.broadcast(
        sketch.select(
            F.col("row").alias("__row"),
            F.col("bucket").alias("__bucket"),
            F.col("counter").alias("__counter"),
        )
    )
    return (
        probes.join(sk, ["__row", "__bucket"], "left")
        .groupBy(*others)
        .agg(
            F.min(F.coalesce(F.col("__counter"), F.lit(0)))
            .cast("bigint")
            .alias("est_cnt")
        )
    )
