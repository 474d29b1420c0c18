"""Transform URI registrations.

Transform semantics mirror the reference's transformer registry
(``core/.../TransformerParser.scala:17-144``,
``diff/.../DiffTransformerParser.scala:9-62``): each scheme maps to a
``(spark, df) -> df`` function; the pipeline registers the input view as
``input`` before invoking, so ``sql://`` can reference it.

Every scheme declares its parameters once (``register_transform(...,
params=...)``), so the URI is typed into ``ParsedUri.args`` and a
misspelled or mistyped parameter fails when it resolves. ``OPS`` holds
the transforms that only type their parameters and call one operator
function, one row per scheme; the transforms below it, which carry
their own logic, stay functions. Operator modules are imported on first
use, so importing this module stays cheap.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import urllib.parse
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_etl_cli_spark.operators.diff import apply_diff_handling, diff
from spark_etl_cli_spark.pipeline import TransformFn
from spark_etl_cli_spark.registry import register_transform
from spark_etl_cli_spark.uri import Args, Param, ParsedUri

# parameters many transforms share
_TEXT_COL = Param("text-col", default="text", doc="text column")
_ID_COL = Param("id-col", default="doc_id", doc="row id column")
_USER_COL = Param("user-col", default="user_id", doc="user column")
_TS_COL = Param("ts-col", default="ts", doc="event-time column")
_TYPE_COL = Param("type-col", default="event_type", doc="event type column")
_VEC_COL = Param("vec-col", default="embedding", doc="vector column")
_ORDER = Param("order", "csv", doc="tie-break columns after the time order")
_BY = Param("by", "csv", doc="group columns")


def _id_col(default: str) -> Param:
    return dataclasses.replace(_ID_COL, default=default)


def _weights(items: list[str], conv: Callable) -> dict:
    """``["a:2.5", "b"]`` → ``{"a": conv("2.5"), "b": conv("1")}``."""
    return {
        label: conv(w or "1")
        for label, _, w in (item.partition(":") for item in items)
    }


@dataclass(frozen=True)
class Op:
    """A transform that types its parameters and calls one operator
    function: ``call(fn, df, args)``, or ``call(fn, df, args, other)``
    when ``view`` — the URI path names a second registered view."""

    scheme: str
    target: str  # "module:function" under spark_etl_cli_spark.operators
    params: tuple[Param, ...]
    call: Callable[..., DataFrame]
    doc: str
    view: bool = False


def _op_transform(op: Op, p: ParsedUri) -> TransformFn:
    if op.view and not p.path_name:
        raise ValueError(f"{op.scheme}:// needs a view name: {op.scheme}://<view>")

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        module, _, name = op.target.partition(":")
        fn = getattr(
            importlib.import_module(f"spark_etl_cli_spark.operators.{module}"),
            name,
        )
        if op.view:
            return op.call(fn, df, p.args, spark.table(p.path_name))
        return op.call(fn, df, p.args)

    return run


OPS = (
    Op("flatten", "schema_tools:flatten", (), lambda f, df, a: f(df),
       "Recursively flatten nested structs to top-level ``a_b_c`` columns."),
    Op("flatten-explode", "schema_tools:flatten_explode", (), lambda f, df, a: f(df),
       "Explode arrays and flatten structs until the schema is flat."),
    Op("cdc-apply", "cdc:apply_changes_snapshot",
       (Param("key", "csv", doc="key columns", required=True),
        Param("sequence", "csv", doc="ordering columns", required=True),
        dataclasses.replace(_TYPE_COL, default="_change_type",
                            doc="change type column (used when present)"),
        Param("delete-values", "csv", ["delete"], "change types that delete"),
        Param("ignore-values", "csv", ["update_preimage"], "change types skipped")),
       lambda f, df, a: f(
           df, a["key"], a["sequence"],
           change_type_col=a["type-col"] if a["type-col"] in df.columns else None,
           delete_values=tuple(a["delete-values"]),
           ignore_values=tuple(a["ignore-values"])),
       "Materialize the current snapshot implied by a change log: the latest change\n"
       "per key wins, keys whose latest change is a delete vanish (operators/cdc.py).\n"
       "Pair with ``delta-stream://?readChangeFeed=true`` or any CDC-shaped frame."),
    Op("asof", "asof:asof_join",
       (Param("key", "csv", doc="equi-join key columns"),
        Param("left-ts", default="ts", doc="input view's time column"),
        Param("right-ts", default="ts", doc="other view's time column"),
        Param("payload", "csv", doc="other view's columns to carry")),
       lambda f, df, a, other: f(df, other, a["key"], a["left-ts"], a["right-ts"],
                                 a["payload"] or None),
       "``asof://rightView``: nearest-prior join of the input view against another\n"
       "registered view (single-shuffle union+window plan, operators/asof.py).",
       view=True),
    Op("chunk", "chunking:chunk_documents",
       (_TEXT_COL, _ID_COL, Param("chunk-tokens", "int", 64, "tokens per chunk"),
        Param("stride", "int", 48, "tokens between chunk starts")),
       lambda f, df, a: f(df, a["text-col"], a["id-col"], a["chunk-tokens"], a["stride"]),
       "Overlapping context-window chunks (operators/chunking.py): a per-row\n"
       "explode, no shuffle."),
    Op("pack", "chunking:pack_sequences",
       (_TEXT_COL, _ID_COL, Param("partition-col", default="source", doc="packing partition"),
        Param("seq-tokens", "int", 2048, "tokens per sequence")),
       lambda f, df, a: f(df, a["text-col"], a["id-col"], a["partition-col"],
                          a["seq-tokens"]),
       "Greedy sequence packing: appends (ntok, seq_id) so a downstream\n"
       "groupBy(partition-col, seq_id) materializes training sequences."),
    Op("merge", "maintenance:merge_changelog",
       (Param("keys", "csv", doc="key columns"),
        Param("seq-col", "csv", ["ts"], "ordering columns"),
        Param("op-col", doc="operation column"),
        Param("delete-op", default="D", doc="operation value that deletes")),
       lambda f, df, a, other: f(df, other, a["keys"], a["seq-col"], a["op-col"],
                                 a["delete-op"]),
       "``base+out+merge://changesView``: SCD1 changelog MERGE into the input view;\n"
       "per key the highest-seq change wins and tombstone ops delete\n"
       "(operators/maintenance.py: one shuffle, union+window, no base-vs-changes join).",
       view=True),
    Op("gapfill", "maintenance:gap_fill",
       (Param("keys", "csv", doc="series key columns"),
        Param("date-col", default="day", doc="date column"),
        Param("value-cols", "csv", doc="columns to forward-fill")),
       lambda f, df, a: f(df, a["keys"], a["date-col"], a["value-cols"]),
       "Densify per-key daily series (sequence+explode spine) and forward-fill\n"
       "``<col>_filled`` values (operators/maintenance.py)."),
    Op("bloom-prune", "joins:bloom_semi_prune",
       (Param("key", default="id", doc="input view's key column"),
        Param("dim-key", doc="keys view's column (default: key)"),
        Param("fpp", "float", 0.01, "bloom filter false-positive rate"),
        Param("expected", "int", doc="expected key count (skips the sizing count())")),
       lambda f, df, a, other: f(df, other, a["key"], a["dim-key"] or None,
                                 expected_items=a["expected"], fpp=a["fpp"]),
       "``bloom-prune://keysView``: prunes the input view's rows to those whose key\n"
       "might appear in the keys view, runtime filtering ahead of a join or\n"
       "aggregation (operators/joins.py); no false negatives.",
       view=True),
    Op("range-join", "joins:range_join_binned",
       (Param("point", default="ts", doc="input view's point column"),
        Param("lo", default="lo", doc="interval start column"),
        Param("hi", default="hi", doc="interval end column"),
        Param("bin-width", "int", 3600, "bin width of the decomposition")),
       lambda f, df, a, other: f(df, other, a["point"], a["lo"], a["hi"], a["bin-width"]),
       "``range-join://intervalsView``: inner-joins the input view (point side) on\n"
       "``point BETWEEN lo AND hi`` via the binned hash-join decomposition\n"
       "(operators/joins.py), no nested loop even without an equi key.",
       view=True),
    Op("assign-ids", "ids:assign_sequential_ids",
       (dataclasses.replace(_ORDER, doc="columns that order the ids"), _id_col("seq_id"),
        Param("partitions", "int", doc="range partitions")),
       lambda f, df, a: f(df, a["order"], a["id-col"], a["partitions"]),
       "Dense 0-based sequential ids in ``order`` order via the two-pass\n"
       "range-partition scheme (operators/ids.py), never a single-partition window."),
    Op("zorder", "zorder:zorder_sort",
       (dataclasses.replace(_BY, doc="columns to interleave"),
        Param("bits", "int", 10, "bits per column"),
        Param("partitions", "int", doc="range partitions")),
       lambda f, df, a: f(df, a["by"], a["bits"], a["partitions"]),
       "Totally orders the view by the z-value (Morton interleave) of the columns\n"
       "(operators/zorder.py), so a following file sink writes row groups\n"
       "clustered in every listed dimension."),
    Op("checksum", "checksum:table_checksum",
       (Param("cols", "csv", doc="columns to hash (default: all)"), _BY),
       lambda f, df, a: f(df, a["cols"] or df.columns, a["by"] or None),
       "Order-insensitive reconciliation checksum per group (operators/checksum.py):\n"
       "run on both systems, compare the tiny results, drill in with ``diff://``."),
    Op("profile", "profile:profile_columns",
       (Param("cols", "csv", doc="columns to profile (default: all)"),),
       lambda f, df, a: f(df, a["cols"] or None),
       "One-pass column profile (operators/profile.py): long-form (column, n_rows,\n"
       "n_nonnull, n_distinct) for discovery before declaring ``expect://`` rules."),
    Op("encode", "encoding:vocab_encode",
       (_TEXT_COL, _ID_COL,
        Param("token-col", default="token", doc="vocab view's token column"),
        Param("token-id-col", default="token_id", doc="vocab view's id column"),
        Param("unk", "int", -1, "id of unknown tokens")),
       lambda f, df, a, other: f(df, other, a["text-col"], a["id-col"], a["token-col"],
                                 a["token-id-col"], a["unk"]),
       "``encode://vocabView``: per-document token-id arrays via a broadcast vocab\n"
       "join (operators/encoding.py).",
       view=True),
    Op("mixture", "mixture:epoch_upsample",
       (Param("weights", "csv", doc="source:weight list (weight 1 if bare)"),
        Param("default", "float", 1.0, "weight of unlisted sources"),
        Param("source-col", default="source", doc="source column"), _ID_COL,
        Param("epoch-col", default="epoch", doc="output epoch column")),
       lambda f, df, a: f(df, _weights(a["weights"], float), default=a["default"],
                          source_col=a["source-col"], id_col=a["id-col"],
                          epoch_col=a["epoch-col"]),
       "Epoch-weighted corpus mixing (operators/mixture.py): each row is repeated\n"
       "floor(w) times plus a deterministic md5-bucket-gated extra copy for frac(w)\n"
       "of rows; weight 0 drops the source."),
    Op("kmeans", "clustering:kmeans_lloyd",
       (Param("k", "int", 8, "clusters"), Param("iters", "int", 2, "Lloyd iterations"),
        _id_col("vec_id"), _VEC_COL),
       lambda f, df, a: f(df, k=a["k"], iters=a["iters"], id_col=a["id-col"],
                          vec_col=a["vec-col"]),
       "Deterministic fixed-iteration Lloyd k-means (operators/clustering.py):\n"
       "per-(cluster, dim) statistics of the final update; centroids are\n"
       "driver-resident (k x dim doubles)."),
    Op("funnel", "events:funnel_steps",
       (Param("steps", "csv", doc="event types in funnel order"),
        _USER_COL, _TYPE_COL, _TS_COL),
       lambda f, df, a: f(df, a["steps"], a["user-col"], a["type-col"], a["ts-col"]),
       "Ordered funnel conversion over an event view (operators/events.py): one row\n"
       "per step with user counts and conversion rate vs step 1. Step k counts a\n"
       "user only when their earliest step-k event falls strictly after their\n"
       "earliest qualifying step-(k-1) event."),
    Op("retention", "events:retention_cohorts", (_USER_COL, _TS_COL),
       lambda f, df, a: f(df, a["user-col"], a["ts-col"]),
       "Weekly retention cohort matrix (operators/events.py): cohort = Monday of the\n"
       "user's first-event week, one row per (cohort_week, week_offset) with\n"
       "distinct active users."),
    Op("transitions", "events:transition_matrix", (_USER_COL, _TYPE_COL, _TS_COL, _ORDER),
       lambda f, df, a: f(df, a["user-col"], a["type-col"], a["ts-col"],
                          a["order"] or None),
       "First-order Markov transition matrix of consecutive events per user\n"
       "(operators/events.py): (from_type, to_type, n, prob), prob row-normalized."),
    Op("attribution", "events:last_touch_attribution",
       (Param("conversion", default="purchase", doc="converting event type"),
        _USER_COL, _TYPE_COL, _TS_COL,
        Param("value-col", default="value", doc="conversion value column"), _ORDER),
       lambda f, df, a: f(df, a["conversion"], a["user-col"], a["type-col"],
                          a["ts-col"], a["value-col"], a["order"] or None),
       "Last-touch conversion attribution over an event view (operators/events.py):\n"
       "one row per touch type with conversion count and total attributed value."),
    Op("split", "curation:dataset_split",
       (_id_col("id"),
        Param("weights", "csv", ["train:80", "val:10", "test:10"], "label:weight list"),
        Param("salt", default="", doc="hash salt")),
       lambda f, df, a: f(df, a["id-col"], _weights(a["weights"], int), a["salt"]),
       "Deterministic hash-bucket dataset split (operators/curation.py): appends a\n"
       "``split`` label, stable across runs, appends, and engines (md5, no rand())."),
    Op("compact-plan", "curation:compaction_plan",
       (Param("partition-col", default="partition", doc="partition column"),
        Param("file-col", default="path", doc="file column"),
        Param("size-col", default="bytes", doc="file size column"),
        Param("target", "int", 128 * 1024 * 1024, "target bin bytes")),
       lambda f, df, a: f(df, a["partition-col"], a["file-col"], a["size-col"],
                          a["target"]),
       "OPTIMIZE-style bin-packing plan (operators/curation.py): one row per\n"
       "(partition, bin) with file count and byte total; executing the plan is a\n"
       "separate rewrite stage."),
    Op("pagerank", "graph:pagerank",
       (Param("src", default="src", doc="edge source column"),
        Param("dst", default="dst", doc="edge destination column"),
        Param("weight", default="w", doc="edge weight column"),
        Param("iters", "int", 3, "iterations"),
        Param("damping", "float", 0.85, "damping factor")),
       lambda f, df, a: f(df, a["iters"], a["damping"], a["src"], a["dst"], a["weight"]),
       "Fixed-iteration weighted PageRank over an edge view (operators/graph.py):\n"
       "(vertex, pagerank), deterministic under any partitioning."),
    Op("triangles", "graph:triangle_count",
       (Param("u", default="u", doc="lower vertex column"),
        Param("v", default="v", doc="higher vertex column")),
       lambda f, df, a: f(df, a["u"], a["v"]),
       "Global (n_edges, n_wedges, n_triangles) over canonical undirected edges (one\n"
       "row per edge, u < v) via degree orientation (operators/graph.py)."),
    Op("tfidf-topk", "retrieval:sparse_cosine_topk",
       (Param("k", "int", 5, "neighbours per query"),
        Param("ngram", "int", 2, "word n-gram size"),
        Param("df-cap-frac", "float", 0.2, "drop terms in more than this share of docs"),
        _ID_COL, _TEXT_COL,
        Param("query-ids", "csv", doc="query doc ids (default: all docs)")),
       lambda f, df, a: f(
           df, k=a["k"], df_cap_frac=a["df-cap-frac"], ngram=a["ngram"],
           query_pred=F.col("query_id").isin([int(q) for q in a["query-ids"]])
           if a["query-ids"] else None,
           id_col=a["id-col"], text_col=a["text-col"]),
       "Sparse TF-IDF cosine top-k retrieval (operators/retrieval.py)."),
    Op("regression", "profiling:group_regression",
       (Param("x", doc="regressor column", required=True),
        Param("y", doc="response column", required=True), _BY),
       lambda f, df, a: f(df, a["x"], a["y"], a["by"]),
       "Closed-form per-group OLS of y on x (operators/profiling.py): (groups..., n,\n"
       "slope, intercept, r2); integer-encoded x/y make it partition-order independent."),
    Op("outliers", "profiling:zscore_outliers",
       (Param("col", doc="value column", required=True), _BY,
        Param("z", "float", 3.0, "z-score threshold")),
       lambda f, df, a: f(df, a["col"], a["by"], a["z"]),
       "Z-score outlier filter (operators/profiling.py): keeps rows with\n"
       "|value − μ_group| > z·σ_group and appends the ``z`` column."),
    Op("vocab-coverage", "profiling:vocab_coverage",
       (_TEXT_COL, Param("pct", "int", 95, "share of occurrences to cover")),
       lambda f, df, a: f(df, a["text-col"], a["pct"]),
       "Smallest frequency-ranked vocabulary covering pct% of token occurrences\n"
       "(operators/profiling.py): one row (vocab_size, covered_tokens, total_tokens)."),
    Op("novelty", "profiling:ngram_novelty",
       (_ID_COL, _TEXT_COL, Param("k", "int", 3, "shingle size")),
       lambda f, df, a: f(df, a["id-col"], a["text-col"], a["k"]),
       "Per-document first-occurrence k-gram novelty share (operators/profiling.py):\n"
       "(id, n_shingles, n_novel, novelty), the corpus-audit memorization signal."),
    Op("k-anon", "profiling:k_anonymity",
       (dataclasses.replace(_BY, doc="quasi-identifier columns", required=True),
        Param("k", "int", 5, "smallest allowed group")),
       lambda f, df, a: f(df, a["by"], a["k"]),
       "k-anonymity audit (operators/profiling.py): quasi-identifier groups with\n"
       "fewer than k members, the pre-release privacy check."),
    Op("payload-dedup", "multimodal:payload_dedup_groups",
       (_id_col("media_id"),
        Param("payload-col", default="payload", doc="binary payload column")),
       lambda f, df, a: f(df, a["id-col"], a["payload-col"]),
       "Content-addressable exact dedup groups over binary payloads\n"
       "(operators/multimodal.py): (digest, keep_id, group_size, n_bytes) per group;\n"
       "the shuffle carries digests, not payloads."),
    Op("chunk-dedup", "multimodal:chunk_dedup_stats",
       (Param("payload-col", default="payload", doc="binary payload column"),
        Param("chunk-bytes", "int", 256, "chunk size")),
       lambda f, df, a: f(df, a["payload-col"], a["chunk-bytes"]),
       "Fixed-size chunk dedup savings estimate over binary payloads\n"
       "(operators/multimodal.py): total/unique/dup chunks and the ratio."),
)

for _op in OPS:
    _factory = functools.partial(_op_transform, _op)
    _factory.__doc__ = _op.doc
    register_transform(_op.scheme, params=_op.params)(_factory)


@register_transform("identity")
def identity_transform(p: ParsedUri) -> TransformFn:
    """The input view, unchanged."""
    return lambda spark, df: df


@register_transform(
    "sql",
    params=(Param("query", doc="URL-encoded SQL (else the text after "
                  "sql://, verbatim)"),),
)
def sql_transform(p: ParsedUri) -> TransformFn:
    """``sql://<SQL>``: the SQL's result; the input view is also
    registered as ``input``."""
    # URI "path" carries URL-encoded SQL (reference TransformerParser.scala:24).
    # SQL rarely survives urlparse's netloc/path split, so use the full
    # percent-decoded text after 'sql://', never parsed as parameters.
    sql = p.args["query"] or p.rest
    sql = urllib.parse.unquote(sql) if "%" in sql else sql

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        return spark.sql(sql)

    return run


@register_transform("sql-file")
def sql_file_transform(p: ParsedUri) -> TransformFn:
    """``sql-file:///path.sql``: the result of the SQL in a file."""
    path = p.path

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        with open(path) as fh:
            return spark.sql(fh.read())

    return run


def _dedup_mode(a: Args) -> str:
    """``tier=substring`` without a mode means ``mode=substring``."""
    return a["mode"] or ("substring" if a["tier"] == "substring" else "exact")


_INCR = ("incremental",)
_SUBSTR = ("substring",)
_DEDUP_PARAMS = (
    Param("mode", "enum",
          doc="exact keeps one row per normalized text; the others emit "
          "candidate pairs or decisions (default exact)",
          choices=("exact", "minhash", "simhash", "jaccard", "semdedup",
                   "incremental", "substring"),
          select=_dedup_mode),
    Param("tier", "enum", "minhash",
          "incremental probe; substring without mode means mode=substring",
          choices=("minhash", "exact", "cosine", "substring"),
          modes=_INCR + _SUBSTR),
    dataclasses.replace(
        _TEXT_COL, modes=("exact", "minhash", "simhash", "jaccard",
                          "incremental", "substring"),
    ),
    dataclasses.replace(
        _ID_COL, default=None,
        doc="row id column (default doc_id; vec_id for semdedup, cosine)",
    ),
    dataclasses.replace(_VEC_COL, modes=("semdedup", "incremental")),
    Param("threshold", "float",
          doc="similarity cut (default 0.5; 0.95 semdedup; 0.3 cosine)",
          modes=("jaccard", "semdedup", "incremental")),
    Param("num-hashes", "int", 32, "minhash permutations",
          modes=("minhash", "incremental")),
    Param("bands", "int", doc="LSH bands (default 8; 4 for cosine)",
          modes=("minhash", "incremental")),
    Param("shingle-k", "int", 3, "incremental minhash shingle size",
          modes=_INCR),
    Param("hash-family", "enum", "fast", "incremental minhash hash family",
          choices=("fast", "oracle"), modes=_INCR),
    Param("clusters", "int", 16, "semdedup k-means cells",
          modes=("semdedup",)),
    Param("planes", "int", 16, "cosine LSH hyperplanes", modes=_INCR),
    Param("state", doc="incremental: probe rows of earlier batches "
          "(delta or parquet)", modes=_INCR),
    Param("first-batch", "bool", False, "a missing state is expected",
          modes=_INCR),
    Param("require-state", "bool", False, "a missing state is an error",
          modes=_INCR),
    Param("validate-ids", "bool", True,
          "check every state id < every batch id", modes=_INCR),
    Param("k", "int", 8, "substring: window tokens", modes=_SUBSTR),
    Param("key", "enum", "text", "substring: window keys",
          choices=("text", "hash"), modes=_SUBSTR),
    Param("max-df", "int", doc="substring: skip windows in more docs",
          modes=_SUBSTR),
    Param("min-span", "int", doc="substring: shortest span (default k+4)",
          modes=_SUBSTR),
    Param("emit", "enum", "spans", "substring output",
          choices=("spans", "decisions", "scrub"), modes=_SUBSTR),
)


@register_transform("dedup", params=_DEDUP_PARAMS)
def dedup_transform(p: ParsedUri) -> TransformFn:
    """Exact and near-duplicate detection (SURVEY.md §2d).

    ``exact`` keeps one row per normalized text; the other modes emit
    candidate near-dup pairs. ``mode=substring`` (alias
    ``tier=substring``) is the suffix-array-style tier — cross-doc
    shared spans of >= ``k`` tokens (operators/substring.py) — with
    ``emit=spans`` (maximal shared spans), ``emit=decisions`` (per-doc
    dup_of vs any earlier doc sharing >= ``min-span`` tokens), or
    ``emit=scrub`` (remove exactly the duplicated ranges, earliest
    occurrence kept); ``key=text|hash`` picks bit-exact window keys or
    the 8-byte-hash 100 TB shuffle with span-grain verification.
    """
    a = p.args
    mode = _dedup_mode(a)
    if mode == "incremental" and a["tier"] == "substring":
        raise ValueError("dedup://?mode=incremental: tier must be "
                         "minhash|exact|cosine, got 'substring'")
    text_col = a["text-col"]
    cosine = mode == "incremental" and a["tier"] == "cosine"
    id_col = a["id-col"] or (
        "vec_id" if mode == "semdedup" or cosine else "doc_id"
    )
    threshold = a["threshold"]
    if threshold is None:
        threshold = 0.95 if mode == "semdedup" else 0.3 if cosine else 0.5
    bands = (4 if cosine else 8) if a["bands"] is None else a["bands"]
    k = a["k"]
    min_span = k + 4 if a["min-span"] is None else a["min-span"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators import dedup as D

        if mode == "exact":
            return D.dedup_exact(df, text_col, id_col)
        if mode == "minhash":
            return D.minhash_lsh_pairs(
                df, text_col, id_col, num_hashes=a["num-hashes"], bands=bands
            )
        if mode == "jaccard":
            return D.shingle_pairs_jaccard(
                df, text_col, id_col, threshold=threshold
            )
        if mode == "simhash":
            return D.simhash(df, text_col, id_col)
        if mode == "semdedup":
            from spark_etl_cli_spark.operators.similarity import semantic_dedup

            return semantic_dedup(
                df, threshold=threshold, id_col=id_col, vec_col=a["vec-col"],
                n_clusters=a["clusters"],
            )
        if mode == "incremental":
            return _incremental_dedup_run(
                a, spark, df, text_col, id_col, threshold, bands
            )
        from spark_etl_cli_spark.operators import substring as S

        if a["emit"] == "spans":
            return S.substring_dup_spans(
                df, text_col, id_col, k=k, key=a["key"], max_df=a["max-df"]
            )
        emit = S.substring_dedup if a["emit"] == "decisions" else S.substring_scrub
        return emit(
            df, text_col, id_col,
            k=k, min_span=min_span, key=a["key"], max_df=a["max-df"],
        )

    return run


def _incremental_state(
    spark: SparkSession,
    path: str | None,
    *,
    first_batch: bool = False,
    require_state: bool = False,
):
    """Load a persisted dedup state table (delta preferred, plain
    parquet accepted); None when absent — the first batch.

    A ``state=`` that resolves to NOTHING is ambiguous: the genuine
    first batch of a loop looks identical to a typo'd path, and the
    latter silently dedups every batch only against itself. So when
    the path is set but absent this warns loudly by default,
    ``first_batch=True`` (URI: ``first-batch=true``) declares the
    miss expected and silences it, and ``require_state=True`` (URI:
    ``require-state=true``) escalates to ``ValueError`` for steady-
    state pipelines where the state table must already exist.
    """
    import os
    import warnings

    if not path:
        return None
    if os.path.isdir(os.path.join(path, "_delta_log")):
        from spark_etl_cli_spark.sources.delta_lite import read_delta_lite

        return read_delta_lite(spark, path)
    if os.path.exists(path):
        return spark.read.parquet(path)
    if require_state:
        raise ValueError(
            f"incremental dedup: require-state=true but state path "
            f"{path!r} resolves to no delta table or parquet file. "
            "Fix the path, or drop require-state for the first batch."
        )
    if not first_batch:
        warnings.warn(
            f"incremental dedup: state={path!r} resolves to NOTHING — "
            "treating this as the first batch (dedup against the batch "
            "alone). If this IS the first batch, pass first-batch=true "
            "to silence this; if not, the path is wrong and every "
            "survivor decision will ignore the existing corpus "
            "(require-state=true makes that an error).",
            stacklevel=2,
        )
    return None


def _incremental_dedup_run(
    a: Args, spark: SparkSession, df: DataFrame, text_col: str,
    id_col: str, threshold: float, bands: int,
) -> DataFrame:
    """``dedup://?mode=incremental&tier=minhash|exact|cosine&state=<path>``
    — the batch-vs-persisted-corpus loop (operators/dedup.py
    ``incremental_*`` family, examples/incremental_dedup.sh) as a
    pipeline surface. Output = the input rows + the decision columns
    (``dup_of`` NULL = survivor, plus ``est_jaccard``/``cosine_sim``)
    + the probe column (``signature``/``fp``) so ONE pipeline can sink
    survivors and append the state table:

        --transform "docs+dec+dedup://?mode=incremental&state=$STATE"
        --transform "dec+surv+sql://SELECT * FROM dec WHERE dup_of IS NULL"
        --transform "dec+sig+sql://SELECT doc_id AS id, signature FROM dec"
        --sink "surv+delta://$CORPUS?mode=append"
        --sink "sig+delta://$STATE?mode=append"

    ``state`` is a delta table (or plain parquet) of prior batches'
    probe rows; absent = first batch. Decisions equal a full recompute
    when batches arrive id-ordered and EVERY batch's probe rows are
    appended (tests/test_round9_queries.py pins the contract).

    Guardrails: the arrival-order contract (every state id < every
    batch id) is VALIDATED per batch — two single-column aggregations
    — and violations raise with the ``assign-ids://`` remedy
    (``validate-ids=false`` opts out). A ``state=`` that resolves to
    nothing warns loudly (first batch and typo'd path are otherwise
    indistinguishable); ``first-batch=true`` declares it expected,
    ``require-state=true`` makes it an error.
    """
    tier = a["tier"]
    state = _incremental_state(
        spark, a["state"],
        first_batch=a["first-batch"], require_state=a["require-state"],
    )
    from spark_etl_cli_spark.operators.dedup import check_monotone_ids

    if tier == "cosine":
        from spark_etl_cli_spark.operators.similarity import (
            incremental_cosine_dedup,
        )

        if a["validate-ids"]:
            check_monotone_ids(df, state, id_col=id_col)
        dec = incremental_cosine_dedup(
            df,
            state,
            threshold=threshold,
            id_col=id_col,
            vec_col=a["vec-col"],
            num_planes=a["planes"],
            bands=bands,
        )
        return df.join(dec.withColumnRenamed("id", id_col), id_col, "left")
    if a["validate-ids"]:
        check_monotone_ids(df.select(F.col(id_col).alias("id")), state)
    if tier == "exact":
        from spark_etl_cli_spark.functions.text import fingerprint
        from spark_etl_cli_spark.operators.dedup import (
            incremental_exact_dedup,
        )

        fps = df.select(
            F.col(id_col).alias("id"),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        dec = incremental_exact_dedup(fps, state)
        probe = fps.join(dec, "id").withColumnRenamed("id", id_col)
        return df.join(probe, id_col, "left")
    from spark_etl_cli_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        df,
        text_col,
        id_col,
        num_hashes=a["num-hashes"],
        shingle_k=a["shingle-k"],
        hash_family=a["hash-family"],
    )
    dec = incremental_minhash_dedup(
        sigs,
        state,
        num_hashes=a["num-hashes"],
        bands=bands,
        threshold=threshold,
    )
    probe = sigs.join(dec, "id").withColumnRenamed("id", id_col)
    # LEFT: rows with no shingles (empty text) still flow through,
    # as trivial survivors with NULL probe columns
    return df.join(probe, id_col, "left")


@register_transform(
    "decontaminate",
    params=(
        Param("n", "int", 8, "word n-gram / window size"),
        Param("min-shared", "int", 1, "ngram: shared n-grams that drop a doc",
              modes=("ngram",)),
        _ID_COL, _TEXT_COL,
        Param("pairs", "bool", False, "emit the collision report instead"),
        Param("mode", "enum", "ngram", "contamination rule",
              choices=("ngram", "substring"), select=lambda a: a["mode"]),
        Param("action", "enum", "drop", "substring: what to do",
              choices=("drop", "scrub", "spans"), modes=_SUBSTR),
        Param("key", "enum", "text", "substring: window keys",
              choices=("text", "hash"), modes=_SUBSTR),
        Param("min-span", "int", doc="substring: shortest span (default n+4)",
              modes=_SUBSTR),
    ),
)
def decontaminate_transform(p: ParsedUri) -> TransformFn:
    """``decontaminate://benchView``: the train/test contamination scrub.

    Drops input docs sharing >= ``min-shared`` word n-grams with any doc
    in the benchmark view (operators/retrieval.py). With ``pairs=true``
    it instead emits the (train_doc_id, bench_doc_id, n_shared)
    collision report for audit.

    ``mode=substring`` applies the GPT-3/PaLM-style SPAN rule instead
    (operators/substring.py): contamination = a verbatim >= ``n``-token
    window chain reaching ``min-span`` tokens; ``action=drop`` removes
    contaminated docs, ``action=scrub`` deletes exactly the
    contaminated ranges, ``action=spans`` emits the span report.
    """
    a = p.args
    bench_view, n = p.path_name, a["n"]
    id_col, text_col = a["id-col"], a["text-col"]
    min_span = n + 4 if a["min-span"] is None else a["min-span"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        bench = spark.table(bench_view)
        if a["mode"] == "substring":
            from spark_etl_cli_spark.operators.substring import (
                substring_contamination_spans,
                substring_decontaminate,
            )

            if a["action"] == "spans" or a["pairs"]:
                return substring_contamination_spans(
                    df, bench, text_col, id_col, k=n, key=a["key"]
                )
            return substring_decontaminate(
                df, bench, text_col, id_col,
                k=n, min_span=min_span, key=a["key"], action=a["action"],
            )
        from spark_etl_cli_spark.operators.retrieval import (
            contamination_pairs,
            decontaminate,
        )

        if a["pairs"]:
            return contamination_pairs(
                df, bench, n=n, id_col=id_col, text_col=text_col
            )
        return decontaminate(
            df, bench, n=n, min_shared=a["min-shared"],
            id_col=id_col, text_col=text_col,
        )

    return run


@register_transform("text-metrics", params=(_TEXT_COL,))
def text_metrics_transform(p: ParsedUri) -> TransformFn:
    """Append token_count, quality_score, lang_id, and fingerprint
    columns (all codegen'd)."""
    text_col = p.args["text-col"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.functions import text as X

        c = F.col(text_col)
        return df.withColumns(
            {
                "token_count": X.token_count(c),
                "quality_score": X.quality_score(c),
                "lang_id": X.lang_id(c),
                "fingerprint": X.fingerprint(c),
            }
        )

    return run


@register_transform(
    "similarity",
    params=(
        Param("k", "int", 10, "neighbours per query"),
        Param("mode", "enum", "brute", "exact scan or LSH candidates",
              choices=("brute", "lsh")),
        _id_col("vec_id"), _VEC_COL,
    ),
)
def similarity_transform(p: ParsedUri) -> TransformFn:
    """``similarity://queriesView``: top-k cosine neighbors of each row
    in the queries view against the input view as corpus."""
    queries_view, a = p.path_name, p.args

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators import similarity as S

        topk = S.brute_force_topk if a["mode"] == "brute" else S.lsh_topk
        return topk(
            df, spark.table(queries_view), a["k"], a["id-col"], a["vec-col"]
        )

    return run


@register_transform(
    "repartition",
    params=(Param("n", "int", doc="partition count"),
            dataclasses.replace(_BY, doc="hash-partition columns")),
)
def repartition_transform(p: ParsedUri) -> TransformFn:
    """Explicit data-layout control: hash-partition on columns
    (co-locates later joins/aggs on the same keys) and/or set the
    partition count."""
    n = p.args["n"]
    cols = p.args["by"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        by = [F.col(c) for c in cols]
        if n and by:
            return df.repartition(n, *by)
        if by:
            return df.repartition(*by)
        if n:
            return df.repartition(n)
        return df.repartition()

    return run


@register_transform("coalesce", params=(Param("n", "int", 1, "partitions"),))
def coalesce_transform(p: ParsedUri) -> TransformFn:
    """Shrink the partition count without a shuffle (output-file
    control)."""
    n = p.args["n"]
    return lambda spark, df: df.coalesce(n)


_STORAGE_LEVELS = tuple(
    name for name in dir(StorageLevel)
    if isinstance(getattr(StorageLevel, name), StorageLevel)
)


@register_transform(
    "cache",
    params=(Param("storage", "enum", "MEMORY_AND_DISK", "storage level",
                  choices=_STORAGE_LEVELS),),
)
def cache_transform(p: ParsedUri) -> TransformFn:
    """Persist a view consumed by multiple later transforms/sinks so it
    computes once."""
    level = getattr(StorageLevel, p.args["storage"])
    return lambda spark, df: df.persist(level)


@register_transform(
    "diff",
    params=(
        Param("id", "csv", doc="key columns"),
        Param("ignore", "csv", doc="columns left out of the comparison"),
        Param("handleDifferences", "enum",
              doc="filter: keep only differing rows; fail: raise on any",
              choices=("", "keep", "filter", "fail")),
    ),
)
def diff_transform(p: ParsedUri) -> TransformFn:
    """``diff://otherView``: compares the input view against another
    registered view (right side), like the reference
    (``DiffTransformerParser.scala:35``)."""
    other_view, a = p.path_name, p.args

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        right = spark.table(other_view)
        return apply_diff_handling(
            diff(df, right, a["id"], a["ignore"]), a["handleDifferences"]
        )

    return run


@register_transform(
    "components",
    params=(
        Param("src", default="id_a", doc="edge source column"),
        Param("dst", default="id_b", doc="edge destination column"),
        Param("max-iter", "int", 25, "iteration cap"),
        Param("algo", "enum", "minlabel", "propagation scheme",
              choices=("minlabel", "star")),
    ),
)
def components_transform(p: ParsedUri) -> TransformFn:
    """Connected components over an edge-list view.

    E.g. over the pair output of ``dedup://?mode=minhash``: emits (id,
    component) so dedup can keep one survivor per *group*, not just
    per pair. ``algo=minlabel`` converges in diameter-many 1-shuffle
    rounds — right for shallow dup clusters; ``algo=star``
    (large-star/small-star) takes O(log²) heavier rounds — right for
    deep or unknown-diameter graphs.
    """
    a = p.args

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators import dedup as D

        cc = (D.connected_components_star if a["algo"] == "star"
              else D.connected_components)
        return cc(df, a["src"], a["dst"], a["max-iter"])

    return run


@register_transform(
    "sample",
    params=(
        Param("rate", "int", 10, "percent of rows kept"),
        _ID_COL,
        Param("by", doc="stratum column"),
        Param("rates", "csv", doc="stratum:rate list (needs by)"),
    ),
)
def sample_transform(p: ParsedUri) -> TransformFn:
    """Deterministic hash sampling: keep rows whose md5-bucket (of the
    id column, mod 100) falls below the rate.

    Reproducible across runs, engines, and repartitioning — unlike
    Bernoulli ``df.sample``. Optional ``by``/``rates`` give per-stratum
    rates (fallback ``rate`` for unlisted strata).
    """
    a = p.args
    rate, id_col, by = a["rate"], a["id-col"], a["by"]
    rates = {
        stratum: int(r)
        for stratum, _, r in (kv.partition(":") for kv in a["rates"] if ":" in kv)
    }

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        bucket = (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 100
        )
        limit = F.lit(rate)
        if by and rates:
            for stratum, r in rates.items():
                limit = F.when(F.col(by) == stratum, F.lit(r)).otherwise(limit)
        return df.filter(bucket < limit)

    return run


@register_transform(
    "quality-filter",
    params=(
        _TEXT_COL,
        Param("min-tokens", "int", 5, "fewest tokens"),
        Param("max-tokens", "int", 1000, "most tokens"),
        Param("max-punct", "float", 0.3, "highest punctuation ratio"),
        Param("min-stopword", "float", 0.01, "lowest stopword ratio"),
    ),
)
def quality_filter_transform(p: ParsedUri) -> TransformFn:
    """Gopher/C4-style document gates (the filter twin of the q49
    funnel): keeps rows passing all thresholds; all gates codegen'd."""
    a = p.args

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.functions import text as X

        c = F.col(a["text-col"])
        return df.filter(
            X.token_count(c).between(a["min-tokens"], a["max-tokens"])
            & (X.punct_ratio(c) <= a["max-punct"])
            & (X.stopword_ratio(c) >= a["min-stopword"])
        )

    return run


@register_transform("pii-scrub", params=(_TEXT_COL,))
def pii_scrub_transform(p: ParsedUri) -> TransformFn:
    """Replace e-mail/phone patterns with [EMAIL]/[PHONE] markers in
    place."""
    text_col = p.args["text-col"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.plans.corpusops import _EMAIL_RE, _PHONE_RE

        scrubbed = F.regexp_replace(
            F.regexp_replace(F.col(text_col), _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        )
        return df.withColumn(text_col, scrubbed)

    return run


@register_transform(
    "sessionize",
    params=(
        Param("key", default="user_id", doc="session key column"),
        _TS_COL,
        Param("gap", "int", 600, "seconds of inactivity that end a session"),
        _ORDER,
    ),
)
def sessionize_transform(p: ParsedUri) -> TransformFn:
    """Gap-based batch sessionization: appends a ``session_id`` column
    (``<key>-<n>`` per key). One window shuffle on the key."""
    a = p.args
    key, ts_col, gap = a["key"], a["ts-col"], a["gap"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        ob = [F.col(ts_col), *[F.col(c) for c in a["order"]]]
        w = Window.partitionBy(key).orderBy(*ob)
        brk = F.when(
            F.lag(ts_col).over(w).isNull()
            | (
                F.col(ts_col).cast("long")
                >= F.lag(F.col(ts_col).cast("long")).over(w) + gap
            ),
            1,
        ).otherwise(0)
        grp = F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn(
            "session_id", F.concat_ws("-", F.col(key).cast("string"), grp)
        )

    return run


@register_transform(
    "expect",
    params=(
        Param("not-null", "csv", doc="columns that must not be NULL"),
        Param("unique", doc="column groups that must be unique: a,b;c"),
        Param("accepted", doc="allowed values: col:v1|v2;col2:..."),
        Param("positive", "csv", doc="columns that must be > 0"),
        Param("fk", doc="foreign keys: col->view.parent;..."),
        Param("mode", "enum", "audit", "fail raises on any violation",
              choices=("audit", "fail")),
    ),
)
def expect_transform(p: ParsedUri) -> TransformFn:
    """Declarative data-quality checks -> (check, violations) audit
    rows (operators/maintenance.py).

    ``mode=fail`` raises if any check has violations (the reference's
    diff ``handleDifferences=fail`` pattern,
    DiffTransformerParser.scala:47-60, applied to constraints).
    """
    a = p.args
    unique = [
        [c for c in group.split(",") if c]
        for group in (a["unique"] or "").split(";")
        if group
    ]
    accepted: dict[str, list[str]] = {}
    for spec in (a["accepted"] or "").split(";"):
        if spec and ":" in spec:
            col, vals = spec.split(":", 1)
            accepted[col] = vals.split("|")
    fks: list[tuple[str, str, str]] = []
    for spec in (a["fk"] or "").split(";"):
        if spec and "->" in spec:
            child, parent = spec.split("->", 1)
            view, pcol = parent.rsplit(".", 1)
            fks.append((child, view, pcol))

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.maintenance import expectations

        audit = expectations(
            df,
            not_null=a["not-null"],
            unique=unique,
            accepted=accepted,
            positive=a["positive"],
            foreign_keys=[(c, spark.table(v), pc) for c, v, pc in fks],
        )
        if a["mode"] == "fail":
            bad = audit.filter("violations > 0").collect()
            if bad:
                raise ValueError(
                    "expectations failed: "
                    + "; ".join(f"{r['check']}={r['violations']}" for r in bad)
                )
        return audit

    return run


@register_transform(
    "rebalance",
    params=(dataclasses.replace(_BY, doc="hash-distribute columns"),),
)
def rebalance_transform(p: ParsedUri) -> TransformFn:
    """AQE rebalance hint: the runtime splits oversized shuffle
    partitions and coalesces undersized ones toward
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``.

    The idiom for evenly sized output files without hand-picking a
    repartition count (and, unlike ``repartition(n)``, skew-safe: a
    hot key is split). Optional ``by`` columns hash-distribute before
    balancing.
    """
    by = p.args["by"]
    return lambda spark, df: df.hint("rebalance", *by)


@register_transform("watermark")
def watermark_transform(p: ParsedUri) -> TransformFn:
    """``watermark://col:duration`` (e.g. ``watermark://ts:30 minutes``):
    applies an event-time watermark mid-pipeline.

    Needed when the event-time column only becomes a TIMESTAMP after a
    transform (e.g. a cast from TIMESTAMP_NTZ or epoch), so the
    source-level ``?watermark=`` param can't be used.
    """
    spec = p.path_name

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.sources.base import apply_watermark

        return apply_watermark(df, spec)

    return run


@register_transform(
    "cap",
    params=(
        Param("by", doc="group column (or cap://<column>)"),
        Param("n", "int", 1000, "rows kept per group"),
        dataclasses.replace(
            _ORDER, doc="priority: col[:desc] list (default all columns)"
        ),
    ),
)
def cap_transform(p: ParsedUri) -> TransformFn:
    """Per-group row cap (operators/curation.py): keep at most ``n``
    rows per ``by`` group, in ``order`` priority.

    Pass a unique tie-breaker in ``order`` for reproducible
    survivorship. The per-domain document cap of corpus curation, as a
    URI stage.
    """
    by = p.args["by"] or p.path_name
    if not by:
        raise ValueError("cap:// needs ?by=<group column>")
    n = p.args["n"]
    order_spec = []
    for item in p.args["order"]:
        col, _, direction = item.partition(":")
        if direction.lower() not in ("", "asc", "desc"):
            raise ValueError(
                f"cap:// order direction must be asc|desc, got {direction!r}"
            )
        order_spec.append((col, direction.lower() == "desc"))

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.curation import cap_per_group

        order = [
            F.col(c).desc() if desc else F.col(c).asc()
            for c, desc in order_spec
        ]
        return cap_per_group(df, by, n, order or None)

    return run


@register_transform(
    "skew-profile",
    params=(Param("key", doc="join key column (or skew-profile://<column>)"),
            Param("top", "int", 10, "heaviest keys reported")),
)
def skew_profile_transform(p: ParsedUri) -> TransformFn:
    """Join-key skew profile (operators/curation.py): top-k heaviest
    keys with share-of-table and count/mean skew ratio — the pre-flight
    check that decides broadcast vs salting vs AQE skew-join
    handling."""
    key = p.args["key"] or p.path_name
    if not key:
        raise ValueError("skew-profile:// needs ?key=<column>")
    top = p.args["top"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.curation import key_skew_profile

        return key_skew_profile(df, key, top)

    return run


@register_transform(
    "bm25",
    params=(
        Param("k1", "float", 1.2, "term-frequency saturation"),
        Param("b", "float", 0.75, "length normalization"),
        _ID_COL, _TEXT_COL,
        Param("top-k", "int", doc="keep the best k (ties by id)"),
    ),
)
def bm25_transform(p: ParsedUri) -> TransformFn:
    """``bm25://term1,term2,...``: BM25 relevance of every doc against a
    fixed query-term bag (operators/retrieval.py); ``top-k`` keeps the
    best k with a deterministic id tie-break."""
    terms = [t for t in p.path_name.split(",") if t]
    if not terms:
        raise ValueError("bm25:// needs at least one query term")
    a = p.args

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.retrieval import bm25_scores

        scored = bm25_scores(
            df, terms, k1=a["k1"], b=a["b"], id_col=a["id-col"],
            text_col=a["text-col"],
        )
        if a["top-k"]:
            scored = scored.orderBy(
                F.col("score").desc(), F.col(a["id-col"])
            ).limit(a["top-k"])
        return scored

    return run


@register_transform(
    "histogram",
    params=(
        Param("col", doc="value column", required=True),
        Param("lo", "float", 0.0, "lower edge of bucket 0"),
        Param("width", "float", 1.0, "bucket width (> 0)"),
        Param("buckets", "int", 20, "bucket count (>= 1)"),
    ),
)
def histogram_transform(p: ParsedUri) -> TransformFn:
    """Equi-width histogram (operators/profiling.py): (bucket, lo, hi,
    n_rows), clamped to [0, buckets); one scan + one tiny groupBy."""
    a = p.args
    if a["width"] <= 0:
        raise ValueError("histogram:// needs width > 0, got %r" % a["width"])
    if a["buckets"] < 1:
        raise ValueError(
            "histogram:// needs buckets >= 1, got %r" % a["buckets"]
        )

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.profiling import equi_width_histogram

        return equi_width_histogram(
            df, a["col"], a["lo"], a["width"], a["buckets"]
        )

    return run


@register_transform(
    "bpe-train",
    params=(
        Param("merges", "int", 20, "merges to learn (>= 1)"),
        _TEXT_COL,
        Param("max-word-len", "int", 32, "longer words are skipped"),
    ),
)
def bpe_train_transform(p: ParsedUri) -> TransformFn:
    """Learn a BPE merge table from the input corpus
    (operators/encoding.py): (merge_rank, left, right, merged,
    pair_count), one row per merge in application order — feed it to a
    tokenizer, or join against ``encode://`` pipelines."""
    a = p.args
    if a["merges"] < 1:
        raise ValueError("bpe-train:// needs merges >= 1")

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.encoding import bpe_train

        return bpe_train(df, a["merges"], a["text-col"], a["max-word-len"])

    return run


@register_transform(
    "media",
    params=(
        _id_col("media_id"),
        Param("kind", default="image", doc="media kind"),
        Param("payload-col", default="payload", doc="binary payload column"),
    ),
)
def media_transform(p: ParsedUri) -> TransformFn:
    """Normalize any frame (e.g. a ``binaryfile://`` read) into the
    media schema (media_id, kind, payload, meta).

    Non-numeric id columns (file paths) are hashed to a stable 64-bit
    media_id.
    """
    a = p.args
    id_col = a["id-col"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators.multimodal import (
            attach_binary_payload,
        )

        dtype = dict(df.dtypes).get(id_col)
        if dtype not in ("bigint", "int", "long", "smallint", "tinyint"):
            df = df.withColumn("__media_id", F.xxhash64(F.col(id_col)))
            return attach_binary_payload(
                df, "__media_id", a["kind"], a["payload-col"]
            )
        return attach_binary_payload(df, id_col, a["kind"], a["payload-col"])

    return run


@register_transform(
    "media-features",
    params=(
        Param("op", "enum", "image", "feature extractor",
              choices=("image", "audio", "frames", "resize"),
              select=lambda a: a["op"]),
        Param("fake", "bool", True, "digest-derived stub instead of codecs"),
        Param("every-n", "int", 10, "frames: keep every n-th frame",
              modes=("frames",)),
        Param("width", "int", 64, "resize: width", modes=("resize",)),
        Param("height", "int", 64, "resize: height", modes=("resize",)),
    ),
)
def media_features_transform(p: ParsedUri) -> TransformFn:
    """Arrow-batched feature extraction over a media view
    (operators/multimodal.py).

    Real codecs need PIL/ffmpeg/librosa; ``fake=true`` (default here —
    the container has no codecs) runs the deterministic digest-derived
    stub so the batch plumbing is exercised for real.
    """
    a = p.args
    op, fake = a["op"], a["fake"]

    def run(spark: SparkSession, df: DataFrame) -> DataFrame:
        from spark_etl_cli_spark.operators import multimodal as mm

        if op == "image":
            return mm.decode_image_features(df, fake=fake)
        if op == "audio":
            return mm.decode_audio_features(df, fake=fake)
        if op == "frames":
            return mm.sample_frames(df, every_n=a["every-n"], fake=fake)
        return mm.resize_images(df, a["width"], a["height"], fake=fake)

    return run
