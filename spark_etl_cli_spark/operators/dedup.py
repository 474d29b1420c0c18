"""Deduplication operators for training-data pipelines.

Five strategies, each with an explicit scale story (the point of this
module — these run over 100 TB document corpora):

- **exact** — md5-of-normalized-text → groupBy hash. One shuffle on the
  hash; map-side partial agg makes the reduce side tiny.
- **ngram-jaccard** — distinct word shingles → self-join on shingle →
  Jaccard from co-occurrence counts. The shingle join is the standard
  inverted-index trick: cost ~ sum over shingles of df², bounded by
  frequency-capping hot shingles (``max_shingle_freq``) the way common
  tokens are dropped from inverted indexes.
- **minhash-LSH** — k independent min-hashes (xxhash64 with per-index
  salt), banded; candidate pairs = equi-join on (band, band-signature).
  Linear in corpus size, the at-scale default.
- **simhash** — 64-bit bit-vote fingerprint from token hashes; near-dups
  bucket by fingerprint bands.
- **embedding cosine** — see operators/similarity.py.

All built-in-function compositions — no Python UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.text import fingerprint
from spark_etl_cli_spark.functions.text import md5_long as _MD5_LONG
from spark_etl_cli_spark.functions.text import md5_long28 as _MD5_LONG28
from spark_etl_cli_spark.operators.arrowtext import (
    with_shingle_md5_longs,
    with_word_shingles,
)
from spark_etl_cli_spark.operators.util import fan_out


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per exact (normalized) text; survivor = min id.

    Returns the deduplicated rows. Aggregating on the md5 fingerprint
    instead of the full text keeps shuffle payloads at 32 bytes/row.
    """
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        with_fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fingerprint → (survivor id, group size); one hash-agg shuffle."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("id")
        )
        .groupBy("fp")
        .agg(
            F.min("id").cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("group_size"),
        )
    )


def bucket_pairs(
    entries: DataFrame,
    *bucket_cols: str,
    max_bucket_size: int | None = None,
    keep_buckets: bool = False,
) -> DataFrame:
    """(bucket..., e: struct) → all within-bucket pairs (a, b), a < b.

    The inverted-index pair-generation primitive shared by every
    candidate-pair operator here. One shuffle: groupBy the bucket key,
    ``collect_list`` the (sorted) posting list, then generate the
    C(n, 2) combinations *inside the row* with nested ``transform`` —
    instead of a self-equi-join, which shuffles the posting entries
    twice and (worse) executes the whole upstream subtree — shingling,
    hashing — once per join side. Output cardinality is identical to
    the join's; the upstream runs exactly once.

    Entries must be distinct within a bucket; ``a < b`` comes from
    sorting the posting list (struct comparison: first field = id).
    ``keep_buckets`` carries the bucket key columns on each pair row —
    callers whose entries collide in several buckets use it to keep a
    pair only in its first matching bucket instead of deduplicating
    through another exchange.
    """
    grouped = entries.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list("e")).alias("ids")
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    keep = list(bucket_cols) if keep_buckets else []
    # Pair generation is TWO codegen'd Generates (posexplode the list,
    # then explode each element's tail slice) rather than one
    # interpreted nested-transform fold: higher-order-function bodies
    # never compile, so the fold paid an interpreter dispatch per
    # element-pair on the hottest path every banded operator shares
    # (steady-state q184 3.2 -> 2.7 s from this change alone). Same
    # pairs, same (a, b) order: position i pairs with every later
    # element of the sorted posting list.
    return (
        grouped.filter(F.size("ids") >= 2)
        .select(*keep, "ids", F.posexplode("ids").alias("__i", "a"))
        .select(
            *keep,
            "a",
            F.explode(
                F.expr("slice(ids, __i + 2, size(ids))")
            ).alias("b"),
        )
    )


def shingle_pairs_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    shingles_col: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs by exact Jaccard over k-word shingles.

    Emits (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Plan shape: explode distinct shingles carrying (id, set size) →
    groupBy shingle into a posting list (ONE shuffle of the entries;
    the shingling subtree executes once, vs. 4x for the naive
    freq-join + self-join formulation) → hot-shingle cap (posting lists
    longer than ``max_shingle_freq`` are dropped whole — stop-word
    shingles contribute little to Jaccard but dominate pair cost) →
    in-row pair combinations → count agg per pair. Because each posting
    entry carries its document's shingle-set size, Jaccard needs no
    join back to a sizes table.

    At extreme corpus scale the collect-then-drop cap can be replaced
    by a pre-pass that broadcasts the (tiny) set of over-frequent
    shingles and anti-joins them out before collecting; same semantics,
    one extra count shuffle.

    ``shingles_col`` names an ALREADY-SHINGLED array column (the
    ``word_shingles(text, k)`` distinct set) — callers that feed the
    same corpus to several shingle-keyed operators (q184 runs this AND
    the LSH plan) materialize the shingle pass once and skip the
    per-operator tokenize + fan_out here.
    """
    if shingles_col is not None:
        shingled = df.select(
            F.col(id_col).alias("id"),
            F.col(shingles_col).alias("shingles"),
        )
    else:
        shingled = with_word_shingles(
            fan_out(df),
            text_col,
            k,
            keep=[F.col(id_col).alias("id")],
        )
    entries = shingled.select(
        F.explode("shingles").alias("shingle"),
        F.struct(
            F.col("id"), F.size("shingles").cast("bigint").alias("n")
        ).alias("e"),
    )
    pairs = bucket_pairs(entries, "shingle", max_bucket_size=max_shingle_freq)
    co = pairs.groupBy(
        F.col("a.id").alias("id_a"),
        F.col("a.n").alias("n_a"),
        F.col("b.id").alias("id_b"),
        F.col("b.n").alias("n_b"),
    ).agg(F.count("*").cast("bigint").alias("inter"))
    return (
        co.select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    hash_fn=None,
    base_hash=None,
    hash_family: str | None = None,
    shingles_col: str | None = None,
) -> DataFrame:
    """(id, array<long> minhash signature): explode + codegen min-aggs.
    ``shingles_col`` — see :func:`shingle_pairs_jaccard`: skip the
    tokenize + fan_out and explode a pre-shingled array column.

    ``hash_family`` is the one-line production switch SCALE.md
    promises: ``'oracle'`` = md5-prefix base (DuckDB-replayable, the
    correctness default in the paired queries), ``'fast'`` = xxhash64
    base (the at-scale choice). Both route through the affine family —
    one base hash per shingle. Overrides hash_fn/base_hash.

    Each of the ``num_hashes`` functions is ``xxhash64(shingle, salt_i)``;
    the signature component is the min over the document's shingles.
    Shape: explode distinct shingles → ``num_hashes`` scalar hash
    columns → ``groupBy(id)`` with ``num_hashes`` ``min`` aggregates →
    assemble the array. Every hash and min runs inside whole-stage
    codegen (HashAggregateExec on long mins), and map-side partial
    aggregation collapses the exchange to ~one 32-long partial row per
    (doc, partition) — the shuffle carries signatures, not shingles.

    A previous formulation kept everything per-row with nested
    higher-order functions (``transform(sequence(..), i ->
    aggregate(sh, ..))``) to avoid the exchange entirely — but Spark
    evaluates HOF lambdas interpreted, per element: at 32 hashes x ~100
    shingles it measured 3.6s (xxhash) / 8.2s (md5 base) for 5k docs
    on local[32], vs ~0.5s for this shape. The interpreted-eval tax
    scales with the data; the partial-agg exchange does not.

    ``hash_fn(shingle, salt)`` defaults to ``xxhash64`` (the at-scale
    choice); pass :func:`~spark_etl_cli_spark.functions.text.md5_long`
    to get signatures an ANSI-SQL oracle can replay exactly.

    ``base_hash(shingle) -> long`` switches to the affine family
    ``h_i = (a_i * base + b_i) mod p``
    (:func:`~spark_etl_cli_spark.functions.text.affine_minhash_constants`):
    ONE base hash per shingle plus ``num_hashes`` multiply-add-mods,
    instead of ``num_hashes`` full hashes per shingle. With an
    oracle-replicable base (``md5_long28``) this keeps the SQL-twin
    property — cryptographic-hash count no longer scales with
    signature width. Takes precedence over ``hash_fn``.
    """
    if hash_family is not None:
        from spark_etl_cli_spark.functions.text import MINHASH_P, md5_long28

        if hash_family == "oracle":
            base_hash = md5_long28
        elif hash_family == "fast":
            # reduce the full-range xxhash64 below p so a_i * base
            # stays inside a long (a_i < p ~ 2^31; md5_long28's 28-bit
            # range gave this for free)
            def base_hash(c):
                return F.pmod(F.xxhash64(c), F.lit(MINHASH_P))
        else:
            raise ValueError(
                f"hash_family must be 'oracle'|'fast', got {hash_family!r}"
            )
    if hash_fn is None:
        hash_fn = F.xxhash64
    fused_md5 = shingles_col is None and base_hash is _MD5_LONG28
    if fused_md5:
        exploded = None  # the fused Arrow stage below replaces it
    elif shingles_col is not None:
        exploded = df.select(
            F.col(id_col).alias("id"),
            F.explode(F.col(shingles_col)).alias("s"),
        )
    else:
        exploded = with_word_shingles(
            fan_out(df),
            text_col,
            shingle_k,
            keep=[F.col(id_col).alias("id")],
        ).select("id", F.explode("shingles").alias("s"))
    if base_hash is not None:
        from spark_etl_cli_spark.functions.text import affine_minhash_constants

        ca, cb, p = affine_minhash_constants(num_hashes)
        mod = F.lit(p).cast("long")
        if fused_md5:
            # oracle family fast path: shingle + 28-bit md5 base fused
            # in ONE Arrow stage (guide §4.2) — 8 bytes/shingle cross
            # the boundary instead of the shingle string, and the
            # per-shingle md5 runs in OpenSSL instead of one codegen'd
            # md5+conv per exploded row. Bit-identical hashes (md5 of
            # the same UTF-8 bytes), pinned by the q36/q200 oracles.
            hashed = with_shingle_md5_longs(
                fan_out(df),
                text_col,
                shingle_k,
                hex_chars=7,
                keep=[F.col(id_col).alias("id")],
            ).select("id", F.explode("hs").alias("h"))
        else:
            hashed = exploded.select("id", base_hash(F.col("s")).alias("h"))
        mins = [
            F.min(
                (F.lit(int(ca[i])) * F.col("h") + F.lit(int(cb[i]))) % mod
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    else:
        hashed = exploded
        mins = [
            F.min(hash_fn(F.col("s"), F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    return (
        hashed.groupBy("id")
        .agg(*mins)
        .select(
            "id",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias(
                "signature"
            ),
        )
    )


def minhash_band_entries(
    sigs: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(id, signature) → one ``(band, bucket, e{id, signature})`` row
    per band: the LSH posting entries every banded operator keys on.
    Pure per-row arithmetic on the stored signature (an in-row explode
    of ``bands`` structs — no shuffle, no re-shingling), which is what
    makes signatures worth PERSISTING: a probe against a signature
    table re-derives its band keys map-side from 32 stored longs
    instead of re-hashing the corpus text."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("signature")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
        F.struct("id", "signature").alias("e"),
    ).select("bb.band", "bb.bucket", "e")


def sig_agreement(a_sig, b_sig, num_hashes: int):
    """Estimated Jaccard = fraction of agreeing signature components
    (in-row ``zip_with``; no join back to the text)."""
    return (
        F.size(
            F.filter(
                F.zip_with(a_sig, b_sig, lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )


def check_monotone_ids(
    batch: DataFrame, state: DataFrame | None, id_col: str = "id"
) -> None:
    """Validate the arrival-order contract every ``incremental_*``
    operator depends on: EVERY state id must precede every batch id
    (``max(state.id) < min(batch.id)``), because the neighbor rule
    treats "smaller id" as "arrived earlier". Violating it silently
    flips survivor decisions — a state doc with a LARGER id than a
    batch doc would still be treated as its predecessor.

    Runs two single-row aggregations (eager, id column only — a
    metadata-sized scan even against a 100 TB state table since the
    probe prunes to one column) and raises ``ValueError`` with the
    ``assign-ids://`` remedy on violation. The dedup transform layer
    calls this by default (``validate-ids=false`` to opt out).
    """
    if state is None:
        return
    hi = state.agg(F.max(F.col(id_col)).alias("m")).head()["m"]
    lo = batch.agg(F.min(F.col(id_col)).alias("m")).head()["m"]
    if hi is None or lo is None:
        return  # empty side: contract trivially holds
    if hi >= lo:
        raise ValueError(
            "incremental dedup: monotone-id contract violated — "
            f"max(state.{id_col}) = {hi!r} >= min(batch.{id_col}) = "
            f"{lo!r}. Batch ids must sort after all state ids (arrival "
            "order == id order). Re-key the pipeline with monotone ids "
            "(assign-ids:// emits them) or dedup out of order at your "
            "own risk with validate-ids=false."
        )


def incremental_minhash_dedup(
    batch_sigs: DataFrame,
    state_sigs: DataFrame | None,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against the EXISTING corpus without
    recomputing the corpus: probe the batch's LSH bands against a
    PERSISTED signature table (``state_sigs``: ``(id, signature)``,
    e.g. a delta table the pipeline appends each round's signatures
    to) plus the batch's own smaller ids.

    Returns one decision row per batch doc:
    ``(id, dup_of, est_jaccard)`` — ``dup_of`` NULL means survivor,
    else the smallest-id near-duplicate neighbor (band collision and
    signature agreement >= ``threshold``) with that pair's agreement.
    A neighbor qualifies when it is ANY state doc (state precedes the
    batch by arrival, whatever its id) or a smaller-id batch doc.

    **Equivalence contract** (pytest + examples/incremental_dedup.sh
    pin it): with the monotone rule "a doc is a duplicate iff SOME
    smaller-id doc collides above threshold", processing a corpus in
    id-ordered batches — appending EVERY batch's signatures to the
    state, survivors and duplicates alike (32 longs/doc; duplicate
    signatures must stay probeable or transitive near-dup chains
    re-enter through a deleted middle doc) — yields decisions
    IDENTICAL to one full recompute over the whole corpus. Batch ids
    must therefore sort after state ids (monotone doc ids are the
    pipeline's contract; use assign-ids:// otherwise).

    100 TB shape: the state is only SCANNED, never shuffled — its
    band keys re-derive map-side from the stored signature
    (:func:`minhash_band_entries`) and the join BROADCASTS the
    batch's entries, so shuffle traffic is batch-sized regardless of
    corpus size. Candidate filtering happens in-row on the carried
    signatures; the only aggregation is per-batch-doc min over its
    matches (batch-sized).
    """
    rows_per_band = num_hashes // bands
    # referenced by the probe broadcast AND the union leg: materialize
    # the (batch-sized) banded entries once
    batch_entries = minhash_band_entries(
        batch_sigs, num_hashes, bands
    ).localCheckpoint()
    probe = F.broadcast(
        batch_entries.select(
            "band", "bucket", F.col("e").alias("b")
        )
    )
    # exact sub-signature equality confirm after the 64-bit bucket
    # join — the same rule minhash_lsh_pairs applies and the oracle
    # encodes, so a 2^-64 xxhash bucket collision between unequal
    # bands cannot admit a spurious candidate (slice start is a
    # column because `band` varies per row)
    band_agrees = F.slice(
        F.col("a.signature"),
        F.col("band") * rows_per_band + 1,
        rows_per_band,
    ) == F.slice(
        F.col("b.signature"),
        F.col("band") * rows_per_band + 1,
        rows_per_band,
    )
    # ONE probe join over the UNION of both sides (state rows flagged
    # ``__st``) instead of a join per side: identical hit set (union
    # distributes over the join), one fewer join + broadcast reuse in
    # a single stage — the state leg remains a pure scan.
    ent = batch_entries.select(
        "band", "bucket", F.col("e").alias("a"), F.lit(False).alias("__st")
    )
    if state_sigs is not None:
        ent = ent.unionByName(
            minhash_band_entries(state_sigs, num_hashes, bands).select(
                "band",
                "bucket",
                F.col("e").alias("a"),
                F.lit(True).alias("__st"),
            )
        )
    cand = (
        ent.join(probe, ["band", "bucket"])
        .filter(band_agrees)
        # batch-internal neighbors need a.id < b.id; EVERY state doc
        # precedes the batch by arrival (ids disjoint by the pipeline
        # contract), so the state side takes no id gate
        .filter(F.col("__st") | (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("b.id").alias("id"),
            F.col("a.id").alias("nid"),
            sig_agreement(
                F.col("a.signature"),
                F.col("b.signature"),
                num_hashes,
            ).alias("est"),
        )
    )
    matches = (
        cand.filter(F.col("est") >= F.lit(threshold))
        .groupBy("id")
        .agg(F.min(F.struct("nid", "est")).alias("m"))
    )
    return (
        batch_sigs.select("id")
        .join(matches, "id", "left")
        .select(
            "id",
            F.col("m.nid").alias("dup_of"),
            F.col("m.est").alias("est_jaccard"),
        )
    )


def incremental_exact_dedup(
    batch_fps: DataFrame, state_fps: DataFrame | None
) -> DataFrame:
    """The EXACT tier of the incremental loop: dedup a new batch's
    fingerprints (``(id, fp)``, e.g. :func:`fingerprint` md5s) against
    a persisted fingerprint table plus the batch's own smaller ids.
    Returns ``(id, dup_of)`` per batch row — NULL dup_of = survivor,
    else the smallest matching id.

    Same 100 TB shape as :func:`incremental_minhash_dedup`: the state
    is scanned, never shuffled — the equi-join on ``fp`` broadcasts
    the batch side, and the only aggregation is per-batch-id min
    (batch-sized). 32 bytes/row of state, no text rereads.
    """
    probe = F.broadcast(
        batch_fps.select("fp", F.col("id").alias("bid"))
    )
    sides = [batch_fps]
    if state_fps is not None:
        sides.append(state_fps)
    cand = None
    for i, side in enumerate(sides):
        hits = (
            side.select("fp", F.col("id").alias("nid"))
            .join(probe, "fp")
            .filter(F.lit(i == 1) | (F.col("nid") < F.col("bid")))
            .select(F.col("bid").alias("id"), "nid")
        )
        cand = hits if cand is None else cand.unionByName(hits)
    matches = cand.groupBy("id").agg(F.min("nid").alias("dup_of"))
    return batch_fps.select("id").join(matches, "id", "left")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hash_fn=None,
    base_hash=None,
    hash_family: str | None = None,
    shingles_col: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.
    ``hash_family='oracle'|'fast'`` and ``shingles_col`` — see
    :func:`minhash_signatures`.

    rows-per-band = num_hashes/bands; two docs collide when any band's
    sub-signature matches exactly. Bucket key is (band_idx, band_hash)
    so the shuffle is uniformly spread across bands; no quadratic
    blowup outside genuinely-identical buckets. Pair generation is
    :func:`bucket_pairs` (posting-list combinations), so the signature
    computation — shingling + k hashes per doc — executes exactly once,
    not once per self-join side. Posting entries carry the signature,
    so the agreement-rate estimate needs no join back. Returns distinct
    (id_a, id_b), id_a < id_b, plus estimated jaccard (signature
    agreement rate).

    A pair agreeing on several band sub-signatures surfaces once per
    band; it is kept only where the carried signatures' FIRST agreeing
    band equals the pair's band — sub-signature slice comparisons on
    data already in the row — so no (id_a, id_b) dedup exchange runs.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k,
        hash_fn=hash_fn, base_hash=base_hash, hash_family=hash_family,
        shingles_col=shingles_col,
    )
    entries = minhash_band_entries(sigs, num_hashes, bands)

    def band_agrees(bb):
        return F.slice(F.col("a.signature"), bb * rows_per_band + 1, rows_per_band) == F.slice(
            F.col("b.signature"), bb * rows_per_band + 1, rows_per_band
        )

    first_band = (
        F.array_position(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bb: band_agrees(bb),
            ),
            True,
        )
        - 1
    )
    return (
        bucket_pairs(entries, "band", "bucket", keep_buckets=True)
        .filter(first_band == F.col("band"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("a.signature"),
                            F.col("b.signature"),
                            lambda x, y: (x == y).cast("int"),
                        ),
                        lambda v: v == 1,
                    )
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns ``(id, component)`` for every vertex appearing in
    ``edges``, with ``component`` = the minimum vertex id reachable.
    This is the clustering step of near-duplicate removal: LSH/Jaccard
    emits candidate *pairs*; components turn pairs into dup *groups*
    so one survivor per group can be kept.

    Algorithm: iterative minimum-label propagation. Each round every
    vertex takes ``min(own label, min over neighbors' labels)`` — one
    shuffle join + one aggregation per round — until no label changes.
    Rounds needed = graph diameter; near-dup graphs are shallow (dup
    clusters are dense), so this converges in a handful of rounds. For
    adversarially deep graphs the drop-in scale upgrade is alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), whose per-round join shape is identical
    but converges in O(log n) rounds.

    The driver loop is control plane only (one ``count()`` per round
    for the convergence test); all data stays distributed.
    ``localCheckpoint`` truncates lineage each round so plan size and
    task serialization stay O(1) in the iteration count.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # init: comp = min(self, direct neighbors) — saves one full round
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(F.col("a").alias("id"), F.least("a", "mb").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("bcomp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("bcomp").alias("nmin"))
            .select(F.col("a").alias("id"), "nmin")
        )
        # carry an "improved" flag out of the same join so the
        # convergence test is a filter over the (already materialized)
        # checkpoint, not another join against the previous labels
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least("comp", F.coalesce("nmin", "comp")).alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("improved"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("improved").count()
        labels = new_labels.drop("improved")
        if changed == 0:
            break
    return labels.select("id", F.col("comp").alias("component"))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_k: int = 3,
    hash_fn=None,
    hash_family: str | None = None,
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    ``hash_family='oracle'`` (md5-prefix, DuckDB-replayable — the
    paired-query default) | ``'fast'`` (xxhash64, the at-scale choice;
    benched ≥2x faster on the q37 shape since the 64 bit-votes stop
    paying a cryptographic hash per shingle). Overrides ``hash_fn``.

    Classic bit-vote: each distinct feature hashes to 64 bits; each bit
    position accumulates +1/-1 votes across features; the fingerprint
    bit is 1 where the vote is positive.

    Features are distinct ``shingle_k``-word shingles (``shingle_k=1``
    degrades to distinct unigrams). Unigram features are DEGENERATE for
    near-dup detection on same-domain corpora: documents drawn from one
    vocabulary distribution share most of their distinct-token sets, so
    unrelated docs land at hamming distance 0 (measured on the 5k-doc
    synthetic corpus: hamming(random pair) had mode 0). Shingles carry
    word order, which is what actually separates "same topic" from
    "same text" — the same reason the reference-era web dedup papers
    (Charikar simhash as deployed in Manku et al., WWW'07) hash
    shingles, not bags of words.

    Shape: the whole fingerprint is a PER-DOCUMENT property, so it is
    computed per row — shingle hashes stay an in-row array (hashing is
    JVM built-ins) and the ``bits`` bit-votes + majority + packing run
    in ONE ``mapInArrow`` stage on numpy int64 batches (guide §4.2:
    hand whole batches to vectorized native code). No explode, no
    exchange, no wide aggregate anywhere: the plan is scan →
    project(hash array) → ArrowEval, embarrassingly parallel at any
    corpus size. Only ``(id, hashes)`` crosses the Python boundary —
    never the text.

    Two prior formulations, both measured slower at sf0.1:
    per-bit HOF folds over the hash array (interpreted lambda per
    element: ~11 s), and explode + ``groupBy(id)`` with 64
    conditional-sum vote counters (the 65-aggregate HashAggregate +
    its exchange: ~3 s of the q37/q153 runtime; this shape ~1 s).
    Integer votes, integer majorities, and two's-complement packing
    (bit 63 wraps to Long.MIN_VALUE via the uint64→int64 view) make
    the fingerprints bit-identical across all three formulations —
    pinned by the q37 DuckDB oracle.
    """
    if hash_family is not None:
        from spark_etl_cli_spark.functions.text import md5_long

        if hash_family == "oracle":
            hash_fn = md5_long
        elif hash_family == "fast":
            hash_fn = F.xxhash64
        else:
            raise ValueError(
                f"hash_family must be 'oracle'|'fast', got {hash_family!r}"
            )
    if hash_fn is None:
        hash_fn = F.xxhash64
    id_type = df.schema[id_col].dataType.simpleString()
    if hash_fn is _MD5_LONG:
        # oracle family fast path: shingle + 60-bit md5 hash fused in
        # ONE Arrow stage — the per-shingle md5+conv otherwise runs
        # INTERPRETED inside the transform lambda, and the shingle
        # strings would cross the boundary just to be hashed. 8
        # bytes/shingle, OpenSSL md5, bit-identical values (pinned by
        # the q37 oracle).
        shingled = with_shingle_md5_longs(
            fan_out(df),
            text_col,
            shingle_k,
            hex_chars=15,
            keep=[F.col(id_col).alias("id")],
            out_col="hs",
        )
    else:
        shingled = with_word_shingles(
            fan_out(df),
            text_col,
            shingle_k,
            keep=[F.col(id_col).alias("id")],
        ).select(
            "id",
            F.transform("shingles", lambda s: hash_fn(s)).alias("hs"),
        )
    # feature-less docs emit no fingerprint (the explode-based
    # formulations' contract, preserved)
    hashed = shingled.filter(F.size("hs") > 0)
    n_bits = bits

    def _fingerprint_batches(it):
        import numpy as np
        import pyarrow as pa

        shifts = np.arange(n_bits, dtype=np.uint64)
        for batch in it:
            if batch.num_rows == 0:
                continue
            hs = batch.column(1)
            vals = hs.values.to_numpy(zero_copy_only=False).view(np.uint64)
            offs = hs.offsets.to_numpy()
            out = np.empty(batch.num_rows, dtype=np.uint64)
            for r in range(batch.num_rows):
                h = vals[offs[r] : offs[r + 1]]
                # vote per bit position, exact integer counts
                votes = ((h[:, None] >> shifts) & 1).sum(
                    0, dtype=np.int64
                )
                maj = (votes * 2 > h.shape[0]).astype(np.uint64)
                out[r] = (maj << shifts).sum(dtype=np.uint64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(out.view(np.int64))],
                ["id", "simhash"],
            )

    return hashed.mapInArrow(
        _fingerprint_batches, f"id {id_type}, simhash long"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the deep-graph counterpart of
    :func:`connected_components`.

    Min-label propagation needs diameter-many rounds: a 10k-hop chain
    (pathological for dedup, normal for lineage/link graphs) means 10k
    shuffles. The star operations contract toward each component's
    minimum in O(log²) rounds:

    - **large-star** (per node u): connect every strictly-larger
      neighbor to u's smallest neighbor-or-self;
    - **small-star** (per node u over smaller-or-equal neighbors):
      connect them all to the smallest.

    Each round is a groupBy + join (two shuffles) over the current edge
    set, which only shrinks; ``localCheckpoint`` keeps lineage O(1).
    Convergence = the oriented edge set's (count, order-insensitive
    hash-sum) fixpoint — one tiny aggregate per round, no edge-set
    equi-join. Returns ``(id, component)``, component = min reachable
    id, identical to :func:`connected_components` (property-tested on
    cliques, chains, and random graphs).

    Use min-label for shallow dup-cluster graphs (1 shuffle/round, and
    2-3 rounds suffice); use this when diameter is unknown or large.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))

    def signature(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).head()
        return row["n"], int(row["h"])

    prev = None
    for _ in range(max_iter):
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: m(u) = min(neighbors(u) ∪ {u}); (v, m(u)) for v > u
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        ls = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over edges oriented large→small: connect the whole
        # ≤-neighborhood (and u itself) to its minimum
        oriented = ls.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        mins2 = oriented.groupBy("a").agg(F.min("b").alias("m"))
        ss_children = (
            oriented.join(mins2, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        ss_self = mins2.select(F.col("a"), F.col("m").alias("b"))
        e = (
            ss_children.union(ss_self)
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .distinct()
            .localCheckpoint()
        )
        sig = signature(e)
        if sig == prev:
            break
        prev = sig
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return (
        sym.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .select(
            F.col("a").alias("id"),
            F.least("a", "mb").alias("component"),
        )
    )
