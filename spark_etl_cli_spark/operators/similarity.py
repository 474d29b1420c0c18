"""Similarity search over embedding columns (``array<float>``).

Two tiers, matching how ANN is actually deployed on Spark:

- **brute-force top-k** — broadcast the (small) query set, compute
  cosine against every corpus vector with ``zip_with``/``aggregate``
  (codegen, no UDF), rank per query with a window. Exact; cost is
  |queries| × |corpus| FLOPs spread across executors. The right
  baseline, and often the right answer when queries fit in a broadcast.
- **LSH-bucketed (random hyperplane)** — SimHash-style signature from
  ``sign(v · h_i)`` for d deterministic hyperplanes; candidates =
  bucket-equi-join on band sub-signatures, then exact re-rank of
  candidates only. Linear scan → hash join; this is the 100 TB path.
  Hyperplanes are generated from a seeded xxhash64 so the whole plan
  stays deterministic and JVM-side.

- **cosine near-duplicate pairs** — all pairs above a threshold via the
  same LSH bucketing (embedding-based dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.vectors import dot, unit
from spark_etl_cli_spark.operators.util import fan_out


def _dot_unit(a, b):
    """Dot of two already-double (unit) vectors: ONE fold per pair.

    All similarity ops normalize vectors once per row (``unit``) so the
    per-candidate work is a single multiply-add fold — vs. three folds
    (dot + both norms) per pair. Candidates outnumber rows by orders of
    magnitude, so the per-pair fold is the term that matters.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine_sim, rank). Self-matches
    (same id) are excluded. Ties broken by neighbor id for determinism.
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), unit(F.col(vec_col)).alias("__qvec")
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), unit(F.col(vec_col)).alias("__cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _dot_unit(F.col("__qvec"), F.col("__cvec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from a hash mix.

    Driver-side generation (tiny: dim floats), seeded — no RNG state,
    reproducible across runs/clusters.
    """
    vals = []
    for j in range(dim):
        # xorshift-style integer mix, mapped to [-1, 1)
        x = (plane_idx * 1_000_003 + j * 7_919 + 12_345) & 0xFFFFFFFF
        x ^= (x >> 13)
        x = (x * 0x5BD1E995) & 0xFFFFFFFF
        x ^= (x >> 15)
        # round to 6 decimals: keeps SQL-literal twins of these planes
        # short while leaving the LSH distribution unchanged
        vals.append(round((x / 2**31) - 1.0, 6))
    return vals


def rp_signature(
    df: DataFrame, vec_col: str, num_planes: int = 16, dim: int | None = None
) -> DataFrame:
    """Append an array<int> random-hyperplane sign signature.

    All planes live in ONE 2D literal array and all bits come from ONE
    nested-HOF expression (3 lambda nodes total). The naive per-plane
    formulation (num_planes separate dot trees) costs seconds of
    expression compilation per stage before a single row is read —
    measured as the dominant term of the LSH queries. Per-element
    arithmetic order matches ``dot`` exactly (cast(v[i]) * plane[i],
    sequential left-fold), so SQL oracles of the per-plane form verify
    this one unchanged.
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = first["d"] if first else 0
    # ONE Literal node of array<array<double>> — NOT F.array(*[F.lit..])
    # per element. CreateArray over num_planes*dim literal children
    # generates (and Janino-compiles) code per element; as a single
    # foldable Literal the planes are a constant reference in codegen.
    # Measured at 16x64: ~0.9 s of per-stage compile time removed,
    # byte-identical signatures.
    planes = F.lit([_hyperplane(dim, p) for p in range(num_planes)])
    sig = F.transform(
        planes,
        lambda pl: (
            F.aggregate(
                F.zip_with(
                    F.col(vec_col), pl, lambda x, y: x.cast("double") * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("int"),
    )
    return df.withColumn("__sig", sig)


def arrow_unit_sig(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    dim: int,
    out_id: str = "id",
    out_vec: str = "vec",
) -> DataFrame:
    """``(out_id, out_vec = unit(vec), __sig)`` in ONE Arrow stage.

    The vectorized twin of ``unit()`` + ``rp_signature()`` (guide §4.2:
    hand whole batches to numpy instead of per-element interpreted
    lambdas — Spark does not codegen higher-order-function bodies, so
    the fold costs an interpreter dispatch per element, and projection
    collapse can additionally inline the signature fold once per
    downstream reference). Bit-identical by construction: float32
    elements widen to float64 exactly, and every accumulation runs in
    the same element order as the JVM left-folds — for each dimension
    step one IEEE multiply then one IEEE add, no FMA in either engine —
    so signs, norms and unit components match the HOF results (and the
    DuckDB oracle twins) bit for bit. NaN plane-dots sign as 1,
    matching Spark's ``NaN >= 0 = true`` comparison semantics.

    Only ``(id, vec)`` crosses the Python boundary; output rows carry
    the unit vector and the ``num_planes`` sign bits. Raises on NULL or
    ragged vectors — the similarity operators' input contract.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    n_planes, d_dim = num_planes, dim

    def _batches(it):
        import numpy as np
        import pyarrow as pa

        # (dim, planes): row d holds every plane's d-th component, so
        # the d-loop below is one contiguous broadcast multiply-add
        pt = np.array(
            [_hyperplane(d_dim, p) for p in range(n_planes)],
            dtype=np.float64,
        ).T
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(1)
            if col.null_count:
                raise ValueError(
                    "arrow_unit_sig: NULL vectors are not supported"
                )
            offs = col.offsets.to_numpy()
            if n and not (np.diff(offs) == d_dim).all():
                raise ValueError(
                    f"arrow_unit_sig: ragged vectors (expected dim={d_dim})"
                )
            vals = col.values.to_numpy(zero_copy_only=False)
            v = (
                vals[offs[0] : offs[-1]]
                .astype(np.float64, copy=False)
                .reshape(n, d_dim)
            )
            acc = np.zeros((n, n_planes))
            nacc = np.zeros(n)
            for d in range(d_dim):
                vd = v[:, d]
                acc += vd[:, None] * pt[d]
                nacc += vd * vd
            sig = np.where(np.isnan(acc), True, acc >= 0.0).astype(np.int32)
            if (nacc == 0.0).any():
                # mirror ANSI-mode unit(): x / 0.0 is DIVIDE_BY_ZERO,
                # not a silent NaN vector
                raise ValueError(
                    "arrow_unit_sig: zero-norm vector (division by zero)"
                )
            un = v / np.sqrt(nacc)[:, None]
            lo = np.arange(0, (n + 1) * d_dim, d_dim, dtype=np.int32)
            so = np.arange(0, (n + 1) * n_planes, n_planes, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(lo), pa.array(un.ravel())
                    ),
                    pa.ListArray.from_arrays(
                        pa.array(so), pa.array(sig.ravel())
                    ),
                ],
                [out_id, out_vec, "__sig"],
            )

    return df.select(
        F.col(id_col).alias(out_id), F.col(vec_col).alias("__v")
    ).mapInArrow(
        _batches,
        f"{out_id} {id_type}, {out_vec} array<double>, __sig array<int>",
    )


def _band_bucket(b: int, rows_per_band: int):
    """Integer bucket key for band ``b``: the band's sign bits packed
    into a long (bit r = sig[b*rpb + r]). Exactly as collision-uniform
    as hashing the bits, and — unlike a hash — replicable in ANSI SQL,
    so the DuckDB oracle can verify the whole LSH plan end to end."""
    acc = F.lit(0).cast("long")
    for r in range(rows_per_band):
        acc = acc + F.col("__sig")[b * rows_per_band + r].cast("long") * F.lit(
            1 << r
        ).cast("long")
    return acc


def _explode_bands(
    sig: DataFrame,
    bands: int,
    rows_per_band: int,
    keep: list[str],
    carry_buckets: bool = False,
) -> DataFrame:
    """(keep..., band, bucket[, buckets]) — one row per (row, band).

    With ``carry_buckets`` each banded row also carries the full
    per-band bucket array (``bands`` longs), which lets pair generation
    emit each colliding pair in its FIRST matching band only (see
    ``_first_band_match``) instead of deduplicating afterwards.
    """
    buckets = F.array(*[_band_bucket(b, rows_per_band) for b in range(bands)])
    sig = sig.withColumn("buckets", buckets)
    extra = ["buckets"] if carry_buckets else []
    return sig.select(
        *keep,
        *extra,
        F.posexplode("buckets").alias("band", "bucket"),
    )


def _first_band_match(a_buckets, b_buckets, band):
    """True iff ``band`` is the first band where the two bucket arrays
    collide. Standard banded-LSH dedup-at-source: a pair colliding in
    several bands would otherwise surface once per band, forcing a
    ``dropDuplicates`` exchange downstream — which, when rows carry
    vector payloads, shuffles O(pairs · dim) bytes. Comparing the two
    ``bands``-element arrays in the join condition costs a few
    comparisons per candidate and removes that shuffle entirely.
    (``array_position`` is 1-based; band is 0-based.)"""
    return (
        F.array_position(F.zip_with(a_buckets, b_buckets, lambda x, y: x == y), True)
        == band + 1
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates from band-bucket collisions, exact
    cosine re-rank of candidates only.

    Recall is tunable via (num_planes, bands); cost is driven by bucket
    occupancy instead of |corpus|×|queries|. Pass ``dim`` to skip the
    schema-probe job when the vector width is known.
    """
    rows_per_band = num_planes // bands
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = first["d"] if first else 0
    corpus = fan_out(corpus)

    def banded(df: DataFrame, side: str) -> DataFrame:
        # one Arrow stage computes the raw-vector signatures (what the
        # oracle replicates) AND the unit vector for the one-fold re-rank
        sig = arrow_unit_sig(
            df, id_col, vec_col, num_planes, dim,
            out_id=f"{side}_id", out_vec=f"__{side}vec",
        )
        return _explode_bands(
            sig, bands, rows_per_band, [f"{side}_id", f"__{side}vec"],
            carry_buckets=True,
        ).withColumnsRenamed({"buckets": f"__{side}buckets"})

    cb = banded(corpus, "neighbor")
    qb = banded(queries, "query")
    cands = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(
            _first_band_match(
                F.col("__neighborbuckets"), F.col("__querybuckets"), F.col("band")
            )
        )
        .select("query_id", "neighbor_id", "__queryvec", "__neighborvec")
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _dot_unit(F.col("__queryvec"), F.col("__neighborvec")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, cosine_sim >= threshold).

    LSH bucketing bounds the candidate set; exact cosine confirms.

    Pair generation is a band-bucket *self-join* over NARROW rows —
    (id, band, bucket, buckets) only, never the vector — followed by
    two id-equi-joins that fetch the unit vectors for the surviving
    candidate pairs. The previous formulation carried the 64-double
    vector through the band explode (``bands`` copies of every vector)
    and the bucket join; at sf0.1 that measured both slower at best
    (1.61 s vs 1.43 s) and wildly variance-prone (spikes to 6 s from
    GC over the duplicated payload blocks), and at corpus scale it
    shuffles O(rows · bands · dim) bytes where this shape shuffles
    O(rows · bands) ids + O(candidates · dim). `bucket_pairs` (the
    posting-list primitive the text ops use) remains wrong here for
    the same reason it was before: a collected posting list would
    materialize O(bucket²) id pairs in one row — fine — but its
    windowed variant caps, not streams, dense buckets.

    Cross-band duplicates are suppressed AT THE SOURCE: each side
    carries its per-band bucket array (``bands`` ints) and the join
    keeps a pair only in the first band where the arrays collide
    (``_first_band_match``), so no ``dropDuplicates`` exchange exists
    anywhere in the plan.
    """
    rows_per_band = num_planes // bands
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = first["d"] if first else 0
    df = fan_out(df)
    # ONE Arrow stage computes unit vectors + signatures, materialized
    # once: the banded self-join (both sides) and both vector-fetch
    # joins all read it back instead of re-running the signature
    # subtree (guide §3.3: materialize to truncate large plans; §4.2:
    # batch the per-element math in numpy, not interpreted HOF folds).
    # Narrow rows: (id, 64 doubles, 16 ints).
    base = arrow_unit_sig(
        df, id_col, vec_col, num_planes, dim
    ).localCheckpoint()
    vecs = base.select("id", "vec")
    banded = _explode_bands(
        base.select("id", "__sig"), bands, rows_per_band, ["id"],
        carry_buckets=True,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(
            _first_band_match(F.col("a.buckets"), F.col("b.buckets"), F.col("a.band"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    va = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("__va"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            _dot_unit(F.col("__va"), F.col("__vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def incremental_cosine_dedup(
    batch: DataFrame,
    state: DataFrame | None,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """The EMBEDDING tier of the incremental loop (SemDeDup-style):
    dedup a new batch of vectors against a persisted corpus without
    recomputing it. A batch vector is a duplicate iff it collides in
    some hyperplane-LSH band with a state vector OR a smaller-id batch
    vector whose exact cosine is >= ``threshold``; ``dup_of`` is the
    smallest such neighbor (with that pair's cosine). Returns
    ``(id, dup_of, cosine_sim)`` per batch row.

    100 TB shape, mirroring ``dedup.incremental_minhash_dedup``: the
    state is scanned ONCE and never shuffled — its band keys derive
    map-side from its stored signature-carrying rows, and the bucket
    equi-join BROADCASTS the batch's banded entries. Unlike
    :func:`cosine_dup_pairs` (whose candidate set is corpus-sized, so
    it joins vectors back by id), the candidate set here is
    batch-bounded, so each side carries its unit vector through the
    explode — ``bands``x vector bytes streamed, zero shuffles, no
    second state scan. Exact cosine confirms in-row.
    """
    rows_per_band = num_planes // bands
    if dim is None:
        first = batch.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = first["d"] if first else 0

    def banded(df: DataFrame) -> DataFrame:
        # one Arrow stage for unit vector + signature; stays a pure
        # map-side scan on the state leg (no exchange introduced)
        sig = arrow_unit_sig(df, id_col, vec_col, num_planes, dim)
        return _explode_bands(sig, bands, rows_per_band, ["id", "vec"])

    # the batch's banded entries feed the probe broadcast AND the
    # batch-self side: materialize once (batch-sized) so the signature
    # trees aren't re-planned/re-executed per reference; the STATE side
    # stays a lazy scan — never shuffled, never materialized.
    batch_banded = banded(batch).localCheckpoint()
    probe = F.broadcast(
        batch_banded.select(
            "band",
            "bucket",
            F.col("id").alias("bid"),
            F.col("vec").alias("bvec"),
        )
    )
    # ONE probe join over the UNION of both sides (state rows flagged
    # ``__st``): identical hit set, one fewer join; the state leg is
    # still a pure map-side scan under the broadcast.
    ent = batch_banded.withColumn("__st", F.lit(False))
    if state is not None:
        ent = ent.unionByName(banded(state).withColumn("__st", F.lit(True)))
    cand = (
        ent.join(probe, ["band", "bucket"])
        .filter(F.col("__st") | (F.col("id") < F.col("bid")))
        .select(
            F.col("bid").alias("id"),
            F.col("id").alias("nid"),
            _dot_unit(F.col("vec"), F.col("bvec")).alias("cos"),
        )
    )
    matches = (
        cand.filter(F.col("cos") >= F.lit(threshold))
        .groupBy("id")
        .agg(F.min(F.struct("nid", "cos")).alias("m"))
    )
    return (
        batch.select(F.col(id_col).alias("id"))
        .join(matches, "id", "left")
        .select(
            "id",
            F.col("m.nid").alias("dup_of"),
            F.col("m.cos").alias("cosine_sim"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize, probe, re-rank.

    The inverted-file pattern: assign every corpus vector to its nearest
    centroid (one narrow pass against a broadcast centroid set), have
    each query probe its ``nprobe`` nearest centroids, and exactly
    re-rank only the vectors in the probed cells. At 100 TB the corpus
    scan is shuffle-free (centroids broadcast) and the candidate join is
    an equi-join on cluster id.

    Centroids here are the corpus rows with ``id < n_centroids`` — a
    deterministic, training-free coarse quantizer (production systems
    train k-means; the plan shape is identical, and determinism is what
    makes the DuckDB oracle able to verify the whole approximate plan).
    """
    cents = (
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cid"), unit(F.col(vec_col)).alias("__cent"))
    )

    def assign(df: DataFrame, side: str, keep_top: int) -> DataFrame:
        sim = (
            df.select(
                F.col(id_col).alias(f"{side}_id"),
                unit(F.col(vec_col)).alias(f"__{side}vec"),
            )
            .crossJoin(F.broadcast(cents))
            .select(
                f"{side}_id",
                f"__{side}vec",
                "cid",
                _dot_unit(F.col(f"__{side}vec"), F.col("__cent")).alias("__csim"),
            )
        )
        w = Window.partitionBy(f"{side}_id").orderBy(
            F.col("__csim").desc(), F.col("cid").asc()
        )
        return (
            sim.withColumn("__cr", F.row_number().over(w))
            .filter(F.col("__cr") <= keep_top)
            .select(f"{side}_id", f"__{side}vec", "cid")
        )

    corpus_cells = assign(fan_out(corpus), "neighbor", 1)
    query_probes = assign(queries, "query", nprobe)
    # (query_id, neighbor_id) is already unique: every corpus vector
    # lives in exactly ONE cell (keep_top=1) and a query probes each of
    # its nprobe cells once — so no dedup exchange is needed (one
    # previously sat here, shuffling both carried vectors for nothing).
    cands = (
        corpus_cells.join(F.broadcast(query_probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__queryvec", "__neighborvec")
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _dot_unit(F.col("__queryvec"), F.col("__neighborvec")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
) -> DataFrame:
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al. 2023).

    The all-pairs cosine matrix is intractable at corpus scale; SemDeDup
    bounds it by clustering first and only comparing WITHIN a cluster:
    a vector is a semantic duplicate if a lower-id vector in its cluster
    is within ``threshold`` cosine. Returns one row per input vector:
    ``(id, cluster_id, is_dup)`` — survivors are the ``is_dup = false``
    rows.

    Shapes, by stage:

    - **assignment** — the ``n_clusters`` centroids (the low-id
      vectors: deterministic, training-free, same coarse quantizer as
      :func:`ivf_topk`) are k x dim driver-side doubles, like
      kmeans_lloyd's; ONE Arrow stage unit-normalizes each vector and
      assigns it to its best centroid in-row (bit-identical to the
      former ``unit()`` + broadcast crossJoin + ``max_by`` plan: same
      left-fold order per dot, NaN-largest and lowest-cid tie rules).
    - **pairs + verdict** — clusters are disjoint, so one exchange of
      ``(id, unit vec)`` by cluster id and a per-group blocked
      pairwise-dot pass emits every member's ``is_dup`` verdict
      directly: the former cid self-join, pair-grain threshold filter,
      distinct, and verdict join collapse into one stage, and vectors
      cross the Python boundary once per row, never per candidate
      pair.

    Cluster population is data-dependent; pathological corpora
    (everything in one cell) degrade toward all-pairs COMPUTE, which is
    a property of the algorithm, not the plan — production deployments
    size ``n_clusters`` ~ sqrt(corpus) to bound cells. Per-task MEMORY
    is bounded regardless (r11): the verdict pass streams each
    cluster's rows in id order through ``mapInArrow`` instead of
    materializing the whole group in pandas; the accumulated
    unit-vector buffer is spilled to a task-local temp file past
    ``spark.python.semanticDedup.bufferBytes`` (env
    ``SEMANTIC_DEDUP_BUFFER_BYTES``, default 256 MiB), so a hot cluster
    costs disk and time, never an executor OOM. Pair verdicts compare
    ids EXPLICITLY (``other.id < row.id``), so equal-id rows are never
    compared — matching the original pair-join's ``a.id < b.id``
    predicate even on corpora with duplicate ids.

    INPUT CONTRACT (raises ``ValueError``, eagerly for centroids at
    plan-build time, per-batch for the rest): vectors must be non-NULL,
    of uniform dimension, and have non-zero norm — a zero-norm or NULL
    embedding has no direction, so "semantic similarity" is undefined
    for it; failing loudly beats emitting NaN-driven verdicts.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    # Centroids are k x dim doubles — the same driver-side control
    # plane as kmeans_lloyd's. Normalized in Python with the exact
    # left-fold order of unit() (Python floats ARE IEEE doubles), so
    # the Arrow assignment below is bit-identical to the former
    # crossJoin + max_by plan.
    cent_rows = (
        df.filter(F.col(id_col) < n_clusters)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("v"))
        .collect()
    )
    cents = []
    for r in sorted(cent_rows, key=lambda r: r["cid"]):
        vec = [float(x) for x in r["v"]]
        acc = 0.0
        for x in vec:
            acc = acc + x * x
        nrm = acc ** 0.5
        if nrm == 0.0:
            raise ValueError(
                "semantic_dedup: zero-norm centroid (division by zero)"
            )
        cents.append((int(r["cid"]), [x / nrm for x in vec]))
    if not cents:
        # no centroids -> the old crossJoin produced no assignments
        return (
            df.limit(0)
            .select(
                F.col(id_col).alias("id"),
                F.lit(None).cast("bigint").alias("cluster_id"),
                F.lit(False).alias("is_dup"),
            )
        )
    keys = [cid for cid, _ in cents]
    cmat = [cv for _, cv in cents]
    dim = len(cmat[0])
    thr = float(threshold)

    def _assign_batches(it):
        import numpy as np
        import pyarrow as pa

        cu = np.array(cmat, dtype=np.float64)  # (k, dim), unit rows
        key_arr = np.array(keys, dtype=np.int64)
        kk = cu.shape[0]
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            col = batch.column(1)
            if col.null_count:
                raise ValueError(
                    "semantic_dedup: NULL vectors are not supported"
                )
            offs = col.offsets.to_numpy()
            if not (np.diff(offs) == dim).all():
                raise ValueError(
                    f"semantic_dedup: ragged vectors (expected dim={dim})"
                )
            v = (
                col.values.to_numpy(zero_copy_only=False)[offs[0]: offs[-1]]
                .astype(np.float64, copy=False)
                .reshape(n, dim)
            )
            nacc = np.zeros(n)
            for d in range(dim):
                nacc += v[:, d] * v[:, d]
            if (nacc == 0.0).any():
                raise ValueError(
                    "semantic_dedup: zero-norm vector (division by zero)"
                )
            un = v / np.sqrt(nacc)[:, None]
            sim = np.zeros((n, kk))
            for d in range(dim):
                sim += un[:, d, None] * cu[None, :, d]
            # max_by(cid, struct(csim, -cid)): max sim, ties -> lowest
            # cid; Spark orders NaN above every double, so a NaN sim
            # wins (first NaN = lowest cid among NaNs)
            nan = np.isnan(sim)
            has_nan = nan.any(axis=1)
            idx = np.where(
                has_nan, np.argmax(nan, axis=1), np.argmax(sim, axis=1)
            )
            lo = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(pa.array(lo), pa.array(un.ravel())),
                    pa.array(key_arr[idx]),
                ],
                ["id", "__v", "cid"],
            )

    # assignment: per-row work, ONE Arrow stage, no exchange at all —
    # replaces the broadcast crossJoin + k-row-per-id max_by aggregate
    # (guide §4.2; the k interpreted dot folds per row were the
    # dominant assignment cost).
    asn = (
        fan_out(df)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
        .mapInArrow(
            _assign_batches,
            f"id {id_type}, __v array<double>, cid bigint",
        )
    )

    import os

    buffer_bytes = int(
        os.environ.get("SEMANTIC_DEDUP_BUFFER_BYTES", str(256 << 20))
    )

    def _verdict_stream(it):
        """Rows arrive sorted by (cid, id) within the partition; a
        cluster never spans partitions (hash exchange on cid). A row's
        verdict depends only on STRICTLY-SMALLER-id rows of its
        cluster, so verdicts stream out batch by batch while the
        cluster's unit vectors accumulate in a buffer — in RAM up to
        ``buffer_bytes``, then in a task-local temp file (np.memmap
        reads), so resident memory is bounded by the RAM buffer plus
        one pair block no matter how hot the cluster is."""
        import tempfile

        import numpy as np
        import pyarrow as pa

        cur_cid = None
        ram_rows_cap = None
        ram: list = []  # list of np row-blocks while small
        ram_rows = 0
        spill_f = None
        spill_rows = 0
        # ascending ids of ALL buffered rows, buf_ids[:buf_n]; grown by
        # doubling, so appending a segment costs O(segment) amortised
        buf_ids = None
        buf_n = 0

        def _reset():
            nonlocal ram, ram_rows, spill_f, spill_rows, buf_n
            ram = []
            ram_rows = 0
            if spill_f is not None:
                spill_f.close()
            spill_f = None
            spill_rows = 0
            buf_n = 0

        def _hits_block(blk, seg, bounds, base):
            """OR into out: hit(j, i) for buffered rows j in ``blk``
            (global offsets base..base+len) vs segment rows i, masked
            to j < bounds[i]. Fold order per pair: one IEEE multiply +
            add per dimension, ascending d (bit-identical to the
            former pandas group pass and the pre-r10 join plan)."""
            acc = np.zeros((blk.shape[0], seg.shape[0]))
            for d in range(blk.shape[1]):
                acc += blk[:, d, None] * seg[None, :, d]
            # Spark compares NaN >= thr as true (NaN sorts above all)
            hit = (acc >= thr) | np.isnan(acc)
            gidx = base + np.arange(blk.shape[0])
            hit &= gidx[:, None] < bounds[None, :]
            return hit.any(axis=0)

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            ids_arr = batch.column(0)
            vecs = batch.column(1)
            cids = batch.column(2).to_numpy(zero_copy_only=False)
            offs = vecs.offsets.to_numpy()
            flat = vecs.values.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )
            seg_dim = dim
            v = flat[offs[0] : offs[-1]].reshape(n, seg_dim)
            ids_np = ids_arr.to_numpy(zero_copy_only=False)
            is_dup = np.zeros(n, dtype=bool)
            if ram_rows_cap is None:
                ram_rows_cap = max(1024, buffer_bytes // (8 * seg_dim))
            # process runs of equal cid (sorted, so runs are contiguous)
            starts = [0] + list(
                np.flatnonzero(cids[1:] != cids[:-1]) + 1
            ) + [n]
            for s0, s1 in zip(starts[:-1], starts[1:]):
                if cids[s0] != cur_cid:
                    cur_cid = cids[s0]
                    _reset()
                seg = v[s0:s1]
                seg_ids = ids_np[s0:s1]
                ns = s1 - s0
                # strictly-smaller-id row counts (ids ascending within
                # the cluster): for segment row i, buffer rows with
                # index < b_buf[i] (resp. segment rows < b_seg[i]) are
                # exactly the rows with id < seg_ids[i] — equal-id rows
                # are EXCLUDED, matching the original a.id < b.id join
                b_buf = (
                    np.searchsorted(buf_ids[:buf_n], seg_ids, side="left")
                    if buf_n
                    else np.zeros(ns, dtype=np.int64)
                )
                b_seg = np.searchsorted(seg_ids, seg_ids, side="left")
                m_blk = max(1, (1 << 22) // max(ns, 1))
                # vs spilled rows (global offsets 0..spill_rows)
                if spill_rows:
                    mm = np.memmap(
                        spill_f,
                        dtype=np.float64,
                        mode="r",
                        shape=(spill_rows, seg_dim),
                    )
                    for j0 in range(0, spill_rows, m_blk):
                        j1 = min(j0 + m_blk, spill_rows)
                        is_dup[s0:s1] |= _hits_block(
                            np.asarray(mm[j0:j1]), seg, b_buf, j0
                        )
                    del mm
                # vs RAM rows (global offsets spill_rows..)
                if ram_rows:
                    rbuf = ram[0] if len(ram) == 1 else np.vstack(ram)
                    ram[:] = [rbuf]
                    for j0 in range(0, ram_rows, m_blk):
                        j1 = min(j0 + m_blk, ram_rows)
                        is_dup[s0:s1] |= _hits_block(
                            rbuf[j0:j1], seg, b_buf, spill_rows + j0
                        )
                # within the segment itself (bounds and base are both
                # LOCAL segment indices)
                for j0 in range(0, ns, m_blk):
                    j1 = min(j0 + m_blk, ns)
                    is_dup[s0:s1] |= _hits_block(seg[j0:j1], seg, b_seg, j0)
                # append the segment to the buffer; spill past the cap
                ram.append(np.array(seg))
                ram_rows += ns
                if buf_ids is None or buf_n + ns > len(buf_ids):
                    grown = np.empty(2 * (buf_n + ns), dtype=seg_ids.dtype)
                    if buf_n:
                        grown[:buf_n] = buf_ids[:buf_n]
                    buf_ids = grown
                buf_ids[buf_n : buf_n + ns] = seg_ids
                buf_n += ns
                if ram_rows > ram_rows_cap:
                    if spill_f is None:
                        spill_f = tempfile.TemporaryFile()
                    blob = ram[0] if len(ram) == 1 else np.vstack(ram)
                    spill_f.seek(0, 2)
                    spill_f.write(np.ascontiguousarray(blob).tobytes())
                    spill_rows += ram_rows
                    ram = []
                    ram_rows = 0
            yield pa.RecordBatch.from_arrays(
                [ids_arr, batch.column(2), pa.array(is_dup)],
                ["id", "cluster_id", "is_dup"],
            )
        if spill_f is not None:
            spill_f.close()

    # verdicts: clusters are disjoint and every row carries its cluster,
    # so ONE exchange of (id, unit vec) by cid + a sorted STREAMING
    # pass replaces the cid self-join, the pair-grain threshold filter,
    # the distinct AND the verdict join back (guide §2.3 "decide with
    # small rows"); vectors cross the boundary once per ROW, never once
    # per candidate pair, and — unlike a grouped pandas pass, which
    # materializes the whole cluster in one worker — resident memory is
    # bounded by the spill cap (guide §5).
    return (
        asn.repartition("cid")
        .sortWithinPartitions("cid", "id")
        .mapInArrow(
            _verdict_stream,
            f"id {id_type}, cluster_id bigint, is_dup boolean",
        )
    )
