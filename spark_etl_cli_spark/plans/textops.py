"""Text-analysis + deduplication query coverage over ``documents``.

North-star extensions beyond the reference (SURVEY.md §2d): token
counting, quality scoring, language ID, fingerprinting, exact dedup,
n-gram Jaccard near-dup, MinHash-LSH and SimHash (the at-scale paths).

Oracle discipline: every Spark expression here has a character-for-
character DuckDB twin (same normalization regex, same token split, same
arithmetic order) so value hashes match bit-for-bit. MinHash and
SimHash achieve this by running the query-layer variants on the
``md5_long`` hash family (``functions/text.py``) — 60-bit md5-prefix
hashes DuckDB replays exactly — while the operators default to
``xxhash64`` for production use; the pair sets are then brute-force
recomputed in the oracle (quadratic is fine at oracle scale).

Since the synthetic corpus has no exact duplicates, the dedup queries
derive a dup-bearing input inline: docs with ``doc_id < 100`` are
re-appended under ``doc_id + 100000`` with tab/space noise injected, so
normalization + dedup do observable work in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.text import (
    LANG_MARKERS,
    affine_minhash_constants,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    tokens,
)
from spark_etl_cli_spark.operators.dedup import (
    bucket_pairs,
    dedup_exact,
    exact_dup_groups,
    minhash_lsh_pairs,
    shingle_pairs_jaccard,
    simhash,
)
from spark_etl_cli_spark.operators.arrowtext import with_word_shingles
from spark_etl_cli_spark.operators.util import fan_out
from spark_etl_cli_spark.plans.registry import SQL_DAVG, bcount, query, t

# --- DuckDB twins of functions/text.py (shared fragments) --------------
SQL_NORM = r"trim(regexp_replace(text, '\s+', ' ', 'g'))"
SQL_TOKENS = f"string_split(lower({SQL_NORM}), ' ')"
SQL_NTOK = (
    f"CAST(CASE WHEN length({SQL_NORM}) = 0 THEN 0 "
    f"ELSE len({SQL_TOKENS}) END AS BIGINT)"
)
SQL_FP = f"md5(lower({SQL_NORM}))"
_STOPWORDS = "'the','a','an','and','of','to','in','is','it'"
SQL_PUNCT = (
    "CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) END"
)
SQL_SW = (
    f"CASE WHEN len({SQL_TOKENS}) = 0 THEN 0.0 ELSE "
    f"CAST(len(list_filter({SQL_TOKENS}, tk -> tk IN ({_STOPWORDS}))) AS DOUBLE)"
    f" / CAST(len({SQL_TOKENS}) AS DOUBLE) END"
)
SQL_QUALITY = (
    f"0.4 * (CAST(least({SQL_NTOK}, 100) AS DOUBLE) / 100.0) "
    f"+ 0.3 * (1.0 - {SQL_PUNCT}) "
    f"+ 0.3 * least(({SQL_SW}) * 5.0, 1.0)"
)

# lang_id twin: hits per language; max by (hits, lang) with the
# lexicographically-largest language winning ties (= Spark's array_max
# over (hits, lang) structs), 'und' when no marker hits at all.
_hits = {
    lang: f"len(list_filter({SQL_TOKENS}, tk -> tk IN "
    f"({', '.join(repr(m) for m in markers)})))"
    for lang, markers in LANG_MARKERS.items()
}
_mx = f"greatest({', '.join(_hits.values())})"
SQL_LANG_ID = (
    f"CASE WHEN {_mx} = 0 THEN 'und' "
    + " ".join(
        f"WHEN {_hits[lang]} = {_mx} THEN '{lang}'"
        for lang in sorted(_hits, reverse=True)
    )
    + " END"
)

# dup-bearing input: originals ∪ whitespace-noised copies of doc_id<100
SQL_DOCS_WITH_DUPS = """
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         regexp_replace(text, ' ', chr(9) || ' ', 'g') AS text,
         'dupsrc' AS source
  FROM documents WHERE doc_id < 100
"""


def docs_with_dups(spark, sf_dir):
    """Spark twin of SQL_DOCS_WITH_DUPS."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    noisy = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace("text", " ", "\t ").alias("text"),
            F.lit("dupsrc").alias("source"),
        )
    )
    return d.unionByName(noisy)


# --- q30: token statistics per source ---------------------------------
@query(
    "q30_token_stats",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({SQL_NTOK}) AS BIGINT) AS total_tokens,
           CAST(MAX({SQL_NTOK}) AS BIGINT) AS max_tokens,
           {SQL_DAVG(SQL_NTOK, "avg_tokens", 0)}
    FROM documents
    GROUP BY source
    """,
)
def q30_token_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ntok = token_count(F.col("text"))
    return d.groupBy("source").agg(
        bcount("n_docs"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.max(ntok).cast("bigint").alias("max_tokens"),
        (
            F.sum(ntok.cast("decimal(18,0)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_tokens"),
    )


# --- q31: per-document quality scores (no cross-row float agg) ---------
@query(
    "q31_quality_scores",
    oracle=f"""
    SELECT doc_id, {SQL_NTOK} AS n_tokens, {SQL_QUALITY} AS quality
    FROM documents
    """,
)
def q31_quality_scores(spark, sf_dir):
    d = fan_out(t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )


# --- q32: heuristic language ID vs. labeled lang ------------------------
@query(
    "q32_language_id",
    oracle=f"""
    SELECT lang, {SQL_LANG_ID} AS detected,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def q32_language_id(spark, sf_dir):
    d = fan_out(t(spark, sf_dir, "documents"))
    return d.groupBy(
        "lang", lang_id(F.col("text")).alias("detected")
    ).agg(bcount("n_docs"))


# --- q33: exact-dup fingerprint groups ----------------------------------
# One hash-agg shuffle on the 32-byte md5; at 100 TB the map-side
# combine collapses each partition to its distinct fingerprints first.
@query(
    "q33_exact_dup_groups",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS})
    SELECT {SQL_FP} AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS group_size
    FROM docs GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def q33_exact_dup_groups(spark, sf_dir):
    return exact_dup_groups(docs_with_dups(spark, sf_dir)).filter(
        F.col("group_size") > 1
    )


# --- q34: exact dedup — survivor counts per source ----------------------
@query(
    "q34_dedup_survivors",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS}),
    ranked AS (
      SELECT source, ROW_NUMBER() OVER (
        PARTITION BY {SQL_FP} ORDER BY doc_id) AS rn
      FROM docs
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1 GROUP BY source
    """,
)
def q34_dedup_survivors(spark, sf_dir):
    return (
        dedup_exact(docs_with_dups(spark, sf_dir))
        .groupBy("source")
        .agg(bcount("n_docs"))
    )


# --- q35: exact n-gram Jaccard near-dup pairs ---------------------------
# Inverted-index self-join on 3-word shingles with a hot-shingle cap
# (df <= 1000); the DuckDB twin replicates shingling, cap, and the
# intersection/union arithmetic exactly.
@query(
    "q35_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents)
    ),
    ex0 AS (SELECT id, unnest(s) AS shingle FROM sh),
    freq AS (SELECT shingle, COUNT(*) AS df FROM ex0 GROUP BY 1),
    ex AS (SELECT id, ex0.shingle FROM ex0
           JOIN freq ON ex0.shingle = freq.shingle AND freq.df <= 1000),
    co AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh)
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
    FROM co JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
    """,
)
def q35_jaccard_pairs(spark, sf_dir):
    return shingle_pairs_jaccard(
        t(spark, sf_dir, "documents"), k=3, threshold=0.5, max_shingle_freq=1000
    )


# --- q36: MinHash-LSH candidate pairs (md5-replayable oracle) -----------
# The linear-scale dedup path: banded minhash signatures. The query
# runs the operator in affine-family mode (functions/text.py:
# base = md5_long28(shingle) once per shingle, then
# h_i = (a_i*base + b_i) mod 2^31-1) precisely so the DuckDB oracle can
# replay the identical signatures from the same integer constants; the
# oracle then brute-forces all pairs (fine at sf0.01) and keeps those
# agreeing on >= 1 of the 8 bands with signature agreement >= 0.5 —
# exactly the set the banded bucket join emits, since equal band
# sub-signatures <=> same bucket and the first-agreeing-band filter
# only dedups multi-band collisions. (The first formulation salted a
# full md5 per (shingle, salt) — 32 md5s/shingle — and benched ~8x
# slower at sf0.1; the affine family is the classic Broder'97 shape.)
_SQL_SH3 = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 2, 0)), "
    "i -> array_to_string(tk[i:i+2], ' ')))"
)
_MH_A, _MH_B, _MH_P = affine_minhash_constants(32)
_SQL_MH_A = "list_value(" + ",".join(str(a) for a in _MH_A) + ")"
_SQL_MH_B = "list_value(" + ",".join(str(b) for b in _MH_B) + ")"
_SQL_BASE28 = "CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT)"


@query(
    "q36_minhash_lsh_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id AS id, {_SQL_SH3} AS s FROM tk),
    hb AS (
      SELECT id, list_transform(s, x -> {_SQL_BASE28}) AS hb
      FROM sh WHERE len(s) > 0
    ),
    sig AS (
      SELECT id,
             list_transform(generate_series(1, 32),
               i -> list_min(list_transform(hb,
                 h -> ({_SQL_MH_A}[i] * h + {_SQL_MH_B}[i]) % {_MH_P}))) AS sig
      FROM hb
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(len(list_filter(generate_series(1, 32),
                      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32.0
               AS est_jaccard,
             len(list_filter(generate_series(0, 7),
                 bb -> a.sig[bb*4+1:bb*4+4] = b.sig[bb*4+1:bb*4+4])) > 0
               AS band_hit
      FROM sig a JOIN sig b ON a.id < b.id
    )
    SELECT id_a, id_b, est_jaccard
    FROM cand WHERE band_hit AND est_jaccard >= 0.5
    """,
)
def q36_minhash_lsh_pairs(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import md5_long28

    return (
        minhash_lsh_pairs(
            t(spark, sf_dir, "documents"),
            num_hashes=32,
            bands=8,
            shingle_k=3,
            base_hash=md5_long28,
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", "est_jaccard")
    )


# --- q200: INCREMENTAL dedup — a new batch against persisted state ------
# The production loop (examples/incremental_dedup.sh) persists each
# round's minhash signatures in a delta table and dedups every new
# batch by probing ONLY its own bands against that state — nothing
# corpus-sized shuffles (incremental_minhash_dedup broadcasts the
# batch's band entries against a scanned, never-shuffled state). This
# query pins the DECISION semantics relationally: the corpus splits
# into a simulated state (even doc_ids) and a new batch (odd doc_ids);
# a batch doc is a duplicate iff some state doc OR some smaller-id
# batch doc collides on a band with signature agreement >= 0.5, and
# dup_of is the smallest such neighbor (with that pair's agreement).
# Signatures are the q36 affine family on an md5 base so DuckDB
# replays them exactly. Equivalence of batch-by-batch processing to
# one full recompute is pinned in pytest (monotone-id batches) — the
# oracle here proves the per-batch decision rule itself.
@query(
    "q200_incremental_dedup",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id AS id, {_SQL_SH3} AS s FROM tk),
    hb AS (
      SELECT id, list_transform(s, x -> {_SQL_BASE28}) AS hb
      FROM sh WHERE len(s) > 0
    ),
    sig AS (
      SELECT id,
             list_transform(generate_series(1, 32),
               i -> list_min(list_transform(hb,
                 h -> ({_SQL_MH_A}[i] * h + {_SQL_MH_B}[i]) % {_MH_P}))) AS sig
      FROM hb
    ),
    cand AS (
      SELECT b.id AS id, a.id AS nid,
             CAST(len(list_filter(generate_series(1, 32),
                      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32.0 AS est,
             len(list_filter(generate_series(0, 7),
                 bb -> a.sig[bb*4+1:bb*4+4] = b.sig[bb*4+1:bb*4+4])) > 0
               AS band_hit
      FROM sig b JOIN sig a
        ON b.id % 2 = 1
       AND (a.id % 2 = 0 OR a.id < b.id)
    ),
    hits AS (
      SELECT id, min(nid) AS dup_of, arg_min(est, nid) AS est_jaccard
      FROM cand WHERE band_hit AND est >= 0.5 GROUP BY id
    )
    SELECT d.doc_id, h.dup_of, h.est_jaccard
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.id
    WHERE d.doc_id % 2 = 1
    """,
)
def q200_incremental_dedup(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import md5_long28
    from spark_etl_cli_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, base_hash=md5_long28)
    state_sigs = sigs.filter(F.col("id") % 2 == 0)
    batch_sigs = sigs.filter(F.col("id") % 2 == 1)
    dec = incremental_minhash_dedup(batch_sigs, state_sigs)
    # decisions cover docs with >=1 shingle; empty-text batch docs are
    # trivial survivors — restore them through the batch roster
    return (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .join(
            dec.withColumnRenamed("id", "doc_id"), "doc_id", "left"
        )
        .select("doc_id", "dup_of", "est_jaccard")
    )


# --- q201: the EXACT tier of the incremental loop -----------------------
# Same state/batch split as q200, on md5 fingerprints over the planted-
# duplicate corpus (raw documents have no exact dups): a batch doc is a
# duplicate iff its normalized-text fingerprint matches a state doc or
# a smaller-id batch doc. The fp equi-join broadcasts the batch side;
# state is scanned, never shuffled; 32 bytes/row of persisted state.
@query(
    "q201_incremental_exact_dedup",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS}),
    fp AS (SELECT doc_id AS id, {SQL_FP} AS fp FROM docs),
    hits AS (
      SELECT b.id AS id, min(a.id) AS dup_of
      FROM fp b JOIN fp a
        ON a.fp = b.fp
       AND b.id % 2 = 1
       AND (a.id % 2 = 0 OR a.id < b.id)
      GROUP BY b.id
    )
    SELECT f.id AS doc_id, h.dup_of
    FROM fp f LEFT JOIN hits h ON f.id = h.id
    WHERE f.id % 2 = 1
    """,
)
def q201_incremental_exact_dedup(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import fingerprint
    from spark_etl_cli_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    fps = docs_with_dups(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        fingerprint(F.col("text")).alias("fp"),
    )
    dec = incremental_exact_dedup(
        fps.filter(F.col("id") % 2 == 1),
        fps.filter(F.col("id") % 2 == 0),
    )
    return dec.select(F.col("id").alias("doc_id"), "dup_of")


# --- q37: SimHash near-dup pairs (md5-replayable oracle) ----------------
# Fingerprints → 4x16-bit band buckets → hamming<=8 confirm. Pair
# generation via bucket_pairs: the fingerprint computation (token
# explode + bit-votes) runs once, not once per self-join side. As q36,
# the query passes hash_fn=md5_long so DuckDB can replay the identical
# bit-vote fingerprints (60 effective bits — md5_long's range — so the
# top nibble is always 0 and plain arithmetic shifts are exact); the
# oracle brute-forces pairs and applies the same band-agreement +
# hamming gate.
@query(
    "q37_simhash_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id AS id, {_SQL_SH3} AS s FROM tk),
    hs AS (
      SELECT id,
             list_transform(s,
               x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
      FROM sh WHERE len(s) > 0
    ),
    fp AS (
      SELECT id,
             CAST(list_sum(list_transform(generate_series(0, 59),
               i -> CASE WHEN 2 * len(list_filter(hs,
                              h -> ((h >> i) & 1) = 1)) > len(hs)
                         THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
      FROM hs
    ),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming,
             len(list_filter(generate_series(0, 3),
                 bb -> ((a.fp >> (bb*16)) & 65535)
                     = ((b.fp >> (bb*16)) & 65535))) > 0 AS band_hit
      FROM fp a JOIN fp b ON a.id < b.id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE band_hit AND hamming <= 8
    """,
)
def q37_simhash_pairs(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import md5_long

    return _simhash_pairs_plan(spark, sf_dir, hash_fn=md5_long)


# --- q153: the same plan under the PRODUCTION hash family ---------------
# q37's md5 base is an oracle-replayability choice; the at-scale family
# is xxhash64 (hash_family='fast'), which DuckDB cannot replay — so
# this entry is rows-only by design (like q152). Its correctness is
# pinned structurally in pytest (test_text_functions: both families
# must detect the SAME planted near-dup pair set on a fixture); its
# purpose here is the bench row proving the fast family's speedup on
# the one q37-shaped outlier.
@query("q153_simhash_pairs_fast")
def q153_simhash_pairs_fast(spark, sf_dir):
    return _simhash_pairs_plan(spark, sf_dir, hash_fn=None)  # xxhash64


def _simhash_pairs_plan(spark, sf_dir, hash_fn):
    fp = simhash(t(spark, sf_dir, "documents"), hash_fn=hash_fn)
    entries = fp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
        F.struct("id", "simhash").alias("e"),
    ).select("bb.band", "bb.bucket", "e")
    # A pair whose fingerprints agree on several 16-bit bands surfaces
    # once per band; keep it only in the FIRST matching band — the
    # band slices come from the carried fingerprints, so the dedup is
    # three bit-tests instead of a (id_a, id_b) exchange.
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))

    def slice_ne(b: int):
        return (
            F.shiftrightunsigned(xor, b * 16).bitwiseAND(F.lit(0xFFFF)) != 0
        )

    first_match = F.when(F.col("band") == 0, F.lit(True)).otherwise(
        F.when(F.col("band") == 1, slice_ne(0))
        .when(F.col("band") == 2, slice_ne(0) & slice_ne(1))
        .otherwise(slice_ne(0) & slice_ne(1) & slice_ne(2))
    )
    return (
        bucket_pairs(entries, "band", "bucket", keep_buckets=True)
        .filter(first_match)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
    )


# --- q38: document fingerprint join (provenance lookup shape) -----------
@query(
    "q38_fingerprint_lookup",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS}),
    fps AS (SELECT doc_id, {SQL_FP} AS fp, source FROM docs)
    SELECT a.fp AS fp, CAST(a.doc_id AS BIGINT) AS orig_id,
           CAST(b.doc_id AS BIGINT) AS dup_id
    FROM fps a JOIN fps b ON a.fp = b.fp AND b.source = 'dupsrc'
    WHERE a.source <> 'dupsrc'
    """,
)
def q38_fingerprint_lookup(spark, sf_dir):
    docs = docs_with_dups(spark, sf_dir)
    fps = docs.select(
        "doc_id", fingerprint(F.col("text")).alias("fp"), "source"
    )
    a = fps.filter(F.col("source") != "dupsrc").alias("a")
    b = fps.filter(F.col("source") == "dupsrc").alias("b")
    return a.join(b, F.col("a.fp") == F.col("b.fp")).select(
        F.col("a.fp").alias("fp"),
        F.col("a.doc_id").cast("bigint").alias("orig_id"),
        F.col("b.doc_id").cast("bigint").alias("dup_id"),
    )


# --- q39: winnowing fingerprints (MOSS, Schleimer et al. SIGMOD'03) ------
# Rolling k-gram hashes -> window minima -> distinct local fingerprints.
# Shared substrings of length >= k+w-1 guarantee shared fingerprints, so
# the dup-pair join below finds the injected whitespace-noise copies.
# The oracle replicates hashing (md5-prefix), windowing, and the pair
# join exactly; grams are materialized once per row in a CTE (inlining
# the list into the window lambda makes DuckDB recompute it per window).


@query(
    "q39_winnow_dup_pairs",
    oracle=f"""
    WITH docs0 AS ({SQL_DOCS_WITH_DUPS}),
    docs AS (SELECT * FROM docs0 WHERE doc_id < 1000 OR doc_id >= 100000),
    g AS (
      SELECT doc_id AS id,
             CASE WHEN length(lower({SQL_NORM})) - 4 <= 0
                  THEN CAST([] AS BIGINT[])
                  ELSE list_transform(
                    generate_series(1, length(lower({SQL_NORM})) - 4),
                    i -> CAST(('0x' || substr(md5(substr(lower({SQL_NORM}), i, 5)), 1, 15))
                         AS BIGINT))
             END AS grams
      FROM docs
    ),
    wn AS (
      SELECT id,
             CASE WHEN len(grams) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(grams) - 3 <= 0 THEN [list_min(grams)]
                  ELSE list_transform(generate_series(1, len(grams) - 3),
                                      i -> list_min(grams[i:i+3]))
             END AS mins
      FROM g
    ),
    fps AS (SELECT id, unnest(list_distinct(mins)) AS fp FROM wn),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM fps a JOIN fps b ON a.fp = b.fp
      WHERE a.id < 100000 AND b.id >= 100000
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_fps FROM pairs WHERE shared_fps >= 50
    """,
)
def q39_winnow_dup_pairs(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import winnow_fingerprints

    docs = fan_out(
        docs_with_dups(spark, sf_dir).filter(
            (F.col("doc_id") < 1000) | (F.col("doc_id") >= 100000)
        )
    )
    fps = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(winnow_fingerprints(F.col("text"), k=5, w=4)).alias("fp"),
    )
    # asymmetric: originals x noised copies only. The synthetic corpus
    # has a ~30-word vocabulary, so an all-pairs fingerprint join would
    # produce 100k+ spurious matches; the realistic query is "which
    # originals does each incoming doc plagiarize".
    a = fps.filter(F.col("id") < 100000).alias("a")
    b = fps.filter(F.col("id") >= 100000).alias("b")
    return (
        a.join(b, F.col("a.fp") == F.col("b.fp"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 50)
    )


# --- q95: BPE-style pre-tokenizer counts ----------------------------------
# The GPT-2-family pre-tokenizer shape, reduced to the subset Java and
# RE2 regex engines treat identically (letter runs / digit runs /
# punctuation runs, each with an optional leading space; no lookahead).
# This is the "how many tokens will the tokenizer see" estimator that
# budget-filters documents before a real BPE pass.
_BPE_PAT = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@query(
    "q95_bpe_token_count",
    oracle=f"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
             AS total_bpe_tokens,
           CAST(MAX(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
             AS max_bpe_tokens
    FROM documents GROUP BY source
    """,
)
def q95_bpe_token_count(spark, sf_dir):
    d = fan_out(t(spark, sf_dir, "documents"))
    ntok = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
    return d.groupBy("source").agg(
        F.sum(ntok).cast("bigint").alias("total_bpe_tokens"),
        F.max(ntok).cast("bigint").alias("max_bpe_tokens"),
    )


# --- q96: overlapping document chunking -----------------------------------
# Context-window preparation: split each document into word chunks of
# CHUNK tokens with STRIDE overlap (chunk i starts at token i*STRIDE).
# Per-row explode — no shuffle at all; the chunk text is rebuilt with
# single spaces so both engines agree byte-for-byte.
_CHUNK, _STRIDE = 64, 48


@query(
    "q96_doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    spans AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(greatest(ceil((len(tk) - {_CHUNK}) / {_STRIDE}.0), 0)
                    AS BIGINT))) AS chunk_idx,
             tk
      FROM toks WHERE len(tk) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(tk[chunk_idx * {_STRIDE} + 1 :
                     chunk_idx * {_STRIDE} + {_CHUNK}]) AS BIGINT)
             AS chunk_tokens,
           array_to_string(tk[chunk_idx * {_STRIDE} + 1 :
                              chunk_idx * {_STRIDE} + {_CHUNK}], ' ')
             AS chunk_text
    FROM spans
    """,
)
def q96_doc_chunking(spark, sf_dir):
    from spark_etl_cli_spark.operators.chunking import chunk_documents

    return chunk_documents(
        t(spark, sf_dir, "documents"), chunk_tokens=_CHUNK, stride=_STRIDE
    )


# --- q97: greedy sequence packing -----------------------------------------
# Pack documents into training sequences of <= SEQ tokens by running
# token count, per source (the partition key keeps packing sequential
# work distributed: each source packs independently, no global order).
# seq = floor((cumsum - ntok) / SEQ) — deterministic in (source, doc_id)
# order in both engines.
_SEQ = 2048


@query(
    "q97_sequence_packing",
    oracle=f"""
    WITH n AS (
      SELECT source, doc_id, {SQL_NTOK} AS ntok FROM documents
    ),
    c AS (
      SELECT source, doc_id, ntok,
             SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM n
    )
    SELECT source, CAST((cum - ntok) // {_SEQ} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS seq_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM c
    GROUP BY 1, 2
    """,
)
def q97_sequence_packing(spark, sf_dir):
    from spark_etl_cli_spark.operators.chunking import pack_sequences

    packed = pack_sequences(
        t(spark, sf_dir, "documents"), seq_tokens=_SEQ
    )
    return packed.groupBy("source", "seq_id").agg(
        bcount("n_docs"),
        F.sum("ntok").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


# --- q126: within-document repetition signals ----------------------------
# The Gopher-style repetition gates (Rae et al. 2021 §A1.1) rephrased
# for a whitespace corpus: distinct-token ratio, the fraction of
# bigram instances taken by the single most frequent bigram, and the
# fraction of trigram instances whose trigram occurs more than once in
# the document. High repetition => machine-generated / boilerplate.
#
# Shape: one ordered n-gram construction per size (a per-row HOF
# projection; n-grams must preserve order and multiplicity, so
# word_shingles' distinct is NOT reused), explode, then two-level
# codegen hash-aggs on (doc_id, gram) -> doc_id with map-side partial
# aggregation — the exchanges carry per-doc gram histograms, not raw
# grams. Ratios are double divisions of exact BIGINTs.
def _sql_grams(n: int) -> str:
    joined = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len(tk) - {n - 1}, 0)),"
        f" i -> {joined})"
    )


def _spark_grams(tk, n: int):
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "q126_repetition_signals",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    tok AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
      FROM tk
    ),
    bi AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest({_sql_grams(2)}) AS g FROM tk)
      GROUP BY 1, 2
    ),
    bid AS (
      SELECT doc_id, MAX(c) AS top_bi, SUM(c) AS n_bi FROM bi GROUP BY 1
    ),
    tri AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest({_sql_grams(3)}) AS g FROM tk)
      GROUP BY 1, 2
    ),
    trid AS (
      SELECT doc_id,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_tri,
             SUM(c) AS n_tri
      FROM tri GROUP BY 1
    )
    SELECT t.doc_id,
           t.n_tokens,
           CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
             AS distinct_ratio,
           CAST(COALESCE(b.top_bi, 0) AS DOUBLE)
             / CAST(GREATEST(COALESCE(b.n_bi, 0), 1) AS DOUBLE)
             AS top_bigram_frac,
           CAST(COALESCE(r.dup_tri, 0) AS DOUBLE)
             / CAST(GREATEST(COALESCE(r.n_tri, 0), 1) AS DOUBLE)
             AS dup_trigram_frac
    FROM tok t
    LEFT JOIN bid b USING (doc_id)
    LEFT JOIN trid r USING (doc_id)
    """,
)
def q126_repetition_signals(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import tokens

    d = fan_out(t(spark, sf_dir, "documents"))
    tk = d.select("doc_id", tokens(F.col("text")).alias("tk"))

    # Per-doc n-gram repetition is a PER-ROW property: sort the doc's
    # own gram array and read run lengths off adjacent equality — no
    # explode, no (doc, gram) exchange. The previous plan shuffled
    # every bigram and trigram occurrence through two
    # groupBy(doc_id, g) aggregations only to roll them straight back
    # up to doc grain (guide §2.4: remove shuffles outright — this one
    # carried corpus-gram-sized bytes for doc-sized answers). Run
    # lengths over the sorted array give the same per-gram counts the
    # groupBy produced, so every output value is bit-identical.
    #
    # Every intermediate array is STAGED AS A COLUMN before a lambda
    # touches it: Spark does no common-subexpression elimination inside
    # lambda bodies, so `element_at(array_sort(...), i)` in a filter
    # predicate would re-sort the gram array PER ELEMENT — measured
    # 227 s vs 1.3 s for the identical computation over attributes.
    staged = tk
    for col, n in (("bi", 2), ("tri", 3)):
        staged = staged.withColumn(
            col, F.array_sort(_spark_grams(F.col("tk"), n))
        )
    for col in ("bi", "tri"):
        # boundary indices: positions where a new run starts
        sorted_g = F.col(col)
        staged = staged.withColumn(
            f"{col}_b",
            F.filter(
                F.transform(sorted_g, lambda _g, i: i),
                lambda i: (i == 0)
                | (F.element_at(sorted_g, i + 1)
                   != F.element_at(sorted_g, i)),
            ),
        )
    for col in ("bi", "tri"):
        # run length = next boundary (or array end) - this boundary
        bounds = F.col(f"{col}_b")
        staged = staged.withColumn(
            f"{col}_r",
            F.when(
                F.size(bounds) > 0,
                F.zip_with(
                    bounds,
                    F.concat(
                        F.slice(
                            bounds,
                            2,
                            F.greatest(F.size(bounds) - 1, F.lit(0)),
                        ),
                        F.array(F.size(F.col(col))),
                    ),
                    lambda s, e: e - s,
                ),
            ).otherwise(F.array().cast("array<int>")),
        )

    bi, tri = F.col("bi_r"), F.col("tri_r")
    return staged.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        (
            F.size(F.array_distinct("tk")).cast("double")
            / F.size("tk").cast("double")
        ).alias("distinct_ratio"),
        (
            F.coalesce(F.array_max(bi), F.lit(0)).cast("double")
            / F.greatest(
                F.aggregate(bi, F.lit(0), lambda a, x: a + x), F.lit(1)
            ).cast("double")
        ).alias("top_bigram_frac"),
        (
            F.aggregate(
                tri,
                F.lit(0),
                lambda a, x: a + F.when(x > 1, x).otherwise(0),
            ).cast("double")
            / F.greatest(
                F.aggregate(tri, F.lit(0), lambda a, x: a + x), F.lit(1)
            ).cast("double")
        ).alias("dup_trigram_frac"),
    )


# --- q152: BPE merge training (iterative; rows-only driver check) -------
# The subword-tokenizer training loop itself (Sennrich et al. 2016):
# learn 12 merges from the documents corpus. Genuinely iterative
# (argmax per round feeds the next round's segmentation), so there is
# no closed-form SQL oracle — the driver records the weaker rows-only
# check, and determinism/correctness are pinned by pytest instead
# (hand-verified tiny corpus + repartition invariance,
# tests/test_text_functions.py).
@query("q152_bpe_train")
def q152_bpe_train(spark, sf_dir):
    from spark_etl_cli_spark.operators.encoding import bpe_train

    return bpe_train(t(spark, sf_dir, "documents"), n_merges=12)


# --- q155: duplicated-substring span share (exact n-gram islands) -------
# The C4/RefinedWeb-style cleaning signal the fingerprint families
# (q37-q39) approximate: per document, which token positions sit inside
# an EXACT 3-gram that also appears in another document, merged into
# maximal spans (gaps-and-islands). Scale shape: positional shingles
# explode once, the duplicated-gram set is a groupBy with an early
# HAVING (distinct-doc count >= 2), covered positions come back through
# one equi-join on the gram, and the island merge is a per-doc window
# over covered positions only — per-doc state is bounded by document
# length, nothing quadratic, no self-join of the corpus.
@query(
    "q155_dup_span_share",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+2], ' ') AS gr
      FROM tk, UNNEST(generate_series(1, greatest(len(tk) - 2, 0))) AS u(i)
    ),
    dup AS (
      SELECT gr FROM g GROUP BY gr HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, g.pos + o.off AS p
      FROM g JOIN dup USING (gr), UNNEST([0, 1, 2]) AS o(off)
    ),
    isl AS (
      SELECT doc_id, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM cov
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens,
             CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_spans
      FROM isl GROUP BY doc_id
    )
    SELECT d.doc_id, {SQL_NTOK} AS total_tokens,
           COALESCE(dup_tokens, 0) AS dup_tokens,
           CASE WHEN {SQL_NTOK} = 0 THEN 0.0
                ELSE CAST(COALESCE(dup_tokens, 0) AS DOUBLE)
                     / CAST({SQL_NTOK} AS DOUBLE) END AS dup_share,
           COALESCE(n_spans, 0) AS n_spans
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def q155_dup_span_share(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import token_count

    # Tokenize ONCE into doc-grain shingle arrays and materialize them:
    # both consumers (the dup-gram aggregate and the coverage join leg)
    # re-explode from the checkpoint instead of re-running the
    # regex shingle pass per branch (same pattern as q143).
    docg = with_word_shingles(
        fan_out(t(spark, sf_dir, "documents")),
        "text",
        3,
        distinct=False,
        out_col="grs",
        keep=["doc_id"],
    ).localCheckpoint(eager=False)
    grams = docg.select(
        "doc_id", F.posexplode("grs").alias("pos", "gr")
    )
    # "gram appears in >= 2 distinct docs" == min(doc) != max(doc) per
    # gram: a plain min/max aggregate with map-side partials replaces
    # countDistinct's Expand + two-exchange distinct-aggregate plan.
    # Kept as aggregate + equi-join (not a window flag) so hot grams
    # stay AQE-skew-splittable and duplicate grams collapse map-side.
    dup = (
        grams.groupBy("gr")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("gr")
    )
    covered_starts = (
        grams.join(dup, "gr")
        # Per-doc island merge, in-row: each surviving gram covers token
        # positions [pos, pos+2]; sorted distinct start positions are
        # enough to reconstruct the union exactly (covered-position
        # count and island count via one integer interval sweep), so
        # the 3x position explode + (doc, p) DISTINCT exchange + doc
        # window sort + countDistinct(grp) aggregate all collapse into
        # one collect_set and a fold over <= doc-length integers.
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("starts"))
    )
    sweep = F.aggregate(
        F.col("starts"),
        F.struct(
            F.lit(0).cast("bigint").alias("covered"),
            F.lit(-(2**62)).cast("bigint").alias("end"),
            F.lit(0).cast("bigint").alias("spans"),
        ),
        lambda acc, s: F.struct(
            (
                acc["covered"]
                + F.least(F.lit(3).cast("bigint"), s + 2 - acc["end"])
            ).alias("covered"),
            (s + 2).cast("bigint").alias("end"),
            (
                acc["spans"]
                + F.when(s.cast("bigint") > acc["end"] + 1, 1).otherwise(0)
            ).alias("spans"),
        ),
    )
    agg = covered_starts.select(
        "doc_id", sweep.alias("__sw")
    ).select(
        "doc_id",
        F.col("__sw.covered").alias("dup_tokens"),
        F.col("__sw.spans").alias("n_spans"),
    )
    ntok = token_count(F.col("text"))
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", ntok.alias("total_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "total_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.when(F.col("total_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("total_tokens").cast("double")
            )
            .alias("dup_share"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        )
    )


# --- q157: cross-source contamination matrix ----------------------------
# For every pair of sources, how many distinct 5-gram shingles they
# SHARE — the decontamination-style overlap measure behind "is corpus B
# already (partially) inside corpus A", computed before mixture
# weighting. Scale: distinct (shingle, source) entries groupBy to
# per-shingle source sets (bounded by #sources, not docs) with a
# hot-shingle df-cap, pairs generate in-row, one count agg — never a
# doc-level or shingle-level self-join. Integer-exact.
_Q157_SH5 = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 4, 0)), "
    "i -> array_to_string(tk[i:i+4], ' ')))"
)


@query(
    "q157_cross_source_overlap",
    oracle=f"""
    WITH tk AS (SELECT source, {SQL_TOKENS} AS tk FROM documents),
    ent AS (
      SELECT DISTINCT source, u.s AS sh
      FROM tk, UNNEST({_Q157_SH5}) AS u(s)
    ),
    sets AS (
      SELECT sh, COUNT(DISTINCT source) AS ns FROM ent GROUP BY sh
      HAVING COUNT(DISTINCT source) BETWEEN 2 AND 100
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_shingles
    FROM ent a JOIN sets USING (sh) JOIN ent b
      ON a.sh = b.sh AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q157_cross_source_overlap(spark, sf_dir):
    # no pre-distinct: collect_set dedupes (source, sh) pairs itself,
    # and partial aggregation bounds map-side state at <= |sources|
    # entries per shingle — one exchange instead of two
    ent = with_word_shingles(
        fan_out(t(spark, sf_dir, "documents")),
        "text",
        5,
        out_col="__sh",
        keep=["source"],
    ).select("source", F.explode("__sh").alias("sh"))
    sets = (
        ent.groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter((F.size("srcs") >= 2) & (F.size("srcs") <= 100))
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), b -> "
                "struct(a, b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("shared_shingles"))


# --- q159: containment near-dup pairs (one-sided) -------------------------
# Ordered pairs where ≥80% of doc A's distinct 4-gram shingles appear
# in doc B — the RefinedWeb-style "document contained in another"
# signal Jaccard misses (a quote or truncated mirror has low Jaccard
# against its superset but high containment). Same at-scale mechanics
# as q157: per-shingle doc SETS with a df-cap, ORDERED pairs generated
# in-row, one count agg, never a doc- or shingle-level self-join; the
# ratio test is integer cross-multiplication (inter*5 >= 4*size_a) —
# no floats anywhere. Input derives contained copies inline (first
# half of doc_id<100's tokens re-appended under +200000) so both
# engines observe real containment.
_Q159_SH4 = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 3, 0)), "
    "i -> array_to_string(tk[i:i+3], ' ')))"
)


@query(
    "q159_containment_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             array_to_string(tk[1:greatest(len(tk) // 2, 5)], ' ') AS text
      FROM (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
            WHERE doc_id < 100)
    ),
    tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM base),
    ent AS (
      SELECT DISTINCT doc_id, u.s AS sh
      FROM tk, UNNEST({_Q159_SH4}) AS u(s)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS size_a
              FROM ent GROUP BY doc_id),
    caps AS (SELECT sh FROM ent GROUP BY sh
             HAVING COUNT(*) BETWEEN 2 AND 100),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM ent a JOIN caps USING (sh)
      JOIN ent b ON a.sh = b.sh AND a.doc_id != b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, inter, size_a
    FROM inter JOIN sizes ON sizes.doc_id = inter.a_id
    WHERE inter * 5 >= 4 * size_a
    """,
)
def q159_containment_pairs(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import tokens

    d = t(spark, sf_dir, "documents")
    half = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(
            F.slice(
                tokens(F.col("text")),
                1,
                F.greatest(
                    F.floor(F.size(tokens(F.col("text"))) / 2), F.lit(5)
                ).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    base = d.select("doc_id", "text").unionByName(half)
    # shingle ONCE into doc-grain DISTINCT arrays (word_shingles
    # default) and checkpoint: sizes read off array length (no
    # aggregation), the explode is already unique per doc (the old
    # post-explode .distinct() exchange was a no-op), and both
    # branches reuse one tokenize pass, fanned out across the cluster.
    arrays = with_word_shingles(
        fan_out(base), "text", 4, out_col="__sh", keep=["doc_id"]
    ).localCheckpoint()
    ent = arrays.select("doc_id", F.explode("__sh").alias("sh"))
    sizes = arrays.select(
        "doc_id", F.size("__sh").cast("bigint").alias("size_a")
    )
    sets = (
        ent.groupBy("sh")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= 100))
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, a -> "
                "transform(filter(ds, x -> x != a), b -> struct(a, b))))"
            )
        ).alias("p")
    )
    inter = pairs.groupBy(
        F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id"), "a_id")
        .filter(F.col("inter") * 5 >= 4 * F.col("size_a"))
        .select("a_id", "b_id", "inter", "size_a")
    )


# --- q160: bigram collocation mining ---------------------------------------
# Top-5 bigrams per language by total occurrence count with document
# support >= 5 — the integer-exact collocation signal (PMI's count
# numerator) corpus-analysis pipelines compute before vocabulary work.
# Scale: one positional-shingle explode, ONE shuffle to (lang, bigram)
# partial-aggregated counts, then a 5-rows-per-group rank window over
# the already-aggregated (not raw) rows; ties break on the bigram
# string so both engines pick identical rows.
@query(
    "q160_collocations",
    oracle=f"""
    WITH tk AS (SELECT lang, doc_id, {SQL_TOKENS} AS tk FROM documents),
    bg AS (
      SELECT lang, doc_id, u.s AS bigram
      FROM tk, UNNEST(list_transform(
        generate_series(1, greatest(len(tk) - 1, 0)),
        i -> tk[i] || ' ' || tk[i+1])) AS u(s)
    ),
    agg AS (
      SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS total_cnt,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_support
      FROM bg GROUP BY lang, bigram
      HAVING COUNT(DISTINCT doc_id) >= 5
    )
    SELECT lang, bigram, total_cnt, doc_support, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY total_cnt DESC, bigram) AS rnk
      FROM agg
    ) WHERE rnk <= 5
    """,
)
def q160_collocations(spark, sf_dir):
    from pyspark.sql import Window as W

    bg = with_word_shingles(
        fan_out(t(spark, sf_dir, "documents")),
        "text",
        2,
        distinct=False,
        out_col="__bg",
        keep=["lang", "doc_id"],
    ).select("lang", "doc_id", F.explode("__bg").alias("bigram"))
    agg = (
        bg.groupBy("lang", "bigram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_cnt"),
            F.countDistinct("doc_id").cast("bigint").alias("doc_support"),
        )
        .filter(F.col("doc_support") >= 5)
    )
    w = W.partitionBy("lang").orderBy(F.col("total_cnt").desc(), "bigram")
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "total_cnt", "doc_support", "rnk")
    )


# --- q164: duplicate-cluster size histogram ---------------------------------
# Distribution of exact-duplicate cluster sizes — the dedup AUDIT view
# ("how much of the corpus is 2x-copied vs 1000x-copied?") that decides
# whether near-dup passes are worth running. Two map-side-combined
# hash aggs: corpus → |distinct fingerprints| → |distinct sizes|; the
# second input is already cluster-sized, so the histogram costs nothing
# beyond q33's fingerprint pass at any SF.
@query(
    "q164_dup_cluster_histogram",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS}),
    groups AS (
      SELECT {SQL_FP} AS fp, CAST(COUNT(*) AS BIGINT) AS sz
      FROM docs GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS removable_docs
    FROM groups GROUP BY sz
    """,
)
def q164_dup_cluster_histogram(spark, sf_dir):
    groups = (
        docs_with_dups(spark, sf_dir)
        .groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    return groups.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).cast("bigint").alias(
            "removable_docs"
        ),
    )


# --- q168: prefix-filtered Jaccard pairs (ppjoin shape) ----------------------
# The LOSSLESS scale path for exact-threshold Jaccard self-join
# (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 prefix filtering):
# order every document's shingle set by GLOBAL document frequency
# ascending (rare first, ties by shingle), index only the first
# p = n - ceil(t*n) + 1 shingles, and generate candidates from
# prefix-postings alone — if J(a,b) >= t the two prefixes must share a
# shingle, so recall is exact, while hot (stop-word) shingles sort to
# the suffix and never inflate a posting list. Candidates then verify
# with the TRUE Jaccard via an in-row array_intersect of the full
# sorted sets. vs q35's frequency-cap heuristic: same pair semantics
# (no cap in play at oracle scale), but the posting volume is
# (1-t)*|shingles| instead of |shingles|, and correctness needs no cap
# tuning at 100 TB — the candidate bound comes from the theorem, not a
# threshold. The oracle brute-forces true Jaccard.
@query(
    "q168_prefix_filter_pairs",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS}),
    sh AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 0)),
               i -> array_to_string(tk[i:i+2], ' '))) AS s
      FROM (SELECT doc_id, {SQL_TOKENS} AS tk FROM docs)
    ),
    ex AS (SELECT id, unnest(s) AS shingle FROM sh),
    co AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh)
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
             AS jaccard
    FROM co JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
    """,
)
def q168_prefix_filter_pairs(spark, sf_dir):
    thr = 0.5
    # Every downstream stage works on xxhash64(shingle) LONGS, not the
    # shingle strings: posting shuffles carry 8-byte keys, the
    # rare-first sort compares longs, and the verify stage intersects
    # long arrays (measured 5.5 s -> ~1.5 s for the 129k-candidate
    # intersect at sf0.1). EXACT-OR-LOUD: the df aggregation below
    # doubles as a corpus-wide injectivity gate — within every hash
    # bucket min(text) must equal max(text); any collision raises
    # before a single pair is emitted, so hash-based intersection
    # counts are PROVABLY the text counts whenever the query returns.
    # fan_out FIRST so the regex shingle pass runs cluster-wide.
    # EAGER checkpoint: the shingle arrays feed THREE plan branches
    # (df counts, the ordered-prefix build, and the verify stage's set
    # lookup); lazily-checkpointed RDDs can be computed concurrently
    # by the first stages of separate branches, paying the shingling
    # subtree up to twice (measured as 8s-vs-19s run variance)
    shingled = (
        with_word_shingles(
            fan_out(docs_with_dups(spark, sf_dir)),
            "text",
            3,
            out_col="shingles",
            keep=[F.col("doc_id").alias("id")],
        )
        .withColumn(
            "hs", F.transform("shingles", lambda x: F.xxhash64(x))
        )
        .localCheckpoint()
    )
    entries_ht = shingled.select(
        F.explode(F.arrays_zip("hs", "shingles")).alias("z")
    ).select(F.col("z.hs").alias("h"), F.col("z.shingles").alias("s"))
    # global rare-first order: df per shingle hash, then re-assemble
    # each doc's hashes sorted by (df, h) — the one total order both
    # sides of every pair agree on (the prefix-filter prerequisite).
    # min/max(s) piggy-back the collision gate on the same partial
    # aggregation.
    df_tbl = (
        entries_ht.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            (F.min("s") != F.max("s")).alias("bad"),
        )
        .localCheckpoint()
    )
    if df_tbl.filter("bad").limit(1).count() > 0:
        raise ValueError(
            "q168: xxhash64 collision between distinct shingles — "
            "hash-based intersection would be inexact; re-run with "
            "text keys."
        )
    entries = shingled.select("id", F.explode("hs").alias("h"))
    ordered = (
        entries.join(df_tbl.select("h", "df"), "h")
        .groupBy("id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, h))),"
                " x -> x.h)"
            ).alias("sorted_sh")
        )
    )
    prefixed = ordered.select(
        "id",
        F.size("sorted_sh").cast("bigint").alias("n"),
        F.expr(
            "slice(sorted_sh, 1, greatest(size(sorted_sh) "
            "- cast(ceil(0.5 * size(sorted_sh)) as int) + 1, 0))"
        ).alias("prefix"),
    )
    # postings carry (id, set size, 1-based position in the sorted
    # set) so the ppjoin LENGTH and POSITIONAL filters run IN-ROW on
    # each bucket pair before the distinct: a pair survives only if
    # (a) sizes allow J >= t at all (2*min >= max at t=0.5) and
    # (b) the tokens remaining after this shared position can still
    # reach the overlap floor alpha = ceil(t/(1+t)*(na+nb)) =
    # ceil((na+nb)/3). The first-common-token row has the loosest
    # bound, so true pairs always keep at least one row — lossless,
    # while candidate volume drops ~30x (measured 422k -> 14k pairs
    # at sf0.1) before the dedup exchange.
    cand_entries = prefixed.select(
        F.explode(
            F.expr(
                "transform(prefix, (s, i) -> "
                "struct(s AS shingle, i + 1 AS pos))"
            )
        ).alias("pe"),
        "id",
        "n",
    ).select(
        F.col("pe.shingle").alias("shingle"),
        F.struct(
            "id", "n", F.col("pe.pos").cast("bigint").alias("pos")
        ).alias("e"),
    )
    alpha = F.floor(
        (F.col("a.n") + F.col("b.n") + F.lit(2)) / F.lit(3)
    ).cast("bigint")
    cands = (
        bucket_pairs(cand_entries, "shingle")
        .filter(
            (2 * F.least("a.n", "b.n") >= F.greatest("a.n", "b.n"))
            & (
                F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                + 1
                >= alpha
            )
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .distinct()
    )
    # exact verification: in-row intersect of the two full hash sets —
    # long-array intersection, equal to the text intersection by the
    # injectivity gate above
    sets = shingled.select(
        "id", F.col("hs").alias("s"), F.size("hs").alias("n")
    )
    verified = (
        cands.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("s").alias("s_a"),
                F.col("n").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("s").alias("s_b"),
                F.col("n").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn(
            "inter",
            F.size(F.array_intersect("s_a", "s_b")).cast("bigint"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= thr)
    )
    return verified


# --- q172: character-diversity quality score ----------------------------
# Simpson collision index over the letter distribution of each doc —
# the zero-libm stand-in for character entropy (entropy needs ln, whose
# last-ulp rounding is libm-dependent; the collision probability
# Σ n_c² / n² is exact integers until ONE correctly-rounded division).
# Low diversity (high collision index) flags keyboard-mash / repeated-
# char spam the token-level gates miss. Plan: 26 replace/length
# expression pairs per row — pure codegen projection, NO explode and NO
# shuffle beyond the final nothing (per-doc output). At 100 TB this is
# a scan-rate map; the alternative (explode chars → groupBy doc,char)
# would shuffle one row per CHARACTER of the corpus.
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_SQL_LCNT = {
    c: f"(length(lower(text)) - length(replace(lower(text), '{c}', '')))"
    for c in _LETTERS
}
_SQL_NLET = "(" + " + ".join(_SQL_LCNT[c] for c in _LETTERS) + ")"
_SQL_SUMSQ = (
    "("
    + " + ".join(f"({_SQL_LCNT[c]} * {_SQL_LCNT[c]})" for c in _LETTERS)
    + ")"
)
_SQL_NDIST = (
    "("
    + " + ".join(f"CASE WHEN {_SQL_LCNT[c]} > 0 THEN 1 ELSE 0 END" for c in _LETTERS)
    + ")"
)


@query(
    "q172_char_diversity",
    oracle=f"""
    SELECT doc_id,
           CAST({_SQL_NLET} AS BIGINT) AS n_letters,
           CAST({_SQL_NDIST} AS BIGINT) AS n_distinct_letters,
           CASE WHEN {_SQL_NLET} = 0 THEN 0.0
                ELSE CAST({_SQL_SUMSQ} AS DOUBLE)
                     / CAST({_SQL_NLET} * {_SQL_NLET} AS DOUBLE)
           END AS collision_index
    FROM documents
    """,
)
def q172_char_diversity(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    cnt = {
        c: F.length(low) - F.length(F.replace(low, F.lit(c), F.lit("")))
        for c in _LETTERS
    }
    n_let = None
    sum_sq = None
    n_dist = None
    for c in _LETTERS:
        n_let = cnt[c] if n_let is None else n_let + cnt[c]
        sq = cnt[c] * cnt[c]
        sum_sq = sq if sum_sq is None else sum_sq + sq
        d1 = F.when(cnt[c] > 0, 1).otherwise(0)
        n_dist = d1 if n_dist is None else n_dist + d1
    return d.select(
        "doc_id",
        n_let.cast("bigint").alias("n_letters"),
        n_dist.cast("bigint").alias("n_distinct_letters"),
        F.when(n_let == 0, F.lit(0.0))
        .otherwise(sum_sq.cast("double") / (n_let * n_let).cast("double"))
        .alias("collision_index"),
    )


# --- q173: truncation-duplicate groups ----------------------------------
# Docs sharing an exact 64-char PREFIX but differing in full body —
# the truncated-recrawl / cut-off-generation dup shape that whole-text
# fingerprints (q33) are blind to by construction. The dup-bearing
# input re-appends docs under id+300000 cut to their first 200 chars
# (mirrored in SQL). Plan: one md5-of-prefix groupBy — 32-byte shuffle
# payloads exactly like exact dedup; prefix groups that are all
# byte-identical in full (COUNT(DISTINCT full_fp) = 1) are real exact
# dups, not truncations, and are excluded.
@query(
    "q173_truncation_dups",
    oracle="""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 300000 AS doc_id, substr(text, 1, 200) AS text
      FROM documents WHERE doc_id < 100
    )
    SELECT md5(substr(text, 1, 64)) AS prefix_fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_variants
    FROM base
    GROUP BY 1
    HAVING COUNT(*) > 1 AND COUNT(DISTINCT md5(text)) > 1
    """,
)
def q173_truncation_dups(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    cut = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    base = d.select("doc_id", "text").unionByName(cut)
    return (
        base.groupBy(F.md5(F.substring("text", 1, 64)).alias("prefix_fp"))
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            bcount("n_docs"),
            F.countDistinct(F.md5("text")).cast("bigint").alias("n_variants"),
        )
        .filter((F.col("n_docs") > 1) & (F.col("n_variants") > 1))
    )


# --- q174: aggressive-normalization (soft) dedup -------------------------
# Groups that collide only after stripping ALL non-alphanumerics — the
# tier between exact dedup (q33's fingerprint already folds case and
# whitespace) and MinHash: punctuation-noise copies ('a, b' vs 'a b')
# slip past q33's fp but collapse here. Dup-bearing input: docs under
# id+400000 with every space turned into comma-space. Plan: identical
# to exact dedup — md5-of-normalized groupBy, 32-byte shuffle payloads;
# the HAVING keeps only groups the EXACT fingerprint still considers
# distinct (soft dups, the new information this tier adds).
@query(
    "q174_normalized_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 400000 AS doc_id, replace(text, ' ', ', ') AS text
      FROM documents WHERE doc_id < 100
    )
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
             AS norm_fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT {SQL_FP}) AS BIGINT) AS n_exact_variants
    FROM base
    GROUP BY 1
    HAVING COUNT(*) > 1 AND COUNT(DISTINCT {SQL_FP}) > 1
    """,
)
def q174_normalized_dedup(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import normalize_ws

    d = t(spark, sf_dir, "documents")
    noisy = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.replace(F.col("text"), F.lit(" "), F.lit(", ")).alias("text"),
    )
    base = d.select("doc_id", "text").unionByName(noisy)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    exact_fp = F.md5(F.lower(normalize_ws(F.col("text"))))
    return (
        base.groupBy(F.md5(norm).alias("norm_fp"))
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            bcount("n_docs"),
            F.countDistinct(exact_fp).cast("bigint").alias("n_exact_variants"),
        )
        .filter((F.col("n_docs") > 1) & (F.col("n_exact_variants") > 1))
    )


# --- q180: bag-of-words (token-multiset) dedup ------------------------------
# The dedup tier between normalization (q174) and MinHash (q36):
# fingerprint the SORTED token multiset, catching reordered /
# shuffled-paragraph copies that every sequential fingerprint misses
# while staying a pure 32-byte-payload groupBy (no pair join at all).
# Dup-bearing input: docs under id+500000 with their token order
# REVERSED (mirrored in SQL). The HAVING keeps only groups the
# sequential fingerprint still tells apart — the new catches.
@query(
    "q180_bow_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 500000 AS doc_id,
             array_to_string(list_reverse({SQL_TOKENS}), ' ') AS text
      FROM documents WHERE doc_id < 100
    )
    SELECT md5(array_to_string(list_sort({SQL_TOKENS}), ' ')) AS bow_fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT {SQL_FP}) AS BIGINT) AS n_seq_variants
    FROM base
    GROUP BY 1
    HAVING COUNT(*) > 1 AND COUNT(DISTINCT {SQL_FP}) > 1
    """,
)
def q180_bow_dedup(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import normalize_ws, tokens

    d = t(spark, sf_dir, "documents")
    rev = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.array_join(F.reverse(tokens(F.col("text"))), " ").alias("text"),
    )
    base = d.select("doc_id", "text").unionByName(rev)
    bow_fp = F.md5(F.array_join(F.array_sort(tokens(F.col("text"))), " "))
    seq_fp = F.md5(F.lower(normalize_ws(F.col("text"))))
    return (
        base.groupBy(bow_fp.alias("bow_fp"))
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            bcount("n_docs"),
            F.countDistinct(seq_fp).cast("bigint").alias("n_seq_variants"),
        )
        .filter((F.col("n_docs") > 1) & (F.col("n_seq_variants") > 1))
    )


# --- q181: dedup-aware sampling weights -------------------------------------
# The repetition-control knob for training mixtures: every doc gets
# weight 1/|its exact-dup cluster| so a text seen k times contributes
# the same total mass as one seen once (the "count-based downweighting"
# used alongside fuzzy dedup). Weight is the exact integer
# floor(1e6 / k) — no float until nothing. Plan: one window COUNT
# partitioned by the 16-byte fingerprint — same shuffle as exact dedup,
# clusters are tiny so per-partition state is bounded.
@query(
    "q181_dedup_weights",
    oracle=f"""
    WITH docs AS ({SQL_DOCS_WITH_DUPS}),
    k AS (
      SELECT doc_id, source,
             COUNT(*) OVER (PARTITION BY {SQL_FP}) AS csize
      FROM docs
    )
    SELECT doc_id, source,
           CAST(csize AS BIGINT) AS cluster_size,
           CAST(1000000 // csize AS BIGINT) AS weight_micro
    FROM k
    """,
)
def q181_dedup_weights(spark, sf_dir):
    from pyspark.sql import Window as W

    from spark_etl_cli_spark.functions.text import fingerprint

    d = docs_with_dups(spark, sf_dir)
    w = W.partitionBy(fingerprint(F.col("text")))
    return d.select(
        "doc_id",
        "source",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        F.floor(F.lit(1000000) / F.count(F.lit(1)).over(w))
        .cast("bigint")
        .alias("weight_micro"),
    )


# --- q182: distinct-n n-gram diversity ---------------------------------
# The distinct-1/2/3 metric from the text-generation literature, per
# source: unique n-grams over total n-gram instances — low values
# flag template/boilerplate-heavy (or model-generated, mode-collapsed)
# corpora before they reach training. All-integer until the final
# ratio; uniqueness counts hash 16-hex md5 prefixes (64-bit) so the
# distinct shuffle carries fixed-width keys, not n-gram text — the
# oracle applies the identical transformation, so the comparison is
# exact whatever the (vanishing) collision odds do. Plan: one explode
# per n over POSITIONAL (non-distinct) shingles, map-side-combined
# per-(source, n) aggregation.
@query(
    "q182_distinct_ngrams",
    oracle=f"""
    WITH tk AS (SELECT source, {SQL_TOKENS} AS tk FROM documents),
    grams AS (
      SELECT source, n, substr(md5(g), 1, 16) AS h
      FROM tk, (SELECT unnest([1, 2, 3]) AS n) ns,
           UNNEST(list_transform(
             generate_series(1, greatest(len(tk) - n + 1, 0)),
             i -> array_to_string(tk[i:i+n-1], ' '))) AS u(g)
    )
    SELECT source, CAST(n AS INT) AS n,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS distinct_ngrams,
           CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS distinct_ratio
    FROM grams GROUP BY 1, 2
    """,
)
def q182_distinct_ngrams(spark, sf_dir):
    from spark_etl_cli_spark.operators.arrowtext import with_tagged_ngrams

    # ONE tokenize pass over all three gram sizes (tagged with n
    # in-row, Arrow stage) instead of a 3-leg union that re-scanned
    # and re-tokenized the corpus per n — and instead of three
    # interpreted shingle HOFs plus a per-element struct transform
    grams = with_tagged_ngrams(
        fan_out(t(spark, sf_dir, "documents")),
        "text",
        (1, 2, 3),
        distinct=False,
        out_col="__t",
        keep=["source"],
    ).select(
        "source",
        F.explode("__t").alias("t"),
    ).select(
        "source",
        F.col("t.n").alias("n"),
        F.substring(F.md5(F.col("t.g")), 1, 16).alias("h"),
    )
    return grams.groupBy("source", "n").agg(
        bcount("total_ngrams"),
        F.countDistinct("h").cast("bigint").alias("distinct_ngrams"),
        (
            F.countDistinct("h").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("distinct_ratio"),
    )


# --- q184: LSH candidate-set calibration (precision/recall) -------------
# The dedup-QA meta-query every threshold choice needs: how do the
# MinHash-LSH candidates (q36's exact plan) compare against exact
# shingle-Jaccard pairs (q35's exact plan) at the same τ=0.5? One full
# outer join of two pair sets → a single confusion row with exact
# counts; precision/recall are the only divisions. Both legs reuse
# the production operators unchanged, so this measures the REAL plans
# — at scale it's the recurring audit that licenses running LSH
# instead of the quadratic truth on the other 99.99% of the corpus.
@query(
    "q184_lsh_calibration",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id AS id, {_SQL_SH3} AS s FROM tk),
    hb AS (
      SELECT id, list_transform(s, x -> {_SQL_BASE28}) AS hb
      FROM sh WHERE len(s) > 0
    ),
    sig AS (
      SELECT id,
             list_transform(generate_series(1, 32),
               i -> list_min(list_transform(hb,
                 h -> ({_SQL_MH_A}[i] * h + {_SQL_MH_B}[i]) % {_MH_P}))) AS sig
      FROM hb
    ),
    cand0 AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(len(list_filter(generate_series(1, 32),
                      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 32.0
               AS est_jaccard,
             len(list_filter(generate_series(0, 7),
                 bb -> a.sig[bb*4+1:bb*4+4] = b.sig[bb*4+1:bb*4+4])) > 0
               AS band_hit
      FROM sig a JOIN sig b ON a.id < b.id
    ),
    cands AS (
      SELECT id_a, id_b FROM cand0 WHERE band_hit AND est_jaccard >= 0.5
    ),
    ex0 AS (SELECT id, unnest(s) AS shingle FROM sh),
    freq AS (SELECT shingle, COUNT(*) AS df FROM ex0 GROUP BY 1),
    ex AS (SELECT id, ex0.shingle FROM ex0
           JOIN freq ON ex0.shingle = freq.shingle AND freq.df <= 1000),
    co AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    sz AS (SELECT id, CAST(len(s) AS BIGINT) AS n FROM sh),
    truth AS (
      SELECT id_a, id_b
      FROM co JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id
      WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
            >= 0.5
    ),
    u AS (
      SELECT (c.id_a IS NOT NULL) AS in_cand,
             (t.id_a IS NOT NULL) AS in_truth
      FROM cands c FULL JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CASE WHEN SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) = 0 THEN 0.0
                ELSE CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0
                     END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS DOUBLE)
           END AS precision,
           CASE WHEN SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) = 0 THEN 0.0
                ELSE CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0
                     END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS DOUBLE)
           END AS recall
    FROM u
    """,
)
def q184_lsh_calibration(spark, sf_dir):
    from spark_etl_cli_spark.functions.text import md5_long28

    docs = t(spark, sf_dir, "documents")
    # both calibration legs key on the SAME distinct 3-shingle sets:
    # tokenize + shingle once into a checkpointed doc-grain frame and
    # feed it to both operators (shingles_col=), instead of each leg
    # re-running the tokenize/shingle pass over the corpus (guide
    # §2.4: don't compute the same thing twice)
    sh = with_word_shingles(
        fan_out(docs), "text", 3, out_col="__sh", keep=["doc_id"]
    ).localCheckpoint()
    cands = (
        minhash_lsh_pairs(
            sh, num_hashes=32, bands=8, shingle_k=3, base_hash=md5_long28,
            shingles_col="__sh",
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", F.lit(True).alias("in_cand"))
    )
    truth = shingle_pairs_jaccard(
        sh, k=3, threshold=0.5, max_shingle_freq=1000, shingles_col="__sh"
    ).select("id_a", "id_b", F.lit(True).alias("in_truth"))
    u = cands.join(truth, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_cand", F.lit(False)).alias("in_cand"),
        F.coalesce("in_truth", F.lit(False)).alias("in_truth"),
    )
    n_cand = F.sum(F.when(F.col("in_cand"), 1).otherwise(0)).cast("bigint")
    n_true = F.sum(F.when(F.col("in_truth"), 1).otherwise(0)).cast("bigint")
    n_hit = F.sum(
        F.when(F.col("in_cand") & F.col("in_truth"), 1).otherwise(0)
    ).cast("bigint")
    return u.agg(
        n_cand.alias("n_candidates"),
        n_true.alias("n_true"),
        n_hit.alias("n_hit"),
        F.when(n_cand == 0, F.lit(0.0))
        .otherwise(n_hit.cast("double") / n_cand.cast("double"))
        .alias("precision"),
        F.when(n_true == 0, F.lit(0.0))
        .otherwise(n_hit.cast("double") / n_true.cast("double"))
        .alias("recall"),
    )


# --- q186: dedup-tier waterfall ----------------------------------------
# The q49-style funnel for DEDUP: per source, how many docs does each
# successive tier remove — exact fingerprint (q33's), then aggressive
# normalization (q174's), then bag-of-words (q180's)? A doc is charged
# to the FIRST tier that sees it as a duplicate (not the group's
# min-id keeper). Input: documents + all three noise variants
# (whitespace, punctuation, token-reversal). Plan: three md5
# fingerprints computed in ONE projection, three COUNT windows each
# partitioned by its fingerprint (32-byte shuffle keys), one final
# per-source aggregation — no joins at all.
@query(
    "q186_dedup_waterfall",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000, regexp_replace(text, ' ', chr(9) || ' ', 'g'),
             'wsdup' FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 400000, replace(text, ' ', ', '), 'punctdup'
      FROM documents WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 500000,
             array_to_string(list_reverse({SQL_TOKENS}), ' '), 'bowdup'
      FROM documents WHERE doc_id < 100
    ),
    fp AS (
      SELECT source, doc_id,
             {SQL_FP} AS f1,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS f2,
             md5(array_to_string(list_sort({SQL_TOKENS}), ' ')) AS f3
      FROM base
    ),
    marked AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY f1 ORDER BY doc_id) > 1
               AS d1,
             ROW_NUMBER() OVER (PARTITION BY f2 ORDER BY doc_id) > 1
               AS d2,
             ROW_NUMBER() OVER (PARTITION BY f3 ORDER BY doc_id) > 1
               AS d3
      FROM fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d1 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_exact,
           CAST(SUM(CASE WHEN NOT d1 AND d2 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_normalized,
           CAST(SUM(CASE WHEN NOT d1 AND NOT d2 AND d3 THEN 1 ELSE 0 END)
                AS BIGINT) AS removed_bow,
           CAST(SUM(CASE WHEN NOT d1 AND NOT d2 AND NOT d3 THEN 1 ELSE 0
                END) AS BIGINT) AS survivors
    FROM marked GROUP BY source
    """,
)
def q186_dedup_waterfall(spark, sf_dir):
    from pyspark.sql import Window as W

    from spark_etl_cli_spark.functions.text import normalize_ws, tokens

    d = t(spark, sf_dir, "documents")
    lt100 = d.filter(F.col("doc_id") < 100)
    base = (
        d.select("doc_id", "text", "source")
        .unionByName(
            lt100.select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.regexp_replace("text", " ", "\t ").alias("text"),
                F.lit("wsdup").alias("source"),
            )
        )
        .unionByName(
            lt100.select(
                (F.col("doc_id") + 400000).alias("doc_id"),
                F.replace(F.col("text"), F.lit(" "), F.lit(", ")).alias(
                    "text"
                ),
                F.lit("punctdup").alias("source"),
            )
        )
        .unionByName(
            lt100.select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                F.array_join(F.reverse(tokens(F.col("text"))), " ").alias(
                    "text"
                ),
                F.lit("bowdup").alias("source"),
            )
        )
    )
    fp = base.select(
        "source",
        "doc_id",
        F.md5(F.lower(normalize_ws(F.col("text")))).alias("f1"),
        F.md5(
            F.trim(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
            )
        ).alias("f2"),
        F.md5(F.array_join(F.array_sort(tokens(F.col("text"))), " ")).alias(
            "f3"
        ),
    )
    dup = lambda c: (  # noqa: E731
        F.row_number().over(W.partitionBy(c).orderBy("doc_id")) > 1
    )
    marked = fp.select(
        "source",
        dup("f1").alias("d1"),
        dup("f2").alias("d2"),
        dup("f3").alias("d3"),
    )
    flag = lambda c, a: F.sum(  # noqa: E731
        F.when(c, 1).otherwise(0)
    ).cast("bigint").alias(a)
    return marked.groupBy("source").agg(
        bcount("n_docs"),
        flag(F.col("d1"), "removed_exact"),
        flag(~F.col("d1") & F.col("d2"), "removed_normalized"),
        flag(~F.col("d1") & ~F.col("d2") & F.col("d3"), "removed_bow"),
        flag(~F.col("d1") & ~F.col("d2") & ~F.col("d3"), "survivors"),
    )


# --- q193: cross-document n-gram duplication rate ----------------------------
# The memorization-risk audit: what fraction of each source's distinct
# 5-gram word shingles also appear in at least one OTHER document?
# High cross-doc shingle overlap marks boilerplate/template sources
# that inflate memorization without adding signal. Exact (no MinHash):
# the count never generates pairs — an inverted index of distinct
# (doc, gram) postings, per-gram document frequency, one join back,
# exact integer counts with a single final double division. Scale:
# the explode is linear (~|tokens| postings), every shuffle key is a
# gram/doc hash, the gram-df groupBy combines map-side, and the join
# back reuses the gram partitioning — no window, nothing quadratic.
@query(
    "q193_crossdoc_ngram_dup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {SQL_TOKENS} AS tk FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(tk[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)],
                             ' ') AS gram
      FROM tok, UNNEST(range(1, len(tk) - 3)) AS u(i)
      WHERE len(tk) >= 5
    ),
    df AS (
      SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS gdf
      FROM g GROUP BY 1
    )
    SELECT g.source,
           CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_postings,
           CAST(SUM(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_postings,
           CAST(SUM(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
    FROM g JOIN df USING (gram)
    GROUP BY 1
    """,
)
def q193_crossdoc_ngram_dup(spark, sf_dir):
    # Aggregate-grain plan: per-doc grams dedup IN-ROW (array_distinct
    # before the explode), so postings are (doc, gram)-unique by
    # construction and the ONLY posting-grain shuffle is the map-side-
    # combining groupBy to (gram, source, cnt). Each doc has exactly
    # one source, so per-gram document frequency = sum(cnt) over that
    # gram's sources — computed as a gram-partitioned window SUM over
    # the aggregate, which keeps ONE explode subtree (a join of two
    # aggregates would re-scan and re-explode the corpus per side —
    # measured 2.7-3.5 s vs 1.6-2.1 s at sf0.1) and shuffles only
    # aggregate-grain rows. n_docs comes straight from the doc table
    # (a doc bears postings iff it has >= 5 tokens). At 100 TB this
    # replaces the old posting-grain distinct + posting-to-df
    # full-width join with one partial-aggregated posting shuffle +
    # one aggregate-grain exchange.
    from pyspark.sql import Window

    d = fan_out(t(spark, sf_dir, "documents"))
    tk = tokens(F.col("text"))
    # per-doc distinct 5-grams
    gs = (
        with_word_shingles(d, "text", 5, out_col="__g", keep=["source"])
        .select("source", F.explode("__g").alias("gram"))
        .groupBy("gram", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    j = gs.withColumn(
        "gdf", F.sum("cnt").over(Window.partitionBy("gram"))
    )
    per_source = j.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_postings"),
        F.sum(F.when(F.col("gdf") >= 2, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("dup_postings"),
    )
    n_docs = (
        d.filter(F.size(tk) >= 5)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return n_docs.join(per_source, "source").select(
        "source",
        "n_docs",
        "n_postings",
        "dup_postings",
        (
            F.col("dup_postings").cast("double")
            / F.col("n_postings").cast("double")
        ).alias("dup_ratio"),
    )


# --- q203: EXACT-SUBSTRING dedup spans (suffix-array-style) -------------
# The dedup tier whole-doc tiers can't express: cross-document shared
# spans of >= k consecutive tokens, found suffix-array-style (Lee et
# al., ACL 2022) but Spark-shaped — k-token rolling-window postings,
# in-row pair generation per posting list (bucket_pairs: ONE shuffle,
# no self-join), then a gaps-and-islands merge of diagonal-consecutive
# matched windows into maximal spans (operators/substring.py). The
# DuckDB oracle replays the identical construction with a window-text
# self-join + the same islands grouping, so operator and oracle rules
# are ONE rule. key='text' (registered here) is bit-exact; key='hash'
# is the 8-byte-shuffle-key 100 TB switch with span-grain verification
# (raises on any xxhash64 collision rather than silently diverging).
_SUBSTR_K = 8


def _sql_substr_spans(k: int) -> str:
    """Shared oracle CTE chain: documents -> k-token windows ->
    cross-doc matched windows -> maximal spans per (pair, diagonal)."""
    return f"""
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM documents),
    pos_t AS (SELECT doc_id, t,
                     unnest(generate_series(0, greatest(len(t)-{k}, -1)))
                       AS pos
              FROM toks),
    w AS (SELECT doc_id, pos,
                 array_to_string(t[pos+1:pos+{k}], ' ') AS win
          FROM pos_t),
    p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos a_pos, b.pos b_pos
          FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id),
    runs AS (SELECT *, a_pos - b_pos AS diag,
                    a_pos - ROW_NUMBER() OVER (
                      PARTITION BY doc_a, doc_b, a_pos - b_pos
                      ORDER BY a_pos) AS isl
             FROM p),
    spans AS (SELECT doc_a, doc_b, MIN(a_pos) AS a_start,
                     MIN(b_pos) AS b_start,
                     MAX(a_pos) - MIN(a_pos) + {k} AS span_len
              FROM runs GROUP BY doc_a, doc_b, diag, isl)
    """


# --- q203: maximal cross-doc shared substring spans ---------------------
@query(
    "q203_substring_dup_spans",
    oracle=f"""
    WITH {_sql_substr_spans(_SUBSTR_K)}
    SELECT doc_a, doc_b, a_start, b_start, span_len FROM spans
    """,
)
def q203_substring_dup_spans(spark, sf_dir):
    from spark_etl_cli_spark.operators.substring import (
        substring_dup_spans,
    )

    return substring_dup_spans(
        t(spark, sf_dir, "documents"), k=_SUBSTR_K, key="hash"
    )


# --- q204: substring-tier whole-doc dedup decisions ---------------------
# A doc duplicating >= min_span consecutive tokens of ANY earlier doc
# is a dup; dup_of = the smallest such neighbor (span-sized rollup on
# top of the q203 machinery).
@query(
    "q204_substring_dedup",
    oracle=f"""
    WITH {_sql_substr_spans(_SUBSTR_K)},
    dec AS (SELECT doc_b AS id, MIN(doc_a) AS dup_of,
                   MAX(span_len) AS shared_span
            FROM spans WHERE span_len >= 12 GROUP BY doc_b)
    SELECT d.doc_id AS id, dec.dup_of, dec.shared_span
    FROM documents d LEFT JOIN dec ON d.doc_id = dec.id
    """,
)
def q204_substring_dedup(spark, sf_dir):
    from spark_etl_cli_spark.operators.substring import substring_dedup

    return substring_dedup(
        t(spark, sf_dir, "documents"), k=_SUBSTR_K, min_span=12,
        key="hash",
    )


# --- q205: substring span REMOVAL (surgical scrub) ----------------------
# Delete exactly the token ranges duplicating >= min_span tokens of an
# earlier doc (interval union per doc, earliest occurrence survives) —
# the Lee et al. remedy that keeps the rest of the document.
@query(
    "q205_substring_scrub",
    oracle=f"""
    WITH {_sql_substr_spans(_SUBSTR_K)},
    iv AS (SELECT doc_b AS id, b_start AS s, b_start + span_len AS e
           FROM spans WHERE span_len >= 12),
    m1 AS (SELECT id, s, e,
                  CASE WHEN s > coalesce(MAX(e) OVER (
                         PARTITION BY id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS brk
           FROM iv),
    m2 AS (SELECT id, s, e, SUM(brk) OVER (
             PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING)
             AS isl
           FROM m1),
    merged AS (SELECT id, MIN(s) AS s, MAX(e) AS e
               FROM m2 GROUP BY id, isl),
    pos_tok AS (SELECT doc_id, pos, t[pos+1] AS tok
                FROM (SELECT doc_id, t,
                             unnest(generate_series(0, len(t)-1)) AS pos
                      FROM toks)),
    kept AS (SELECT p.* FROM pos_tok p
             WHERE NOT EXISTS (SELECT 1 FROM merged m
                               WHERE m.id = p.doc_id
                                 AND p.pos >= m.s AND p.pos < m.e)),
    rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id),
    toklen AS (SELECT doc_id, len(t) AS n FROM toks)
    SELECT tl.doc_id AS id, coalesce(r.txt, '') AS text_clean,
           tl.n - coalesce(r.n_kept, 0) AS removed_tokens
    FROM toklen tl LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q205_substring_scrub(spark, sf_dir):
    from spark_etl_cli_spark.operators.substring import substring_scrub

    return substring_scrub(
        t(spark, sf_dir, "documents"), k=_SUBSTR_K, min_span=12,
        key="hash",
    )


# --- q206: per-source substring duplication profile ---------------------
# The corpus-audit rollup the substring tier exists to feed: per
# source, how many documents duplicate >= 12 consecutive tokens of an
# earlier document, and what fraction of the source's tokens is
# removable duplication (the scrub's interval-union token count over
# the source's total tokens). Built on the q205 machinery: spans ->
# qualifying intervals -> per-doc interval union -> source rollup —
# everything after the posting shuffle is duplication-sized.
@query(
    "q206_substring_dup_profile",
    oracle=f"""
    WITH {_sql_substr_spans(_SUBSTR_K)},
    iv AS (SELECT doc_b AS id, b_start AS s, b_start + span_len AS e
           FROM spans WHERE span_len >= 12),
    m1 AS (SELECT id, s, e,
                  CASE WHEN s > coalesce(MAX(e) OVER (
                         PARTITION BY id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS brk
           FROM iv),
    m2 AS (SELECT id, s, e, SUM(brk) OVER (
             PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING)
             AS isl
           FROM m1),
    merged AS (SELECT id, MIN(s) AS s, MAX(e) AS e
               FROM m2 GROUP BY id, isl),
    per_doc AS (SELECT id, SUM(e - s) AS cut FROM merged GROUP BY id),
    dl AS (SELECT d.doc_id, d.source, len(tk.t) AS n
           FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id)
    SELECT dl.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p.cut IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_docs,
           CAST(SUM(coalesce(p.cut, 0)) AS BIGINT) AS dup_tokens,
           CAST(SUM(dl.n) AS BIGINT) AS total_tokens,
           CAST(SUM(coalesce(p.cut, 0)) AS DOUBLE)
             / CAST(SUM(dl.n) AS DOUBLE) AS dup_token_ratio
    FROM dl LEFT JOIN per_doc p ON dl.doc_id = p.id
    GROUP BY dl.source
    """,
)
def q206_substring_dup_profile(spark, sf_dir):
    from spark_etl_cli_spark.operators.substring import substring_scrub

    d = t(spark, sf_dir, "documents")
    sc = substring_scrub(d, k=_SUBSTR_K, min_span=12, key="hash")
    dl = d.select(
        F.col("doc_id").alias("id"),
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n"),
    )
    return (
        dl.join(sc.select("id", "removed_tokens"), "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("removed_tokens") > 0).cast("int"))
            .cast("bigint")
            .alias("dup_docs"),
            F.sum("removed_tokens").cast("bigint").alias("dup_tokens"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            (
                F.sum("removed_tokens").cast("double")
                / F.sum("n").cast("double")
            ).alias("dup_token_ratio"),
        )
    )


# --- q207/q208: substring-grain train/benchmark decontamination ---------
# The GPT-3/PaLM decontamination rule at span grain: a training doc is
# contaminated when it contains a >= k-token VERBATIM span of a
# benchmark doc (stronger evidence than decontaminate://'s shared-
# n-gram counts). Here source 'src0' plays the benchmark suite and the
# rest of the corpus the training set. The benchmark side BROADCASTS
# (benchmark-suite-sized), so the corpus-side postings never shuffle —
# the contamination probe is map-side at any corpus scale.
def _sql_contam_spans(k: int) -> str:
    return f"""
    tr AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           FROM documents WHERE source <> 'src0'),
    be AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           FROM documents WHERE source = 'src0'),
    trw AS (SELECT doc_id, pos,
                   array_to_string(t[pos+1:pos+{k}], ' ') AS win
            FROM (SELECT doc_id, t,
                         unnest(generate_series(0, greatest(len(t)-{k},
                                                            -1))) AS pos
                  FROM tr)),
    bew AS (SELECT doc_id, pos,
                   array_to_string(t[pos+1:pos+{k}], ' ') AS win
            FROM (SELECT doc_id, t,
                         unnest(generate_series(0, greatest(len(t)-{k},
                                                            -1))) AS pos
                  FROM be)),
    p AS (SELECT a.doc_id train_doc_id, b.doc_id bench_doc_id,
                 a.pos a_pos, b.pos b_pos
          FROM trw a JOIN bew b ON a.win = b.win),
    runs AS (SELECT *, a_pos - b_pos AS diag,
                    a_pos - ROW_NUMBER() OVER (
                      PARTITION BY train_doc_id, bench_doc_id,
                                   a_pos - b_pos
                      ORDER BY a_pos) AS isl
             FROM p),
    spans AS (SELECT train_doc_id, bench_doc_id,
                     MIN(a_pos) AS t_start, MIN(b_pos) AS b_start,
                     MAX(a_pos) - MIN(a_pos) + {k} AS span_len
              FROM runs GROUP BY train_doc_id, bench_doc_id, diag, isl)
    """


# --- q207: substring contamination span report --------------------------
@query(
    "q207_substring_contamination",
    oracle=f"""
    WITH {_sql_contam_spans(_SUBSTR_K)}
    SELECT train_doc_id, bench_doc_id, t_start, b_start, span_len
    FROM spans
    """,
)
def q207_substring_contamination(spark, sf_dir):
    from spark_etl_cli_spark.operators.substring import (
        substring_contamination_spans,
    )

    d = t(spark, sf_dir, "documents")
    return substring_contamination_spans(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        k=_SUBSTR_K,
        key="hash",
    )


# --- q208: substring decontamination scrub of the training set ----------
@query(
    "q208_substring_decontaminate",
    oracle=f"""
    WITH {_sql_contam_spans(_SUBSTR_K)},
    iv AS (SELECT train_doc_id AS id, t_start AS s,
                  t_start + span_len AS e
           FROM spans WHERE span_len >= 12),
    m1 AS (SELECT id, s, e,
                  CASE WHEN s > coalesce(MAX(e) OVER (
                         PARTITION BY id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS brk
           FROM iv),
    m2 AS (SELECT id, s, e, SUM(brk) OVER (
             PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING)
             AS isl
           FROM m1),
    merged AS (SELECT id, MIN(s) AS s, MAX(e) AS e
               FROM m2 GROUP BY id, isl),
    pos_tok AS (SELECT doc_id, pos, t[pos+1] AS tok
                FROM (SELECT doc_id, t,
                             unnest(generate_series(0, len(t)-1)) AS pos
                      FROM tr)),
    kept AS (SELECT p.* FROM pos_tok p
             WHERE NOT EXISTS (SELECT 1 FROM merged m
                               WHERE m.id = p.doc_id
                                 AND p.pos >= m.s AND p.pos < m.e)),
    rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id),
    toklen AS (SELECT doc_id, len(t) AS n FROM tr)
    SELECT tl.doc_id AS id, coalesce(r.txt, '') AS text_clean,
           tl.n - coalesce(r.n_kept, 0) AS removed_tokens
    FROM toklen tl LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q208_substring_decontaminate(spark, sf_dir):
    from spark_etl_cli_spark.operators.substring import (
        substring_decontaminate,
    )

    d = t(spark, sf_dir, "documents")
    return substring_decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        k=_SUBSTR_K,
        min_span=12,
        action="scrub",
        key="hash",
    )
