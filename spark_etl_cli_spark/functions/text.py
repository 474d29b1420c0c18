"""Text-analysis column functions for large-scale corpus pipelines.

All pure built-in-function compositions (JVM-side, codegen'd): no
Python UDFs anywhere, so these run at full whole-stage-codegen speed
over 100 TB of documents. Each has deterministic cross-engine semantics
so a DuckDB oracle can verify it.

Capabilities (north-star extensions beyond the reference, per
SURVEY.md §2d north-star list): tokenization/counting, quality
scoring, language ID (stopword heuristic), document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the heuristic language ID.
# Chosen to be regex-safe and language-distinctive.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "que", "es"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def normalize_ws(text: Column) -> Column:
    """Collapse whitespace runs and trim — canonical text form."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    norm = normalize_ws(text)
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    ).cast("bigint")


def tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens of the normalized text."""
    return F.split(F.lower(normalize_ws(text)), " ")


def word_shingles(text: Column, k: int = 3, distinct: bool = True) -> Column:
    """Array of k-word shingles of ``norm = lower(normalize_ws(text))``,
    joined with single spaces; ``[]`` for NULL text and for docs with
    fewer than k tokens.

    ``distinct=True`` (the dedup-family default) returns the shingle
    SET in first-occurrence order; ``distinct=False`` keeps one entry
    per position (tf counting, e.g. sparse TF-IDF vectors in
    operators/retrieval.py).

    One codegen'd expression, no lambda: for k >= 2 a
    ``regexp_extract_all`` whose zero-width pattern matches once per
    token start and captures the k tokens ahead of it in a lookahead,
    so matches overlap. ``norm`` is its tokens joined by single spaces
    (``normalize_ws`` turned every Java ``\\s`` run into one space and
    trimmed the ends), so ``\\S+`` tokens are exactly the
    ``split(norm, ' ')`` tokens and each capture is the substring of
    ``norm`` spanning k of them. k = 1 is that split itself, which
    keeps ``""`` -> ``[""]``.

    The lookbehind is positive (``(?<=^| )``): after a zero-width match
    Java's ``Matcher`` advances one UTF-16 unit, so a negative form such
    as ``(?<![^ ])`` also matched between the halves of a surrogate pair
    and captured a shingle that starts with a lone low surrogate (an
    emoji token). Between the halves the preceding unit is the high
    surrogate, never a space.
    """
    if k < 1:
        raise ValueError(f"shingle size k must be >= 1, got {k}")
    if k == 1:
        positional = tokens(text)
    else:
        pattern = rf"(?<=^| )(?=(\S+(?: \S+){{{k - 1}}}))"
        positional = F.regexp_extract_all(
            F.lower(normalize_ws(text)), F.lit(pattern), F.lit(1)
        )
    positional = F.coalesce(positional, F.array().cast("array<string>"))
    return F.array_distinct(positional) if distinct else positional


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    clean = F.regexp_replace(text, r"[A-Za-z0-9 ]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(clean).cast("double") / F.length(text).cast("double")
    )


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are common-English stopwords."""
    sw = stopwords or ["the", "a", "an", "and", "of", "to", "in", "is", "it"]
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks).cast("double")
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: favors mid-length docs with
    low punctuation noise and a natural stopword rate.

    score = 0.4*length_score + 0.3*(1-punct_ratio) + 0.3*stopword_presence
    with length_score = min(n_tokens, 100)/100.
    """
    ntok = token_count(text)
    length_score = F.least(ntok, F.lit(100)).cast("double") / F.lit(100.0)
    sw = stopword_ratio(text)
    sw_presence = F.least(sw * F.lit(5.0), F.lit(1.0))
    return (
        F.lit(0.4) * length_score
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text))
        + F.lit(0.3) * sw_presence
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: language with the most marker-token hits;
    deterministic tie-break on language code (max wins); 'und' when no
    hits (including null text).

    Hits are counted with ONE alternation ``regexp_count`` scan per
    language over the space-padded normalized text (lookarounds are
    zero-width, so adjacent marker tokens " a a " each count; a token
    matches at most one of a language's distinct markers, so the
    alternation count equals the per-marker sum). The five counts are
    let-bound into an array evaluated once per row; the argmax CASE
    references ``element_at`` on that array. The naive forms are
    dramatically slower COLD: a per-token higher-order ``filter`` runs
    interpreted, and inlining the count subtrees into every CASE branch
    duplicated ~150 regexp nodes into one codegen method (14.5s vs
    4.4s first-run at sf0.1, measured; warm 1.8s vs 0.7s).
    """
    padded = F.concat(F.lit(" "), F.lower(normalize_ws(text)), F.lit(" "))
    codes = sorted(LANG_MARKERS)
    harr = F.array(
        *[
            F.regexp_count(
                padded,
                F.lit("(?<= )(" + "|".join(LANG_MARKERS[c]) + ")(?= )"),
            ).cast("bigint")
            for c in codes
        ]
    )

    def pick(h: Column) -> Column:
        mx = F.array_max(h)
        e = F.when(mx == 0, F.lit("und"))
        # reverse order: on tied hit counts the lexicographically
        # largest language code wins (max-by-(hits, lang) semantics).
        for i, lang in sorted(enumerate(codes), key=lambda t: t[1], reverse=True):
            e = e.when(F.element_at(h, i + 1) == mx, F.lit(lang))
        return e.otherwise(F.lit("und"))

    return F.element_at(F.transform(F.array(harr), pick), 1)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the lower-cased,
    whitespace-normalized text (portable across engines)."""
    return F.md5(F.encode(F.lower(normalize_ws(text)), "UTF-8"))


def md5_long(col: Column, salt: Column | None = None) -> Column:
    """Oracle-replicable 60-bit hash: first 15 hex chars of md5 → long.

    The cross-engine twin of ``xxhash64`` — DuckDB computes the same
    value as ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``. With a
    ``salt`` the input becomes ``x || '#' || salt`` on both sides,
    giving a family of independent hash functions (MinHash salts).
    60 bits always fit a signed long, so no sign games are needed.
    """
    s = col if salt is None else F.concat(col, F.lit("#"), salt.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def md5_long28(col: Column) -> Column:
    """Oracle-replicable 28-bit base hash: first 7 md5 hex chars → long.

    DuckDB twin: ``CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT)``.
    Sized so an affine follow-up ``a * h + b`` with ``a < 2^31`` stays
    under 2^59 — exact in 64-bit signed arithmetic on BOTH engines (no
    int128 on the Spark side). 28 bits is plenty for a MinHash *base*
    hash: collisions only merge shingles, and at ~10^6 distinct
    shingles the expected number of colliding pairs is a few thousand
    out of ~10^12 — noise far below the estimator's own variance.
    """
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


#: Mersenne prime 2^31 - 1: modulus of the affine MinHash family.
MINHASH_P = (1 << 31) - 1


def affine_minhash_constants(num_hashes: int) -> tuple[list[int], list[int], int]:
    """Deterministic ``(a_i, b_i, p)`` for the affine MinHash family.

    ``h_i(x) = (a_i * base(x) + b_i) mod p`` — the textbook universal
    family (Broder'97 resemblance sketches use exactly this shape).
    ``a_i != 0 mod p`` makes every member a true permutation of Z_p.
    One base hash per shingle + ``num_hashes`` multiply-add-mods
    replaces ``num_hashes`` cryptographic hashes per shingle (~30x
    cheaper measured on the 5k-doc corpus), and the integer constants
    replay verbatim in an ANSI-SQL oracle.
    """
    p = MINHASH_P
    a = [(i * 2654435761 + 1013904223) % (p - 1) + 1 for i in range(num_hashes)]
    b = [(i * 1597334677 + 12345) % p for i in range(num_hashes)]
    return a, b, p


def winnow_fingerprints(text: Column, k: int = 5, w: int = 4) -> Column:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03).

    Hash every character k-gram, slide a window of ``w`` consecutive
    hashes, keep each window's minimum, return the distinct minima —
    the classic local-fingerprint scheme whose guarantee is: any shared
    substring of length >= k+w-1 yields at least one shared fingerprint.

    The k-gram hash is the first 15 hex chars of md5 (60 bits) rather
    than xxhash64, so the whole pipeline is replicable in ANSI SQL for
    the oracle. All array ops (sequence/transform/slice/min/distinct)
    are codegen'd built-ins — no shuffle, no UDF.
    """
    def grams_of(s: Column) -> Column:
        n_grams = F.greatest(F.length(s) - F.lit(k - 1), F.lit(0))
        return F.when(n_grams <= 0, F.array().cast("array<long>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: F.conv(
                    F.md5(s.substr(i, F.lit(k))).substr(1, 15), 16, 10
                ).cast("long"),
            )
        )

    def windows_of(g: Column) -> Column:
        n_windows = F.size(g) - F.lit(w - 1)
        # sliding min as a zip_with fold over w shifted slices of the
        # *bound* gram array: O(w) array scans per row, zero md5
        # recomputation.
        shifted = [
            F.slice(g, i + 1, F.greatest(n_windows, F.lit(1))) for i in range(w)
        ]
        folded = shifted[0]
        for s in shifted[1:]:
            folded = F.zip_with(folded, s, lambda x, y: F.least(x, y))
        return F.when(
            n_windows <= 0,
            # short doc: a single window over whatever grams exist
            F.when(F.size(g) > 0, F.array(F.array_min(g))).otherwise(
                F.array().cast("array<long>")
            ),
        ).otherwise(folded)

    # Double let-binding (transform over one-element arrays): the
    # normalized string is computed once, the md5 gram array once —
    # subtree references inside HOF lambdas are re-evaluated per call,
    # so without the binding every slice/size reference would redo
    # every md5 (O(n*w) md5s instead of O(n)).
    norm = F.lower(normalize_ws(text))
    bound = F.element_at(
        F.transform(
            F.array(norm),
            lambda s: F.element_at(
                F.transform(F.array(grams_of(s)), lambda g: windows_of(g)), 1
            ),
        ),
        1,
    )
    return F.array_sort(F.array_distinct(bound))
