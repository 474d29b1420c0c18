"""Arrow-vectorized text map stages (guide §4.2).

Plain shingling needs no Python: ``word_shingles`` (functions/text.py)
is one codegen'd ``regexp_extract_all``, and :func:`with_word_shingles`
is its projection. It replaced a ``mapInArrow`` stage here that
produced the same strings, because that stage started Python workers
(about 3 s before a cold process's first batch, about 330 MB) and was
no faster warm.

Two stages stay in Python, each where it measured faster than its
JVM form:

- :func:`with_shingle_md5_longs` hashes each shingle to an md5-prefix
  long with OpenSSL's md5 in the worker, so 8 bytes per shingle return
  to the JVM, where the JVM form runs one md5 + ``conv`` per exploded
  shingle row (q36/q200/q202 1.41x/1.13x/1.25x A-B-A).
- :func:`with_tagged_ngrams` emits several gram sizes from one
  tokenization, instead of one shingle pass per size plus an
  interpreted per-element struct ``transform`` (q182 1.17x A-B-A).

Both work on the JVM-normalized string
``lower(trim(regexp_replace(text, '\\s+', ' ')))``, so Java's regex
and lowering rules stay the only ones; Python only does offset
arithmetic over its single-space separated tokens (:func:`_py_shingles`,
also the reference that ``tests/test_arrowtext.py`` holds
``word_shingles`` to, byte for byte).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_etl_cli_spark.functions.text import normalize_ws, word_shingles


def _py_shingles(norm: str | None, k: int, distinct: bool) -> list[str]:
    """Shingles of an already-normalized string (single-space separated,
    no leading/trailing space). Twin of ``word_shingles`` given
    ``norm = lower(normalize_ws(text))``:

    - ``None`` → ``[]`` (NULL text);
    - fewer than k tokens → ``[]`` (the short-doc guard);
    - otherwise one entry per position, each the substring spanning k
      tokens, optionally distinct with first-occurrence order.
    """
    if norm is None:
        return []
    toks = norm.split(" ")
    n = len(toks)
    if n < k:
        return []
    # norm == " ".join(toks): precompute each token's [start, end) in
    # norm; shingle i = norm[start_i : end_{i+k-1}]
    ends = []
    pos = 0
    starts = []
    for t in toks:
        starts.append(pos)
        pos += len(t)
        ends.append(pos)
        pos += 1  # the single separating space
    out = [norm[starts[i] : ends[i + k - 1]] for i in range(n - k + 1)]
    if distinct:
        out = list(dict.fromkeys(out))
    return out


def with_word_shingles(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    *,
    distinct: bool = True,
    out_col: str = "shingles",
    keep: list[str | Column] | None = None,
) -> DataFrame:
    """``df.select(*keep, word_shingles(text_col, k, distinct))``.

    ``keep`` defaults to every column except ``text_col``. Returns
    columns ``[*keep, out_col: array<string>]``.
    """
    if keep is None:
        keep = [c for c in df.columns if c != text_col]
    return df.select(
        *keep, word_shingles(F.col(text_col), k, distinct).alias(out_col)
    )


def with_shingle_md5_longs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    *,
    hex_chars: int = 15,
    distinct: bool = True,
    out_col: str = "hs",
    keep: list[str | Column] | None = None,
) -> DataFrame:
    """Shingle + md5-prefix hash fused in ONE Arrow stage: ``out_col``
    is ``array<long>`` with one ``int(md5(shingle)[:hex_chars], 16)``
    per shingle — byte-identical to
    ``transform(word_shingles(text, k), s -> md5_long(s))``
    (``hex_chars=15``) / ``md5_long28`` (``hex_chars=7``), the
    oracle-replayable hash families of the minhash/simhash queries.

    Why fused: the per-shingle md5 otherwise runs INTERPRETED (inside a
    ``transform`` lambda) or as one codegen'd md5+conv per exploded
    row, and the shingle STRINGS cross the Python boundary back to the
    JVM just to be hashed and discarded. Hashing here keeps the
    return payload at 8 bytes per shingle and uses OpenSSL's md5 (C)
    via hashlib. md5 is md5 — the bytes hashed are the UTF-8 shingle,
    identical in both engines; parity is pinned in
    tests/test_arrowtext.py and by the adopting queries' oracles.
    """
    if keep is None:
        keep = [c for c in df.columns if c != text_col]
    norm = F.lower(normalize_ws(F.col(text_col)))
    pre = df.select(*keep, norm.alias("__norm"))
    keep_names = pre.columns[:-1]
    keep_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in pre.schema[:-1]
    )
    out_schema = (
        f"{keep_schema}, `{out_col}` array<bigint>"
        if keep_names
        else f"`{out_col}` array<bigint>"
    )
    n_keep = len(keep_names)
    names = list(keep_names) + [out_col]

    def _batches(it):
        from hashlib import md5

        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            norms = batch.column(n_keep).to_pylist()
            out = [
                [
                    int(md5(s.encode("utf-8")).hexdigest()[:hex_chars], 16)
                    for s in _py_shingles(norm_s, k, distinct)
                ]
                for norm_s in norms
            ]
            arr = pa.array(out, type=pa.list_(pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_keep)] + [arr], names
            )

    return pre.mapInArrow(_batches, out_schema)


def with_tagged_ngrams(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (1, 2, 3),
    *,
    distinct: bool = False,
    out_col: str = "grams",
    keep: list[str | Column] | None = None,
) -> DataFrame:
    """All ``ks``-word shingles of each doc in ONE pass, tagged with
    their gram size: ``out_col`` is ``array<struct<n:int, g:string>>``,
    ordered by (position of k in ``ks``, shingle position) — exactly
    ``flatten(array(transform(word_shingles(text, k), g -> (k, g))
    for k in ks))``, the q182 shape, without the per-element struct
    transform (interpreted) or one shingle pass per k.

    Tokenization happens once per row; each k's shingles reuse the same
    token offsets.
    """
    if keep is None:
        keep = [c for c in df.columns if c != text_col]
    norm = F.lower(normalize_ws(F.col(text_col)))
    pre = df.select(*keep, norm.alias("__norm"))
    keep_names = pre.columns[:-1]
    keep_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in pre.schema[:-1]
    )
    gram_t = f"`{out_col}` array<struct<n: int, g: string>>"
    out_schema = f"{keep_schema}, {gram_t}" if keep_names else gram_t
    n_keep = len(keep_names)
    names = list(keep_names) + [out_col]
    ks = tuple(ks)

    def _tagged(norm_s: str | None) -> list[dict]:
        if norm_s is None:
            return []
        toks = norm_s.split(" ")
        n = len(toks)
        starts = []
        ends = []
        pos = 0
        for t in toks:
            starts.append(pos)
            pos += len(t)
            ends.append(pos)
            pos += 1
        out: list[dict] = []
        for k in ks:
            if n < k:
                continue
            grams = [
                norm_s[starts[i] : ends[i + k - 1]] for i in range(n - k + 1)
            ]
            if distinct:
                grams = list(dict.fromkeys(grams))
            out.extend({"n": k, "g": g} for g in grams)
        return out

    def _batches(it):
        import pyarrow as pa

        gram_type = pa.list_(
            pa.struct([("n", pa.int32()), ("g", pa.string())])
        )
        for batch in it:
            if batch.num_rows == 0:
                continue
            norms = batch.column(n_keep).to_pylist()
            arr = pa.array([_tagged(s) for s in norms], type=gram_type)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_keep)] + [arr], names
            )

    return pre.mapInArrow(_batches, out_schema)
