"""Engine-free Avro: a from-scratch, stdlib-only implementation of the
Avro binary encoding and the Object Container File format (Avro 1.12
spec), used as the ``avro://`` connector fallback when the spark-avro
SQL module jar is absent — the same pattern as ``delta_lite`` (Delta
without delta-spark) and ``xlsx_lite`` (Excel without openpyxl).

Reference parity target: ``AvroFileDataFrameSource.scala:9-33`` (the
reference delegates to spark-avro; this module replays the format
itself so the connector still round-trips in jar-less environments).

Scale design:

- **Write** is distributed: ``write_avro_lite`` encodes each partition
  on its executor via ``foreachPartition`` and writes one container
  file per partition directly into the target directory (posix/shared
  FS semantics — the same contract delta_lite's log writer assumes).
  No driver collect at any size.
- **Read** is distributed: ``read_avro_lite`` lists ``*.avro`` part
  files, reads ONE header driver-side to learn the writer schema, then
  parses whole files inside ``mapInPandas`` (Arrow-batched) so decode
  runs on executors. Avro blocks are sync-delimited, so a future
  upgrade can split giant files at sync markers; part-per-partition
  files from this writer never need it.

Supported types (both directions, mirroring spark-avro's mapping):
null/boolean/int/long/float/double/bytes/string, record, array, map,
union (nullable = ["null", T]), fixed, enum (decoded to string), and
the logical types date (int), timestamp-micros/millis (long),
decimal (bytes; decoded to string to stay exact). Codecs: ``null``
``deflate`` (raw DEFLATE per spec), ``snappy`` (raw block + the
spec's big-endian CRC32-of-uncompressed suffix), and ``zstandard`` —
the latter two via pyarrow's bundled codecs, import-gated.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import io
import json
import os
import struct
import uuid
import zlib
from typing import Any, Callable, Iterator

MAGIC = b"Obj\x01"
_UTC = _dt.timezone.utc


# --------------------------------------------------------------------------
# primitive binary codec (Avro spec "Binary Encoding")
# --------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: io.BytesIO, n: int) -> None:
    n = _zigzag(n)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


class Reader:
    """Cursor over an in-memory buffer (files are block-compressed and
    block-sized, so whole-block decode is the spec-intended shape)."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError("truncated avro data")
        self.pos += n
        return b

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            byte = self.buf[self.pos]
            self.pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                return _unzigzag(acc)
            shift += 7

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


# --------------------------------------------------------------------------
# schema model
# --------------------------------------------------------------------------

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


def _schema_type(schema: Any) -> str:
    """The discriminating type name of a (possibly dict/list) schema."""
    if isinstance(schema, list):
        return "union"
    if isinstance(schema, dict):
        return schema["type"]
    return schema


def _is_nullable_union(schema: Any) -> bool:
    return (
        isinstance(schema, list)
        and len(schema) == 2
        and "null" in [_schema_type(s) for s in schema]
    )


def _non_null_branch(schema: list) -> Any:
    return next(s for s in schema if _schema_type(s) != "null")


# --------------------------------------------------------------------------
# decoder: avro schema -> python-value reader
# --------------------------------------------------------------------------


def make_decoder(schema: Any) -> Callable[[Reader], Any]:
    t = _schema_type(schema)
    logical = schema.get("logicalType") if isinstance(schema, dict) else None

    if t == "null":
        return lambda r: None
    if t == "boolean":
        return lambda r: r.read(1) == b"\x01"
    if t == "int":
        if logical == "date":
            epoch = _dt.date(1970, 1, 1)
            return lambda r: epoch + _dt.timedelta(days=r.read_long())
        return lambda r: r.read_long()
    if t == "long":
        # Integer datetime arithmetic: fromtimestamp(x/1e6) routes through a
        # float and lands ~1.2% of microsecond values off by 1us.
        if logical == "timestamp-micros":
            epoch_naive = _dt.datetime(1970, 1, 1)
            return lambda r: epoch_naive + _dt.timedelta(
                microseconds=r.read_long()
            )
        if logical == "timestamp-millis":
            epoch_naive = _dt.datetime(1970, 1, 1)
            return lambda r: epoch_naive + _dt.timedelta(
                milliseconds=r.read_long()
            )
        return lambda r: r.read_long()
    if t == "float":
        return lambda r: struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return lambda r: struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        if logical == "decimal":
            scale = schema.get("scale", 0)
            def read_decimal(r: Reader):
                raw = r.read_bytes()
                unscaled = int.from_bytes(raw, "big", signed=True)
                return _decimal.Decimal(unscaled).scaleb(-scale)
            return read_decimal
        return lambda r: r.read_bytes()
    if t == "string":
        return lambda r: r.read_bytes().decode("utf-8")
    if t == "fixed":
        size = schema["size"]
        if logical == "decimal":
            scale = schema.get("scale", 0)
            def read_fixed_decimal(r: Reader):
                unscaled = int.from_bytes(r.read(size), "big", signed=True)
                return _decimal.Decimal(unscaled).scaleb(-scale)
            return read_fixed_decimal
        return lambda r: r.read(size)
    if t == "enum":
        symbols = schema["symbols"]
        return lambda r: symbols[r.read_long()]
    if t == "record":
        field_readers = [
            (f["name"], make_decoder(f["type"])) for f in schema["fields"]
        ]
        def read_record(r: Reader):
            return {name: rd(r) for name, rd in field_readers}
        return read_record
    if t == "array":
        item = make_decoder(schema["items"])
        def read_array(r: Reader):
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:  # block-size form: size in bytes follows
                    n = -n
                    r.read_long()
                out.extend(item(r) for _ in range(n))
        return read_array
    if t == "map":
        val = make_decoder(schema["values"])
        def read_map(r: Reader):
            out = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read_bytes().decode("utf-8")
                    out[k] = val(r)
        return read_map
    if t == "union":
        branches = [make_decoder(s) for s in schema]
        return lambda r: branches[r.read_long()](r)
    raise ValueError(f"avro_lite: unsupported schema {schema!r}")


# --------------------------------------------------------------------------
# encoder: avro schema -> python-value writer
# --------------------------------------------------------------------------


def make_encoder(schema: Any) -> Callable[[io.BytesIO, Any], None]:
    t = _schema_type(schema)
    logical = schema.get("logicalType") if isinstance(schema, dict) else None

    if t == "null":
        return lambda o, v: None
    if t == "boolean":
        return lambda o, v: o.write(b"\x01" if v else b"\x00")
    if t == "int":
        if logical == "date":
            epoch = _dt.date(1970, 1, 1)
            return lambda o, v: write_long(o, (v - epoch).days)
        return write_long
    if t == "long":
        # Integer microsecond math — v.timestamp() goes through a float64,
        # which cannot represent every microsecond tick (~1.2% of random
        # values encode off by 1us through int(ts*1e6)).
        if logical == "timestamp-micros":
            epoch_utc = _dt.datetime(1970, 1, 1, tzinfo=_UTC)
            one_us = _dt.timedelta(microseconds=1)
            def enc_ts(o: io.BytesIO, v: _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_UTC)
                write_long(o, (v - epoch_utc) // one_us)
            return enc_ts
        if logical == "timestamp-millis":
            epoch_utc = _dt.datetime(1970, 1, 1, tzinfo=_UTC)
            one_ms = _dt.timedelta(milliseconds=1)
            def enc_ts_ms(o: io.BytesIO, v: _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_UTC)
                write_long(o, (v - epoch_utc) // one_ms)
            return enc_ts_ms
        return write_long
    if t == "float":
        return lambda o, v: o.write(struct.pack("<f", v))
    if t == "double":
        return lambda o, v: o.write(struct.pack("<d", v))
    if t == "bytes":
        if logical == "decimal":
            scale = schema.get("scale", 0)
            def enc_decimal(o: io.BytesIO, v):
                unscaled = int(
                    _decimal.Decimal(v).scaleb(scale).to_integral_value()
                )
                nbytes = max(1, (unscaled.bit_length() + 8) // 8)
                raw = unscaled.to_bytes(nbytes, "big", signed=True)
                write_long(o, len(raw))
                o.write(raw)
            return enc_decimal
        def enc_bytes(o: io.BytesIO, v):
            v = bytes(v)
            write_long(o, len(v))
            o.write(v)
        return enc_bytes
    if t == "string":
        def enc_str(o: io.BytesIO, v):
            b = str(v).encode("utf-8")
            write_long(o, len(b))
            o.write(b)
        return enc_str
    if t == "fixed":
        return lambda o, v: o.write(bytes(v))
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}
        return lambda o, v: write_long(o, index[v])
    if t == "record":
        field_writers = [
            (f["name"], make_encoder(f["type"])) for f in schema["fields"]
        ]
        def enc_record(o: io.BytesIO, v):
            get = v.get if isinstance(v, dict) else lambda k: getattr(v, k)
            for name, wr in field_writers:
                wr(o, get(name))
        return enc_record
    if t == "array":
        item = make_encoder(schema["items"])
        def enc_array(o: io.BytesIO, v):
            if v:
                write_long(o, len(v))
                for x in v:
                    item(o, x)
            write_long(o, 0)
        return enc_array
    if t == "map":
        val = make_encoder(schema["values"])
        def enc_map(o: io.BytesIO, v):
            if v:
                write_long(o, len(v))
                for k, x in v.items():
                    kb = str(k).encode("utf-8")
                    write_long(o, len(kb))
                    o.write(kb)
                    val(o, x)
            write_long(o, 0)
        return enc_map
    if t == "union":
        if _is_nullable_union(schema):
            null_idx = [_schema_type(s) for s in schema].index("null")
            other_idx = 1 - null_idx
            other = make_encoder(schema[other_idx])
            def enc_nullable(o: io.BytesIO, v):
                if v is None:
                    write_long(o, null_idx)
                else:
                    write_long(o, other_idx)
                    other(o, v)
            return enc_nullable
        raise ValueError(
            "avro_lite writes only nullable unions ([null, T]); general "
            f"unions need a branch-tagging convention: {schema!r}"
        )
    raise ValueError(f"avro_lite: unsupported schema {schema!r}")


# --------------------------------------------------------------------------
# container file (Avro spec "Object Container Files")
# --------------------------------------------------------------------------


def read_container(data: bytes) -> tuple[Any, list[Any]]:
    """Parse one container file → (writer schema, records)."""
    r = Reader(data)
    if r.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode("utf-8")
            meta[k] = r.read_bytes()
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = r.read(16)
    decode = make_decoder(schema)
    records: list[Any] = []
    while not r.at_end():
        count = r.read_long()
        size = r.read_long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec == "snappy":
            block = _snappy_block_decompress(block)
        elif codec == "zstandard":
            block = _zstd(block, compress=False)
        elif codec != "null":
            raise ValueError(f"avro_lite: unsupported codec {codec!r}")
        br = Reader(block)
        for _ in range(count):
            records.append(decode(br))
        if r.read(16) != sync:
            raise ValueError("avro sync marker mismatch (corrupt file)")
    return schema, records


def write_container(
    path: str,
    schema: Any,
    records: Iterator[Any],
    codec: str = "deflate",
    block_records: int = 4096,
    extra_meta: dict[str, bytes] | None = None,
) -> int:
    """Stream records into one container file; returns rows written.

    Blocks of ``block_records`` bound memory to one block, matching the
    writer side of the streaming story (the caller feeds a partition
    iterator, never a materialized list). ``extra_meta`` adds custom
    container-metadata pairs (e.g. Iceberg's ``schema`` /
    ``partition-spec`` keys on manifest files).
    """
    encode = make_encoder(schema)
    sync = uuid.uuid4().bytes
    n_total = 0
    with open(path, "wb") as f:
        head = io.BytesIO()
        head.write(MAGIC)
        meta = {
            "avro.schema": json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
            **(extra_meta or {}),
        }
        write_long(head, len(meta))
        for k, v in meta.items():
            kb = k.encode("utf-8")
            write_long(head, len(kb))
            head.write(kb)
            write_long(head, len(v))
            head.write(v)
        write_long(head, 0)
        head.write(sync)
        f.write(head.getvalue())

        batch: list[Any] = []

        def flush():
            nonlocal n_total
            if not batch:
                return
            buf = io.BytesIO()
            for rec in batch:
                encode(buf, rec)
            raw = buf.getvalue()
            if codec == "deflate":
                co = zlib.compressobj(wbits=-15)
                raw = co.compress(raw) + co.flush()
            elif codec == "snappy":
                raw = _snappy_block_compress(raw)
            elif codec == "zstandard":
                raw = _zstd(raw, compress=True)
            elif codec != "null":
                raise ValueError(f"avro_lite: unsupported codec {codec!r}")
            block = io.BytesIO()
            write_long(block, len(batch))
            write_long(block, len(raw))
            block.write(raw)
            block.write(sync)
            f.write(block.getvalue())
            n_total += len(batch)
            batch.clear()

        for rec in records:
            batch.append(rec)
            if len(batch) >= block_records:
                flush()
        flush()
    return n_total


# --------------------------------------------------------------------------
# Spark schema <-> Avro schema (mirrors spark-avro's SchemaConverters)
# --------------------------------------------------------------------------


def spark_to_avro_schema(dt, name: str = "topLevelRecord") -> Any:
    from pyspark.sql import types as T

    def conv(d, nm: str, nullable: bool) -> Any:
        if isinstance(d, T.StructType):
            s: Any = {
                "type": "record",
                "name": nm,
                "fields": [
                    {
                        "name": f.name,
                        "type": conv(f.dataType, f"{nm}_{f.name}", f.nullable),
                    }
                    for f in d.fields
                ],
            }
        elif isinstance(d, T.ArrayType):
            s = {
                "type": "array",
                "items": conv(d.elementType, f"{nm}_item", d.containsNull),
            }
        elif isinstance(d, T.MapType):
            s = {
                "type": "map",
                "values": conv(d.valueType, f"{nm}_value", d.valueContainsNull),
            }
        elif isinstance(d, T.DecimalType):
            s = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": d.precision,
                "scale": d.scale,
            }
        elif isinstance(d, T.DateType):
            s = {"type": "int", "logicalType": "date"}
        elif isinstance(d, (T.TimestampType, T.TimestampNTZType)):
            s = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(d, T.BooleanType):
            s = "boolean"
        elif isinstance(d, (T.ByteType, T.ShortType, T.IntegerType)):
            s = "int"
        elif isinstance(d, T.LongType):
            s = "long"
        elif isinstance(d, T.FloatType):
            s = "float"
        elif isinstance(d, T.DoubleType):
            s = "double"
        elif isinstance(d, T.BinaryType):
            s = "bytes"
        elif isinstance(d, T.StringType):
            s = "string"
        else:
            raise ValueError(f"avro_lite: no avro mapping for Spark type {d}")
        return ["null", s] if nullable else s

    return conv(dt, name, False)


def avro_to_spark_type(schema: Any):
    from pyspark.sql import types as T

    def conv(s) -> tuple[Any, bool]:
        if _is_nullable_union(s):
            inner, _ = conv(_non_null_branch(s))
            return inner, True
        t = _schema_type(s)
        logical = s.get("logicalType") if isinstance(s, dict) else None
        if t == "record":
            fields = []
            for f in s["fields"]:
                ft, f_nullable = conv(f["type"])
                fields.append(T.StructField(f["name"], ft, f_nullable))
            return T.StructType(fields), False
        if t == "array":
            it, nullable = conv(s["items"])
            return T.ArrayType(it, nullable), False
        if t == "map":
            vt, nullable = conv(s["values"])
            return T.MapType(T.StringType(), vt, nullable), False
        if t == "union":
            raise ValueError(
                f"avro_lite: only nullable unions map to Spark types: {s!r}"
            )
        if logical == "date":
            return T.DateType(), False
        if logical in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType(), False
        if logical == "decimal":
            return (
                T.DecimalType(s.get("precision", 38), s.get("scale", 0)),
                False,
            )
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
            "fixed": T.BinaryType(),
            "enum": T.StringType(),
        }
        return prim[t], False

    dt, _ = conv(schema)
    return dt


# --------------------------------------------------------------------------
# DataFrame-level read/write (the connector fallback surface)
# --------------------------------------------------------------------------


def write_avro_lite(
    df, path: str, mode: str = "overwrite", codec: str = "deflate"
) -> None:
    """Distributed container write: one ``part-*.avro`` per partition,
    encoded executor-side (``foreachPartition``); nothing is collected.
    ``mode``: overwrite | append | error (mirrors DataFrameWriter).
    ``codec``: null | deflate | snappy | zstandard."""
    import shutil

    if os.path.exists(path):
        if mode == "overwrite":
            shutil.rmtree(path)
        elif mode in ("error", "errorifexists"):
            raise FileExistsError(f"avro target exists: {path}")
    os.makedirs(path, exist_ok=True)
    schema = spark_to_avro_schema(df.schema)

    def write_partition(rows):
        first = next(iter(rows), None)
        if first is None:
            return
        import itertools

        part = os.path.join(path, f"part-{uuid.uuid4().hex}.avro")
        as_dicts = (
            r.asDict(recursive=True)
            for r in itertools.chain([first], rows)
        )
        write_container(part, schema, as_dicts, codec=codec)

    df.foreachPartition(write_partition)
    # empty frame: still leave a readable (schema-bearing) file behind
    if not os.listdir(path):
        write_container(
            os.path.join(path, f"part-{uuid.uuid4().hex}.avro"),
            schema, iter(()), codec=codec,
        )


def read_avro_lite(spark, path: str):
    """Distributed container read: schema from ONE header driver-side,
    then per-file decode inside ``mapInPandas`` (Arrow-batched)."""
    import glob as _glob

    from spark_etl_cli_spark.session import local_frame

    if os.path.isdir(path):
        files = sorted(
            _glob.glob(os.path.join(path, "**", "*.avro"), recursive=True)
        )
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    with open(files[0], "rb") as f:
        head = f.read()
    schema, _ = read_container(head[: _header_span(head)])
    spark_schema = avro_to_spark_type(schema)

    paths_df = local_frame(spark, [(p,) for p in files], "path string")

    def decode_files(batches):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                with open(p, "rb") as fh:
                    _, records = read_container(fh.read())
                if records:
                    yield pd.DataFrame.from_records(
                        records, columns=[f.name for f in spark_schema.fields]
                    )

    n_files = len(files)
    return (
        paths_df.repartition(min(n_files, 64))
        .mapInPandas(decode_files, spark_schema)
    )


def _header_span(data: bytes) -> int:
    """Byte length of header + zero data blocks (i.e. a valid empty
    container prefix) — lets read_container parse just the schema."""
    r = Reader(data)
    r.read(4)
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            r.read_bytes()
            r.read_bytes()
    r.read(16)
    return r.pos


# --- optional block codecs (avro spec "Required"/"Optional" codecs) -----
def _zstd(data: bytes, *, compress: bool) -> bytes:
    """zstandard via pyarrow (streaming decompress: avro blocks do not
    record their decompressed size)."""
    try:
        import pyarrow as pa
    except ImportError as exc:  # pragma: no cover - pyarrow is baked in
        raise ValueError(
            "avro_lite: zstandard codec needs pyarrow"
        ) from exc
    if compress:
        return bytes(pa.Codec("zstd").compress(data))
    with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as st:
        return st.read()


def _snappy_block_decompress(block: bytes) -> bytes:
    """Avro snappy block: raw-snappy payload + 4-byte big-endian CRC32
    of the UNCOMPRESSED bytes. Raw snappy's uvarint preamble carries
    the decompressed size pyarrow's one-shot API requires."""
    try:
        import pyarrow as pa
    except ImportError as exc:  # pragma: no cover
        raise ValueError("avro_lite: snappy codec needs pyarrow") from exc
    comp, crc = block[:-4], block[-4:]
    n = 0
    shift = 0
    for b in comp:
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    data = bytes(pa.Codec("snappy").decompress(comp, decompressed_size=n))
    if zlib.crc32(data) & 0xFFFFFFFF != int.from_bytes(crc, "big"):
        raise ValueError("avro_lite: snappy block CRC mismatch (corrupt)")
    return data


def _snappy_block_compress(raw: bytes) -> bytes:
    try:
        import pyarrow as pa
    except ImportError as exc:  # pragma: no cover
        raise ValueError("avro_lite: snappy codec needs pyarrow") from exc
    return bytes(pa.Codec("snappy").compress(raw)) + (
        zlib.crc32(raw) & 0xFFFFFFFF
    ).to_bytes(4, "big")
