"""Generic ``http://`` / ``https://`` connector.

Beyond-reference surface (the reference's only HTTP-speaking component
is the Solr sink, ``SolrDataFrameSourceSink.scala:34-91``; this
generalizes the pattern to any JSON/CSV endpoint).

Source — one GET, distributed parse:

    events+https://api.example.com/v1/events?format=json&data-key=items
        &q-since=2024-01-01&header-Authorization=Bearer%20tok

- the response body is spilled to a local temp file (driver memory
  stays O(stream-chunk), not O(body)) and parsed DISTRIBUTED with
  ``spark.read.json`` / ``spark.read.csv``;
- ``format=json|jsonl|csv`` (default json). ``json`` accepts a
  top-level array or an envelope object — ``data-key=`` plucks the
  array out of the envelope (dotted paths supported);
- params prefixed ``q-`` are forwarded to the remote URL's query
  string; ``header-*`` become request headers; any other key must be
  one of the connector's own (``--list-schemes``);
- ``max-bytes`` fail-fast cap (default 256 MB) — a driver-side fetch
  is the right shape for API-sized payloads, not bulk data; paging
  protocols get dedicated sources (see the Solr cursorMark source).

Sink — per-partition batched POSTs, executor-side (the Solr sink's
shape, generalized): rows serialize to JSON arrays of ``batch-size``
(default 1000), Content-Type application/json.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.registry import register_sink, register_source
from spark_etl_cli_spark.sources.base import STREAM_SINK
from spark_etl_cli_spark.uri import Param, ParsedUri

_REMOTE = (
    Param("q-*", doc="q-<k>=v is passed as k=v in the remote query string"),
    Param("header-*", doc="header-<H>=v is sent as request header H"),
)


def _remote_url(uri: ParsedUri) -> str:
    from urllib.parse import urlencode

    base = f"{uri.base_scheme}://{uri.authority}{uri.raw_path}"
    fwd = uri.args["q-*"]
    return f"{base}?{urlencode(fwd)}" if fwd else base


def _pluck(obj, dotted: str):
    for part in dotted.split("."):
        if not isinstance(obj, dict) or part not in obj:
            raise ValueError(
                f"data-key {dotted!r}: segment {part!r} not found in response"
            )
        obj = obj[part]
    return obj


@dataclass
class HttpSource:
    uri: ParsedUri

    def read(self, spark: SparkSession) -> DataFrame:
        import json as _json
        import tempfile
        import urllib.request

        fmt = self.uri.args["format"]
        max_bytes = self.uri.args["max-bytes"]
        req = urllib.request.Request(
            _remote_url(self.uri), headers=self.uri.args["header-*"]
        )
        suffix = ".jsonl" if fmt in ("json", "jsonl") else ".csv"
        tmp = tempfile.NamedTemporaryFile(
            "wb", suffix=f".http{suffix}", delete=False
        )
        total = 0
        try:
            with tmp, urllib.request.urlopen(req) as resp:
                if fmt == "json":
                    # envelope/array JSON has to be parsed whole, then
                    # re-spilled as JSONL for the distributed reader
                    body = resp.read(max_bytes + 1)
                    if len(body) > max_bytes:
                        raise ValueError(
                            f"http:// response exceeded max-bytes={max_bytes}"
                        )
                    data = _json.loads(body)
                    key = self.uri.args["data-key"]
                    if key:
                        data = _pluck(data, key)
                    if isinstance(data, dict):
                        data = [data]
                    if not isinstance(data, list):
                        raise ValueError(
                            "http:// json payload is not an array/object "
                            "(use data-key= to select the record array)"
                        )
                    for rec in data:
                        tmp.write(_json.dumps(rec).encode() + b"\n")
                else:  # jsonl / csv stream straight to disk, chunked
                    while True:
                        chunk = resp.read(1 << 20)
                        if not chunk:
                            break
                        total += len(chunk)
                        if total > max_bytes:
                            raise ValueError(
                                f"http:// response exceeded max-bytes={max_bytes}"
                            )
                        tmp.write(chunk)
            if fmt == "csv":
                return (
                    spark.read.option("header", "true")
                    .option("inferSchema", "true")
                    .csv(tmp.name)
                )
            return spark.read.json(tmp.name)
        except BaseException:
            os.unlink(tmp.name)
            raise


@dataclass
class HttpSink:
    """POST rows as JSON arrays, one connection per partition."""

    uri: ParsedUri

    def write(self, df: DataFrame) -> bool:
        if df.isStreaming:
            from spark_etl_cli_spark.sources.base import stream_via_foreach_batch

            return stream_via_foreach_batch(df, self.write, self.uri)
        from spark_etl_cli_spark.operators.schema_tools import json_encode_complex

        url = _remote_url(self.uri)
        headers = {
            "Content-Type": "application/json", **self.uri.args["header-*"]
        }
        batch_size = self.uri.args["batch-size"]
        flat = json_encode_complex(df)

        def send_partition(rows):
            import itertools
            import json as _json
            import urllib.request

            it = iter(rows)
            while True:
                batch = list(itertools.islice(it, batch_size))
                if not batch:
                    break
                payload = _json.dumps(
                    [r.asDict(recursive=True) for r in batch], default=str
                )
                req = urllib.request.Request(
                    url, data=payload.encode(), headers=headers
                )
                urllib.request.urlopen(req).read()

        flat.foreachPartition(send_partition)
        return True


@register_source("http", "https", params=_REMOTE + (
    Param("format", "enum", "json", "response body format",
          choices=("json", "jsonl", "csv")),
    Param("data-key", doc="dotted path to the record array in a JSON envelope"),
    Param("max-bytes", "int", 256 * 1024 * 1024, "fail-fast body size cap"),
))
def http_source(p: ParsedUri) -> HttpSource:
    return HttpSource(p)


@register_sink("http", "https", params=STREAM_SINK + _REMOTE + (
    Param("batch-size", "int", 1000, "rows per POST"),
))
def http_sink(p: ParsedUri) -> HttpSink:
    return HttpSink(p)
