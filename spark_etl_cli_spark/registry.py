"""Scheme → connector/transform registries.

The reference discovers connectors through Java ``ServiceLoader``
(reference ``uri-parser/src/main/scala/dev/mauch/spark/dfio/DataFrameUrlParser.scala:23-50``).
The Python-idiomatic equivalent is a module-level registry dict plus a
decorator; third-party packages can extend it via normal imports or the
``register_*`` functions.

Each connector may also contribute SparkSession confs (e.g. Delta's SQL
extension), merged at session build time — mirroring reference
``ETL.scala:110-117``.

Sources, sinks and transforms register with ``params=``, a tuple of
``uri.Param``: the scheme's whole query-parameter surface. Resolving a
URI types its params against that spec into ``ParsedUri.args`` (the
reference parsed each connector's query string by hand,
``UriHelpers.scala:17-31``), so an unknown key or a bad value fails
before the pipeline runs anything.
"""

from __future__ import annotations

import dataclasses
import inspect
from collections.abc import Callable
from typing import TYPE_CHECKING

from spark_etl_cli_spark.uri import (
    Param,
    ParsedUri,
    mode_params,
    parse_params,
    parse_uri,
)

if TYPE_CHECKING:
    from spark_etl_cli_spark.sources.base import DataFrameSink, DataFrameSource
    from spark_etl_cli_spark.pipeline import TransformFn

SourceFactory = Callable[[ParsedUri], "DataFrameSource"]
SinkFactory = Callable[[ParsedUri], "DataFrameSink"]
TransformFactory = Callable[[ParsedUri], "TransformFn"]

_SOURCES: dict[str, SourceFactory] = {}
_SINKS: dict[str, SinkFactory] = {}
_TRANSFORMS: dict[str, TransformFactory] = {}
_SPARK_CONFS: dict[str, str] = {}
# (kind, scheme) → the scheme's parameter spec
_PARAMS: dict[tuple[str, str], tuple[Param, ...]] = {}


class UnknownSchemeError(KeyError):
    pass


def _register(kind: str, factories: dict, schemes, params):
    def deco(factory):
        for s in schemes:
            factories[s] = factory
            _PARAMS[kind, s] = tuple(params)
        return factory

    return deco


def register_source(
    *schemes: str, params: tuple[Param, ...] = ()
) -> Callable[[SourceFactory], SourceFactory]:
    return _register("source", _SOURCES, schemes, params)


def register_sink(
    *schemes: str, params: tuple[Param, ...] = ()
) -> Callable[[SinkFactory], SinkFactory]:
    return _register("sink", _SINKS, schemes, params)


def register_transform(
    *schemes: str, params: tuple[Param, ...] = ()
) -> Callable[[TransformFactory], TransformFactory]:
    return _register("transform", _TRANSFORMS, schemes, params)


def contribute_spark_confs(confs: dict[str, str]) -> None:
    _SPARK_CONFS.update(confs)


def registered_spark_confs() -> dict[str, str]:
    _ensure_builtins()
    return dict(_SPARK_CONFS)


def _ensure_builtins() -> None:
    """Import built-in connector/transform modules (idempotent)."""
    import spark_etl_cli_spark.sources  # noqa: F401
    import spark_etl_cli_spark.operators.transforms  # noqa: F401


def _resolve(kind: str, factories: dict, uri: str):
    _ensure_builtins()
    p = parse_uri(uri)
    factory = factories.get(p.scheme)
    if factory is None:
        raise UnknownSchemeError(
            f"no {kind} registered for scheme {p.scheme!r} "
            f"(known: {sorted(factories)})"
        )
    spec = _PARAMS.get((kind, p.scheme), ())
    p = dataclasses.replace(
        p, args=parse_params(f"{p.scheme} {kind}", spec, p.params)
    )
    return p, factory(p)


def resolve_source(uri: str) -> tuple[ParsedUri, "DataFrameSource"]:
    return _resolve("source", _SOURCES, uri)


def resolve_sink(uri: str) -> tuple[ParsedUri, "DataFrameSink"]:
    return _resolve("sink", _SINKS, uri)


def resolve_transform(uri: str) -> tuple[ParsedUri, "TransformFn"]:
    return _resolve("transform", _TRANSFORMS, uri)


def known_schemes() -> dict[str, list[str]]:
    _ensure_builtins()
    return {
        "sources": sorted(_SOURCES),
        "sinks": sorted(_SINKS),
        "transforms": sorted(_TRANSFORMS),
    }


def describe_schemes() -> str:
    """``--list-schemes`` text: each scheme with its parameters (name,
    type, default, doc), schemes that share a spec listed together;
    a transform also with the first paragraph of its doc, and a scheme
    with modes with the parameters each mode reads."""
    _ensure_builtins()
    out = []
    for kind, factories in (("source", _SOURCES), ("sink", _SINKS),
                            ("transform", _TRANSFORMS)):
        out.append(f"{kind}s:")
        groups: dict[tuple, tuple[list[str], tuple[Param, ...], str]] = {}
        for scheme in sorted(factories):
            spec = _PARAMS.get((kind, scheme), ())
            doc = ""
            if kind == "transform":
                doc = (inspect.getdoc(factories[scheme]) or "").split("\n\n")[0]
            groups.setdefault((id(spec), doc), ([], spec, doc))[0].append(scheme)
        for schemes, spec, doc in groups.values():
            out.append("  " + ", ".join(schemes))
            out += ["    " + line for line in doc.splitlines()]
            # the forwarding marker last: it covers "every other key"
            ordered = sorted(spec, key=lambda prm: prm.name == "*")
            out += ["    " + _describe_param(prm) for prm in ordered]
            for sel in (prm for prm in spec if prm.select):
                out += [
                    f"    {sel.name}={m}: "
                    + ", ".join(prm.name for prm in mode_params(spec, m))
                    for m in sel.choices
                ]
            if not spec:
                out.append("    (no parameters)")
    return "\n".join(out)


def _describe_param(p: Param) -> str:
    if p.name == "*":
        return f"{'*':<28} {'forwarded':<22} {p.doc}"
    kind = "|".join(p.choices) if p.type == "enum" else p.type
    if p.name.endswith("*"):
        kind = "prefix → dict"
    if p.required:
        kind += ", required"
    elif p.default not in (None, "", [], {}):
        default = p.default
        kind += f" = {','.join(default) if isinstance(default, list) else default}"
    name = " | ".join((p.name, *p.aliases))
    return f"{name:<28} {kind:<22} {p.doc}"
