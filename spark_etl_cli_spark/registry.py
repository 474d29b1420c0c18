"""Scheme → connector/transform registries.

The reference discovers connectors through Java ``ServiceLoader``
(reference ``uri-parser/src/main/scala/dev/mauch/spark/dfio/DataFrameUrlParser.scala:23-50``).
The Python-idiomatic equivalent is a module-level registry dict plus a
decorator; third-party packages can extend it via normal imports or the
``register_*`` functions.

Each connector may also contribute SparkSession confs (e.g. Delta's SQL
extension), merged at session build time — mirroring reference
``ETL.scala:110-117``.

Sources and sinks register with ``params=``, a tuple of
``uri.Param``: the scheme's whole query-parameter surface. Resolving a
URI types its params against that spec into ``ParsedUri.args`` (the
reference parsed each connector's query string by hand,
``UriHelpers.scala:17-31``), so an unknown key or a bad value fails
before the pipeline runs anything.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable
from typing import TYPE_CHECKING

from spark_etl_cli_spark.uri import Param, ParsedUri, parse_params, parse_uri

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


def register_source(
    *schemes: str, params: tuple[Param, ...] = ()
) -> Callable[[SourceFactory], SourceFactory]:
    def deco(factory: SourceFactory) -> SourceFactory:
        for s in schemes:
            _SOURCES[s] = factory
            _PARAMS["source", s] = tuple(params)
        return factory

    return deco


def register_sink(
    *schemes: str, params: tuple[Param, ...] = ()
) -> Callable[[SinkFactory], SinkFactory]:
    def deco(factory: SinkFactory) -> SinkFactory:
        for s in schemes:
            _SINKS[s] = factory
            _PARAMS["sink", s] = tuple(params)
        return factory

    return deco


def register_transform(*schemes: str) -> Callable[[TransformFactory], TransformFactory]:
    def deco(factory: TransformFactory) -> TransformFactory:
        for s in schemes:
            _TRANSFORMS[s] = factory
        return factory

    return deco


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
    _ensure_builtins()
    p = parse_uri(uri)
    try:
        return p, _TRANSFORMS[p.scheme](p)
    except KeyError:
        raise UnknownSchemeError(
            f"no transform registered for scheme {p.scheme!r} "
            f"(known: {sorted(_TRANSFORMS)})"
        ) from None


def known_schemes() -> dict[str, list[str]]:
    _ensure_builtins()
    return {
        "sources": sorted(_SOURCES),
        "sinks": sorted(_SINKS),
        "transforms": sorted(_TRANSFORMS),
    }


def describe_schemes() -> str:
    """``--list-schemes`` text: each source and sink scheme with its
    parameters (name, type, default, doc), schemes that share a spec
    listed together; transforms by name."""
    _ensure_builtins()
    out = []
    for kind, factories in (("source", _SOURCES), ("sink", _SINKS)):
        out.append(f"{kind}s:")
        groups: dict[int, tuple[list[str], tuple[Param, ...]]] = {}
        for scheme in sorted(factories):
            spec = _PARAMS.get((kind, scheme), ())
            groups.setdefault(id(spec), ([], spec))[0].append(scheme)
        for schemes, spec in groups.values():
            out.append("  " + ", ".join(schemes))
            # the forwarding marker last: it covers "every other key"
            ordered = sorted(spec, key=lambda prm: prm.name == "*")
            out += ["    " + _describe_param(prm) for prm in ordered]
            if not spec:
                out.append("    (no parameters)")
    out.append("transforms: " + ", ".join(sorted(_TRANSFORMS)))
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
        kind += f" = {p.default}"
    name = " | ".join((p.name, *p.aliases))
    return f"{name:<28} {kind:<22} {p.doc}"
