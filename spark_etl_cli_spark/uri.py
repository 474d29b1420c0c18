"""URI helpers: scheme-prefixed view naming and query-param parsing.

The pipeline's addressing scheme follows the reference's URI grammar
(reference ``core/src/main/scala/dev/mauch/spark/dfio/UriHelpers.scala:17-31``,
``ETL.scala:45-68``):

- ``scheme://...``                → default view name ("source"/"sink")
- ``name+scheme://...``           → source/sink bound to view ``name``
- ``in+out+scheme://...``         → transform reading view ``in``,
                                     registering result as ``out``
- ``-`` in view names normalizes to ``_`` (valid SQL identifiers).

Streaming variants use a ``-stream`` scheme suffix (e.g.
``parquet-stream://``), mirroring reference
``core/.../DataFrameSource.scala:33-45``.

Each source, sink and transform scheme declares its query parameters
once, as a tuple of :class:`Param` (``registry.register_*(...,
params=...)``); :func:`parse_params` types every value against that
spec and rejects unknown keys, bad values and missing required ones, so
a misspelled parameter fails when the URI resolves instead of being
ignored. ``sql://`` text is SQL, never a query string: only a leading
``sql://?query=<encoded SQL>`` is read as a parameter.
"""

from __future__ import annotations

import urllib.parse
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class ParsedUri:
    """A decomposed pipeline URI."""

    scheme: str          # full scheme incl. any -stream suffix
    names: tuple[str, ...]  # leading +-separated view names (may be empty)
    path: str            # URI path (percent-decoded)
    raw_path: str        # URI path as written
    rest: str = ""       # everything after 'scheme://', percent-decoded
    params: dict[str, str] = field(default_factory=dict)
    raw: str = ""
    # params typed by the scheme's spec; set by registry.resolve_*
    args: Args = field(default_factory=lambda: Args())

    @property
    def is_stream(self) -> bool:
        return self.scheme.endswith("-stream")

    @property
    def base_scheme(self) -> str:
        return self.scheme[: -len("-stream")] if self.is_stream else self.scheme

    @property
    def authority(self) -> str:
        parsed = urllib.parse.urlparse(self.raw)
        return parsed.netloc

    @property
    def path_name(self) -> str:
        """The path without its leading ``/``, else the authority: the
        name a URI carries after ``://`` (``memory://view``, the second
        view of ``asof://view``, the terms of ``bm25://a,b``)."""
        return self.path.lstrip("/") or self.authority

    def first_path_part(self) -> str:
        return self.path.lstrip("/").split("/", 1)[0]


@dataclass(frozen=True)
class Param:
    """One query parameter of a source, sink or transform scheme.

    ``type`` is ``str``, ``int``, ``float``, ``bool`` (1/0, true/false,
    yes/no), ``csv`` (comma list → ``list[str]``) or ``enum`` (one of
    ``choices``). A name ending in ``*`` is a prefix family:
    ``set.*`` gathers every ``set.<col>=<expr>`` key into a dict
    ``{col: expr}``. A parameter named ``*`` alone marks a forwarding
    spec: keys it does not declare are passed on in ``Args.extra``
    (to Spark as reader/writer options) instead of being rejected.

    A scheme with modes marks its mode parameter with ``select``, which
    maps the typed args to the chosen mode, and gives each parameter
    that only some modes read their names in ``modes``. A URI that sets
    a parameter its mode does not read is rejected.
    """

    name: str
    type: str = "str"
    default: Any = None
    doc: str = ""
    required: bool = False
    aliases: tuple[str, ...] = ()
    choices: tuple[str, ...] = ()
    modes: tuple[str, ...] = ()
    select: Callable[[Args], str] | None = None


class Args(dict):
    """A URI's parameters typed by its scheme's spec: every declared
    name maps to its value, or its default when the URI omits it.
    ``given`` keeps the declared keys as written in the URI (for a
    connector that hands them to a Spark runtime unchanged), ``extra``
    the undeclared keys a forwarding spec passes on."""

    def __init__(self, values=()):
        super().__init__(values)
        self.given: dict[str, str] = {}
        self.extra: dict[str, str] = {}


_BOOLS = {"1": True, "true": True, "yes": True,
          "0": False, "false": False, "no": False}


def _typed(p: Param, raw: str):
    if p.type == "int":
        return int(raw)
    if p.type == "float":
        return float(raw)
    if p.type == "bool":
        return _BOOLS[raw.lower()]
    if p.type == "csv":
        return [c for c in raw.split(",") if c]
    if p.type == "enum" and raw not in p.choices:
        raise ValueError(raw)
    return raw


def _reads(p: Param, key: str) -> bool:
    if p.name.endswith("*"):
        return key.startswith(p.name[:-1])
    return key in (p.name, *p.aliases)


def _default(p: Param):
    return [] if p.default is None and p.type == "csv" else p.default


def parse_params(
    where: str, spec: tuple[Param, ...], given: dict[str, str]
) -> Args:
    """Type ``given`` (a URI's raw query params) against ``spec``.

    Raises ``ValueError`` naming ``where`` (e.g. ``"delta-delete
    source"``) and listing the spec's parameters for an unknown key in
    a closed spec, a value its type rejects or a missing required
    parameter, and listing the mode's parameters for a key the chosen
    mode does not read. The first of a parameter's name and aliases
    present in ``given`` wins.
    """
    def fail(msg: str) -> ValueError:
        names = ", ".join(p.name for p in spec) or "none"
        return ValueError(f"{where}: {msg}; valid parameters: {names}")

    args, used = Args(), set()
    for p in spec:
        if p.name == "*":
            continue
        if p.name.endswith("*"):
            pre = p.name[:-1]
            hits = {k: v for k, v in given.items() if k.startswith(pre)}
            if p.required and not hits:
                raise fail(f"missing required parameter {p.name!r}")
            used |= hits.keys()
            args[p.name] = {k[len(pre):]: v for k, v in hits.items()}
            continue
        keys = [k for k in (p.name, *p.aliases) if k in given]
        used.update(keys)
        if not keys:
            if p.required:
                raise fail(f"missing required parameter {p.name!r}")
            args[p.name] = _default(p)
            continue
        raw = given[keys[0]]
        if p.required and raw == "":
            raise fail(f"missing required parameter {p.name!r}")
        try:
            args[p.name] = _typed(p, raw)
        except (ValueError, KeyError):
            kind = "|".join(p.choices) if p.type == "enum" else p.type
            raise fail(
                f"parameter {keys[0]!r} expects {kind}, got {raw!r}"
            ) from None
    unknown = [k for k in given if k not in used]
    if unknown and not any(p.name == "*" for p in spec):
        raise fail(f"unknown parameter {', '.join(map(repr, unknown))}")
    for sel in (p for p in spec if p.select):
        mode = sel.select(args)
        stray = [k for p in spec if p.modes and mode not in p.modes
                 for k in given if _reads(p, k)]
        if stray:
            names = ", ".join(p.name for p in mode_params(spec, mode))
            raise ValueError(
                f"{where}: {', '.join(map(repr, stray))} does not "
                f"apply to {sel.name}={mode}; valid parameters for "
                f"{sel.name}={mode}: {names}"
            )
    args.given = {k: given[k] for k in used}
    args.extra = {k: given[k] for k in unknown}
    return args


def mode_params(spec: tuple[Param, ...], mode: str) -> list[Param]:
    """The parameters of ``spec`` that ``mode`` reads."""
    return [p for p in spec if not p.modes or mode in p.modes]


def normalize_view_name(name: str) -> str:
    """``-`` → ``_`` so view names are valid SQL identifiers
    (reference ``ETL.scala:52,85-86``)."""
    return name.replace("-", "_")


def parse_uri(uri: str) -> ParsedUri:
    """Split ``[name+[name+]]scheme://rest`` into names, scheme, path, params."""
    head, sep, _rest = uri.partition("://")
    if not sep:
        raise ValueError(f"not a pipeline URI (missing '://'): {uri!r}")
    *names, scheme = head.split("+")
    canonical = scheme + "://" + _rest
    parsed = urllib.parse.urlparse(canonical)
    query = parsed.query
    if scheme == "sql" and not _rest.startswith("?query="):
        query = ""  # SQL text, even with "?k=v" inside it
    params = {
        k: v[-1]
        for k, v in urllib.parse.parse_qs(query, keep_blank_values=True).items()
    }
    # netloc-style URIs (kafka://host:port/topic) keep netloc out of path
    raw_path = parsed.path
    return ParsedUri(
        scheme=scheme,
        names=tuple(normalize_view_name(n) for n in names),
        path=urllib.parse.unquote(raw_path),
        raw_path=raw_path,
        rest=urllib.parse.unquote(_rest),
        params=params,
        raw=canonical,
    )


def source_view_name(p: ParsedUri) -> str:
    return p.names[0] if p.names else "source"


def sink_view_name(p: ParsedUri) -> str:
    return p.names[0] if p.names else "sink"


def transform_views(p: ParsedUri) -> tuple[str, str]:
    """(input_view, output_view) for a transform URI; defaults source→sink."""
    if len(p.names) >= 2:
        return p.names[0], p.names[1]
    if len(p.names) == 1:
        return p.names[0], p.names[0]
    return "source", "sink"
