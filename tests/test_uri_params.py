"""Per-scheme URI parameter specs: every source, sink and transform
scheme types its query params at resolve time and rejects keys it does
not declare.

No SparkSession: resolving a URI only builds the connector object.
"""

from __future__ import annotations

import ast
import re
import subprocess
import sys
from pathlib import Path

import pytest

from spark_etl_cli_spark import registry
from spark_etl_cli_spark.pipeline import run_pipeline

PKG = Path(__file__).resolve().parent.parent / "spark_etl_cli_spark"

# Schemes whose spec passes undeclared keys on to Spark (reader/writer
# options) instead of rejecting them. Adding a scheme here is a
# decision; a new scheme must not become open by accident.
FORWARDING = {
    "source": {
        "avro", "avro-stream", "binaryfile", "csv", "csv-stream", "jdbc",
        "json", "json-stream", "kafka", "kafka-stream", "lines",
        "lines-stream", "orc", "orc-stream", "parquet", "parquet-stream",
        "rate", "rate-micro-batch", "text", "text-stream", "xml",
        "xml-stream",
    },
    "sink": {
        "avro", "avro-stream", "csv", "csv-stream", "jdbc", "json",
        "json-stream", "kafka", "kafka-stream", "lines", "lines-stream",
        "orc", "orc-stream", "parquet", "parquet-stream", "text",
        "text-stream", "xml", "xml-stream",
    },
    "transform": set(),  # every transform spec is closed
}

RESOLVE = {
    "source": registry.resolve_source,
    "sink": registry.resolve_sink,
    "transform": registry.resolve_transform,
}


def _registered():
    registry._ensure_builtins()
    return [
        (kind, scheme)
        for kind, factories in (("source", registry._SOURCES),
                                ("sink", registry._SINKS),
                                ("transform", registry._TRANSFORMS))
        for scheme in sorted(factories)
    ]


def _uri_with_required(kind: str, scheme: str, extra: str) -> str:
    """``x+<scheme>:///t?<required params>&<extra>``."""
    query = []
    for p in registry._PARAMS[kind, scheme]:
        if p.required:
            key = p.name[:-1] + "x" if p.name.endswith("*") else p.name
            query.append(f"{key}={p.choices[0] if p.choices else '1'}")
    if kind == "transform" and scheme == "sql":
        # sql:// text is never parsed as parameters; ?query= is
        return "x+sql://?query=SELECT%201&" + extra
    return f"x+{scheme}:///t?" + "&".join(query + [extra])


@pytest.mark.parametrize("kind, scheme", _registered())
def test_scheme_rejects_or_forwards_unknown_params(kind, scheme):
    resolve = RESOLVE[kind]
    uri = _uri_with_required(kind, scheme, "no-such-param=1")
    if scheme in FORWARDING[kind]:
        p, _ = resolve(uri)
        assert p.args.extra == {"no-such-param": "1"}
        return
    with pytest.raises(ValueError, match="unknown parameter 'no-such-param'") as e:
        resolve(uri)
    msg = str(e.value)
    assert f"{scheme} {kind}" in msg
    for p in registry._PARAMS[kind, scheme]:
        assert p.name in msg


def test_forwarding_list_matches_specs():
    open_specs = {
        (kind, scheme)
        for kind, scheme in _registered()
        if any(p.name == "*" for p in registry._PARAMS[kind, scheme])
    }
    listed = {(k, s) for k, schemes in FORWARDING.items() for s in schemes}
    assert open_specs == listed


@pytest.fixture
def reads(monkeypatch):
    """The URIs a ``test-counting://`` source has read."""
    seen = []

    class CountingSource:
        def __init__(self, uri):
            self.uri = uri

        def read(self, spark):
            seen.append(self.uri)

    monkeypatch.setitem(registry._SOURCES, "test-counting", CountingSource)
    return seen


def test_typo_stops_pipeline_before_any_source_runs(reads, tmp_path):
    """``deletion-vector`` (singular) used to be ignored, so the delete
    rewrote every matched file instead of writing deletion vectors."""
    with pytest.raises(ValueError, match="'deletion-vector'.*deletion-vectors"):
        run_pipeline(
            None,  # never reached: resolving fails first
            sources=[
                "c+test-counting://",
                f"rep+delta-delete://{tmp_path}/t?where=id=1"
                "&deletion-vector=true",
            ],
        )
    assert reads == []


def test_transform_typo_stops_pipeline_before_any_source_runs(reads):
    """``max-punct-ratio`` used to be ignored, so the gate ran at the
    default ``max-punct=0.3`` instead of 0.4."""
    with pytest.raises(
        ValueError,
        match="quality-filter transform: unknown parameter 'max-punct-ratio'"
        ".*max-punct",
    ):
        run_pipeline(
            None,  # never reached: resolving fails first
            sources=["c+test-counting://"],
            transforms=["c+d+quality-filter://?max-punct-ratio=0.4"],
        )
    assert reads == []


@pytest.mark.parametrize("uri, match", [
    ("cache://?storage=MEMORY_ONLYY", "'storage' expects .*MEMORY_ONLY"),
    ("dedup://?mode=minhsh", "'mode' expects exact|minhash"),
    ("diff://v?id=k&handleDifferences=filtr", "'handleDifferences' expects"),
    ("a+b+regression://?x=day", "missing required parameter 'y'"),
    ("a+b+k-anon://?by=", "missing required parameter 'by'"),
])
def test_transform_bad_value_fails_at_resolve(uri, match):
    with pytest.raises(ValueError, match=match):
        registry.resolve_transform(uri)


def test_transform_values_are_typed():
    p, _ = registry.resolve_transform(
        "dedup://?mode=incremental&first-batch=yes&validate-ids=0"
    )
    assert p.args["first-batch"] is True
    assert p.args["validate-ids"] is False
    assert p.args["require-state"] is False
    p, _ = registry.resolve_transform("a+b+chunk://?stride=32")
    assert (p.args["stride"], p.args["chunk-tokens"]) == (32, 64)


def test_sql_text_is_never_parsed_as_params():
    ran = []

    class RecordingSpark:
        def sql(self, text):
            ran.append(text)

    sql = "SELECT * FROM a WHERE u LIKE '%?id=%' AND v = 'x&mode=y'"
    p, fn = registry.resolve_transform("a+b+sql://" + sql)
    assert p.params == {}
    fn(RecordingSpark(), None)
    p, fn = registry.resolve_transform("sql://?query=SELECT%20*%20FROM%20a")
    assert p.args["query"] == "SELECT * FROM a"
    fn(RecordingSpark(), None)
    assert ran == [sql, "SELECT * FROM a"]


def test_cli_typo_fails_before_spark_starts(monkeypatch):
    from spark_etl_cli_spark import session
    from spark_etl_cli_spark.__main__ import main

    def no_spark(**_kw):
        raise AssertionError("SparkSession started for an invalid pipeline")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(ValueError, match="iceberg-expire source.*keep-last"):
        main(["--source", "rep+iceberg-expire:///t?keep-lats=2"])


def test_bad_typed_value_names_the_parameter():
    with pytest.raises(
        ValueError,
        match="delta-optimize source: parameter 'min-files' expects int, "
        "got 'two'",
    ):
        registry.resolve_source("rep+delta-optimize:///t?min-files=two")


def test_values_are_typed_with_defaults_and_aliases():
    p, _ = registry.resolve_sink(
        "h+hudi:///t?write-mode=upsert&recordKey=id&partitionCols=a,b"
    )
    assert p.args["mode"] == "upsert"
    assert p.args["record-key"] == "id"
    assert p.args["partitionCols"] == ["a", "b"]
    assert p.args["table-type"] == "COPY_ON_WRITE"
    p, _ = registry.resolve_sink(
        "d+delta:///t?mode=merge&on=id&set.v=source.v&insert=no"
    )
    assert p.args["set.*"] == {"v": "source.v"}
    assert p.args["insert"] is False
    assert p.args["nmbs-set.*"] == {}


def test_list_schemes_prints_each_spec(capsys):
    from spark_etl_cli_spark.__main__ import main

    assert main(["--list-schemes"]) == 0
    out = capsys.readouterr().out
    assert "  delta-optimize\n" in out
    assert "min-files" in out and "int = 2" in out
    assert "forwarded" in out  # the file formats, jdbc, kafka, rate
    transforms = out[out.index("transforms:\n"):]
    assert "  chunk\n    Overlapping context-window chunks" in transforms
    assert "chunk-tokens" in transforms and "int = 64" in transforms
    assert "csv, required" in transforms  # cdc-apply key/sequence


def test_importing_sources_loads_no_lakehouse_module():
    code = (
        "import sys; import spark_etl_cli_spark.sources; "
        "print([m for m in ('delta_lite', 'iceberg_lite', 'hudi_lite', "
        "'uniform') if 'spark_etl_cli_spark.sources.' + m in sys.modules])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=PKG.parent, check=True,
        capture_output=True, text=True,
    ).stdout
    assert out.strip() == "[]"


def test_importing_transforms_loads_operators_lazily():
    code = (
        "import sys; import spark_etl_cli_spark.operators.transforms; "
        "print(sorted(m for m in sys.modules "
        "if m.startswith('spark_etl_cli_spark.operators.')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=PKG.parent, check=True,
        capture_output=True, text=True,
    ).stdout
    loaded = set(ast.literal_eval(out)) - {"spark_etl_cli_spark.operators.transforms"}
    assert loaded <= {
        "spark_etl_cli_spark.operators.diff",
        "spark_etl_cli_spark.operators.schema_tools",
    }


def _params_reads(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        target = (
            node.value if isinstance(node, ast.Subscript | ast.Attribute)
            else None
        )
        if not (isinstance(target, ast.Attribute) and target.attr == "params"):
            continue
        if isinstance(node, ast.Subscript) or node.attr in ("get", "items"):
            yield node.lineno


def test_package_reads_no_raw_params():
    """Connectors and transforms read ``ParsedUri.args`` (typed by their
    scheme's spec); a raw ``.params`` read would bypass the spec and its
    validation. Only URI parsing itself reads the raw params."""
    found = [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() not in ("registry.py", "uri.py")
        for line in _params_reads(path)
    ]
    assert found == [], "raw .params read: " + ", ".join(found)


@pytest.mark.parametrize("uri, stray, valid", [
    ("dedup://?mode=exact&threshold=0.9&emit=scrub&state=/x",
     "'threshold', 'state', 'emit'", "mode=exact: mode, text-col, id-col$"),
    ("a+b+decontaminate://b?mode=ngram&action=scrub&key=hash",
     "'action', 'key'", "mode=ngram: n, min-shared, id-col, text-col, pairs"),
    ("media-features://?op=audio&width=64", "'width'", "op=audio: op, fake$"),
    ("media-features://?op=resize&every-n=3", "'every-n'",
     "op=resize: op, fake, width, height$"),
    ("dedup://?tier=minhash", "'tier'", "mode=exact: "),
])
def test_parameter_of_another_mode_fails_at_resolve(uri, stray, valid):
    with pytest.raises(ValueError) as err:
        registry.resolve_transform(uri)
    msg = str(err.value)
    assert f"{stray} does not apply to" in msg
    assert re.search(f"valid parameters for {valid}", msg), msg


@pytest.mark.parametrize("uri, key, value", [
    ("dedup://?mode=jaccard&threshold=0.7", "threshold", 0.7),
    ("dedup://?mode=semdedup&threshold=0.9&clusters=2", "clusters", 2),
    ("dedup://?mode=minhash&bands=4&num-hashes=16", "bands", 4),
    ("dedup://?mode=incremental&tier=cosine&planes=8", "planes", 8),
    ("a+b+dedup://?tier=substring&k=8&emit=decisions", "emit", "decisions"),
    ("a+b+decontaminate://b?mode=substring&action=scrub", "action", "scrub"),
    ("media-features://?op=frames&every-n=3", "every-n", 3),
])
def test_each_mode_accepts_its_own_parameters(uri, key, value):
    """Guard for the mode scoping: each mode keeps every parameter it
    reads, including ``tier=substring`` standing in for the mode."""
    p, _ = registry.resolve_transform(uri)
    assert p.args[key] == value


def test_list_schemes_prints_parameters_per_mode(capsys):
    from spark_etl_cli_spark.__main__ import main

    assert main(["--list-schemes"]) == 0
    out = capsys.readouterr().out
    assert "    mode=substring: mode, tier, text-col, id-col, k, key, " \
           "max-df, min-span, emit\n" in out
    assert "    op=frames: op, fake, every-n\n" in out
