"""Engine-free Apache Iceberg BATCH READER: walk the table metadata.

The Iceberg spec (https://iceberg.apache.org/spec/) is public: a table
is a directory of parquet data files plus ``metadata/`` holding
``vN.metadata.json`` (schema, snapshots), an Avro *manifest list* per
snapshot, and Avro *manifest files* enumerating data/delete files.
Walking metadata → manifest list → manifests yields the snapshot's
file set, which plain ``spark.read.parquet`` scans — the same
replay-the-public-protocol pattern as ``delta_lite``, now possible
because ``sources/avro_lite.py`` decodes the Avro manifests without
any jar.

Supported: format v1 and v2 tables; ``snapshot-id`` time travel;
v2 POSITION deletes (parquet ``(file_path, pos)`` applied as a
positional anti-join over ``_metadata``) and EQUALITY deletes
(anti-join on the delete file's columns), both SEQUENCE-NUMBER-SCOPED
per the v2 spec — position deletes apply to data files with data
sequence number <= the delete's, equality deletes strictly <, so a
file re-added after a delete targeting it survives; schema from the
current-schema-id entry (nested struct/list/map, decimal, temporal
types); identity-partition ``?where=`` pruning of the FILE LIST at
the manifest level (``_prune_file_entries``) before any footer opens.

Simplification (documented, fail-safe): metadata that records no
sequence numbers at all (v1, hand-built) treats data as seq 0 and
deletes as seq +inf — i.e. deletes apply to the whole snapshot, the
only consistent reading when the table never sequenced its commits.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.sources.keygate import KeyGate, KeyStats

# spec v3 reserved field ids for the MATERIALIZED row-lineage columns
# rewritten data files carry (name-mapping entries under these ids name
# the physical columns; fresh files derive first_row_id + position
# resp. inherit the file's data sequence number)
_ROW_ID_FIELD_ID = 2147483546
_LAST_SEQ_FIELD_ID = 2147483545


def is_iceberg_table(table_path: str) -> bool:
    return bool(
        _glob.glob(os.path.join(table_path, "metadata", "*.metadata.json"))
    )


def _load_metadata(table_path: str) -> dict:
    meta_dir = os.path.join(table_path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        cand = os.path.join(meta_dir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            with open(cand) as fh:
                return json.load(fh)
    files = _glob.glob(os.path.join(meta_dir, "*.metadata.json"))
    if not files:
        raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")

    def version_of(p: str) -> int:
        m = re.match(r"v?(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    with open(max(files, key=version_of)) as fh:
        return json.load(fh)


def _commit_iceberg_metadata(meta_dir: str, meta: dict) -> int:
    """Claim the next ``vN.metadata.json`` under ``meta_dir`` with
    ``O_CREAT|O_EXCL`` (a concurrent committer that took N first makes
    this raise ``FileExistsError``), write ``meta`` to it and point
    ``version-hint.text`` at N. Returns N (1 for a new table)."""
    version = 1 + max(
        (
            int(re.match(r"v?(\d+)", os.path.basename(p)).group(1))
            for p in _glob.glob(os.path.join(meta_dir, "*.metadata.json"))
        ),
        default=0,
    )
    fd = os.open(
        os.path.join(meta_dir, f"v{version}.metadata.json"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    )
    with os.fdopen(fd, "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return version


def _localize(path: str, table_path: str) -> str:
    """Manifest/data paths are absolute URIs as written by the original
    engine; strip the scheme and, if the absolute path does not exist
    (table was MOVED), re-root it under ``table_path``."""
    p = re.sub(r"^file:/+", "/", path)
    if os.path.exists(p):
        return p
    # re-root: keep everything from the last path component matching
    # the table dir name onward
    base = os.path.basename(os.path.normpath(table_path))
    idx = p.find(f"/{base}/")
    if idx >= 0:
        cand = os.path.join(table_path, p[idx + len(base) + 2 :])
        if os.path.exists(cand):
            return cand
    return p


def _current_schema(meta: dict) -> dict:
    schemas = meta.get("schemas")
    if schemas:
        cur = meta.get("current-schema-id", 0)
        return next(
            (s for s in schemas if s.get("schema-id") == cur), schemas[-1]
        )
    return meta["schema"]  # v1 single-schema form


def _iceberg_type_to_spark(t) -> T.DataType:
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        _iceberg_type_to_spark(f["type"]),
                        not f.get("required"),
                    )
                    for f in t["fields"]
                ]
            )
        if kind == "list":
            return T.ArrayType(
                _iceberg_type_to_spark(t["element"]),
                not t.get("element-required"),
            )
        if kind == "map":
            return T.MapType(
                _iceberg_type_to_spark(t["key"]),
                _iceberg_type_to_spark(t["value"]),
                not t.get("value-required"),
            )
        raise ValueError(f"iceberg_lite: unknown nested type {t!r}")
    if t.startswith("decimal"):
        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if t.startswith("fixed"):
        return T.BinaryType()
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "time": T.LongType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
    }
    if t not in prim:
        raise ValueError(f"iceberg_lite: unknown type {t!r}")
    return prim[t]


def _schema_to_spark(meta: dict) -> T.StructType:
    return _iceberg_type_to_spark(_current_schema(meta))


def _sv_to_column(value, ice_type):
    """Spec "single-value serialization" (JSON) → a typed Spark literal
    Column. Composites recurse: a struct default is a JSON object keyed
    by FIELD ID (as a string), a list is a JSON array of element
    values, a map is ``{"keys": [...], "values": [...]}``; decimal is
    serialized as a JSON string, fixed/binary as hexadecimal."""
    spark_t = _iceberg_type_to_spark(ice_type)
    if value is None:
        return F.lit(None).cast(spark_t)
    if isinstance(ice_type, dict):
        # the final .cast(spark_t) is positional for structs and
        # aligns nullability with the logical schema (literals come
        # out non-nullable, which would read as a type change)
        kind = ice_type["type"]
        if kind == "struct":
            return F.struct(
                *[
                    _sv_to_column(
                        value.get(str(f["id"])), f["type"]
                    ).alias(f["name"])
                    for f in ice_type["fields"]
                ]
            ).cast(spark_t)
        if kind == "list":
            if not value:
                return F.array().cast(spark_t)
            return F.array(
                *[_sv_to_column(e, ice_type["element"]) for e in value]
            ).cast(spark_t)
        if kind == "map":
            keys, vals = value.get("keys", []), value.get("values", [])
            if not keys:
                return F.map_from_arrays(
                    F.array(), F.array()
                ).cast(spark_t)
            return F.map_from_arrays(
                F.array(*[_sv_to_column(k, ice_type["key"]) for k in keys]),
                F.array(
                    *[_sv_to_column(v, ice_type["value"]) for v in vals]
                ),
            ).cast(spark_t)
        raise ValueError(f"iceberg_lite: unknown nested type {ice_type!r}")
    if ice_type.startswith("decimal"):
        return F.lit(str(value)).cast(spark_t)
    if ice_type.startswith("fixed") or ice_type == "binary":
        return F.lit(bytes.fromhex(value)).cast(spark_t)
    if ice_type == "time":
        # spec single-value serialization is an ISO string
        # 'hh:mm:ss.ffffff'; the logical Spark type here is LongType
        # micros, and a bare string→long cast would silently serve
        # NULL — parse explicitly. Integer micros (the pre-spec form
        # older tables stored) stay readable as-is.
        if isinstance(value, str):
            return F.lit(_time_str_to_micros(value)).cast(spark_t)
        return F.lit(int(value)).cast(spark_t)
    return F.lit(value).cast(spark_t)


def _time_str_to_micros(s: str) -> int:
    """Spec time single-value 'hh:mm:ss.ffffff' → microseconds-from-
    midnight long (the physical representation time columns read as)."""
    m = re.match(r"^(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?$", s)
    if not m:
        raise ValueError(
            f"time default {s!r}: expected 'hh:mm:ss[.ffffff]' (spec "
            "single-value serialization)"
        )
    hh, mm, ss = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if hh > 23 or mm > 59 or ss > 59:
        raise ValueError(f"time default {s!r}: out-of-range component")
    frac = int((m.group(4) or "").ljust(6, "0") or 0)
    return ((hh * 60 + mm) * 60 + ss) * 1_000_000 + frac


def _micros_to_time_str(us: int) -> str:
    """Microseconds-from-midnight → the spec's 'hh:mm:ss.ffffff' form
    (how time defaults are STORED in table metadata)."""
    if not 0 <= us < 86_400_000_000:
        raise ValueError(f"time default {us!r} micros: not within a day")
    sec, frac = divmod(us, 1_000_000)
    h, rem = divmod(sec, 3600)
    mnt, s = divmod(rem, 60)
    return f"{h:02d}:{mnt:02d}:{s:02d}.{frac:06d}"


def _normalize_default(value, ice_type, path: str = ""):
    """Validate a user-supplied default and canonicalize it into the
    spec's single-value JSON serialization for ``initial-default`` /
    ``write-default``. Struct values accept field NAMES as keys (the
    ergonomic form) or field-id strings (the spec form) and are stored
    id-keyed; map values accept a plain JSON object when the key type
    is string, canonicalized to the keys/values arrays; decimal
    accepts int/float/str and stores the string form."""
    where = f" at {path}" if path else ""
    if value is None:
        raise ValueError(
            f"column default{where}: null is not a default — omit the "
            "field instead (readers serve NULL for absent defaults)"
        )
    if isinstance(ice_type, dict):
        kind = ice_type["type"]
        if kind == "struct":
            if not isinstance(value, dict):
                raise ValueError(
                    f"struct default{where} needs a JSON object, "
                    f"got {value!r}"
                )
            by_id = {str(f["id"]): f for f in ice_type["fields"]}
            by_name = {f["name"]: f for f in ice_type["fields"]}
            out = {}
            for k, v in value.items():
                fld = by_id.get(str(k)) or by_name.get(k)
                if fld is None:
                    raise ValueError(
                        f"struct default{where}: {k!r} matches no "
                        f"field (names {sorted(by_name)})"
                    )
                out[str(fld["id"])] = _normalize_default(
                    v, fld["type"], f"{path}.{fld['name']}"
                )
            return out
        if kind == "list":
            if not isinstance(value, (list, tuple)):
                raise ValueError(
                    f"list default{where} needs a JSON array, "
                    f"got {value!r}"
                )
            return [
                _normalize_default(e, ice_type["element"], f"{path}[{i}]")
                for i, e in enumerate(value)
            ]
        if kind == "map":
            if (
                isinstance(value, dict)
                and set(value) == {"keys", "values"}
                and isinstance(value.get("keys"), list)
            ):
                keys, vals = value["keys"], value["values"]
            elif isinstance(value, dict) and ice_type["key"] == "string":
                keys, vals = list(value.keys()), list(value.values())
            else:
                raise ValueError(
                    f"map default{where} needs "
                    '{"keys": [...], "values": [...]} (or a plain '
                    "object for string keys)"
                )
            if len(keys) != len(vals):
                raise ValueError(
                    f"map default{where}: {len(keys)} keys vs "
                    f"{len(vals)} values"
                )
            return {
                "keys": [
                    _normalize_default(
                        k, ice_type["key"], f"{path}.keys[{i}]"
                    )
                    for i, k in enumerate(keys)
                ],
                "values": [
                    _normalize_default(
                        v, ice_type["value"], f"{path}.values[{i}]"
                    )
                    for i, v in enumerate(vals)
                ],
            }
        raise ValueError(f"iceberg_lite: unknown nested type {ice_type!r}")
    if ice_type.startswith("decimal"):
        if not isinstance(value, (int, float, str)):
            raise ValueError(
                f"decimal default{where} needs a number or string, "
                f"got {value!r}"
            )
        return str(value)
    if ice_type.startswith("fixed") or ice_type == "binary":
        if not isinstance(value, str):
            raise ValueError(
                f"binary default{where} is a hexadecimal string (spec)"
            )
        bytes.fromhex(value)  # raises on malformed hex
        return value.lower()
    if ice_type == "time":
        # stored per spec as the ISO string 'hh:mm:ss.ffffff'; integer
        # micros are accepted ergonomically and canonicalized — both
        # validate through the explicit parsers (never a bare cast)
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise ValueError(
                f"default{where} for time column: got {value!r} "
                "(want 'hh:mm:ss.ffffff' or integer micros)"
            )
        if isinstance(value, int):
            return _micros_to_time_str(value)
        _time_str_to_micros(value)  # validate
        return value
    expect = {
        "boolean": bool,
        "int": int,
        "long": int,
        "float": (int, float),
        "double": (int, float),
        "string": str,
        "uuid": str,
        "date": str,
        "timestamp": str,
        "timestamptz": str,
    }.get(ice_type)
    if expect is not None and (
        not isinstance(value, expect)
        # bool is an int subclass: reject it everywhere the expected
        # type isn't boolean itself (True on a double column would
        # store JSON true and silently read back 1.0)
        or (expect is not bool and isinstance(value, bool))
    ):
        raise ValueError(
            f"default{where} for {ice_type} column: got {value!r}"
        )
    return value


def _snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise ValueError("iceberg table has no snapshots (empty table?)")
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    for s in snaps:
        if s.get("snapshot-id") == snapshot_id:
            return s
    raise ValueError(f"snapshot-id {snapshot_id} not found")


def set_iceberg_ref(
    table_path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> int:
    """Create or move a named ref (spec ``refs`` map): a ``tag`` pins a
    snapshot forever (expiry keeps it), a ``branch`` names a line of
    development. Metadata-only commit; defaults to the CURRENT
    snapshot. Reads resolve refs via ``?ref=<name>``. Branch heads
    advance on write via ``write_iceberg_lite(..., branch=)`` and
    publish to main via :func:`fast_forward_iceberg_ref` (WAP)."""
    import time as _time

    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref type must be tag|branch, got {ref_type!r}")
    meta = _load_metadata(table_path)
    snap = _snapshot(meta, snapshot_id)
    new_meta = dict(meta)
    refs = dict(meta.get("refs") or {})
    refs[name] = {
        "snapshot-id": snap["snapshot-id"],
        "type": ref_type,
    }
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(_time.time() * 1000)
    meta_dir = os.path.join(table_path, "metadata")
    _commit_iceberg_metadata(meta_dir, new_meta)
    return snap["snapshot-id"]


def rollback_iceberg_lite(table_path: str, snapshot_id: int) -> int:
    """Roll the main line back to an EARLIER snapshot (the engines'
    ``rollback_to_snapshot`` procedure): metadata-only commit that
    moves ``current-snapshot-id`` (and a ``main`` ref if present) to
    ``snapshot_id``. Nothing is deleted — the abandoned snapshots stay
    readable via ``?snapshot-id=`` until expiry, exactly like the
    engine's. The target must be an existing snapshot."""
    import time as _time

    meta = _load_metadata(table_path)
    _snapshot(meta, snapshot_id)  # raises if unknown
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = snapshot_id
    refs = dict(meta.get("refs") or {})
    if "main" in refs:
        refs["main"] = {"snapshot-id": snapshot_id, "type": "branch"}
        new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(_time.time() * 1000)
    meta_dir = os.path.join(table_path, "metadata")
    _commit_iceberg_metadata(meta_dir, new_meta)
    return snapshot_id


def fast_forward_iceberg_ref(
    table_path: str, branch: str, to: str = "main"
) -> int:
    """PUBLISH a staged branch: fast-forward ``to`` (default the main
    line, i.e. ``current-snapshot-id``) onto ``branch``'s head — the
    final step of write-audit-publish after ``?ref=<branch>`` reads
    audited the staged snapshots. Metadata-only commit.

    Strictly a FAST-FORWARD: the publish target's current snapshot must
    be an ancestor (via ``parent-snapshot-id``) of the branch head,
    otherwise the lines diverged — someone committed to the target
    after the fork — and silently adopting the branch head would DROP
    those commits; that case raises and needs a real engine's
    cherry-pick/merge. Returns the published snapshot id.
    """
    import time as _time

    meta = _load_metadata(table_path)
    refs = dict(meta.get("refs") or {})
    if branch not in refs:
        raise ValueError(
            f"unknown iceberg branch {branch!r}; known refs: {sorted(refs)}"
        )
    if refs[branch].get("type") != "branch":
        raise ValueError(f"iceberg ref {branch!r} is a tag, not a branch")
    head = refs[branch]["snapshot-id"]

    by_id = {
        s["snapshot-id"]: s for s in (meta.get("snapshots") or [])
    }
    ancestors = set()
    walk = head
    while walk is not None and walk not in ancestors:
        ancestors.add(walk)
        walk = by_id.get(walk, {}).get("parent-snapshot-id")

    if to == "main":
        target_head = meta.get("current-snapshot-id")
    else:
        if to not in refs or refs[to].get("type") != "branch":
            raise ValueError(f"publish target {to!r} is not a branch")
        target_head = refs[to]["snapshot-id"]
    if target_head is not None and target_head not in ancestors:
        raise ValueError(
            f"not a fast-forward: {to!r} (snapshot {target_head}) is not "
            f"an ancestor of branch {branch!r} (head {head}) — the lines "
            "diverged; rebase/cherry-pick needs an engine writer"
        )

    new_meta = dict(meta)
    if to == "main":
        new_meta["current-snapshot-id"] = head
        if "main" in refs:
            refs["main"] = {"snapshot-id": head, "type": "branch"}
    else:
        refs[to] = {"snapshot-id": head, "type": "branch"}
    new_meta["refs"] = refs
    new_meta["last-updated-ms"] = int(_time.time() * 1000)
    meta_dir = os.path.join(table_path, "metadata")
    _commit_iceberg_metadata(meta_dir, new_meta)
    return head


def resolve_iceberg_ref(meta: dict, name: str) -> int:
    """Snapshot id a named ref points at; 'main' falls back to the
    current snapshot when no explicit ref exists (the spec's default
    branch)."""
    refs = meta.get("refs") or {}
    if name in refs:
        return refs[name]["snapshot-id"]
    if name == "main":
        cur = meta.get("current-snapshot-id")
        if cur is not None:
            return cur
    raise ValueError(
        f"unknown iceberg ref {name!r}; known: {sorted(refs)}"
    )


def snapshot_id_at_timestamp(meta: dict, ts: int | str) -> int:
    """The snapshot current AS OF ``ts`` (epoch millis, or an ISO
    date/datetime string) — the newest snapshot whose ``timestamp-ms``
    is <= ts; raises if the table has none that old (same contract as
    the engines' ``FOR SYSTEM_TIME AS OF``)."""
    if isinstance(ts, str) and not ts.isdigit():
        import datetime as _dt

        parsed = _dt.datetime.fromisoformat(ts)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=_dt.timezone.utc)
        ts_ms = int(parsed.timestamp() * 1000)
    else:
        ts_ms = int(ts)
    eligible = [
        s
        for s in (meta.get("snapshots") or [])
        if int(s.get("timestamp-ms") or 0) <= ts_ms
    ]
    if not eligible:
        raise ValueError(
            f"no iceberg snapshot at or before timestamp {ts!r}"
        )
    return max(eligible, key=lambda s: int(s["timestamp-ms"]))[
        "snapshot-id"
    ]


def _manifest_entries(table_path: str, snap: dict) -> list[dict]:
    """All manifest entries of a snapshot, each annotated with its
    resolved DATA SEQUENCE NUMBER as ``__data_seq`` (spec: a null
    ``sequence_number`` on an ADDED entry inherits the manifest-list
    entry's sequence number; v1 tables have none → 0). Delete files
    apply to data files by comparing these numbers."""
    from spark_etl_cli_spark.sources.avro_lite import read_container

    ml_path = _localize(snap["manifest-list"], table_path)
    with open(ml_path, "rb") as fh:
        _, manifests = read_container(fh.read())
    entries: list[dict] = []
    for m in manifests:
        mp = _localize(m["manifest_path"], table_path)
        ml_seq = m.get("sequence_number")
        with open(mp, "rb") as fh:
            _, recs = read_container(fh.read())
        for rec in recs:
            seq = rec.get("sequence_number")
            if seq is None:
                seq = ml_seq  # inheritance (ADDED); conservative for rest
            rec["__data_seq"] = int(seq) if seq is not None else None
        entries.extend(recs)
    return entries


def _identity_partition_fields(meta: dict) -> list[tuple[str, str, T.DataType]]:
    """[(partition_field_name, source_column_name, spark_type)] for the
    default spec's IDENTITY-transform fields — the ones a partition
    predicate can prune on. Non-identity transforms (bucket/truncate/
    days/...) are skipped: pruning on them needs the transform
    implementation, so those files are conservatively kept."""
    specs = meta.get("partition-specs")
    if specs is not None:
        spec = next(
            (s for s in specs if s.get("spec-id") == meta.get("default-spec-id", 0)),
            specs[0] if specs else None,
        )
        fields = (spec or {}).get("fields", [])
    else:
        fields = meta.get("partition-spec") or []  # v1 legacy inline form
    by_id: dict[int, tuple[str, T.DataType]] = {}
    for f in _current_schema(meta).get("fields", []):
        by_id[f["id"]] = (f["name"], _iceberg_type_to_spark(f["type"]))
    out = []
    for pf in fields:
        if pf.get("transform") != "identity":
            continue
        src = by_id.get(pf.get("source-id"))
        if src:
            out.append((pf["name"], src[0], src[1]))
    return out


def _identity_fields_all_specs(
    meta: dict,
) -> list[tuple[str, str, T.DataType]]:
    """Union of IDENTITY-transform partition fields across EVERY spec
    the table has ever had (partition evolution) — the read side's
    view: an entry written under an old spec restores/prunes on the
    fields ITS spec recorded, found here by name."""
    specs = meta.get("partition-specs")
    if specs is None:
        legacy = meta.get("partition-spec") or []
        specs = [{"fields": legacy}]
    by_id: dict[int, tuple[str, T.DataType]] = {}
    for f in _current_schema(meta).get("fields", []):
        by_id[f["id"]] = (f["name"], _iceberg_type_to_spark(f["type"]))
    out: list[tuple[str, str, T.DataType]] = []
    seen: set[str] = set()
    for spec in specs:
        for pf in spec.get("fields", []):
            if pf.get("transform") != "identity":
                continue
            src = by_id.get(pf.get("source-id"))
            if src and pf["name"] not in seen:
                seen.add(pf["name"])
                out.append((pf["name"], src[0], src[1]))
    return out


def _prune_file_entries(
    spark: SparkSession,
    entries: list[tuple[str, dict]],
    part_fields: list[tuple[str, str, T.DataType]],
    where: str,
) -> list[str] | None:
    """Evaluate ``where`` once per DISTINCT partition tuple (Spark-side,
    so predicate semantics match the engine exactly) and return the
    kept file paths — or None when the predicate doesn't bind to the
    identity partition columns (caller keeps everything and row-filters).

    Entries are pruned per PRESENT-field subset: a file written under
    an old spec (partition evolution) records only its own spec's
    fields, so its predicate evaluation sees exactly those columns —
    never a NULL standing in for "not recorded", which would wrongly
    drop the file. A subset the predicate can't bind to is kept whole.
    """
    if not part_fields:
        return None
    by_subset: dict[frozenset, dict[tuple, list[str]]] = {}
    unprunable: list[str] = []
    for path, pvals in entries:
        present = frozenset(
            pname for pname, _, _ in part_fields if pname in pvals
        )
        if not present:
            # no value RECORDED for any identity field (spec evolution,
            # a pre-partitioning commit, another writer's layout):
            # conservatively keep — distinct from a recorded NULL
            # partition value, which IS prunable via IS NULL
            unprunable.append(path)
            continue
        key = tuple(pvals.get(pname) for pname, _, _ in part_fields
                    if pname in present)
        by_subset.setdefault(present, {}).setdefault(key, []).append(path)
    if not by_subset:
        return None
    out: list[str] = list(unprunable)
    any_bound = False
    for present, tuples in by_subset.items():
        fields = [pf for pf in part_fields if pf[0] in present]
        schema = T.StructType(
            [T.StructField(src, dt, True) for _, src, dt in fields]
        )
        try:
            tdf = local_frame(spark, list(tuples), schema)
            kept_df = tdf.filter(F.expr(where))
            kept_df.columns  # force analysis: does `where` bind here?
            kept = {tuple(r) for r in kept_df.collect()}
        except Exception:
            # predicate references columns this subset's spec didn't
            # record — keep the subset whole
            for paths in tuples.values():
                out.extend(paths)
            continue
        any_bound = True
        for key, paths in tuples.items():
            if key in kept:
                out.extend(paths)
    if not any_bound:
        return None
    return out


_LIT_RE = __import__("re").compile(
    r"^\s*(\w+)\s*=\s*(?:(?:DATE|TIMESTAMP)\s*)?"
    r"('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$",
    __import__("re").IGNORECASE,
)


def _prune_transformed_entries(
    entries: list[tuple[str, dict, int]],
    meta: dict,
    where: str,
) -> list[tuple[str, dict, int]]:
    """Manifest pruning over NON-identity partition transforms
    (bucket/truncate/year/month/day/hour): for each top-level
    ``col = literal`` conjunct of ``where`` whose column sources a
    transformed partition field, drop the entries whose RECORDED
    transformed value differs from ``transform(literal)``
    (iceberg_transforms.py — spec hash, spec encodings). Strictly
    sound: only removes files the row filter would empty anyway;
    predicates that aren't a plain conjunction of equalities are left
    to the identity pruner + row filter.
    """
    up = where.upper()
    if "(" in where or " OR " in up or " NOT " in up or up.startswith("NOT "):
        return entries
    from spark_etl_cli_spark.sources.iceberg_transforms import (
        apply_transform,
    )

    specs = meta.get("partition-specs")
    if specs is not None:
        spec = next(
            (
                s
                for s in specs
                if s.get("spec-id") == meta.get("default-spec-id", 0)
            ),
            specs[0] if specs else None,
        )
        fields = (spec or {}).get("fields", [])
    else:
        fields = meta.get("partition-spec") or []
    by_id = {
        f["id"]: (f["name"], f["type"])
        for f in _current_schema(meta).get("fields", [])
    }
    # source column name -> [(partition field name, transform, type)]
    transformed: dict[str, list[tuple[str, str, str]]] = {}
    for pf in fields:
        tr = pf.get("transform")
        if tr in (None, "identity", "void"):
            continue
        src = by_id.get(pf.get("source-id"))
        if src:
            transformed.setdefault(src[0], []).append(
                (pf["name"], tr, json_type_str(src[1]))
            )
    if not transformed:
        return entries
    import re as _re

    expected: dict[str, object] = {}  # partition field -> required value
    for conj in _re.split(r"\s+AND\s+", where, flags=_re.IGNORECASE):
        m = _LIT_RE.match(conj)
        if not m:
            continue
        col, raw = m.group(1), m.group(2)
        lit: object = raw[1:-1] if raw.startswith("'") else (
            float(raw) if "." in raw else int(raw)
        )
        for pname, tr, ityp in transformed.get(col, []):
            try:
                expected[pname] = apply_transform(tr, lit, ityp)
            except (NotImplementedError, ValueError, ArithmeticError):
                continue
    if not expected:
        return entries

    def _mismatch(recorded, want) -> bool:
        """True only when the recorded value PROVABLY differs from the
        required one. A recorded value that cannot be coerced to the
        expected type (stale metadata, foreign writer) keeps the file
        — pruning must never be the component that loses rows."""
        from decimal import Decimal, InvalidOperation

        if isinstance(want, (int, float, Decimal)):
            try:
                return Decimal(str(recorded)) != Decimal(str(want))
            except (InvalidOperation, ValueError):
                return False
        return str(recorded) != str(want)

    kept = []
    for path, pvals, seq in entries:
        drop = False
        for pname, want in expected.items():
            if pname in pvals and pvals[pname] is not None:
                if _mismatch(pvals[pname], want):
                    drop = True
                    break
        if not drop:
            kept.append((path, pvals, seq))
    return kept


def json_type_str(t) -> str:
    """Iceberg schema 'type' field (string or nested dict) → the
    primitive type string the transforms consume."""
    return t if isinstance(t, str) else str(t.get("type", t))


def _resolve_entries(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    where: str | None = None,
) -> tuple[
    list[tuple[str, dict, int]],
    list[tuple[str, int]],
    list[tuple[str, int]],
    list[tuple[str, int, int, str, int]],
    T.StructType,
    dict,
]:
    """(data entries (path, partition dict, data sequence number),
    position deletes (path, seq), equality deletes (path, seq),
    deletion vectors (puffin path, content offset, content size,
    referenced data file abs path, seq), spark schema, table metadata)
    for a snapshot, with ``where`` pruning the data entries via
    manifest partition values.

    Deletion vectors (format v3, spec "Deletion Vectors") are position
    deletes stored as ``deletion-vector-v1`` blobs in Puffin files,
    recognized by their manifest entry's ``referenced_data_file`` /
    ``content_offset`` / ``content_size_in_bytes`` fields (spec ids
    143/144/145)."""
    meta = _load_metadata(table_path)
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise NotImplementedError(
            f"iceberg_lite reads format v1/v2/v3 tables, got v{fv}"
        )
    spark_schema = _schema_to_spark(meta)
    snap = _snapshot(meta, snapshot_id)
    data_entries: list[tuple[str, dict, int]] = []
    pos_deletes: list[tuple[str, int]] = []
    eq_deletes: list[tuple[str, int]] = []
    dv_entries: list[tuple[str, int, int, str, int]] = []
    for e in _manifest_entries(table_path, snap):
        if e.get("status") == 2:  # DELETED entry
            continue
        dfile = e.get("data_file") or {}
        path = _localize(dfile["file_path"], table_path)
        content = dfile.get("content") or 0
        seq = e["__data_seq"]
        if content == 0:
            # a data file with no recorded/inherited sequence number
            # (v1, hand-built metadata) sorts OLDEST — deletes apply
            data_entries.append(
                (path, dfile.get("partition") or {}, seq if seq is not None else 0)
            )
        elif content == 1:
            # a delete file with no sequence number applies to ALL
            # current data (pre-sequencing metadata); scoping kicks in
            # only when the table actually records sequence numbers
            if dfile.get("content_offset") is not None or (
                str(dfile.get("file_format") or "")).upper() == "PUFFIN":
                dv_entries.append((
                    path,
                    int(dfile["content_offset"]),
                    int(dfile["content_size_in_bytes"]),
                    os.path.abspath(_localize(
                        dfile["referenced_data_file"], table_path
                    )),
                    seq if seq is not None else 2**62,
                ))
            else:
                pos_deletes.append((path, seq if seq is not None else 2**62))
        elif content == 2:
            eq_deletes.append((path, seq if seq is not None else 2**62))
    if where and data_entries:
        pruned = _prune_file_entries(
            spark,
            [(p, pv) for p, pv, _ in data_entries],
            # all specs: evolved-away identity fields still prune the
            # files that recorded them
            _identity_fields_all_specs(meta),
            where,
        )
        if pruned is not None:
            kept = set(pruned)
            data_entries = [t for t in data_entries if t[0] in kept]
        data_entries = _prune_transformed_entries(
            data_entries, meta, where
        )
    return data_entries, pos_deletes, eq_deletes, dv_entries, spark_schema, meta


def resolve_iceberg_files(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    where: str | None = None,
) -> tuple[list[str], list[str], list[str], T.StructType]:
    """(data_files, position_delete_files, equality_delete_files,
    spark_schema) for a snapshot, with ``where`` pruning the DATA file
    list via manifest-entry partition values — at a 10^6-file table this
    is what keeps a one-partition query from opening every footer.
    Deletion-vector Puffin files (v3) are listed with the position
    deletes (they ARE position deletes, differently framed)."""
    entries, pos_deletes, eq_deletes, dv_entries, spark_schema, _meta = (
        _resolve_entries(spark, table_path, snapshot_id, where)
    )
    return (
        [p for p, _, _ in entries],
        [p for p, _ in pos_deletes] + sorted({p for p, *_ in dv_entries}),
        [p for p, _ in eq_deletes],
        spark_schema,
    )


def read_iceberg_lite(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    where: str | None = None,
    with_provenance: bool = False,
    with_row_id: bool = False,
    with_last_updated_seq: bool = False,
) -> DataFrame:
    """Snapshot read. ``with_provenance`` keeps the service columns
    ``__dfile`` (manifest-normalized data-file path) and ``__dpos``
    (row position) on the result — the merge-on-read DELETE writer
    consumes them to emit position-delete rows for exactly the LIVE
    rows a predicate matches.

    ``with_row_id`` (format v3 only) appends the spec's ``_row_id``
    metadata column per the Row Lineage rules:
    ``coalesce(materialized _row_id, first_row_id + position)`` — COW
    rewrites materialize preserved ids into their files (registered
    via the reserved name-mapping field 2147483546), fresh files
    derive from their first_row_id block. Files with unassigned
    lineage (pre-upgrade, or rewrites that couldn't recover it) raise
    rather than serve nulls.

    ``with_last_updated_seq`` (format v3 only) appends
    ``_last_updated_sequence_number``: ``coalesce(materialized column
    [reserved field 2147483545], the file's data sequence number)`` —
    rows inherit their file's sequence unless a rewrite carried their
    original one forward."""
    entries, pos_deletes, eq_deletes, dv_entries, spark_schema, meta = (
        _resolve_entries(spark, table_path, snapshot_id, where)
    )
    if with_row_id and int(meta.get("format-version", 1)) < 3:
        raise ValueError(
            "with_row_id needs a format-version 3 table (row lineage); "
            "run upgrade_iceberg_format first"
        )
    if with_last_updated_seq and int(meta.get("format-version", 1)) < 3:
        raise ValueError(
            "with_last_updated_seq needs a format-version 3 table"
        )
    if not entries:
        empty = local_frame(spark, [], spark_schema)
        if with_row_id:
            empty = empty.withColumn("_row_id", F.lit(None).cast("long"))
        if with_last_updated_seq:
            empty = empty.withColumn(
                "_last_updated_sequence_number", F.lit(None).cast("long")
            )
        return empty.filter(where) if where else empty
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    track = (
        bool(pos_deletes) or bool(eq_deletes) or bool(dv_entries)
        or with_provenance or with_row_id or with_last_updated_seq
    )

    # schema.name-mapping.default (spec): files without field ids in
    # their footers resolve columns through this name→id mapping — the
    # UniForm path, where delta-written parquet carries PHYSICAL
    # (col-<uuid>) names for column-mapped tables. Read with the mapped
    # file names, serve the logical ones. Mapping entries recurse
    # through "fields", so NESTED struct fields rename too; the restore
    # is a positional struct cast back to the logical datatype.
    nm_raw = (meta.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    _phys_field = None
    rid_mat_col: str | None = None
    seq_mat_col: str | None = None
    if nm_raw:
        id_to_file_name: dict[int, str] = {}

        def _nm_flat(entries) -> None:
            for e in entries:
                if e.get("names") and e.get("field-id") is not None:
                    id_to_file_name[e["field-id"]] = e["names"][0]
                if e.get("fields"):
                    _nm_flat(e["fields"])

        _nm_flat(json.loads(nm_raw))
        # spec reserved field 2147483546: the MATERIALIZED ``_row_id``
        # column rewritten data files carry (row lineage survives
        # rewrites through it; fresh files derive first_row_id + pos);
        # 2147483545 is its last-updated-sequence-number sibling
        rid_mat_col = id_to_file_name.pop(_ROW_ID_FIELD_ID, None)
        seq_mat_col = id_to_file_name.pop(_LAST_SEQ_FIELD_ID, None)
        ice_field_of = {
            f["name"]: f for f in _current_schema(meta).get("fields", [])
        }

        def _phys_type(ice_t, dt):
            if isinstance(dt, T.StructType) and isinstance(ice_t, dict) \
                    and ice_t.get("type") == "struct":
                return T.StructType([
                    T.StructField(
                        id_to_file_name.get(fe["id"], sf.name),
                        _phys_type(fe["type"], sf.dataType),
                        sf.nullable,
                    )
                    for fe, sf in zip(ice_t["fields"], dt.fields)
                ])
            if isinstance(dt, T.ArrayType) and isinstance(ice_t, dict) \
                    and ice_t.get("type") == "list":
                return T.ArrayType(
                    _phys_type(ice_t["element"], dt.elementType),
                    dt.containsNull,
                )
            if isinstance(dt, T.MapType) and isinstance(ice_t, dict) \
                    and ice_t.get("type") == "map":
                return T.MapType(
                    _phys_type(ice_t["key"], dt.keyType),
                    _phys_type(ice_t["value"], dt.valueType),
                    dt.valueContainsNull,
                )
            return dt

        def _phys_field(sf: T.StructField) -> T.StructField:
            fe = ice_field_of.get(sf.name)
            if fe is None:
                return sf
            return T.StructField(
                id_to_file_name.get(fe["id"], sf.name),
                _phys_type(fe["type"], sf.dataType),
                sf.nullable,
            )

    want_mrid = with_row_id and rid_mat_col is not None
    want_mseq = with_last_updated_seq and seq_mat_col is not None

    # v3 initial-defaults (spec "Default values"): a file written
    # before a defaulted column was added physically lacks it and must
    # read the default, while a file that HAS the column serves its
    # stored values (including genuine NULLs) verbatim — so scans
    # group per file VINTAGE (footer presence of the column, a
    # driver-side check bounded by file count like the manifests).
    init_dflt = {
        f["name"]: (f["initial-default"], f["type"])
        for f in _current_schema(meta).get("fields", [])
        if f.get("initial-default") is not None
    }

    def scan(paths: list[str], schema: T.StructType, extra) -> DataFrame:
        relevant = {
            f.name: init_dflt[f.name]
            for f in schema.fields
            if f.name in init_dflt
        }
        if not relevant:
            return _scan_one(paths, schema, extra, {})
        read_name_of = {
            f.name: (_phys_field(f).name if _phys_field else f.name)
            for f in schema.fields
            if f.name in relevant
        }
        import pyarrow.parquet as _pq

        groups_v: dict[frozenset, list[str]] = {}
        for p in paths:
            present = set(_pq.ParquetFile(p).schema_arrow.names)
            missing = frozenset(
                nm
                for nm, rn in read_name_of.items()
                if rn not in present
            )
            groups_v.setdefault(missing, []).append(p)
        pieces_v = [
            _scan_one(
                ps, schema, extra, {nm: relevant[nm] for nm in miss}
            )
            for miss, ps in sorted(
                groups_v.items(), key=lambda kv: sorted(kv[0])
            )
        ]
        out_v = pieces_v[0]
        for pc in pieces_v[1:]:
            out_v = out_v.unionByName(pc)
        return out_v

    def _scan_one(
        paths: list[str],
        schema: T.StructType,
        extra,
        fill: dict[str, object],
    ) -> DataFrame:
        read_fields = (
            [_phys_field(f) for f in schema.fields]
            if _phys_field
            else list(schema.fields)
        )
        renamed = read_fields != list(schema.fields)
        if want_mrid:
            # files predating the materialized column just read NULLs
            read_fields = read_fields + [
                T.StructField(rid_mat_col, T.LongType())
            ]
        if want_mseq:
            read_fields = read_fields + [
                T.StructField(seq_mat_col, T.LongType())
            ]
        read_schema = (
            T.StructType(read_fields)
            if (renamed or want_mrid or want_mseq)
            else schema
        )
        d = spark.read.schema(read_schema).parquet(*paths)
        if fill:
            for rf, f in zip(read_fields, schema.fields):
                if f.name in fill:
                    v, itype = fill[f.name]
                    d = d.withColumn(rf.name, _sv_to_column(v, itype))
        mrid = (
            [F.col(rid_mat_col).cast("long").alias("__mrid")]
            if want_mrid
            else []
        ) + (
            [F.col(seq_mat_col).cast("long").alias("__mseq")]
            if want_mseq
            else []
        )
        if renamed:
            # restore logical names (+ keep metadata cols reachable);
            # nested renames restore through a positional struct cast
            sel = []
            for rf, f in zip(read_schema.fields, schema.fields):
                col = F.col(rf.name)
                if rf.dataType != f.dataType:
                    col = col.cast(f.dataType)
                sel.append(col.alias(f.name))
            sel += mrid
            if track:
                sel += [
                    norm(F.col("_metadata.file_path")).alias("__dfile"),
                    F.col("_metadata.row_index").alias("__dpos"),
                ]
            d = d.select(*sel)
            cols = list(extra) + (
                [F.col("__mrid")] if want_mrid else []
            ) + (
                [F.col("__mseq")] if want_mseq else []
            ) + ([F.col("__dfile"), F.col("__dpos")] if track else [])
            return d.select(*cols)
        cols = list(extra) + mrid + (
            [
                norm(F.col("_metadata.file_path")).alias("__dfile"),
                F.col("_metadata.row_index").alias("__dpos"),
            ]
            if track
            else []
        )
        return d.select(*cols)

    # identity partition columns: the spec stores their values in the
    # manifest, and files written through partitionBy-style writers
    # (this module's included) don't carry the column physically —
    # restore them as typed literals per partition group, exactly like
    # the delta reader. Files whose manifest entries carry no values
    # (pre-partitioning commits, other writers) read the full schema.
    # PRESENCE-aware under partition evolution: an entry restores only
    # the identity fields ITS spec recorded — a file written before a
    # column became (or after it stopped being) a partition field
    # carries that column physically and must read it, not get a NULL
    # literal from a spec it was never written under.
    part_fields = _identity_fields_all_specs(meta)
    groups: dict[tuple, list[str]] = {}
    for path, pv, _seq in entries:
        key = tuple(
            (pname in pv, pv.get(pname)) for pname, _, _ in part_fields
        )
        groups.setdefault(key, []).append(path)
    parts: list[DataFrame] = []
    for key, paths in sorted(
        groups.items(),
        key=lambda kv: tuple(
            (not present, v is None, str(v)) for present, v in kv[0]
        ),
    ):
        restored = {
            src: key[i][1]
            for i, (pname, src, _) in enumerate(part_fields)
            if key[i][0]
        }
        if restored and any(v is not None for v in restored.values()):
            data_schema = T.StructType(
                [f for f in spark_schema.fields if f.name not in restored]
            )
            cols = []
            for f in spark_schema.fields:
                if f.name in restored:
                    cols.append(
                        F.lit(restored[f.name]).cast(f.dataType).alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            parts.append(scan(paths, data_schema, cols))
        else:
            parts.append(
                scan(paths, spark_schema, [F.col(f.name) for f in spark_schema.fields])
            )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if track:
        # data sequence number per row, via a broadcast (file -> seq)
        # join: file-list-sized, never a literal map at 10^6 files.
        # Deletes are SEQUENCE-SCOPED per the v2 spec — a file re-added
        # AFTER a delete has a higher data seq and must survive it.
        seq_df = F.broadcast(
            local_frame(
                spark, [(os.path.abspath(p), s) for p, _pv, s in entries],
                "__dfile string, __dseq long",
            )
        )
        df = df.join(seq_df, "__dfile", "left")
    if pos_deletes or dv_entries:
        # position-delete files: (file_path, pos[, row]) — drop the
        # (file, row ordinal) pairs they name, matching on normalized
        # paths since writers disagree about the file:// prefix; a
        # delete row applies only to data files whose sequence number
        # is <= the delete file's (spec: "Position delete files must
        # be applied to data files from the same commit [or older]")
        del_parts: list[DataFrame] = []
        if pos_deletes:
            del_parts.append(
                spark.read.parquet(*[p for p, _ in pos_deletes])
                .withColumn("__delfile", norm(F.col("_metadata.file_path")))
                .select(
                    norm(F.col("file_path")).alias("__pdfile"),
                    F.col("pos").cast("long").alias("__pdpos"),
                    "__delfile",
                )
                .join(
                    F.broadcast(
                        local_frame(
                            spark,
                            [(os.path.abspath(p), s) for p, s in pos_deletes],
                            "__delfile string, __delseq long",
                        )
                    ),
                    "__delfile",
                )
                .select("__pdfile", "__pdpos", "__delseq")
            )
        if dv_entries:
            # v3 deletion vectors: decode each referenced file's
            # bitmap driver-side (bounded by DV cardinality — the
            # same order the broadcast below materializes anyway) and
            # feed the identical anti-join
            from spark_etl_cli_spark.sources.puffin_lite import read_dv

            dv_rows = [
                (ref, int(pos), seq)
                for ppath, off, size, ref, seq in dv_entries
                for pos in read_dv(ppath, off, size)
            ]
            del_parts.append(
                local_frame(
                    spark,
                    dv_rows,
                    "__pdfile string, __pdpos long, __delseq long",
                )
            )
        dels = del_parts[0]
        for extra in del_parts[1:]:
            dels = dels.unionByName(extra)
        dels = dels.groupBy("__pdfile", "__pdpos").agg(
            F.max("__delseq").alias("__delseq")
        )
        df = df.join(
            F.broadcast(dels),
            (F.col("__dfile") == F.col("__pdfile"))
            & (F.col("__dpos") == F.col("__pdpos"))
            & (F.col("__dseq") <= F.col("__delseq")),
            "left_anti",
        )
    for path, dseq in eq_deletes:
        # equality deletes apply STRICTLY to older data (data seq <
        # delete seq): rows re-inserted by the same or a later commit
        # survive
        eq = spark.read.parquet(path).distinct()
        cond = F.col("__dseq") < F.lit(dseq)
        for c in eq.columns:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        eq_renamed = eq.select(
            *[F.col(c).alias(f"__eq_{c}") for c in eq.columns]
        )
        df = df.join(F.broadcast(eq_renamed), cond, "left_anti")
    if with_row_id:
        frid_of: dict[str, object] = {}
        for e in _manifest_entries(table_path, _snapshot(meta, snapshot_id)):
            if e.get("status") == 2:
                continue
            d = e.get("data_file") or {}
            if (d.get("content") or 0) != 0:
                continue
            pth = os.path.abspath(_localize(d["file_path"], table_path))
            frid_of[pth] = d.get("first_row_id")
        scanned = {os.path.abspath(p) for p, _pv, _s in entries}
        unassigned = sorted(
            p for p in scanned if frid_of.get(p) is None
        )
        if unassigned:
            raise NotImplementedError(
                "with_row_id: these files have unassigned row lineage "
                f"(pre-upgrade or lite-rewritten): {unassigned[:3]} — "
                "a real engine materializes _row_id on rewrite; "
                "re-append the data or read without row ids"
            )
        frid_df = F.broadcast(
            local_frame(
                spark, [(p, int(frid_of[p])) for p in sorted(scanned)],
                "__dfile string, __frid long",
            )
        )
        rid = F.col("__frid") + F.col("__dpos")
        if "__mrid" in df.columns:
            # a rewritten file's materialized id wins over the derived
            # first_row_id + position (spec row-lineage precedence)
            rid = F.coalesce(F.col("__mrid"), rid)
        df = (
            df.join(frid_df, "__dfile", "left")
            .withColumn("_row_id", rid)
            .drop("__frid")
        )
    if "__mrid" in df.columns:
        df = df.drop("__mrid")
    if with_last_updated_seq:
        if int(meta.get("format-version", 1)) < 3:
            raise ValueError(
                "with_last_updated_seq needs a format-version 3 table"
            )
        seq_expr = F.col("__dseq").cast("long")
        if "__mseq" in df.columns:
            seq_expr = F.coalesce(F.col("__mseq").cast("long"), seq_expr)
        df = df.withColumn("_last_updated_sequence_number", seq_expr)
    if "__mseq" in df.columns:
        df = df.drop("__mseq")
    if track and not with_provenance:
        df = df.drop("__dfile", "__dpos", "__dseq")
    elif with_provenance:
        df = df.drop("__dseq")
    # row-level application keeps `where` exact even when it couldn't
    # prune files (non-partition or transformed-partition predicates)
    return df.filter(where) if where else df


# --- engine-free WRITER ---------------------------------------------------
# The commit side of the same public spec: write data files as plain
# parquet, then one Avro manifest for the new files, a manifest list
# for the snapshot (append = prior snapshot's manifests + the new one,
# so old manifests are REUSED, never rewritten — the spec's own
# fast-append shape), and a vN+1.metadata.json claimed with
# O_CREAT|O_EXCL (atomic on POSIX; object stores need a real catalog,
# same caveat as delta_lite's writer).

# v2-REQUIRED manifest-list fields (spec "Manifest Lists" table), with
# the spec's field ids attached as Avro attributes so real engines'
# id-based readers resolve them. Sequence numbers + add/existing/delete
# counts are what makes the output a legal v2 table rather than a
# lite-reader-only artifact.
_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        # null = inherited from the manifest list entry (spec sequence-
        # number inheritance for ADDED entries)
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    # unpartitioned spec: empty partition struct (r102
                    # is the spec's name for this record)
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                ],
            },
        },
    ],
}


def _spark_to_iceberg_schema(schema: T.StructType) -> dict:
    next_id = [0]

    def fid() -> int:
        next_id[0] += 1
        return next_id[0]

    def conv(dt) -> Any:
        if isinstance(dt, T.StructType):
            return {
                "type": "struct",
                "fields": [
                    {
                        "id": fid(),
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                    for f in dt.fields
                ],
            }
        if isinstance(dt, T.ArrayType):
            return {
                "type": "list",
                "element-id": fid(),
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            return {
                "type": "map",
                "key-id": fid(),
                "key": conv(dt.keyType),
                "value-id": fid(),
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        prim = {
            T.BooleanType: "boolean",
            T.IntegerType: "int",
            T.ShortType: "int",
            T.ByteType: "int",
            T.LongType: "long",
            T.FloatType: "float",
            T.DoubleType: "double",
            T.DateType: "date",
            T.TimestampNTZType: "timestamp",
            T.TimestampType: "timestamptz",
            T.StringType: "string",
            T.BinaryType: "binary",
        }
        for cls, name in prim.items():
            if isinstance(dt, cls):
                return name
        raise ValueError(f"iceberg_lite: no iceberg mapping for {dt}")

    top = conv(schema)
    top["schema-id"] = 0
    return top


def _max_field_id(iceberg_schema: dict) -> int:
    """Highest assigned column id in an iceberg schema dict (the
    spec-required ``last-column-id``)."""
    best = 0

    def walk(node) -> None:
        nonlocal best
        if isinstance(node, dict):
            for k, v in node.items():
                if k in ("id", "element-id", "key-id", "value-id") and isinstance(v, int):
                    best = max(best, v)
                else:
                    walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(iceberg_schema)
    return best


def _parquet_row_count(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# spark type → avro type for partition-record fields (nullable union
# added at use); the identity-partitionable subset
_PART_AVRO = {
    T.StringType: "string",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.BooleanType: "boolean",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: {"type": "int", "logicalType": "date"},
}


def _part_avro_type(dt: T.DataType):
    for cls, avro in _PART_AVRO.items():
        if isinstance(dt, cls):
            return avro
    raise ValueError(
        f"iceberg_lite: partition column type {dt} not supported "
        "(identity partitioning on string/int/long/boolean/float/double/date)"
    )


def _hive_value(raw: str | None, dt: T.DataType):
    """Typed python value from a hive partition-dir segment."""
    from urllib.parse import unquote as _uq

    if raw is None or raw == _HIVE_NULL:
        return None
    raw = _uq(raw)
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType, T.LongType)):
        return int(raw)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dt, T.DateType):
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    return raw


def _manifest_schema_for(
    part_fields: list[tuple[str, T.DataType]],
    with_lineage: bool = False,
) -> dict:
    """_MANIFEST_SCHEMA with a typed partition record (spec field ids
    from 1000, matching the partition spec). ``with_lineage`` adds the
    v3 row-lineage field ``first_row_id`` (spec id 142) to the
    data_file record."""
    schema = json.loads(json.dumps(_MANIFEST_SCHEMA))  # deep copy
    if with_lineage:
        for f in schema["fields"]:
            if f["name"] == "data_file":
                f["type"]["fields"].append(
                    {
                        "name": "first_row_id",
                        "field-id": 142,
                        "type": ["null", "long"],
                    }
                )
    if part_fields:
        pf = [
            {
                "name": name,
                "type": ["null", _part_avro_type(dt)],
                "field-id": 1000 + i,
            }
            for i, (name, dt) in enumerate(part_fields)
        ]
        for f in schema["fields"]:
            if f["name"] == "data_file":
                for df_f in f["type"]["fields"]:
                    if df_f["name"] == "partition":
                        df_f["type"]["fields"] = pf
    return schema


def _sort_order_meta(
    prior: dict | None, sort_by: list[str] | None, field_id_of: dict
) -> dict:
    """``sort-orders`` + ``default-sort-order-id`` for a commit: prior
    orders carry over; ``sort_by`` records (or reuses) an identity
    asc/nulls-first order and makes it the default (spec "Sort
    Orders")."""
    orders = [{"order-id": 0, "fields": []}]
    default_id = 0
    if prior and prior.get("sort-orders"):
        orders = list(prior["sort-orders"])
        default_id = int(prior.get("default-sort-order-id", 0))
    if sort_by:
        fields = [
            {
                "transform": "identity",
                "source-id": field_id_of[c],
                "direction": "asc",
                "null-order": "nulls-first",
            }
            for c in sort_by
        ]
        match = next(
            (o["order-id"] for o in orders if o["fields"] == fields), None
        )
        if match is None:
            match = max(o["order-id"] for o in orders) + 1
            orders.append({"order-id": match, "fields": fields})
        default_id = match
    return {"sort-orders": orders, "default-sort-order-id": default_id}


def _default_spec(meta: dict) -> dict:
    """The table's default partition spec, ``{"spec-id", "fields"}``
    (v1 metadata keeps its only spec inline as ``partition-spec``)."""
    return next(
        (
            s
            for s in meta.get("partition-specs") or []
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"spec-id": 0, "fields": meta.get("partition-spec") or []},
    )


def _spec_partition_types(meta: dict) -> list[tuple[str, T.DataType]]:
    """[(partition field name, manifest value type)] for the default
    spec's fields, the partition record its manifests carry."""
    tr_fields = _transformed_spec_fields(meta)
    if tr_fields is not None:
        return [(pn, vdt) for pn, _tr, _src, _it, vdt in tr_fields]
    return [(pn, dt) for pn, _src, dt in _identity_partition_fields(meta)]


# manifest-list entries written before the v2-required fields existed
# are backfilled with these when a commit carries them forward (the
# manifest-list schema makes them non-nullable)
_CARRIED_DEFAULTS = {
    "content": 0,
    "sequence_number": 0,
    "min_sequence_number": 0,
    "added_files_count": 0,
    "existing_files_count": 0,
    "deleted_files_count": 0,
    "added_rows_count": 0,
    "existing_rows_count": 0,
    "deleted_rows_count": 0,
}


class _SnapshotCommit:
    """The one writer of Iceberg snapshots. Every commit that adds a
    snapshot — appends, rewrites, row-level deletes, the v3 upgrade and
    the UniForm exports — takes three steps:

    * **begin** (the constructor): snapshot id, sequence number, commit
      uuid and timestamp come from ``base``, the metadata the caller
      read; the parent is ``base``'s current snapshot, or the head of
      ``branch`` for a branch write. ``meta`` starts as a copy of
      ``base``: the document this commit writes, which a caller edits
      or replaces before writing manifests.
    * :meth:`write_manifest` / :meth:`write_dvs`: one manifest under
      ``meta``'s current schema and default spec, returning its
      manifest-list entry with counts derived from the entry statuses.
    * :meth:`commit`: the manifest list (carried entries backfilled,
      then the new ones), the snapshot, and the next
      ``vN.metadata.json`` claimed through ``_commit_iceberg_metadata``.

    A commit that loses its claim removes the manifests and the
    manifest list it wrote, then re-raises ``FileExistsError``. It never
    removes data or delete files: UniForm exports list the source
    table's own files as ADDED entries.
    """

    def __init__(
        self, table_path: str, base: dict | None, branch: str | None = None
    ) -> None:
        import time as _time
        import uuid as _uuid

        self.table_path = table_path
        self.meta_dir = os.path.join(table_path, "metadata")
        self.base = base or {}
        self.meta = dict(self.base)
        snaps = self.base.get("snapshots") or []
        self.snapshot_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
        # v2 commit ordering: one sequence number per commit, inherited
        # by the snapshot, its new manifest-list entries, and (via null
        # inheritance) the new manifests' ADDED entries
        self.seq = int(self.base.get("last-sequence-number") or 0) + 1
        self.uuid = _uuid.uuid4().hex
        self.now_ms = int(_time.time() * 1000)
        self.branch = branch
        # -1 is the spec's "no current snapshot"
        current = self.base.get("current-snapshot-id")
        self.parent = current if snaps and current not in (None, -1) else None
        if branch is not None:
            if not snaps:
                raise ValueError(
                    "iceberg branch write needs an existing table (the "
                    "branch forks from the current snapshot); create the "
                    "table first"
                )
            ref = (self.base.get("refs") or {}).get(branch)
            if ref is not None:
                if ref.get("type") != "branch":
                    raise ValueError(
                        f"iceberg ref {branch!r} is a tag; tags are "
                        "immutable — writes need a branch"
                    )
                self.parent = ref["snapshot-id"]
        self._written: list[str] = []

    @property
    def fv(self) -> int:
        return int(self.meta.get("format-version", 2))

    def added(self, data_file: dict) -> dict:
        """An ADDED manifest entry; its sequence numbers are inherited
        from the manifest-list entry (v2 spec)."""
        return {
            "status": 1,
            "snapshot_id": self.snapshot_id,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": data_file,
        }

    def parent_manifests(self) -> list[dict]:
        """The parent snapshot's manifest-list entries, as stored."""
        from spark_etl_cli_spark.sources.avro_lite import read_container

        if self.parent is None:
            return []
        snap = _snapshot(self.base, self.parent)
        with open(_localize(snap["manifest-list"], self.table_path), "rb") as fh:
            return read_container(fh.read())[1]

    def write_manifest(
        self,
        entries: list[dict],
        content: str = "data",
        part_fields: list[tuple[str, T.DataType]] = (),
        removed: tuple[int, int] = (0, 0),
    ) -> dict:
        """Write one ``data`` or ``deletes`` manifest; return its
        manifest-list entry. ``removed`` counts (files, rows) this
        commit dropped without listing them as DELETED entries."""
        from spark_etl_cli_spark.sources.avro_lite import write_container

        spec = _default_spec(self.meta)
        os.makedirs(self.meta_dir, exist_ok=True)
        path = os.path.join(
            self.meta_dir, f"manifest-{self.uuid}-{len(self._written)}.avro"
        )
        write_container(
            path,
            _manifest_schema_for(part_fields, with_lineage=self.fv == 3)
            if content == "data"
            else _delete_manifest_schema(part_fields),
            iter(entries),
            extra_meta={
                # container-metadata keys real v2 readers require on
                # manifest files (spec "Manifests")
                "schema": json.dumps(_current_schema(self.meta)).encode(),
                "schema-id": b"0",
                "partition-spec": json.dumps(spec.get("fields", [])).encode(),
                "partition-spec-id": str(spec.get("spec-id", 0)).encode(),
                "format-version": str(self.fv).encode(),
                "content": content.encode(),
            },
        )
        self._written.append(path)

        def files(status: int) -> int:
            return sum(1 for e in entries if e["status"] == status)

        def rows(status: int) -> int:
            return sum(
                e["data_file"].get("record_count") or 0
                for e in entries
                if e["status"] == status
            )

        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": int(spec.get("spec-id", 0)),
            "content": 0 if content == "data" else 1,
            "sequence_number": self.seq,
            "min_sequence_number": min(
                (
                    self.seq if e["sequence_number"] is None
                    else e["sequence_number"]
                    for e in entries
                ),
                default=self.seq,
            ),
            "added_snapshot_id": self.snapshot_id,
            "added_files_count": files(1),
            "existing_files_count": files(0),
            "deleted_files_count": files(2) + removed[0],
            "added_rows_count": rows(1),
            "existing_rows_count": rows(0),
            "deleted_rows_count": rows(2) + removed[1],
        }

    def write_dvs(
        self, dvs: list[tuple[str, list[int], dict]], prefix: str = "dv-"
    ) -> dict:
        """Write deletion vectors (spec "Deletion Vectors") — one
        ``deletion-vector-v1`` blob per (referenced data file, sorted
        positions, that file's partition tuple) in a single Puffin file
        under ``data/`` — and their delete manifest, whose partition
        record has the default spec's fields; return its manifest-list
        entry."""
        from spark_etl_cli_spark.sources.puffin_lite import (
            DV_BLOB_TYPE,
            dv_blob_bytes,
            write_puffin,
        )

        data_dir = os.path.join(self.table_path, "data")
        os.makedirs(data_dir, exist_ok=True)
        puffin_path = os.path.join(data_dir, f"{prefix}{self.uuid}.puffin")
        blob_metas = write_puffin(
            puffin_path,
            [
                {
                    "type": DV_BLOB_TYPE,
                    "data": dv_blob_bytes(positions),
                    "snapshot-id": self.snapshot_id,
                    "sequence-number": self.seq,
                    "properties": {
                        "referenced-data-file": ref,
                        "cardinality": str(len(positions)),
                    },
                }
                for ref, positions, _part in dvs
            ],
        )
        size = os.path.getsize(puffin_path)
        return self.write_manifest(
            [
                self.added({
                    "content": 1,
                    "file_path": puffin_path,
                    "file_format": "PUFFIN",
                    "partition": part,
                    "record_count": len(positions),
                    "file_size_in_bytes": size,
                    "referenced_data_file": ref,
                    "content_offset": bm["offset"],
                    "content_size_in_bytes": bm["length"],
                })
                for (ref, positions, part), bm in zip(dvs, blob_metas)
            ],
            content="deletes",
            part_fields=_spec_partition_types(self.meta),
        )

    def commit(
        self,
        manifests: list[dict],
        carried: list[dict] = (),
        operation: str = "append",
        summary: dict | None = None,
        first_row_id: int | None = None,
    ) -> int:
        """Write the manifest list and claim the next metadata version
        with the new snapshot; returns its id. ``first_row_id`` (v3)
        defaults to the ``next-row-id`` the commit read."""
        import uuid as _uuid

        from spark_etl_cli_spark.sources.avro_lite import write_container

        fv = self.fv
        mlist_path = os.path.join(
            self.meta_dir, f"snap-{self.snapshot_id}-{self.uuid}.avro"
        )
        write_container(
            mlist_path,
            _MANIFEST_LIST_SCHEMA,
            iter(
                [
                    {
                        **_CARRIED_DEFAULTS,
                        **{k: v for k, v in c.items() if v is not None},
                    }
                    for c in carried
                ]
                + list(manifests)
            ),
            extra_meta={"format-version": str(fv).encode()},
        )
        self._written.append(mlist_path)
        if fv == 3 and first_row_id is None:
            first_row_id = int(self.base.get("next-row-id") or 0)
        meta = self.meta
        meta["snapshots"] = list(self.base.get("snapshots") or []) + [{
            "snapshot-id": self.snapshot_id,
            "sequence-number": self.seq,
            "timestamp-ms": self.now_ms,
            "manifest-list": mlist_path,
            "summary": {"operation": operation, **(summary or {})},
            "schema-id": 0,
            **(
                {"parent-snapshot-id": self.parent}
                if self.parent is not None
                else {}
            ),
            **({"first-row-id": first_row_id} if fv == 3 else {}),
        }]
        meta["last-sequence-number"] = self.seq
        meta["last-updated-ms"] = self.now_ms
        meta.setdefault(
            "table-uuid",
            self.base.get("table-uuid") or str(_uuid.UUID(self.uuid)),
        )
        if self.branch is None:
            meta["current-snapshot-id"] = self.snapshot_id
        else:
            # branch commit: advance ONLY the branch ref; main stays
            # where it was (that's the whole point of write-audit-publish)
            meta["refs"] = {
                **(meta.get("refs") or {}),
                self.branch: {
                    "snapshot-id": self.snapshot_id, "type": "branch",
                },
            }
            meta["current-snapshot-id"] = self.base.get("current-snapshot-id")
        try:
            _commit_iceberg_metadata(self.meta_dir, meta)
        except FileExistsError:
            # another writer claimed this version: the manifests and
            # list are unreachable, the files they list are not ours
            for p in self._written:
                if os.path.exists(p):
                    os.remove(p)
            raise
        return self.snapshot_id


def write_iceberg_lite(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    format_version: int | None = None,
    branch: str | None = None,
    sort_by: list[str] | None = None,
    column_defaults: dict[str, object] | None = None,
    key_gate: KeyGate | None = None,
) -> int:
    """Commit ``df`` to an Iceberg table; returns the new snapshot id.

    ``key_gate`` (an upsert creating the table) rides on the data job
    and is checked before anything commits; bad keys remove the files
    that job wrote.

    ``column_defaults`` (format v3, spec "Default values"): per-column
    defaults recorded as ``initial-default`` + ``write-default`` on
    the schema field, stored in the spec's single-value JSON
    serialization — primitives, decimal (stored as a string),
    binary/fixed (hexadecimal string), and composites: struct (a JSON
    object accepted keyed by field NAME or field-id string, stored
    id-keyed), list (a JSON array), map (``{"keys": [...], "values":
    [...]}``, or a plain object for string keys). Only legal for
    columns introduced by THIS commit (table creation, a merge_schema
    add-column, or ``mode='overwrite'`` — which replaces the schema
    and data files, so its columns are newly introduced in spec
    terms) — ``initial-default`` is fixed at add time by spec.
    Readers serve the initial-default for files that physically lack
    the column (older vintages); writers fill an omitted column with
    its write-default instead of erroring.

    ``format_version``: 2 (default) or 3 on table CREATION; an existing
    table keeps its version (use ``upgrade_iceberg_format`` to move to
    3). v3 tables get ROW LINEAGE (spec "Row Lineage"): every added
    data file records ``first_row_id`` (spec field 142) assigned from
    the table's ``next-row-id``, the snapshot records ``first-row-id``,
    and ``read_iceberg_lite(with_row_id=True)`` serves the derived
    ``_row_id`` column. DV deletes keep lineage stable (no file is
    rewritten); COW rewrites (compaction, upsert, DELETE) MATERIALIZE
    every surviving row's id into the new files as the reserved
    ``_row_id`` column (name-mapping field 2147483546) — updates keep
    their ids, inserts derive fresh ones from the new file's
    first_row_id block. Rewrite paths that cannot recover lineage
    (pre-upgrade files with neither first_row_id nor a materialized
    column) leave it unassigned, and ``with_row_id`` reads fence on
    them loudly instead of silently renumbering.

    ``mode``: append | overwrite (overwrite starts a snapshot whose
    manifest list contains only the new manifest; old snapshots stay
    readable via ``?snapshot-id=`` — no data is ever deleted here,
    exactly Iceberg's own semantics where expiry is a separate
    maintenance action).

    ``partition_by``: identity-transform partitioning. Data files land
    under hive-style dirs; their typed partition values go into the
    manifest entries and the partition spec into the metadata, which is
    exactly what makes ``?where=`` manifest-level file pruning work on
    read. Appends must keep the table's partitioning.

    ``branch``: commit to a NAMED BRANCH (spec ``refs``) instead of
    main — the write-audit-publish staging path. The new snapshot's
    parent (and the manifests an append carries) is the branch head —
    auto-created from the current snapshot on first use — and the
    commit advances ONLY ``refs[branch]``; ``current-snapshot-id``
    (main) is untouched, so downstream readers never see unaudited
    rows. Read the stage with ``?ref=<branch>``, then publish with
    :func:`fast_forward_iceberg_ref`.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"iceberg_lite mode must be append|overwrite, got {mode!r}")
    if format_version not in (None, 2, 3):
        raise ValueError(
            f"iceberg_lite writes format-version 2 or 3, got {format_version}"
        )
    meta_dir = os.path.join(table_path, "metadata")
    fresh = not os.path.exists(table_path)
    existing = is_iceberg_table(table_path) and bool(
        _glob.glob(os.path.join(meta_dir, "*.metadata.json"))
    )
    prior = _load_metadata(table_path) if existing else None
    fv = (
        int(prior.get("format-version", 2))
        if prior is not None
        else int(format_version or 2)
    )
    if (
        prior is not None
        and format_version is not None
        and format_version != fv
    ):
        raise ValueError(
            f"table is format-version {fv}; use upgrade_iceberg_format "
            "to change it, not a write option"
        )
    evolved_new_cols: list[str] = []
    if prior is not None:
        prior_schema = _schema_to_spark(prior)
        prior_names = [f.name for f in prior_schema.fields]
        if prior_names != list(df.columns):
            new_cols = [c for c in df.columns if c not in prior_names]
            absent = [c for c in prior_names if c not in df.columns]
            # v3 write-defaults: an omitted column whose schema records
            # write-default is filled by the WRITER (spec "Default
            # values") instead of failing the shape check
            pf_json = {
                f["name"]: f
                for f in _current_schema(prior).get("fields", [])
            }
            fill = [
                c
                for c in absent
                if pf_json.get(c, {}).get("write-default") is not None
            ]
            if fill and mode == "append":
                for c in fill:
                    df = df.withColumn(
                        c,
                        _sv_to_column(
                            pf_json[c]["write-default"],
                            pf_json[c]["type"],
                        ),
                    )
                absent = [c for c in absent if c not in fill]
            if (absent or new_cols) and not (
                merge_schema and mode == "append" and new_cols
                and not absent
            ):
                raise ValueError(
                    "iceberg_lite append schema mismatch: table has "
                    f"{prior_names}, frame has {list(df.columns)}"
                    + ("" if merge_schema else
                       " (pass merge_schema=True / ?mergeSchema=true "
                       "to ADD columns on append)")
                )
            evolved_new_cols = new_cols
            # schema evolution: prior columns keep their POSITIONS (and
            # therefore their deterministic field ids), new columns
            # append at the tail with fresh tail ids. Old data files
            # simply lack the new columns; the schema-driven scan reads
            # them as null — the spec's add-column semantics.
            mistyped = [
                f.name
                for f in prior_schema.fields
                if df.schema[f.name].dataType != f.dataType
            ]
            if mistyped:
                raise ValueError(
                    "iceberg_lite merge-schema cannot change existing "
                    f"column types: {mistyped}"
                )
            df = df.select(*prior_names, *new_cols)
        prior_parts = [src for _, src, _ in _identity_partition_fields(prior)]
        if partition_by is None:
            partition_by = prior_parts or None
        elif mode != "overwrite" and list(partition_by) != prior_parts:
            raise ValueError(
                f"partition_by={partition_by} != table partitioning "
                f"{prior_parts}"
            )
    pcols = list(partition_by or [])
    missing = [c for c in pcols if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns not in frame: {missing}")
    part_fields = [(c, df.schema[c].dataType) for c in pcols]
    # Transformed-spec append: the table's default spec carries
    # non-identity fields — evaluate each transform per row
    # (iceberg_transforms.spark_transform_column) so the new files land
    # with PRUNABLE manifest partition values under the PRIOR spec,
    # instead of the conservative unprunable empty tuple.
    # MIXED specs (identity + transformed fields) take this path too:
    # gating it on "no identity partition columns" routed them to the
    # identity-only hive split, recording PARTIAL partition tuples
    # (the transformed fields missing) — their pruning silently lost.
    tr_spec: list[tuple[str, str, str, object]] | None = None
    if prior is not None:
        specs0 = prior.get("partition-specs") or []
        dspec = next(
            (
                sp
                for sp in specs0
                if sp.get("spec-id") == prior.get("default-spec-id", 0)
            ),
            specs0[0] if specs0 else None,
        )
        raw_fields = (dspec or {}).get("fields", [])
        if raw_fields and any(
            f.get("transform") != "identity" for f in raw_fields
        ):
            by_id = {
                f["id"]: (f["name"], f["type"])
                for f in _current_schema(prior).get("fields", [])
            }
            tr_spec = []
            for pf in raw_fields:
                src = by_id.get(pf.get("source-id"))
                if src is None or src[0] not in df.columns:
                    tr_spec = None  # dropped/unknown source: fall back
                    break
                tr_spec.append(
                    (pf["name"], pf["transform"], src[0], src[1])
                )
            if tr_spec:
                from spark_etl_cli_spark.sources.iceberg_transforms import (
                    spark_transform_column,
                )

                def _value_dt(tr: str, ityp) -> T.DataType:
                    if tr == "identity" or tr.startswith("truncate"):
                        return _iceberg_type_to_spark(ityp)
                    return T.IntegerType()  # bucket / temporal ordinals

                part_fields = [
                    (pname, _value_dt(tr, ityp))
                    for pname, tr, _src, ityp in tr_spec
                ]
    for _name, _dt in part_fields:
        _part_avro_type(_dt)  # validate up front

    # 1. data files — one distributed parquet write into a fresh subdir
    if key_gate is not None:
        df = key_gate.windowed(df)
    if sort_by:
        # spec "Sort Orders": cluster rows inside every written file so
        # min/max column stats become selective (the same locality win
        # zorder gives delta). sortWithinPartitions = no extra shuffle;
        # DataFrameWriter preserves task row order per partition file.
        missing = [c for c in sort_by if c not in df.columns]
        if missing:
            raise ValueError(f"sort_by columns not in frame: {missing}")
        df = df.sortWithinPartitions(*sort_by)
    txn = _SnapshotCommit(table_path, prior, branch=branch)
    data_dir = os.path.join(table_path, "data", txn.uuid)
    if tr_spec:
        df2 = df
        for pname, tr, src, _ityp in tr_spec:
            df2 = df2.withColumn(
                f"__ip_{pname}",
                spark_transform_column(
                    tr, F.col(src), df.schema[src].dataType
                ),
            )
        writer = df2.write.partitionBy(
            *[f"__ip_{pname}" for pname, _, _, _ in tr_spec]
        )
    else:
        writer = df.write
        if pcols:
            writer = writer.partitionBy(*pcols)
    writer.parquet(data_dir)
    if key_gate is not None:
        try:
            key_gate.check()
        except ValueError:
            import shutil

            shutil.rmtree(table_path if fresh else data_dir)
            raise
    files = sorted(
        _glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    )

    def _partition_of(path: str) -> dict:
        out: dict = {}
        rel = os.path.relpath(os.path.dirname(path), data_dir)
        segs = [] if rel == "." else rel.split(os.sep)
        raw = {}
        for seg in segs:
            if "=" in seg:
                k, v = seg.split("=", 1)
                raw[k.removeprefix("__ip_")] = v
        for name, dt in part_fields:
            out[name] = _hive_value(raw.get(name), dt)
        return out

    # 2. one manifest for the new files. Zero-row part files (Spark
    # writes one per task, empty partitions included) are dropped —
    # committing them bloats every manifest for no rows.
    iceberg_schema = _spark_to_iceberg_schema(df.schema)
    if prior is not None:
        # carry persisted v3 column defaults forward — the schema is
        # regenerated from the frame each commit, which would silently
        # drop initial-default/write-default otherwise
        prior_dflt = {
            f["name"]: {
                k: f[k]
                for k in ("initial-default", "write-default")
                if k in f
            }
            for f in _current_schema(prior).get("fields", [])
        }
        for f in iceberg_schema.get("fields", []):
            f.update(prior_dflt.get(f["name"], {}))
    if column_defaults:
        if fv != 3:
            raise ValueError(
                "column defaults (initial-default/write-default) are a "
                f"format-version 3 feature; table is v{fv}"
            )
        # an overwrite REPLACES the schema and its data files, so every
        # column is newly introduced in spec terms — treat it like
        # creation for the addable set
        addable = (
            set(evolved_new_cols)
            if prior is not None and mode != "overwrite"
            else set(df.columns)
        )
        bad = [c for c in column_defaults if c not in addable]
        if bad:
            raise ValueError(
                f"column_defaults for {bad}: initial-default is fixed "
                "at ADD time (spec) — only columns introduced by this "
                f"commit qualify ({sorted(addable)})"
            )
        by_name_d = {
            f["name"]: f for f in iceberg_schema.get("fields", [])
        }
        for c, v in column_defaults.items():
            # spec "Default values" + "single-value serialization":
            # composites (struct/list/map) and decimal included —
            # normalized to the spec JSON form (struct keyed by field
            # id, map as keys/values arrays, decimal as string)
            norm_v = _normalize_default(v, by_name_d[c]["type"], c)
            by_name_d[c]["initial-default"] = norm_v
            by_name_d[c]["write-default"] = norm_v
    field_id_of = {
        f["name"]: f["id"] for f in iceberg_schema.get("fields", [])
    }
    prior_specs = None
    prior_default_id = 0
    if prior is not None and prior.get("partition-specs") is not None:
        prior_specs = prior["partition-specs"]
        prior_default_id = int(prior.get("default-spec-id", 0))
    if tr_spec:
        # the prior spec (with its transforms and field ids) carries
        # over verbatim — this commit writes under it, not a new one
        spec_fields = list(raw_fields)
    elif prior_specs is not None and mode == "append":
        # append under the prior DEFAULT spec verbatim (partition
        # evolution: its field ids are stable table history, never
        # recomputed)
        spec_fields = next(
            (
                sp.get("fields", [])
                for sp in prior_specs
                if sp.get("spec-id") == prior_default_id
            ),
            [],
        )
    else:
        spec_fields = [
            {
                "name": name,
                "transform": "identity",
                "source-id": field_id_of[name],
                "field-id": 1000 + i,
            }
            for i, (name, _dt) in enumerate(part_fields)
        ]
    # partition evolution: a prior table's spec HISTORY survives the
    # metadata rebuild (old snapshots' manifests reference old specs);
    # an overwrite that CHANGES the partitioning appends a fresh spec
    # with collision-free field ids instead of clobbering spec 0
    spec_history: dict = {}
    if prior_specs is not None:
        default_fields = next(
            (
                sp.get("fields", [])
                for sp in prior_specs
                if sp.get("spec-id") == prior_default_id
            ),
            [],
        )
        if spec_fields == default_fields:
            spec_history = {
                "partition-specs": prior_specs,
                "default-spec-id": prior_default_id,
                "last-partition-id": int(
                    prior.get("last-partition-id")
                    or (999 + len(spec_fields))
                ),
            }
        else:
            reuse = {
                (pf["source-id"], pf["transform"]): pf["field-id"]
                for sp in prior_specs
                for pf in sp.get("fields", [])
            }
            last_pid = int(prior.get("last-partition-id") or 999)
            rebuilt = []
            for pf in spec_fields:
                fid = reuse.get((pf["source-id"], pf["transform"]))
                if fid is None:
                    last_pid += 1
                    fid = last_pid
                rebuilt.append({**pf, "field-id": fid})
            spec_fields = rebuilt
            new_id = max(sp.get("spec-id", 0) for sp in prior_specs) + 1
            spec_history = {
                "partition-specs": list(prior_specs)
                + [{"spec-id": new_id, "fields": spec_fields}],
                "default-spec-id": new_id,
                "last-partition-id": last_pid,
            }
    row_counts = {p: _parquet_row_count(p) for p in files}
    files = [p for p in files if row_counts[p] > 0]
    # 3. new metadata document. The field set is the spec's v2 REQUIRED
    # list — sequence numbers, last-column-id, partition specs, sort
    # orders, epoch-millis timestamps — so real engines accept the
    # table, not just the lite reader.
    txn.meta = {
        "format-version": fv,
        "location": table_path,
        "last-column-id": _max_field_id(iceberg_schema),
        "schemas": [iceberg_schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        # no partition fields assigned yet: the spec reserves ids from
        # 1000, so "highest assigned" is 999
        "last-partition-id": 999 + len(spec_fields),
        **spec_history,
        **_sort_order_meta(prior, sort_by, field_id_of),
    }
    # table properties and named refs survive commits (the writer
    # otherwise rebuilds the metadata document)
    for key in ("properties", "refs"):
        if (prior or {}).get(key):
            txn.meta[key] = prior[key]
    # v3 row lineage: each added file's rows get the id range
    # [first_row_id, first_row_id + record_count) off the table's
    # next-row-id counter (spec "Row Lineage" / "First Row ID
    # Inheritance")
    next_row_id = int((prior or {}).get("next-row-id") or 0)
    entries = []
    for p in files:
        lineage = {}
        if fv == 3:
            lineage = {"first_row_id": next_row_id}
            next_row_id += row_counts[p]
        entries.append(txn.added({
            "content": 0,
            "file_path": p,
            "file_format": "PARQUET",
            "partition": _partition_of(p),
            "record_count": row_counts[p],
            "file_size_in_bytes": os.path.getsize(p),
            **lineage,
        }))
    if fv == 3:
        txn.meta["next-row-id"] = next_row_id
    # 4. append reuses the parent snapshot's manifests; the snapshot
    # claims the next metadata version
    return txn.commit(
        [txn.write_manifest(entries, part_fields=part_fields)],
        txn.parent_manifests() if mode == "append" else [],
        operation=mode,
    )


# --- maintenance: compaction + snapshot expiry ----------------------------


def _cow_keyed_rewrite_under_deletes(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    live: list[dict],
    purge_keys: DataFrame | None,
    insert_df: DataFrame | None,
    on: str | None,
    prefix: str,
    operation: str = "overwrite",
    purge_where: str | None = None,
) -> dict:
    """COW key-purge rewrite for UNPARTITIONED tables carrying live
    position/equality delete files — the path upsert/apply-changes take
    when merge-on-read deletes precede them.

    Affected files are re-read through the full delete-applying reader
    (``read_iceberg_lite(with_provenance=True)``), so their survivors
    come back post-delete AND key-purged as new files; untouched data
    files stay EXISTING with the prior delete manifests CARRIED in the
    new manifest list so their deletes keep applying. Rewritten/new
    files take the commit's higher data sequence number and thereby
    escape the old equality deletes — exactly what materializing them
    means. Returns ``{"files_rewritten", "files_added", "rows_matched"}``.
    """

    schema = _schema_to_spark(meta)
    part_fields = _identity_partition_fields(meta)
    pcols = [src for _, src, _ in part_fields]
    data_entries = [
        e for e in live if (e.get("data_file") or {}).get("content", 0) == 0
    ]
    tr_fields = None
    if any((e["data_file"].get("partition") or {}) for e in data_entries):
        # transformed spec (r6 fence closed): survivors of affected
        # files rewrite under their RAW recorded tuple — sound because
        # transforms are deterministic functions of unchanged source
        # columns — but are SOURCED from the delete-applying reader;
        # inserts split by the evaluated transforms. MIXED specs
        # (identity + bucket/truncate/temporal) take this path too:
        # _transformed_spec_fields returns EVERY spec field, so the
        # committed partition records carry the full tuple — routing
        # them to the identity branch would silently drop the
        # transformed fields from rewritten files' manifests and lose
        # their pruning. Only a spec whose source columns can't be
        # resolved still refuses (when not purely identity).
        tr_fields = _transformed_spec_fields(meta)
        if tr_fields is None and not part_fields:
            raise NotImplementedError(
                "iceberg keyed rewrite under deletes: the partition "
                "spec references unknown source columns — the "
                "engine's writer is needed"
            )
    by_path = {
        os.path.abspath(_localize(e["data_file"]["file_path"], table_path)): e
        for e in data_entries
    }
    # v3 row lineage: source the rewrite from the row-id-bearing reader
    # so survivors carry their tracked ids into the new files; tables
    # with unrecoverable lineage fall back (reads keep fencing)
    lineage = False
    live_df = None
    if int(meta.get("format-version", 2)) == 3:
        try:
            live_df = read_iceberg_lite(
                spark, table_path, with_provenance=True, with_row_id=True,
                with_last_updated_seq=True,
            )
            lineage = True
        except NotImplementedError:
            live_df = None
    if live_df is None:
        live_df = read_iceberg_lite(spark, table_path, with_provenance=True)
    # purge set: a key join (upsert/CDC) or a predicate (DELETE ...
    # WHERE) — NULL-predicate rows are KEPT per SQL DELETE semantics
    pred = (
        F.coalesce(F.expr(purge_where), F.lit(False))
        if purge_where is not None
        else None
    )
    matches = (
        live_df.filter(pred)
        if pred is not None
        else live_df.join(purge_keys, on)
    )
    counts = matches.groupBy("__dfile").count().collect()
    affected_paths: list[str] = []
    affected: list[dict] = []
    for r in counts:
        e = by_path.get(os.path.abspath(r["__dfile"]))
        if e is None:
            raise RuntimeError(
                f"iceberg keyed rewrite: scanned file {r['__dfile']!r} "
                "missing from the manifest file list"
            )
        affected.append(e)
        affected_paths.append(os.path.abspath(r["__dfile"]))
    n_matched = sum(r["count"] for r in counts)
    if not affected and insert_df is None:
        # a predicate delete that matched nothing commits nothing
        return {"files_rewritten": 0, "files_added": 0, "rows_matched": 0}
    affected_ids = {id(e) for e in affected}
    untouched = [e for e in data_entries if id(e) not in affected_ids]

    txn = _SnapshotCommit(table_path, meta)
    partitioned = bool(pcols) and any(
        (e["data_file"].get("partition") or {}) for e in data_entries
    )
    rid_cols = (
        ["_row_id", "_last_updated_sequence_number"] if lineage else []
    )
    if lineage and insert_df is not None:
        # keyed replace: incoming rows matching a live key INHERIT that
        # key's id (update keeps its id); fresh keys stay NULL and
        # derive from the new file's first_row_id block
        if on is not None and affected:
            old_ids = matches.groupBy(on).agg(
                F.min("_row_id").alias("_row_id")
            )
            insert_df = insert_df.join(old_ids, on, "left")
        else:
            insert_df = insert_df.withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        insert_df = insert_df.withColumn(
            "_last_updated_sequence_number", F.lit(None).cast("long")
        )

    def _write_split(frame: DataFrame, out_dir: str) -> list[tuple[str, dict]]:
        """Write a frame as new data files, hive-split per partition
        when the table records identity partitions (the reader
        restored the partition columns, so they are in the rows)."""
        adds: list[tuple[str, dict]] = []
        if partitioned:
            frame.write.partitionBy(*pcols).parquet(out_dir)
            for p in sorted(
                _glob.glob(
                    os.path.join(out_dir, "**", "*.parquet"),
                    recursive=True,
                )
            ):
                if _parquet_row_count(p) == 0:
                    continue
                rel = os.path.relpath(os.path.dirname(p), out_dir)
                raw = {}
                for seg in ([] if rel == "." else rel.split(os.sep)):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        raw[k] = v
                adds.append(
                    (p, {
                        pn: _hive_value(raw.get(src), dt)
                        for pn, src, dt in part_fields
                    })
                )
        else:
            frame.write.parquet(out_dir)
            adds.extend(
                (p, {})
                for p in sorted(
                    _glob.glob(os.path.join(out_dir, "*.parquet"))
                )
                if _parquet_row_count(p) > 0
            )
        return adds

    new_adds: list[tuple[str, dict]] = []
    if tr_fields:
        # per recorded-tuple group: post-delete survivors minus the
        # purged keys, re-added under the SAME raw tuple (pruning
        # stays intact); the insert frame evaluates the transforms
        groups: dict[tuple, tuple[dict, list[str]]] = {}
        for e in affected:
            pv = e["data_file"].get("partition") or {}
            key = tuple(sorted((k, str(v)) for k, v in pv.items()))
            ap = os.path.abspath(
                _localize(e["data_file"]["file_path"], table_path)
            )
            groups.setdefault(key, (pv, []))[1].append(ap)
        dropped = _spec_sources_dropped(tr_fields)
        landed_total = 0
        for gidx, gkey in enumerate(sorted(groups)):
            pv, gpaths = groups[gkey]
            kept_src = live_df.filter(F.col("__dfile").isin(gpaths))
            kept = (
                kept_src.filter(~pred)
                if pred is not None
                else kept_src.join(purge_keys, on, "left_anti")
            ).select(*[f.name for f in schema.fields], *rid_cols)
            gdir = os.path.join(
                table_path, "data", f"{prefix}-{txn.uuid}-{gidx}"
            )
            kept.write.parquet(gdir)
            for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
                if _parquet_row_count(p) > 0:
                    new_adds.append((p, pv))
            if dropped and insert_df is not None and on is not None:
                # dropped spec source: matched incoming keys inherit
                # their group's recorded tuple (the source column no
                # longer exists to change the transform value)
                land = insert_df.join(
                    kept_src.select(on).distinct(), on, "left_semi"
                )
                n_land = land.count()
                if n_land:
                    landed_total += n_land
                    gdir2 = os.path.join(
                        table_path,
                        "data",
                        f"{prefix}-inh-{txn.uuid}-{gidx}",
                    )
                    land.write.parquet(gdir2)
                    for p in sorted(
                        _glob.glob(os.path.join(gdir2, "*.parquet"))
                    ):
                        if _parquet_row_count(p) > 0:
                            new_adds.append((p, pv))
        if insert_df is not None:
            if dropped:
                if on is None:
                    raise NotImplementedError(
                        "iceberg keyed rewrite: the partition spec's "
                        "source column was dropped and the insert frame "
                        "has no key to inherit a recorded tuple "
                        "through — evolve the spec first"
                    )
                n_total = insert_df.count()
                if landed_total < n_total:
                    raise NotImplementedError(
                        f"iceberg keyed rewrite: {n_total - landed_total}"
                        " incoming rows carry NEW keys, but the "
                        "partition spec's source column was dropped — "
                        "their partition values cannot be derived. "
                        "Evolve the spec away from the dropped column "
                        "first (evolve_iceberg_spec)."
                    )
                if landed_total > n_total:
                    raise RuntimeError(
                        "iceberg keyed rewrite: a key matched files in "
                        "more than one partition tuple (duplicate keys)"
                        " — the dropped-source landing would "
                        "double-write; deduplicate the table first."
                    )
            else:
                new_adds += _transformed_split_write(
                    insert_df,
                    os.path.join(
                        table_path, "data", f"{prefix}-in-{txn.uuid}"
                    ),
                    tr_fields,
                )
        commit_part_fields = [
            (pn, pn, vdt) for pn, _t, _s, _i, vdt in tr_fields
        ]
    else:
        if affected_paths:
            kept_src = live_df.filter(F.col("__dfile").isin(affected_paths))
            kept = (
                kept_src.filter(~pred)
                if pred is not None
                else kept_src.join(purge_keys, on, "left_anti")
            ).select(*[f.name for f in schema.fields], *rid_cols)
            new_adds += _write_split(
                kept,
                os.path.join(table_path, "data", f"{prefix}-{txn.uuid}"),
            )
        if insert_df is not None:
            new_adds += _write_split(
                insert_df,
                os.path.join(
                    table_path, "data", f"{prefix}-in-{txn.uuid}"
                ),
            )
        commit_part_fields = part_fields if partitioned else []
    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        commit_part_fields, operation,
        removed=(len(affected), sum(
            e["data_file"].get("record_count") or 0 for e in affected
        )),
        carry_delete_manifests=True,
    )
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_matched": n_matched,
    }


def _transformed_spec_fields(meta: dict):
    """[(pname, transform, source col, iceberg type, value spark type)]
    for the default spec when it carries NON-identity fields, else
    None. The value type is what the manifest partition record stores:
    buckets/temporal ordinals are ints, truncate/identity keep the
    source type.

    A spec field whose source column was DROPPED from the current
    schema resolves its TYPE through the historical schemas the
    metadata retains (every schema ever current is kept, keyed by
    field id) and carries ``source col = None``: rewrite-shaped ops
    (compaction, raw-tuple file rewrites, matched-key landings) never
    evaluate the transform, so they proceed; only paths that must
    EVALUATE it on new rows check for the None and refuse. None is
    returned only when the source-id appears in NO schema at all."""
    specs = meta.get("partition-specs") or []
    dspec = next(
        (
            sp
            for sp in specs
            if sp.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        specs[0] if specs else None,
    )
    raw_fields = (dspec or {}).get("fields", [])
    if not raw_fields or all(
        f.get("transform") == "identity" for f in raw_fields
    ):
        return None
    by_id = {
        f["id"]: (f["name"], f["type"])
        for f in _current_schema(meta).get("fields", [])
    }
    hist: dict[int, tuple] = {}
    for sch in meta.get("schemas") or []:
        for f in sch.get("fields", []):
            hist.setdefault(f["id"], (f["name"], f["type"]))
    if meta.get("schema"):
        for f in meta["schema"].get("fields", []):
            hist.setdefault(f["id"], (f["name"], f["type"]))
    out = []
    for pf in raw_fields:
        src = by_id.get(pf.get("source-id"))
        dropped = src is None
        if dropped:
            src = hist.get(pf.get("source-id"))
            if src is None:
                return None
        tr = pf.get("transform", "identity")
        vdt = (
            _iceberg_type_to_spark(src[1])
            if tr == "identity" or str(tr).startswith("truncate")
            else T.IntegerType()
        )
        out.append((pf["name"], tr, None if dropped else src[0], src[1], vdt))
    return out


def _spec_sources_dropped(tr_fields) -> bool:
    """True when any spec field's source column is absent from the
    CURRENT schema (type recovered from a historical schema) — the
    transform can no longer be evaluated on new rows."""
    return any(src is None for _pn, _tr, src, _it, _vd in tr_fields)


def _transformed_split_write(
    df: DataFrame, out_dir: str, tr_fields
) -> list[tuple[str, dict]]:
    """Write ``df`` hive-split by the spec's TRANSFORMED partition
    values (shadow columns via spark_transform_column) and return the
    (path, typed partition dict) adds — the insert path for every COW
    op on a transformed-spec table."""
    from urllib.parse import unquote as _uq

    from spark_etl_cli_spark.sources.iceberg_transforms import (
        spark_transform_column,
    )

    df2 = df
    for pname, tr, src, _ityp, _vdt in tr_fields:
        df2 = df2.withColumn(
            f"__ip_{pname}",
            spark_transform_column(tr, F.col(src), df.schema[src].dataType),
        )
    df2.write.partitionBy(
        *[f"__ip_{pname}" for pname, _, _, _, _ in tr_fields]
    ).parquet(out_dir)
    adds: list[tuple[str, dict]] = []
    for p in sorted(
        _glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
    ):
        if _parquet_row_count(p) == 0:
            continue
        rel = os.path.relpath(os.path.dirname(p), out_dir)
        raw = {}
        for seg in ([] if rel == "." else rel.split(os.sep)):
            if "=" in seg:
                k, v = seg.split("=", 1)
                # keep the segment ENCODED: _hive_value does the single
                # decode — decoding here too double-decoded values with
                # %XX-looking sequences (a literal '%25') and corrupted
                # the recorded manifest partition value (r6 ADVICE, low)
                raw[k.removeprefix("__ip_")] = v
        adds.append(
            (p, {
                pname: _hive_value(raw.get(pname), vdt)
                for pname, _tr, _src, _ityp, vdt in tr_fields
            })
        )
    return adds


def _upsert_cow_transformed(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    live: list[dict],
    df: DataFrame,
    on: str,
    purge_keys: DataFrame | None = None,
    insert_df: DataFrame | None = None,
) -> dict:
    """Copy-on-write UPSERT on a transformed-spec table: matched files
    rewrite under their RAW recorded partition tuple (transforms are
    deterministic on the source columns), the incoming frame lands
    hive-split by the evaluated transforms. Same one-overwrite-snapshot
    shape as the identity path."""

    tr_fields = _transformed_spec_fields(meta)
    if tr_fields is None:
        raise NotImplementedError(
            "upsert_iceberg_lite: transformed spec references unknown "
            "source columns — the engine's writer is needed"
        )
    schema = _schema_to_spark(meta)
    keys = (
        purge_keys if purge_keys is not None else df.select(on).distinct()
    )
    insert_frame = insert_df if insert_df is not None else df
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    paths = [
        _localize(e["data_file"]["file_path"], table_path) for e in live
    ]
    by_path = {os.path.abspath(p): e for p, e in zip(paths, live)}
    probe = (
        spark.read.schema(schema)
        .parquet(*paths)
        .withColumn("__file", norm(F.col("_metadata.file_path")))
    )
    counts = probe.join(keys, on).groupBy("__file").count().collect()
    affected: list[dict] = []
    for r in counts:
        e = by_path.get(os.path.abspath(r["__file"]))
        if e is None:
            raise RuntimeError(
                f"upsert_iceberg_lite: scanned file {r['__file']!r} "
                "missing from the manifest file list"
            )
        affected.append(e)
    n_updated = sum(r["count"] for r in counts)
    affected_ids = {id(e) for e in affected}
    untouched = [e for e in live if id(e) not in affected_ids]
    if affected:
        aff_paths = [
            _localize(e["data_file"]["file_path"], table_path)
            for e in affected
        ]
        tgt_keys = (
            spark.read.schema(schema)
            .parquet(*aff_paths)
            .select(on)
            .distinct()
        )
        n_inserted = insert_frame.join(tgt_keys, on, "left_anti").count()
    else:
        n_inserted = insert_frame.count()

    txn = _SnapshotCommit(table_path, meta)
    # v3 row lineage through the transformed rewrite: survivors carry
    # their tracked ids (materialized _row_id), matched incoming keys
    # inherit the replaced id, fresh keys derive from the new block
    lineage = int(meta.get("format-version", 2)) == 3 and (
        not affected
        or _lineage_rewrite_col(affected, table_path) is not None
    )
    if lineage:
        if affected:
            aff_paths2 = [
                _localize(e["data_file"]["file_path"], table_path)
                for e in affected
            ]
            rid_aff = _lineage_rewrite_col(affected, table_path)
            old_ids = (
                spark.read.schema(_with_lineage_field(schema))
                .parquet(*aff_paths2)
                .withColumn("_row_id", rid_aff)
                .groupBy(on)
                .agg(F.min("_row_id").alias("_row_id"))
            )
            insert_frame = insert_frame.join(old_ids, on, "left")
        else:
            insert_frame = insert_frame.withColumn(
                "_row_id", F.lit(None).cast("long")
            )
        insert_frame = insert_frame.withColumn(
            "_last_updated_sequence_number", F.lit(None).cast("long")
        )
    new_adds: list[tuple[str, dict]] = []
    groups: dict[tuple, tuple[dict, list[dict]]] = {}
    for e in affected:
        pv = e["data_file"].get("partition") or {}
        key = tuple(sorted((k, str(v)) for k, v in pv.items()))
        groups.setdefault(key, (pv, []))[1].append(e)
    dropped = _spec_sources_dropped(tr_fields)
    landed_total = 0
    for gidx, key in enumerate(sorted(groups)):
        pv, gents = groups[key]
        gpaths = [
            _localize(e["data_file"]["file_path"], table_path)
            for e in gents
        ]
        rid_g = (
            _lineage_rewrite_col(gents, table_path) if lineage else None
        )
        kept_all = spark.read.schema(
            _with_lineage_field(schema) if rid_g is not None else schema
        ).parquet(*gpaths)
        if rid_g is not None:
            kept_all = kept_all.withColumn("_row_id", rid_g).withColumn(
                "_last_updated_sequence_number",
                _seq_rewrite_col(gents, table_path),
            )
        kept = kept_all.join(keys, on, "left_anti")
        gdir = os.path.join(
            table_path, "data", f"upsert-tr-{txn.uuid}-{gidx}"
        )
        kept.write.parquet(gdir)
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))
        if dropped:
            # the spec's source column is DROPPED: incoming rows can't
            # be transform-evaluated, but a matched key's partition
            # value cannot have changed (the source column no longer
            # exists to change) — land it under ITS group's recorded
            # tuple
            land = insert_frame.join(
                kept_all.select(on).distinct(), on, "left_semi"
            )
            n_land = land.count()
            if n_land:
                landed_total += n_land
                gdir2 = os.path.join(
                    table_path,
                    "data",
                    f"upsert-tr-inh-{txn.uuid}-{gidx}",
                )
                land.write.parquet(gdir2)
                for p in sorted(
                    _glob.glob(os.path.join(gdir2, "*.parquet"))
                ):
                    if _parquet_row_count(p) > 0:
                        new_adds.append((p, pv))
    if dropped:
        n_total = insert_frame.count()
        if landed_total < n_total:
            raise NotImplementedError(
                f"upsert_iceberg_lite: {n_total - landed_total} incoming "
                "rows carry NEW keys, but the partition spec's source "
                "column was dropped from the schema, so their partition "
                "values cannot be derived. Evolve the spec away from "
                "the dropped column first (evolve_iceberg_spec), or "
                "restrict the frame to existing keys."
            )
        if landed_total > n_total:
            raise RuntimeError(
                "upsert_iceberg_lite: a key matched files in more than "
                "one partition tuple (duplicate keys in the table) — "
                "the dropped-source landing would double-write; "
                "deduplicate the table first."
            )
    else:
        new_adds += _transformed_split_write(
            insert_frame,
            os.path.join(table_path, "data", f"upsert-tr-in-{txn.uuid}"),
            tr_fields,
        )
    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        [(pname, pname, vdt) for pname, _t, _s, _i, vdt in tr_fields],
        "overwrite",
        removed=(len(affected), sum(
            e["data_file"].get("record_count") or 0 for e in affected
        )),
    )
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_updated": n_updated,
        "rows_inserted": n_inserted,
    }


def upsert_iceberg_lite(
    df: DataFrame,
    table_path: str,
    on: str,
) -> dict:
    """Copy-on-write UPSERT (key-matched MERGE): incoming rows REPLACE
    existing rows with the same key, the rest insert — committed as ONE
    ``overwrite`` snapshot (survivors EXISTING, rewrites + incoming
    ADDED, affected files absent), the shape Iceberg's own
    copy-on-write MERGE produces.

    Location is one distributed join over the key column: only files
    holding ≥1 matching key are rewritten (minus the matched keys);
    unaffected files are never read past the probe. Incoming keys must
    be unique and non-null (a target row matches at most one source
    row); the write of the incoming frame carries that check
    (``keygate.py``), and it runs before the commit. On files that
    record no partition, one job writes the kept rows and the incoming
    frame, so the upsert runs two Spark jobs. Tables
    with live position/equality delete files take
    the delete-aware path (affected files re-read through the full
    reader, prior delete manifests carried for untouched files;
    identity-partitioned layouts split rewrites per partition and
    transformed specs rewrite under their raw recorded tuples).

    Returns ``{"files_rewritten", "files_added", "rows_updated",
    "rows_inserted"}``.
    """

    spark = df.sparkSession
    if on not in df.columns:
        raise ValueError(f"upsert key {on!r} not in the table schema")

    def bad_keys(s: KeyStats) -> None:
        if s.nulls or s.max_per_key > 1:
            raise ValueError(
                f"iceberg upsert: incoming {on!r} values must be unique "
                f"and non-null; first offender: {s.offender!r}"
            )

    gate = KeyGate([on], bad_keys)
    if not is_iceberg_table(table_path):
        # MERGE into a missing table is CREATE (hudi/delta convention);
        # one job writes it, carrying the key gate and the row count
        write_iceberg_lite(df, table_path, key_gate=gate)
        return {
            "files_rewritten": 0,
            "files_added": 1,
            "rows_updated": 0,
            "rows_inserted": gate.stats().rows,
        }
    meta = _load_metadata(table_path)
    schema = _schema_to_spark(meta)
    if [(f.name, f.dataType) for f in df.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        raise ValueError(
            f"iceberg upsert schema mismatch: table has "
            f"{schema.simpleString()}, frame has "
            f"{df.schema.simpleString()}"
        )
    snap = _snapshot(meta, None)
    live = [
        e for e in _manifest_entries(table_path, snap) if e.get("status") != 2
    ]
    has_deletes = any(
        (e.get("data_file") or {}).get("content") in (1, 2) for e in live
    )
    if has_deletes:
        # delete-aware path: affected files re-read through the full
        # delete-applying reader, prior delete manifests carried for
        # the untouched files (see _cow_keyed_rewrite_under_deletes)
        gate.check(df)
        keys_df = df.select(on).distinct()
        live_keys = read_iceberg_lite(
            spark, table_path, with_provenance=True
        ).select(on).distinct()
        n_inserted = df.join(live_keys, on, "left_anti").count()
        stats = _cow_keyed_rewrite_under_deletes(
            spark, table_path, meta, live, keys_df, df, on,
            prefix="upsert",
        )
        return {
            "files_rewritten": stats["files_rewritten"],
            "files_added": stats["files_added"],
            "rows_updated": stats["rows_matched"],
            "rows_inserted": n_inserted,
        }
    part_fields = _identity_partition_fields(meta)
    spec_field_count = len(_default_spec(meta).get("fields", []))
    if any((e.get("data_file") or {}).get("partition") for e in live) and (
        not part_fields or spec_field_count != len(part_fields)
    ):
        # non-identity spec: matched files rewrite under their raw
        # recorded tuple, the incoming frame splits by the evaluated
        # transforms (see _upsert_cow_transformed)
        gate.check(df)
        return _upsert_cow_transformed(spark, table_path, meta, live, df, on)
    scan, grouped, union_scan = _cow_scan_tools(
        spark, table_path, meta, part_fields
    )
    spark_schema = schema
    pnames = {src for _, src, _ in part_fields}
    data_schema = T.StructType(
        [f for f in spark_schema.fields if f.name not in pnames]
    )
    keys = df.select(on)
    by_path = {
        _localize(e["data_file"]["file_path"], table_path): e for e in live
    }
    affected: list[dict] = []
    n_updated = 0
    n_matched_keys = 0
    if live:
        # one job: the incoming keys joined to the key column of every
        # live file. GROUPING SETS counts the matched rows per file and
        # per matched key; only keys the target holds more than once
        # come back, so the distinct matched keys are the matched rows
        # minus those keys' extra rows. (Duplicate incoming keys would
        # overcount, but they fail the key gate before the commit.)
        counts = (
            union_scan(live, with_file=True)
            .select(on, "__file")
            .join(keys, on)
            .groupingSets([["__file"], [on]], "__file", on)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("__file").isNotNull() | (F.col("n") > 1))
            .collect()
        )
        for r in counts:
            if r["__file"] is None:
                n_matched_keys -= r["n"] - 1
                continue
            e = by_path.get(r["__file"])
            if e is None:
                raise RuntimeError(
                    f"upsert_iceberg_lite: scanned file {r['__file']!r} "
                    "missing from the manifest file list — refusing to "
                    "commit a partial merge"
                )
            affected.append(e)
            n_updated += r["n"]
    n_matched_keys += n_updated
    affected_ids = {id(e) for e in affected}
    untouched = [e for e in live if id(e) not in affected_ids]

    txn = _SnapshotCommit(table_path, meta)

    # v3 row lineage through the rewrite: survivors carry their tracked
    # ids as the materialized _row_id column, matched incoming rows
    # INHERIT the replaced key's id (update keeps its id — the
    # stability contract), unmatched incoming rows stay NULL and derive
    # fresh ids from the new file's first_row_id block
    fv3 = int(meta.get("format-version", 2)) == 3
    lineage = fv3 and (
        not affected
        or _lineage_rewrite_col(affected, table_path) is not None
    )
    # the incoming frame's write carries the key gate
    df_w = gate.windowed(df)
    if lineage:
        if affected:
            olds = None
            for k2, g2 in sorted(
                grouped(affected).items(),
                key=lambda kv: tuple(str(v) for _, v in kv[0]),
            ):
                s2 = scan(g2, k2, with_file=False, with_lineage=True)
                s2 = s2.select(on, "_row_id")
                olds = s2 if olds is None else olds.unionByName(s2)
            old_ids = olds.groupBy(on).agg(
                F.min("_row_id").alias("_row_id")
            )
            df_w = df_w.join(old_ids, on, "left")
        else:
            df_w = df_w.withColumn("_row_id", F.lit(None).cast("long"))
        # incoming rows (replacements AND inserts) are updated at THIS
        # commit: NULL inherits the new file's sequence
        df_w = df_w.withColumn(
            "_last_updated_sequence_number", F.lit(None).cast("long")
        )

    # identity-partitioned files split the incoming frame by partition
    # and keep each rewritten group under its recorded tuple; otherwise
    # every file is unpartitioned and ONE job writes the kept rows of
    # all affected files together with the incoming frame
    pcols = [src for _, src, _ in part_fields]
    split = bool(pcols) and any(
        (e["data_file"].get("partition") or {}) for e in live
    )
    new_adds: list[tuple[str, dict]] = []
    written: list[str] = []  # the data directories this upsert writes
    kept_all: list[DataFrame] = []
    # rewrites: affected groups minus the incoming keys
    for gidx, (key, group) in enumerate(
        sorted(
            grouped(affected).items(),
            key=lambda kv: tuple(str(v) for _, v in kv[0]),
        )
    ):
        recorded = any(v is not None for _, v in key)
        out_schema = data_schema if recorded else spark_schema
        kept = (
            scan(group, key, with_file=False, with_lineage=lineage)
            .join(keys, on, "left_anti")
            .select(
                *[f.name for f in out_schema.fields],
                *(
                    ["_row_id", "_last_updated_sequence_number"]
                    if lineage
                    else []
                ),
            )
        )
        if not split:
            kept_all.append(kept)
            continue
        gdir = os.path.join(
            table_path, "data", f"upsert-{txn.uuid}-{gidx}"
        )
        written.append(gdir)
        kept.write.parquet(gdir)
        pv = dict(key) if recorded else {}
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))
    # the full incoming frame lands as new files, partition-split when
    # the table records identity partitions
    in_dir = os.path.join(table_path, "data", f"upsert-in-{txn.uuid}")
    written.append(in_dir)
    if split:
        writer = df_w.write.partitionBy(*pcols)
        writer.parquet(in_dir)
        for p in sorted(
            _glob.glob(os.path.join(in_dir, "**", "*.parquet"), recursive=True)
        ):
            if _parquet_row_count(p) == 0:
                continue
            rel = os.path.relpath(os.path.dirname(p), in_dir)
            raw = {}
            for seg in ([] if rel == "." else rel.split(os.sep)):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    raw[k] = v
            pv = {
                pn: _hive_value(raw.get(src), dt)
                for pn, src, dt in part_fields
            }
            new_adds.append((p, pv))
    else:
        out = df_w
        for kept in kept_all:
            out = kept.unionByName(out)
        out.write.parquet(in_dir)
        for p in sorted(_glob.glob(os.path.join(in_dir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, {}))
    try:
        # inserts are the incoming keys absent from the target
        n_inserted = gate.check().rows - n_matched_keys
    except ValueError:
        import shutil

        for d in written:
            shutil.rmtree(d, ignore_errors=True)
        raise

    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        part_fields, "overwrite",
        removed=(len(affected), sum(
            e["data_file"].get("record_count") or 0 for e in affected
        )),
    )
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_updated": n_updated,
        "rows_inserted": n_inserted,
    }


def apply_changes_iceberg_lite(
    changes: DataFrame,
    table_path: str,
    on: str,
    sequence_col: str | None = None,
) -> dict:
    """Apply a change feed (table columns + ``_change_type``
    [+ ``_commit_version``]) to an Iceberg table — deletes delete,
    updates update, inserts insert, latest change per key wins — as ONE
    copy-on-write ``overwrite`` snapshot: affected files are rewritten
    minus every changed key, and the non-delete survivors land as new
    files. The iceberg face of delta's ``?mode=cdc`` sink; pairs with
    ``delta-stream://?readChangeFeed=true`` for cross-format
    replication. Fully distributed: no key lists on the driver.
    """
    from spark_etl_cli_spark.operators.cdc import (
        apply_changes_snapshot,
        resolve_cdc_sequence,
    )

    meta_cols = ("_commit_version", "_commit_timestamp")
    # an explicit sequence column that is NOT a table column is
    # transport metadata (Debezium ts_ms/lsn): order by it, keep it
    # out of the written rows
    seq_meta: set[str] = set()
    if sequence_col and is_iceberg_table(table_path) and _glob.glob(
        os.path.join(table_path, "metadata", "*.metadata.json")
    ):
        tbl_cols = {
            f.name for f in _schema_to_spark(_load_metadata(table_path)).fields
        }
        # store the STRIPPED name: '?sequence=a, ts_ms' must exclude
        # 'ts_ms', not ' ts_ms' which never matches a real column and
        # leaked the transport column into the table (r6 ADVICE, low)
        seq_meta = {
            c.strip()
            for c in sequence_col.split(",")
            if c.strip() and c.strip() not in tbl_cols
        }
    data_cols = [
        c
        for c in changes.columns
        if c != "_change_type" and c not in meta_cols
        and c not in seq_meta
    ]
    # ordering: explicit sequence > _commit_version > proven
    # single-change-per-key (resolve_cdc_sequence raises on ambiguous
    # batches rather than invent a tie-break)
    latest = apply_changes_snapshot(
        changes,
        keys=[on],
        sequence_cols=resolve_cdc_sequence(changes, [on], sequence_col),
        change_type_col="_change_type",
        delete_values=(),  # keep deletes: their keys must purge below
        ignore_values=("update_preimage",),
    )
    upserts = latest.filter(
        F.col("_change_type") != "delete"
    ).select(*data_cols)
    if not (
        is_iceberg_table(table_path)
        and _glob.glob(
            os.path.join(table_path, "metadata", "*.metadata.json")
        )
    ):
        write_iceberg_lite(upserts, table_path)
        return {
            "files_rewritten": 0,
            "files_added": 1,
            "rows_upserted": upserts.count(),
            "rows_matched": 0,
        }
    # One overwrite snapshot via the upsert machinery with an expanded
    # purge set: EVERY changed key leaves the affected files; only
    # non-delete survivors come back. Implemented as: delete-keyed rows
    # are upserted too, then dropped — simplest is to run the COW
    # rewrite directly here.

    spark = changes.sparkSession
    meta = _load_metadata(table_path)
    schema = _schema_to_spark(meta)
    if [(f.name, f.dataType) for f in upserts.schema.fields] != [
        (f.name, f.dataType) for f in schema.fields
    ]:
        raise ValueError(
            f"iceberg cdc apply schema mismatch: table has "
            f"{schema.simpleString()}, changes carry "
            f"{upserts.schema.simpleString()}"
        )
    snap = _snapshot(meta, None)
    live = [
        e for e in _manifest_entries(table_path, snap) if e.get("status") != 2
    ]
    if any((e.get("data_file") or {}).get("content") in (1, 2) for e in live):
        # delete-aware path: purge EVERY changed key from the affected
        # files (re-read post-delete), re-add only non-delete survivors
        stats = _cow_keyed_rewrite_under_deletes(
            spark, table_path, meta, live,
            latest.select(on).distinct(), upserts, on, prefix="cdc",
        )
        return {
            "files_rewritten": stats["files_rewritten"],
            "files_added": stats["files_added"],
            "rows_upserted": upserts.count(),
            "rows_matched": stats["rows_matched"],
        }
    part_fields = _identity_partition_fields(meta)
    if any(
        (e.get("data_file") or {}).get("partition") for e in live
    ) and _transformed_spec_fields(meta) is not None:
        # transformed spec: purge every changed key from the affected
        # buckets (raw-tuple rewrites), re-insert only the non-delete
        # survivors split by the evaluated transforms
        stats = _upsert_cow_transformed(
            spark, table_path, meta, live, upserts, on,
            purge_keys=latest.select(on).distinct(),
            insert_df=upserts,
        )
        return {
            "files_rewritten": stats["files_rewritten"],
            "files_added": stats["files_added"],
            "rows_upserted": upserts.count(),
            "rows_matched": stats["rows_updated"],
        }
    scan, grouped, union_scan = _cow_scan_tools(
        spark, table_path, meta, part_fields
    )
    pnames = {src for _, src, _ in part_fields}
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in pnames]
    )
    all_keys = latest.select(on).distinct()
    by_path = {
        _localize(e["data_file"]["file_path"], table_path): e for e in live
    }
    affected: list[dict] = []
    n_matched = 0
    if live:
        counts = (
            union_scan(live, with_file=True)
            .join(all_keys, on)
            .groupBy("__file")
            .count()
            .collect()
        )
        for r in counts:
            e = by_path.get(r["__file"])
            if e is None:
                raise RuntimeError(
                    "apply_changes_iceberg_lite: scanned file "
                    f"{r['__file']!r} missing from the manifest list"
                )
            affected.append(e)
        n_matched = sum(r["count"] for r in counts)
    affected_ids = {id(e) for e in affected}
    untouched = [e for e in live if id(e) not in affected_ids]

    txn = _SnapshotCommit(table_path, meta)
    new_adds: list[tuple[str, dict]] = []
    for gidx, (key, group) in enumerate(
        sorted(
            grouped(affected).items(),
            key=lambda kv: tuple(str(v) for _, v in kv[0]),
        )
    ):
        recorded = any(v is not None for _, v in key)
        out_schema = data_schema if recorded else schema
        kept = (
            scan(group, key, with_file=False)
            .join(all_keys, on, "left_anti")
            .select(*[f.name for f in out_schema.fields])
        )
        gdir = os.path.join(table_path, "data", f"cdc-{txn.uuid}-{gidx}")
        kept.write.parquet(gdir)
        pv = dict(key) if recorded else {}
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))
    in_dir = os.path.join(table_path, "data", f"cdc-in-{txn.uuid}")
    pcols = [src for _, src, _ in part_fields]
    n_upserted = 0
    if pcols and any(
        (e["data_file"].get("partition") or {}) for e in live
    ):
        upserts.write.partitionBy(*pcols).parquet(in_dir)
        for p in sorted(
            _glob.glob(os.path.join(in_dir, "**", "*.parquet"), recursive=True)
        ):
            n = _parquet_row_count(p)
            if n == 0:
                continue
            n_upserted += n
            rel = os.path.relpath(os.path.dirname(p), in_dir)
            raw = {}
            for seg in ([] if rel == "." else rel.split(os.sep)):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    raw[k] = v
            new_adds.append(
                (p, {
                    pn: _hive_value(raw.get(src), dt)
                    for pn, src, dt in part_fields
                })
            )
    else:
        upserts.write.parquet(in_dir)
        for p in sorted(_glob.glob(os.path.join(in_dir, "*.parquet"))):
            n = _parquet_row_count(p)
            if n == 0:
                continue
            n_upserted += n
            new_adds.append((p, {}))

    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        part_fields, "overwrite",
        removed=(len(affected), sum(
            e["data_file"].get("record_count") or 0 for e in affected
        )),
    )
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        # rows written from the change set (updates + inserts), and
        # pre-existing rows that matched a changed key (each was either
        # replaced or deleted)
        "rows_upserted": n_upserted,
        "rows_matched": n_matched,
    }


def read_iceberg_changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot: int | None = None,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Changelog read (the shape of Iceberg's ``create_changelog_view``):
    every row-level change between ``from_snapshot`` (exclusive;
    None = table creation) and ``to_snapshot`` (inclusive; default
    HEAD), as table columns + ``_change_type`` (insert | delete) +
    ``_snapshot_id`` + ``_commit_timestamp``.

    Derivation per snapshot, matching the engine's file-level
    semantics: ``replace`` snapshots (compaction) contribute nothing;
    files present only in the new snapshot yield inserts, files that
    vanished yield deletes (a COW upsert therefore emits delete(old
    file rows) + insert(new file rows) — the engine's changelog does
    the same); NEW position/equality delete files resolve to delete
    rows against the PRIOR snapshot's live view. Vanished files raise
    loudly rather than dropping changes.
    """
    meta = _load_metadata(table_path)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["snapshot-id"]
    )
    if not snaps:
        raise ValueError("iceberg table has no snapshots")
    ids = [s["snapshot-id"] for s in snaps]
    hi = to_snapshot if to_snapshot is not None else ids[-1]
    lo = from_snapshot if from_snapshot is not None else 0
    if from_snapshot is not None and from_snapshot not in ids:
        raise ValueError(
            f"from_snapshot {from_snapshot} not in table history {ids}"
        )
    in_range = [s for s in snaps if lo < s["snapshot-id"] <= hi]
    spark_schema = _schema_to_spark(meta)
    part_fields = _identity_partition_fields(meta)
    scan, grouped, _union = _cow_scan_tools(
        spark, table_path, meta, part_fields
    )
    out_schema = T.StructType(
        list(spark_schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_snapshot_id", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )
    if not in_range:
        return local_frame(spark, [], out_schema)

    def entryify(pairs: list[tuple[str, dict]]) -> list[dict]:
        return [
            {"data_file": {"file_path": p, "partition": pv or {}}}
            for p, pv in pairs
        ]

    def scan_pairs(pairs: list[tuple[str, dict]]) -> DataFrame:
        missing = [p for p, _ in pairs if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"changelog: data files expired away: {missing[:3]}"
            )
        parts = [
            scan(g, key, with_file=False)
            for key, g in sorted(
                grouped(entryify(pairs)).items(),
                key=lambda kv: tuple(str(v) for _, v in kv[0]),
            )
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def resolve(sid: int | None):
        if sid is None:
            return [], [], [], {}
        data, pos, eq, dvs, _s, _m = _resolve_entries(spark, table_path, sid)
        return (
            [(p, pv) for p, pv, _seq in data],
            [p for p, _seq in pos],
            [p for p, _seq in eq],
            # one live DV per referenced data file (v3 invariant)
            {ref: (p, off, size) for p, off, size, ref, _seq in dvs},
        )

    prev_id = from_snapshot  # None = before the first snapshot
    prev_data, prev_pos, prev_eq, prev_dv = resolve(prev_id)
    pieces: list[DataFrame] = []
    for snap in in_range:
        sid = snap["snapshot-id"]
        ts_ms = int(snap.get("timestamp-ms") or 0)
        cur_data, cur_pos, cur_eq, cur_dv = resolve(sid)
        stamps = [
            F.lit("insert").alias("_change_type"),
            F.lit(sid).cast("long").alias("_snapshot_id"),
            F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
        ]
        op = (snap.get("summary") or {}).get("operation")
        if op == "replace":
            prev_id, prev_data, prev_pos, prev_eq, prev_dv = (
                sid, cur_data, cur_pos, cur_eq, cur_dv,
            )
            continue
        prev_paths = {p for p, _ in prev_data}
        cur_paths = {p for p, _ in cur_data}
        added = [(p, pv) for p, pv in cur_data if p not in prev_paths]
        removed = [(p, pv) for p, pv in prev_data if p not in cur_paths]
        if added:
            pieces.append(scan_pairs(added).select("*", *stamps))
        del_stamps = [
            F.lit("delete").alias("_change_type"),
            F.lit(sid).cast("long").alias("_snapshot_id"),
            F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
        ]
        if removed:
            pieces.append(scan_pairs(removed).select("*", *del_stamps))
        new_pos = [p for p in cur_pos if p not in set(prev_pos)]
        new_eq = [p for p in cur_eq if p not in set(prev_eq)]
        # a commit's merged DV REPLACES the file's previous DV and is a
        # superset of it (v3 spec) — the snapshot's newly-deleted rows
        # are exactly the positions the new bitmap adds over the old
        new_dv_pairs: list[tuple[str, int]] = []
        for ref, coords in cur_dv.items():
            if prev_dv.get(ref) == coords:
                continue
            from spark_etl_cli_spark.sources.puffin_lite import read_dv

            fresh = set(read_dv(*coords))
            if ref in prev_dv:
                fresh -= set(read_dv(*prev_dv[ref]))
            new_dv_pairs.extend((ref, int(p)) for p in sorted(fresh))
        if (new_pos or new_eq or new_dv_pairs) and prev_id is not None:
            prior = read_iceberg_lite(
                spark, table_path, snapshot_id=prev_id,
                with_provenance=True,
            )
            data_cols = [f.name for f in spark_schema.fields]
            if new_pos:
                norm = F.regexp_replace(
                    F.col("file_path"), "^file:/+", "/"
                )
                pairs = (
                    spark.read.parquet(*new_pos)
                    .select(
                        norm.alias("__dfile"),
                        F.col("pos").cast("long").alias("__dpos"),
                    )
                )
                pieces.append(
                    prior.join(pairs, ["__dfile", "__dpos"], "left_semi")
                    .select(*data_cols)
                    .select("*", *del_stamps)
                )
            if new_dv_pairs:
                dv_pairs_df = local_frame(
                    spark, new_dv_pairs, "__dfile string, __dpos long"
                )
                pieces.append(
                    prior.join(
                        dv_pairs_df, ["__dfile", "__dpos"], "left_semi"
                    )
                    .select(*data_cols)
                    .select("*", *del_stamps)
                )
            for eqf in new_eq:
                keys = spark.read.parquet(eqf).distinct()
                pieces.append(
                    prior.join(keys, list(keys.columns), "left_semi")
                    .select(*data_cols)
                    .select("*", *del_stamps)
                )
        prev_id, prev_data, prev_pos, prev_eq, prev_dv = (
            sid, cur_data, cur_pos, cur_eq, cur_dv,
        )
    if not pieces:
        return local_frame(spark, [], out_schema)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _compact_transformed(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    entries: list[dict],
    target_file_bytes: int,
    min_files: int,
) -> dict:
    """Bin-pack a transformed-spec table per RAW recorded partition
    tuple: compaction never changes rows, so each group's survivors
    rewrite back under the same tuple (replace snapshot, streams skip
    it) — no transform evaluation needed."""
    import math

    tr_fields = _transformed_spec_fields(meta)
    if tr_fields is None:
        raise NotImplementedError(
            "compact_iceberg_lite: transformed spec references unknown "
            "source columns — the engine's writer is needed"
        )
    spark_schema = _schema_to_spark(meta)
    groups: dict[tuple, tuple[dict, list[dict]]] = {}
    for e in entries:
        pv = e["data_file"].get("partition") or {}
        key = tuple(sorted((k, str(v)) for k, v in pv.items()))
        groups.setdefault(key, (pv, []))[1].append(e)

    txn = _SnapshotCommit(table_path, meta)
    untouched: list[dict] = []
    new_adds: list[tuple[str, dict]] = []
    n_removed = 0
    for gidx, key in enumerate(sorted(groups)):
        pv, group = groups[key]
        small = [
            e for e in group
            if (e["data_file"].get("file_size_in_bytes") or 0)
            < target_file_bytes
        ]
        if len(small) < min_files:
            untouched.extend(group)
            continue
        untouched.extend(e for e in group if e not in small)
        paths = [
            _localize(e["data_file"]["file_path"], table_path)
            for e in small
        ]
        total = sum(
            e["data_file"].get("file_size_in_bytes") or 0 for e in small
        )
        n_out = max(1, math.ceil(total / target_file_bytes))
        gdir = os.path.join(
            table_path, "data", f"compact-tr-{txn.uuid}-{gidx}"
        )
        # v3: materialize the group's tracked ids through the bin-pack
        rid_g = (
            _lineage_rewrite_col(small, table_path)
            if int(meta.get("format-version", 2)) == 3
            else None
        )
        scan_g = spark.read.schema(
            _with_lineage_field(spark_schema)
            if rid_g is not None
            else spark_schema
        ).parquet(*paths)
        if rid_g is not None:
            scan_g = scan_g.withColumn("_row_id", rid_g).withColumn(
                "_last_updated_sequence_number",
                _seq_rewrite_col(small, table_path),
            )
        scan_g.repartition(n_out).write.parquet(gdir)
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))
        n_removed += len(small)
    if n_removed == 0:
        return {"files_removed": 0, "files_added": 0}
    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        [(pname, pname, vdt) for pname, _t, _s, _i, vdt in tr_fields],
        "replace",
        removed=(n_removed, 0),
    )
    return {"files_removed": n_removed, "files_added": len(new_adds)}


def compact_iceberg_lite(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Bin-pack small data files into a new ``replace`` snapshot (the
    shape of Iceberg's ``rewrite_data_files``): untouched files are
    carried as EXISTING manifest entries, compacted rows land in
    ``ceil(total/target)`` new ADDED files, and the snapshot summary's
    ``operation=replace`` tells the incremental stream reader to skip
    it (no double-delivery). Old snapshots stay readable via
    ``?snapshot-id=``.

    Tables with live position/equality delete files take the
    delete-APPLYING path: the whole live row set is rewritten
    post-delete (hive-split per identity partition) and the delete
    files drop from the new snapshot — deletes materialized, row set
    unchanged. Remaining fence: non-identity partition transforms
    (bucket/truncate/days need the transform to reconstruct partition
    tuples). Identity-partitioned layouts compact PER
    PARTITION — each partition's small-file set rewrites as one
    distributed job; the loop over partitions is bookkeeping.
    """
    import math

    meta = _load_metadata(table_path)
    snap = _snapshot(meta, None)
    entries = [
        e for e in _manifest_entries(table_path, snap) if e.get("status") != 2
    ]
    # partition evolution: entries written under DIFFERENT specs record
    # different partition key sets; a bin-pack that carries them into
    # one consolidated manifest would lose the old specs' values, so an
    # evolved table compacts as a FULL rewrite under the current spec —
    # exactly Iceberg's own rewrite_data_files migration story.
    _dkeysets = {
        frozenset((e["data_file"].get("partition") or {}))
        for e in entries
        if (e.get("data_file") or {}).get("content", 0) == 0
    }
    if len(_dkeysets) > 1 or any(
        (e.get("data_file") or {}).get("content") in (1, 2) for e in entries
    ):
        # delete-APPLYING compaction (unpartitioned): rewrite the whole
        # live row set post-delete through the full reader and commit a
        # clean replace snapshot with NO carried delete manifests — the
        # deletes are materialized, the row set is unchanged, and the
        # downstream COW ops get the clean table the other fences point
        # at. (Iceberg's rewrite_data_files with delete application.)
        pf_del = _identity_partition_fields(meta)
        data_entries = [
            e
            for e in entries
            if (e.get("data_file") or {}).get("content", 0) == 0
        ]
        tr_fields_del = _transformed_spec_fields(meta)
        if any(
            (e["data_file"].get("partition") or {}) for e in data_entries
        ) and tr_fields_del is not None:
            # transformed (incl. MIXED identity+transform) spec:
            # rewrite the post-delete row set split by the evaluated
            # transforms (full-tuple prunability preserved — the old
            # "not pf_del" gate sent mixed specs to the identity path,
            # recording partial tuples)
            txn = _SnapshotCommit(table_path, meta)
            if _spec_sources_dropped(tr_fields_del):
                # dropped spec source: transforms can't re-evaluate,
                # but deletes never move a row across tuples — rewrite
                # each recorded-tuple GROUP through the delete-applying
                # provenance reader and land it under its own tuple
                new_adds = []
                grp: dict[tuple, tuple[dict, list[str]]] = {}
                for e in data_entries:
                    pv = e["data_file"].get("partition") or {}
                    gk = tuple(sorted((k, str(v)) for k, v in pv.items()))
                    grp.setdefault(gk, (pv, []))[1].append(
                        os.path.abspath(
                            _localize(
                                e["data_file"]["file_path"], table_path
                            )
                        )
                    )
                live_prov = None
                if int(meta.get("format-version", 2)) == 3:
                    try:  # carry lineage through the rewrite (v3)
                        live_prov = read_iceberg_lite(
                            spark, table_path, with_provenance=True,
                            with_row_id=True, with_last_updated_seq=True,
                        )
                    except NotImplementedError:
                        live_prov = None
                if live_prov is None:
                    live_prov = read_iceberg_lite(
                        spark, table_path, with_provenance=True
                    )
                out_cols = [
                    c for c in live_prov.columns
                    if not c.startswith("__d")
                ]
                for gidx, gk in enumerate(sorted(grp)):
                    pv, gpaths = grp[gk]
                    part = live_prov.filter(
                        F.col("__dfile").isin(gpaths)
                    ).select(*out_cols)
                    gdir0 = os.path.join(
                        table_path,
                        "data",
                        f"compact-del-tr-{txn.uuid}-g{gidx}",
                    )
                    part.write.parquet(gdir0)
                    for p in sorted(
                        _glob.glob(os.path.join(gdir0, "*.parquet"))
                    ):
                        if _parquet_row_count(p) > 0:
                            new_adds.append((p, pv))
            else:
                new_adds = _transformed_split_write(
                    _read_for_rewrite(spark, table_path, meta),
                    os.path.join(
                        table_path, "data", f"compact-del-tr-{txn.uuid}"
                    ),
                    tr_fields_del,
                )
            _commit_rewrite_snapshot(
                txn, [], new_adds,
                [
                    (pname, pname, vdt)
                    for pname, _t, _s, _i, vdt in tr_fields_del
                ],
                "replace",
                removed=(len(data_entries), 0),
            )
            return {
                "files_removed": len(data_entries),
                "files_added": len(new_adds),
                "deletes_applied": len(entries) - len(data_entries),
            }
        if any(
            (e["data_file"].get("partition") or {}) for e in data_entries
        ) and not pf_del:
            raise NotImplementedError(
                "compact_iceberg_lite: non-identity partition "
                "transforms reference unknown source columns — the "
                "engine's partition-aware writer is needed"
            )
        del_partitioned = bool(pf_del) and any(
            (e["data_file"].get("partition") or {}) for e in data_entries
        )
        total = sum(
            e["data_file"].get("file_size_in_bytes") or 0
            for e in data_entries
        )
        n_out = max(1, math.ceil(total / target_file_bytes))
        txn = _SnapshotCommit(table_path, meta)
        gdir = os.path.join(
            table_path, "data", f"compact-del-{txn.uuid}"
        )
        full = _read_for_rewrite(spark, table_path, meta).repartition(n_out)
        new_adds: list[tuple[str, dict]] = []
        if del_partitioned:
            dpcols = [src for _, src, _ in pf_del]
            full.write.partitionBy(*dpcols).parquet(gdir)
            for p in sorted(
                _glob.glob(
                    os.path.join(gdir, "**", "*.parquet"), recursive=True
                )
            ):
                if _parquet_row_count(p) == 0:
                    continue
                rel = os.path.relpath(os.path.dirname(p), gdir)
                raw = {}
                for seg in ([] if rel == "." else rel.split(os.sep)):
                    if "=" in seg:
                        k, v = seg.split("=", 1)
                        raw[k] = v
                new_adds.append(
                    (p, {
                        pn: _hive_value(raw.get(src), dt)
                        for pn, src, dt in pf_del
                    })
                )
        else:
            full.write.parquet(gdir)
            new_adds = [
                (p, {})
                for p in sorted(
                    _glob.glob(os.path.join(gdir, "*.parquet"))
                )
                if _parquet_row_count(p) > 0
            ]
        _commit_rewrite_snapshot(
            txn, [], new_adds,
            pf_del if del_partitioned else [], "replace",
            removed=(len(data_entries), 0),
        )
        return {
            "files_removed": len(data_entries),
            "files_added": len(new_adds),
            "deletes_applied": len(entries) - len(data_entries),
        }
    part_fields = _identity_partition_fields(meta)
    spec_field_count = len(_default_spec(meta).get("fields", []))
    if any((e.get("data_file") or {}).get("partition") for e in entries) and (
        not part_fields or spec_field_count != len(part_fields)
    ):
        # non-identity spec: bin-pack per RAW recorded partition tuple
        # (compaction never changes rows, so tuples carry over verbatim)
        return _compact_transformed(
            spark, table_path, meta, entries, target_file_bytes, min_files
        )
    stats = {"files_removed": 0, "files_added": 0}
    spark_schema = _schema_to_spark(meta)
    pnames = {src for _, src, _ in part_fields}
    data_schema = T.StructType(
        [f for f in spark_schema.fields if f.name not in pnames]
    )

    # group live entries by partition tuple; compact each group's
    # small-file set independently
    groups: dict[tuple, list[dict]] = {}
    for e in entries:
        pv = e["data_file"].get("partition") or {}
        key = tuple(
            (pname, pv.get(pname)) for pname, _, _ in part_fields
        )
        groups.setdefault(key, []).append(e)

    txn = _SnapshotCommit(table_path, meta)
    untouched: list[dict] = []
    new_adds: list[tuple[str, dict]] = []  # (path, partition dict)
    for gidx, key in enumerate(
        sorted(groups, key=lambda k: tuple(str(v) for _, v in k))
    ):
        group = groups[key]
        small = [
            e for e in group
            if (e["data_file"].get("file_size_in_bytes") or 0) < target_file_bytes
        ]
        if len(small) < min_files:
            untouched.extend(group)
            continue
        untouched.extend(e for e in group if e not in small)
        small_paths = [
            _localize(e["data_file"]["file_path"], table_path) for e in small
        ]
        total = sum(e["data_file"].get("file_size_in_bytes") or 0 for e in small)
        n_out = max(1, math.ceil(total / target_file_bytes))
        # per-GROUP-INDEX dir name: keying on len(new_adds) collided
        # when a group produced zero non-empty files
        gdir = os.path.join(
            table_path, "data", f"compact-{txn.uuid}-{gidx}"
        )
        read_schema = data_schema if any(v is not None for _, v in key) else spark_schema
        # v3: carry every row's tracked id into the compacted files as
        # the materialized _row_id column (preserved ids survive the
        # bin-pack; _commit_rewrite_snapshot assigns the fresh block)
        rid_col = (
            _lineage_rewrite_col(small, table_path)
            if int(meta.get("format-version", 2)) == 3
            else None
        )
        scan_g = spark.read.schema(
            _with_lineage_field(read_schema)
            if rid_col is not None
            else read_schema
        ).parquet(*small_paths)
        if rid_col is not None:
            scan_g = scan_g.withColumn("_row_id", rid_col).withColumn(
                "_last_updated_sequence_number",
                _seq_rewrite_col(small, table_path),
            )
        scan_g.repartition(n_out).write.parquet(gdir)
        pv = dict(key)
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))
        stats["files_removed"] += len(small)
    if stats["files_removed"] == 0:
        return stats
    stats["files_added"] = len(new_adds)
    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        part_fields, "replace",
        removed=(stats["files_removed"], 0),
    )
    return stats


def _read_for_rewrite(
    spark: SparkSession, table_path: str, meta: dict
) -> DataFrame:
    """Full-table read for a delete-APPLYING rewrite: on a v3 table
    whose lineage is recoverable, the frame carries ``_row_id`` so the
    rewritten files materialize every surviving row's id; otherwise the
    plain read (lineage stays unassigned and with_row_id reads keep
    fencing)."""
    if int(meta.get("format-version", 2)) == 3:
        try:
            return read_iceberg_lite(
                spark, table_path, with_row_id=True,
                with_last_updated_seq=True,
            )
        except NotImplementedError:
            pass
    return read_iceberg_lite(spark, table_path)


def _lineage_rewrite_col(entries: list[dict], table_path: str):
    """Row-id expression for a rewrite scanning exactly these data
    files: ``coalesce(materialized _row_id, first_row_id +
    _metadata.row_index)``. Returns None when lineage is UNRECOVERABLE
    for some file (no first_row_id and no materialized column) — the
    caller must then skip materialization so reads keep fencing
    instead of silently renumbering. The scan must read with the
    ``_row_id`` long column appended to its schema (absent in old
    files → NULL → the derived branch serves them)."""
    import pyarrow.parquet as _pq

    base_of: dict[str, int] = {}
    for e in entries:
        d = e["data_file"]
        p = _localize(d["file_path"], table_path)
        frid = d.get("first_row_id")
        if frid is not None:
            base_of[os.path.basename(p)] = int(frid)
        elif "_row_id" not in _pq.ParquetFile(p).schema_arrow.names:
            return None
    pieces = [F.col("_row_id").cast("long")]
    if base_of:
        mapping = F.create_map(
            *[x for k, v in base_of.items() for x in (F.lit(k), F.lit(v))]
        )
        fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        pieces.append(
            (mapping[fname] + F.col("_metadata.row_index")).cast("long")
        )
    return F.coalesce(*pieces) if len(pieces) > 1 else pieces[0]


def _with_lineage_field(schema: T.StructType) -> T.StructType:
    out = list(schema.fields)
    names = {f.name for f in out}
    for c in ("_row_id", "_last_updated_sequence_number"):
        if c not in names:
            out.append(T.StructField(c, T.LongType()))
    return T.StructType(out)


def _seq_rewrite_col(entries: list[dict], table_path: str):
    """``coalesce(materialized _last_updated_sequence_number, the
    file's data sequence number)`` for a rewrite scanning exactly
    these data files — untouched survivors keep their last-update
    sequence through the rewrite; rows a rewrite MODIFIES should be
    written NULL so they inherit the new file's sequence."""
    seq_of: dict[str, int] = {}
    for e in entries:
        d = e["data_file"]
        p = _localize(d["file_path"], table_path)
        s = e.get("sequence_number")
        if s is None:
            s = e.get("__data_seq")
        if s is not None:
            seq_of[os.path.basename(p)] = int(s)
    pieces = [F.col("_last_updated_sequence_number").cast("long")]
    if seq_of:
        mapping = F.create_map(
            *[x for k, v in seq_of.items() for x in (F.lit(k), F.lit(v))]
        )
        fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        pieces.append(mapping[fname].cast("long"))
    return F.coalesce(*pieces) if len(pieces) > 1 else pieces[0]


def _commit_rewrite_snapshot(
    txn: _SnapshotCommit,
    untouched: list[dict],
    new_adds: list[tuple[str, dict]],
    part_fields: list[tuple[str, str, T.DataType]],
    operation: str,
    removed: tuple[int, int],
    carry_delete_manifests: bool = False,
) -> None:
    """Commit a file-replacing snapshot: one manifest re-listing the
    surviving entries (EXISTING) plus the rewrite's outputs (ADDED).
    Shared by compaction (``operation=replace`` — row set unchanged,
    streams skip it) and the COW DELETE / upsert / apply-changes
    rewrites (``operation=overwrite`` — row set changed, streams must
    fail or be told to skip). ``removed``: (files, rows) the rewrite
    replaced — rows are 0 for compaction, which deletes none.

    ``carry_delete_manifests``: keep the prior snapshot's content=1
    delete manifests (with their sequence numbers) in the new manifest
    list — the delete-aware rewrite path, where untouched data files
    still need their position/equality deletes applied while rewritten
    files (new paths, new higher data seq) escape them.
    """
    meta = txn.meta
    fv = txn.fv
    pf_typed = [(pname, dt) for pname, _src, dt in part_fields]

    expected_keys = {pname for pname, _dt in pf_typed}
    for e in untouched:
        got = set((e["data_file"].get("partition") or {}))
        if got and got != expected_keys:
            raise NotImplementedError(
                "rewrite would consolidate manifest entries recorded "
                f"under a different partition spec (entry fields {sorted(got)} "
                f"vs current spec {sorted(expected_keys)}) into one "
                "manifest, losing the old spec's recorded values — run "
                "compact_iceberg_lite first (it fully rewrites an "
                "evolved table under the current spec)"
            )

    def existing(e):
        d = e["data_file"]
        # EXISTING entries must carry their sequence number EXPLICITLY
        # (inheritance only applies to ADDED entries, v2 spec) — use
        # the resolved __data_seq when the original was inherited; they
        # keep their original snapshot ids, which the stream reader's
        # carried-entry filter keys on
        seq_no = e.get("sequence_number")
        if seq_no is None:
            seq_no = e.get("__data_seq")
        return {
            "status": 0,
            "snapshot_id": e.get("snapshot_id"),
            "sequence_number": seq_no,
            "file_sequence_number": e.get("file_sequence_number"),
            "data_file": {
                "content": 0,
                "file_path": d["file_path"],
                "file_format": d.get("file_format", "PARQUET"),
                "partition": d.get("partition") or {},
                "record_count": d.get("record_count") or 0,
                "file_size_in_bytes": d.get("file_size_in_bytes") or 0,
                # v3 row lineage: carried files KEEP their id range
                **(
                    {"first_row_id": d.get("first_row_id")}
                    if fv == 3
                    else {}
                ),
            },
        }

    # v3 row lineage for ADDED files: a rewritten file gets a fresh
    # first_row_id block ONLY when it physically carries the
    # materialized ``_row_id`` column (then preserved rows keep their
    # ids through the column and the fresh block serves NULL slots);
    # a rewrite that did NOT materialize stays unassigned, so
    # with_row_id reads keep fencing loudly instead of silently
    # renumbering.
    next_row_id = int(meta.get("next-row-id") or 0)
    assign_lineage = False
    if fv == 3 and new_adds:
        import pyarrow.parquet as _pq

        assign_lineage = all(
            "_row_id" in _pq.ParquetFile(p).schema_arrow.names
            for p, _pv in new_adds
        )

    entries = [existing(e) for e in untouched]
    for p, pv in new_adds:
        rc = _parquet_row_count(p)
        lineage = {}
        if assign_lineage:
            lineage = {"first_row_id": next_row_id}
            next_row_id += rc
        entries.append(txn.added({
            "content": 0,
            "file_path": p,
            "file_format": "PARQUET",
            "partition": pv,
            "record_count": rc,
            "file_size_in_bytes": os.path.getsize(p),
            **lineage,
        }))
    manifest = txn.write_manifest(entries, part_fields=pf_typed, removed=removed)
    if assign_lineage:
        meta["next-row-id"] = next_row_id
        # register the reserved materialized-column mappings so readers
        # (ours and conforming engines) resolve the in-file _row_id and
        # _last_updated_sequence_number columns
        props = dict(meta.get("properties") or {})
        nm = json.loads(props.get("schema.name-mapping.default", "[]"))
        changed = False
        for fid, cname in (
            (_ROW_ID_FIELD_ID, "_row_id"),
            (_LAST_SEQ_FIELD_ID, "_last_updated_sequence_number"),
        ):
            if not any(e.get("field-id") == fid for e in nm):
                nm.append({"field-id": fid, "names": [cname]})
                changed = True
        if changed:
            props["schema.name-mapping.default"] = json.dumps(nm)
            meta["properties"] = props
    carried = (
        [c for c in txn.parent_manifests() if c.get("content") == 1]
        if carry_delete_manifests
        else []
    )
    txn.commit([manifest], carried, operation)


def expire_iceberg_snapshots(
    table_path: str, keep_last: int = 1, delete_orphaned_files: bool = False
) -> dict:
    """Drop all but the newest ``keep_last`` snapshots from the table
    metadata (Iceberg's ``expire_snapshots`` maintenance action).
    Metadata-only by default; ``delete_orphaned_files=True`` also
    removes data files referenced ONLY by expired snapshots. Time
    travel to expired snapshot ids stops resolving — that is the
    point of expiry (bounded metadata + reclaimable storage).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = _load_metadata(table_path)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["snapshot-id"]
    )
    if len(snaps) <= keep_last:
        return {"expired": 0, "files_deleted": 0}
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]
    # named refs pin their snapshots: a tagged/branched snapshot never
    # expires (the spec's retention contract for refs)
    ref_ids = {
        r.get("snapshot-id") for r in (meta.get("refs") or {}).values()
    }
    pinned = [s for s in expired if s["snapshot-id"] in ref_ids]
    if pinned:
        kept = sorted(
            kept + pinned, key=lambda s: s["snapshot-id"]
        )
        expired = [s for s in expired if s["snapshot-id"] not in ref_ids]
        if not expired:
            return {"expired": 0, "files_deleted": 0}
    current = meta.get("current-snapshot-id")
    if current not in {s["snapshot-id"] for s in kept}:
        raise ValueError(
            "expire would drop the CURRENT snapshot; raise keep_last"
        )
    deleted = 0
    if delete_orphaned_files:
        def files_of(snapshots):
            out = set()
            for s in snapshots:
                for e in _manifest_entries(table_path, s):
                    if e.get("status") == 2:
                        continue
                    out.add(
                        _localize(e["data_file"]["file_path"], table_path)
                    )
            return out

        orphans = files_of(expired) - files_of(kept)
        for p in sorted(orphans):
            if os.path.exists(p):
                os.remove(p)
                deleted += 1
    meta_dir = os.path.join(table_path, "metadata")
    new_meta = dict(meta)
    new_meta["snapshots"] = kept
    _commit_iceberg_metadata(meta_dir, new_meta)
    return {"expired": len(expired), "files_deleted": deleted}


_EVOLVE_FIELD_RE = re.compile(
    r"^\s*(?:(bucket|truncate)\[(\d+)\]|(year|month|day|hour))?"
    r"\s*\(?\s*(\w+)\s*\)?\s*$"
)


def evolve_iceberg_spec(table_path: str, fields: list[str]) -> dict:
    """Partition evolution (spec "Partition Evolution"): install a NEW
    default partition spec without touching any data or manifest —
    a metadata-only commit. Old files keep their old spec's recorded
    values (the reader restores/prunes per entry-recorded fields; see
    ``_identity_fields_all_specs``); new writes land under the new
    spec; rewrites migrate rows to it.

    ``fields``: each ``"col"`` (identity), ``"bucket[N](col)"``,
    ``"truncate[N](col)"``, or ``"year(col)"``/``month``/``day``/
    ``hour``. ``fields=[]`` evolves to UNPARTITIONED. A field with the
    same (source column, transform) as one in ANY earlier spec keeps
    its field id, per the spec's id-stability rule.

    Returns ``{"spec_id": new default spec id, "fields": n}``.
    """
    meta = _load_metadata(table_path)
    schema_ids = {
        f["name"]: f["id"] for f in _current_schema(meta).get("fields", [])
    }
    specs = meta.get("partition-specs")
    if specs is None:
        specs = [{"spec-id": 0, "fields": meta.get("partition-spec") or []}]
    last_pid = int(meta.get("last-partition-id") or 999)
    prior_ids: dict[tuple[int, str], int] = {}
    for sp in specs:
        for pf in sp.get("fields", []):
            prior_ids[(pf["source-id"], pf["transform"])] = pf["field-id"]

    new_fields: list[dict] = []
    for raw in fields:
        m = _EVOLVE_FIELD_RE.match(raw)
        if not m:
            raise ValueError(f"cannot parse partition field {raw!r}")
        sized, n, temporal, col = m.groups()
        if col not in schema_ids:
            raise ValueError(f"partition source column {col!r} not in schema")
        if sized:
            transform, suffix = f"{sized}[{n}]", (
                "bucket" if sized == "bucket" else "trunc"
            )
            name = f"{col}_{suffix}"
        elif temporal:
            transform, name = temporal, f"{col}_{temporal}"
        else:
            transform, name = "identity", col
        key = (schema_ids[col], transform)
        fid = prior_ids.get(key)
        if fid is None:
            last_pid += 1
            fid = last_pid
        new_fields.append(
            {
                "name": name,
                "transform": transform,
                "source-id": schema_ids[col],
                "field-id": fid,
            }
        )
    spec_id = max((sp.get("spec-id", 0) for sp in specs), default=-1) + 1
    new_meta = dict(meta)
    new_meta["partition-specs"] = list(specs) + [
        {"spec-id": spec_id, "fields": new_fields}
    ]
    new_meta["default-spec-id"] = spec_id
    new_meta["last-partition-id"] = last_pid
    new_meta.pop("partition-spec", None)  # retire the v1 legacy form
    import time as _time

    new_meta["last-updated-ms"] = int(_time.time() * 1000)
    meta_dir = os.path.join(table_path, "metadata")
    _commit_iceberg_metadata(meta_dir, new_meta)
    return {"spec_id": spec_id, "fields": len(new_fields)}


def upgrade_iceberg_format(
    spark: SparkSession, table_path: str, to_version: int = 3
) -> dict:
    """Upgrade a v1/v2 table to format-version 3 (spec "Version 3").

    v3 forbids position-delete FILES, so the upgrade converts every
    live one into deletion vectors: the delete rows are decoded,
    grouped per referenced data file (respecting sequence-number
    scoping — a delete row only folds into a file's DV if it applied
    to that file), written as one Puffin file with a
    ``deletion-vector-v1`` blob per file, and committed as a
    ``replace`` snapshot (row set unchanged; streams skip it) whose
    carried delete manifests drop the converted position-delete
    entries. Equality deletes stay as-is (still legal in v3). Data
    manifests are carried verbatim.

    Returns ``{"upgraded": bool, "dvs_written": n, "pos_delete_files_
    converted": n}``.
    """
    meta = _load_metadata(table_path)
    fv = int(meta.get("format-version", 1))
    if to_version != 3:
        raise ValueError(f"upgrade target must be 3, got {to_version}")
    if fv >= 3:
        return {
            "upgraded": False,
            "dvs_written": 0,
            "pos_delete_files_converted": 0,
        }
    data_entries, pos_dels, _eq, _dvs, _sch, _m = _resolve_entries(
        spark, table_path
    )
    txn = _SnapshotCommit(table_path, meta)
    txn.meta["format-version"] = 3
    # row lineage starts counting from the upgrade: pre-existing files
    # keep UNASSIGNED lineage (with_row_id reads fence on them);
    # post-upgrade appends assign from this counter
    txn.meta["next-row-id"] = int(meta.get("next-row-id") or 0)
    per_file: dict[str, set[int]] = {}
    if pos_dels:
        seq_of = {
            os.path.abspath(p): (s if s is not None else 0)
            for p, _pv, s in data_entries
        }
        for pd_path, del_seq in pos_dels:
            for r in (
                spark.read.parquet(pd_path)
                .select("file_path", "pos")
                .collect()
            ):
                fp = os.path.abspath(
                    re.sub(r"^file:/+", "/", str(r["file_path"]))
                )
                if fp in seq_of and del_seq >= seq_of[fp]:
                    per_file.setdefault(fp, set()).add(int(r["pos"]))
    part_of = {os.path.abspath(p): pv for p, pv, _s in data_entries}
    dvs = [
        (ref, sorted(per_file[ref]), part_of[ref]) for ref in sorted(per_file)
    ]
    txn.commit(
        [txn.write_dvs(dvs)] if dvs else [],
        _carry_manifests_superseding_dvs(txn, set(), drop_pos_deletes=True),
        "replace",
    )
    return {
        "upgraded": True,
        "dvs_written": len(per_file),
        "pos_delete_files_converted": len(pos_dels),
    }


def _delete_manifest_schema(
    part_fields: list[tuple[str, T.DataType]] = (),
) -> dict:
    """Manifest schema for delete files with every optional delete
    field nullable: ``equality_ids`` (spec ids 135/136),
    ``referenced_data_file``/``content_offset``/
    ``content_size_in_bytes`` (spec ids 143/144/145 — the v3
    deletion-vector coordinates). Entries lacking a field write null.
    ``part_fields`` types the partition record, as for data manifests."""
    schema = _manifest_schema_for(part_fields)
    for f in schema["fields"]:
        if f["name"] == "data_file":
            f["type"]["fields"] += [
                {
                    "name": "equality_ids",
                    "field-id": 135,
                    "type": [
                        "null",
                        {"type": "array", "items": "int", "element-id": 136},
                    ],
                },
                {
                    "name": "referenced_data_file",
                    "field-id": 143,
                    "type": ["null", "string"],
                },
                {
                    "name": "content_offset",
                    "field-id": 144,
                    "type": ["null", "long"],
                },
                {
                    "name": "content_size_in_bytes",
                    "field-id": 145,
                    "type": ["null", "long"],
                },
            ]
    return schema


def _carry_manifests_superseding_dvs(
    txn: _SnapshotCommit,
    replaced_refs: set[str],
    drop_pos_deletes: bool = False,
) -> list[dict]:
    """Manifest-list entries carrying the parent snapshot's manifests
    forward, with delete manifests REWRITTEN to drop (a) deletion-
    vector entries whose referenced data file just received a new
    merged DV (v3 spec: "an added DV replaces all previous DVs for its
    data file") and, when ``drop_pos_deletes`` (the v2→v3 upgrade,
    which converts them), (b) position-delete parquet entries. Kept
    entries become EXISTING with their resolved sequence numbers
    explicit; a manifest left empty drops from the list entirely."""
    from spark_etl_cli_spark.sources.avro_lite import read_container

    table_path = txn.table_path
    out: list[dict] = []
    for ml in txn.parent_manifests():
        ml = {
            **_CARRIED_DEFAULTS, **{k: v for k, v in ml.items() if v is not None}
        }
        if ml.get("content") != 1:
            out.append(ml)
            continue
        mp = _localize(ml["manifest_path"], table_path)
        with open(mp, "rb") as fh:
            _, recs = read_container(fh.read())
        kept: list[dict] = []
        dropped: list[dict] = []
        for e in recs:
            if e.get("status") == 2:
                continue
            d = e.get("data_file") or {}
            is_dv = d.get("content_offset") is not None
            superseded = is_dv and (
                os.path.abspath(
                    _localize(d["referenced_data_file"], table_path)
                )
                in replaced_refs
            )
            if drop_pos_deletes and not is_dv and (d.get("content") == 1):
                superseded = True
            if superseded:
                dropped.append(d)
                continue
            seq_no = e.get("sequence_number")
            if seq_no is None:
                seq_no = ml.get("sequence_number")
            kept.append(
                {
                    "status": 0,  # EXISTING, explicit sequence number
                    "snapshot_id": e.get("snapshot_id"),
                    "sequence_number": seq_no,
                    "file_sequence_number": e.get("file_sequence_number"),
                    "data_file": d,
                }
            )
        if not dropped:
            out.append(ml)
        elif kept:  # a manifest whose every entry is superseded drops
            out.append(txn.write_manifest(
                kept,
                content="deletes",
                # deletion vectors record their data file's partition;
                # position/equality delete files record none
                part_fields=_spec_partition_types(txn.meta)
                if any(k["data_file"].get("partition") for k in kept)
                else (),
                removed=(
                    len(dropped),
                    sum(d.get("record_count") or 0 for d in dropped),
                ),
            ))
    return out


def _delete_iceberg_mor_dv(
    spark: SparkSession, table_path: str, where: str, meta: dict
) -> dict:
    """Format-v3 merge-on-read DELETE: matched row positions land in
    DELETION VECTORS — one ``deletion-vector-v1`` blob per affected
    data file inside a single Puffin file — committed as a
    fast-append ``delete`` snapshot. A file that already carries a DV
    gets a MERGED one (old ∪ new positions) and the old entry is
    dropped from the carried delete manifest, per the v3 spec's
    one-DV-per-file replacement rule. Only per-file index lists cross
    the driver (bounded by DV cardinality, the same order the reader
    materializes). Returns the `_delete_iceberg_mor` stats shape."""
    from spark_etl_cli_spark.sources.puffin_lite import read_dv

    zero = {"files_rewritten": 0, "files_added": 0, "rows_deleted": 0}
    live = read_iceberg_lite(
        spark, table_path, where=where, with_provenance=True
    )
    if "__dfile" not in live.columns:
        return zero
    per_file = live.groupBy("__dfile").agg(
        F.sort_array(F.collect_list("__dpos")).alias("idx")
    )
    data, _pos, _eq, cur_dvs, _sch, _m = _resolve_entries(spark, table_path)
    dv_by_ref = {ref: (p, off, sz) for p, off, sz, ref, _s in cur_dvs}
    part_of = {os.path.abspath(p): pv for p, pv, _s in data}

    dvs: list[tuple[str, list[int], dict]] = []
    n_rows = 0
    for row in per_file.toLocalIterator():
        ref = os.path.abspath(row["__dfile"])
        idx = [int(i) for i in row["idx"]]
        n_rows += len(idx)
        old = dv_by_ref.get(ref)
        if old:
            idx = sorted(set(idx) | set(read_dv(*old)))
        dvs.append((ref, idx, part_of.get(ref, {})))
    if n_rows == 0:
        return zero
    txn = _SnapshotCommit(table_path, meta)
    txn.commit(
        [txn.write_dvs(dvs)],
        _carry_manifests_superseding_dvs(txn, {ref for ref, *_ in dvs}),
        "delete",
    )
    return {
        "files_rewritten": 0,
        "files_added": 1,
        "rows_deleted": n_rows,
    }


def _delete_iceberg_mor(
    spark: SparkSession,
    table_path: str,
    where: str,
    equality_columns: list[str] | None = None,
) -> dict:
    """Merge-on-read DELETE: instead of rewriting data files, write one
    delete file and commit it as a fast-append ``delete`` snapshot
    (prior manifests carried, one new delete manifest). This is the
    cheap delete every engine offers for write-heavy tables: zero data
    bytes rewritten, the reader merges at scan time — and the reader's
    sequence-number scoping makes stacked deletes and later re-adds
    correct. Existing delete files are fine here (deletes stack);
    already-deleted rows are not re-matched (the scan is the LIVE
    view).

    Default: a POSITION-DELETE file naming the matched rows'
    (file_path, pos) pairs. With ``equality_columns``: an
    EQUALITY-DELETE file (content=2) holding the DISTINCT key tuples
    of the matched rows — note equality deletes remove every older row
    whose KEY matches, not just the rows ``where`` matched, exactly
    the spec's semantics (and the reason CDC writers use them: delete
    by key without locating positions). ``rows_deleted`` reports the
    exact count of live rows the keys remove.

    Returns ``{"files_rewritten": 0, "files_added": <delete files>,
    "rows_deleted": n}``.
    """
    meta = _load_metadata(table_path)
    if (
        int(meta.get("format-version", 1)) >= 3
        and not equality_columns
    ):
        # v3 forbids adding position-delete FILES — row-level deletes
        # go through deletion vectors (spec "Deletion Vectors")
        return _delete_iceberg_mor_dv(spark, table_path, where, meta)
    zero = {"files_rewritten": 0, "files_added": 0, "rows_deleted": 0}
    del_dir = os.path.join(table_path, "data")
    os.makedirs(del_dir, exist_ok=True)
    txn = _SnapshotCommit(table_path, meta)
    equality_ids: list[int] | None = None
    if equality_columns:
        schema_fields = {
            f["name"]: f["id"] for f in _current_schema(meta)["fields"]
        }
        missing = [c for c in equality_columns if c not in schema_fields]
        if missing:
            raise ValueError(
                f"equality delete columns not in table schema: {missing}"
            )
        equality_ids = [schema_fields[c] for c in equality_columns]
        matched = read_iceberg_lite(spark, table_path, where=where)
        keys = matched.select(*equality_columns).distinct()
        out_dir = os.path.join(del_dir, f"eqdelete-{txn.uuid}")
        keys.write.parquet(out_dir)
        del_files = [
            p
            for p in sorted(_glob.glob(os.path.join(out_dir, "*.parquet")))
            if _parquet_row_count(p) > 0
        ]
        if not del_files:
            return zero
        # exact stats: how many LIVE rows do these keys remove?
        n_rows = (
            read_iceberg_lite(spark, table_path)
            .join(keys, equality_columns, "left_semi")
            .count()
        )
    else:
        live = read_iceberg_lite(
            spark, table_path, where=where, with_provenance=True
        )
        if "__dfile" not in live.columns:
            return zero  # no data entries at all
        out_dir = os.path.join(del_dir, f"pdelete-{txn.uuid}")
        # the delete file's file_path must match the manifest entry's
        # verbatim (readers compare normalized forms); __dfile is
        # already the manifest-normalized absolute path
        (
            live.selectExpr(
                "__dfile AS file_path", "CAST(__dpos AS long) AS pos"
            ).write.parquet(out_dir)
        )
        del_files = [
            p
            for p in sorted(_glob.glob(os.path.join(out_dir, "*.parquet")))
            if _parquet_row_count(p) > 0
        ]
        n_rows = sum(_parquet_row_count(p) for p in del_files)
        if n_rows == 0:
            return zero

    manifest = txn.write_manifest(
        [
            txn.added({
                "content": 2 if equality_ids else 1,
                "file_path": p,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": _parquet_row_count(p),
                "file_size_in_bytes": os.path.getsize(p),
                **({"equality_ids": equality_ids} if equality_ids else {}),
            })
            for p in del_files
        ],
        content="deletes",
    )
    # fast-append: the parent's manifests carried verbatim + the new
    # delete manifest at the commit's sequence number
    txn.commit([manifest], txn.parent_manifests(), "delete")
    return {
        "files_rewritten": 0,
        "files_added": len(del_files),
        "rows_deleted": n_rows,
    }


def _cow_scan_tools(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    part_fields: list[tuple[str, str, T.DataType]],
):
    """(scan, grouped, union_scan) closures shared by the copy-on-write
    row ops (DELETE, upsert): per-partition-group scans under the full
    logical schema, with partition columns restored as typed literals
    when the manifest records them."""
    spark_schema = _schema_to_spark(meta)
    pnames = {src for _, src, _ in part_fields}
    data_schema = T.StructType(
        [f for f in spark_schema.fields if f.name not in pnames]
    )

    def scan(
        entry_group: list[dict],
        key: tuple,
        with_file: bool,
        with_lineage: bool = False,
    ) -> DataFrame:
        """One partition group under the full logical schema (+ __file;
        + the tracked ``_row_id`` when ``with_lineage`` and the group's
        lineage is recoverable — materialized column or first_row_id).
        All-None keys follow compaction's convention: the files carry
        the partition columns physically, read the full schema."""
        paths = [
            _localize(e["data_file"]["file_path"], table_path)
            for e in entry_group
        ]
        recorded = any(v is not None for _, v in key)
        rid = (
            _lineage_rewrite_col(entry_group, table_path)
            if with_lineage
            else None
        )
        schema = data_schema if recorded else spark_schema
        if rid is not None:
            schema = _with_lineage_field(schema)
        df = spark.read.schema(schema).parquet(*paths)
        cols = []
        pv = dict(key)
        for f in spark_schema.fields:
            if recorded and f.name in pnames:
                raw = pv.get(
                    next(pn for pn, src, _ in part_fields if src == f.name)
                )
                cols.append(
                    (F.lit(raw) if raw is not None else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        if with_file:
            cols.append(
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ).alias("__file")
            )
        if rid is not None:
            cols.append(rid.alias("_row_id"))
            cols.append(
                _seq_rewrite_col(entry_group, table_path).alias(
                    "_last_updated_sequence_number"
                )
            )
        return df.select(*cols)

    def grouped(entries_list: list[dict]) -> dict[tuple, list[dict]]:
        gs: dict[tuple, list[dict]] = {}
        for e in entries_list:
            pv = e["data_file"].get("partition") or {}
            key = tuple((pn, pv.get(pn)) for pn, _, _ in part_fields)
            gs.setdefault(key, []).append(e)
        return gs

    def union_scan(entries_list: list[dict], with_file: bool) -> DataFrame:
        parts = [
            scan(g, key, with_file)
            for key, g in sorted(
                grouped(entries_list).items(),
                key=lambda kv: tuple(str(v) for _, v in kv[0]),
            )
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return scan, grouped, union_scan


def _delete_cow_transformed(
    spark: SparkSession,
    table_path: str,
    meta: dict,
    live: list[dict],
    where: str,
) -> dict:
    """Copy-on-write DELETE on a table whose default spec has
    NON-identity transforms (bucket/truncate/temporal): candidate files
    prune through the transform pruner, affected files group by their
    RAW recorded partition tuple, and each group's survivors rewrite
    back under the SAME tuple — sound because partition transforms are
    deterministic functions of the source columns, which a row filter
    never changes. Data files of transformed tables carry every column
    physically (external writers and this module's transformed appends
    both), so groups read under the full logical schema."""

    zero = {"files_rewritten": 0, "files_added": 0, "rows_deleted": 0}
    spark_schema = _schema_to_spark(meta)
    entries3 = [
        (
            _localize(e["data_file"]["file_path"], table_path),
            e["data_file"].get("partition") or {},
            0,
        )
        for e in live
    ]
    by_path = {
        os.path.abspath(p): e for (p, _pv, _s), e in zip(entries3, live)
    }
    candidates3 = _prune_transformed_entries(entries3, meta, where)
    if not candidates3:
        return zero
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    pred = F.coalesce(F.expr(where), F.lit(False))
    probe = (
        spark.read.schema(spark_schema)
        .parquet(*[p for p, _pv, _s in candidates3])
        .withColumn("__file", norm(F.col("_metadata.file_path")))
    )
    counts = probe.filter(pred).groupBy("__file").count().collect()
    if not counts:
        return zero
    affected: list[dict] = []
    for r in counts:
        e = by_path.get(os.path.abspath(r["__file"]))
        if e is None:
            raise RuntimeError(
                f"delete_iceberg_lite: scanned file {r['__file']!r} "
                "missing from the manifest file list"
            )
        affected.append(e)
    n_rows = sum(r["count"] for r in counts)
    affected_ids = {id(e) for e in affected}
    untouched = [e for e in live if id(e) not in affected_ids]

    # group affected files by their raw recorded partition tuple
    groups: dict[tuple, tuple[dict, list[str]]] = {}
    for e in affected:
        pv = e["data_file"].get("partition") or {}
        key = tuple(sorted((k, str(v)) for k, v in pv.items()))
        groups.setdefault(key, (pv, []))[1].append(
            _localize(e["data_file"]["file_path"], table_path)
        )

    txn = _SnapshotCommit(table_path, meta)
    new_adds: list[tuple[str, dict]] = []
    for gidx, key in enumerate(sorted(groups)):
        pv, paths = groups[key]
        kept = (
            spark.read.schema(spark_schema).parquet(*paths).filter(~pred)
        )
        gdir = os.path.join(
            table_path, "data", f"delete-tr-{txn.uuid}-{gidx}"
        )
        kept.write.parquet(gdir)
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))

    # the manifest partition record types come from the spec transforms
    specs = meta.get("partition-specs") or []
    dspec = next(
        (
            sp
            for sp in specs
            if sp.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        specs[0] if specs else {"fields": []},
    )
    by_id = {
        f["id"]: f["type"] for f in _current_schema(meta).get("fields", [])
    }
    pf_triples = []
    for pf in dspec.get("fields", []):
        tr = pf.get("transform", "identity")
        ityp = by_id.get(pf.get("source-id"), "int")
        if tr == "identity" or str(tr).startswith("truncate"):
            vdt = _iceberg_type_to_spark(ityp)
        else:
            vdt = T.IntegerType()
        pf_triples.append((pf["name"], pf["name"], vdt))
    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        pf_triples, "overwrite",
        removed=(len(affected), n_rows),
    )
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_deleted": n_rows,
    }


def delete_iceberg_lite(
    spark: SparkSession,
    table_path: str,
    where: str,
    mode: str = "copy-on-write",
    equality_columns: list[str] | None = None,
) -> dict:
    """Copy-on-write DELETE: remove rows matching ``where`` by
    rewriting only the data files that hold them, committed as an
    ``overwrite`` snapshot (the shape Iceberg's own copy-on-write
    DELETE produces — survivors re-listed EXISTING, rewrites ADDED,
    affected files simply absent). Partition predicates prune the
    candidate FILE LIST via manifest partition values before any
    footer opens; per-group partition literals let Catalyst fold away
    non-matching scans for mixed predicates. NULL-predicate rows are
    KEPT (SQL DELETE semantics).

    ``mode='merge-on-read'`` writes a position-delete file instead of
    rewriting anything (``_delete_iceberg_mor``) — the cheap delete
    for write-heavy tables, correct under the reader's
    sequence-number scoping.

    Tables with live position/equality delete files take the
    delete-aware rewrite path (affected files re-read through the
    delete-applying reader; untouched files keep their delete
    manifests carried), so COW DELETE composes with prior
    merge-on-read deletes on identity and transformed specs alike.

    Returns ``{"files_rewritten", "files_added", "rows_deleted"}``.
    """

    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(
            "delete_iceberg_lite mode must be copy-on-write|merge-on-read, "
            f"got {mode!r}"
        )
    if mode == "merge-on-read":
        return _delete_iceberg_mor(
            spark, table_path, where, equality_columns=equality_columns
        )
    if equality_columns:
        raise ValueError(
            "equality_columns requires mode='merge-on-read' (equality "
            "deletes ARE merge-on-read delete files)"
        )
    meta = _load_metadata(table_path)
    snap = _snapshot(meta, None)
    live = [
        e for e in _manifest_entries(table_path, snap) if e.get("status") != 2
    ]
    if any((e.get("data_file") or {}).get("content") in (1, 2) for e in live):
        # live delete files (r7 fence closed): the delete-aware rewrite
        # path — affected files re-read through the delete-applying
        # reader so already-deleted rows neither match again nor get
        # resurrected; untouched files keep their delete manifests
        # CARRIED; transformed specs rewrite under raw recorded tuples
        stats = _cow_keyed_rewrite_under_deletes(
            spark, table_path, meta, live,
            purge_keys=None, insert_df=None, on=None,
            prefix="delete", purge_where=where,
        )
        return {
            "files_rewritten": stats["files_rewritten"],
            "files_added": stats["files_added"],
            "rows_deleted": stats["rows_matched"],
        }
    part_fields = _identity_partition_fields(meta)
    spec_field_count = len(_default_spec(meta).get("fields", []))
    if any((e.get("data_file") or {}).get("partition") for e in live) and (
        not part_fields or spec_field_count != len(part_fields)
    ):
        # non-identity spec: survivors keep their RECORDED partition
        # tuple (transforms are deterministic on the source columns, so
        # the tuple is unchanged by a row filter) — no transform
        # evaluation needed for the rewrite, only raw-tuple grouping
        return _delete_cow_transformed(spark, table_path, meta, live, where)
    zero = {"files_rewritten": 0, "files_added": 0, "rows_deleted": 0}

    # candidate pruning: manifest partition values vs the predicate
    pairs = [
        (_localize(e["data_file"]["file_path"], table_path),
         e["data_file"].get("partition") or {})
        for e in live
    ]
    kept_paths = _prune_file_entries(spark, pairs, part_fields, where)
    by_path = {p: e for (p, _pv), e in zip(pairs, live)}
    candidates = (
        live
        if kept_paths is None
        else [by_path[p] for p in kept_paths]
    )
    if not candidates:
        return zero

    tools = _cow_scan_tools(spark, table_path, meta, part_fields)
    scan, grouped, union_scan = tools
    spark_schema = _schema_to_spark(meta)
    pnames = {src for _, src, _ in part_fields}
    data_schema = T.StructType(
        [f for f in spark_schema.fields if f.name not in pnames]
    )

    pred = F.coalesce(F.expr(where), F.lit(False))
    counts = (
        union_scan(candidates, with_file=True)
        .filter(pred)
        .groupBy("__file")
        .count()
        .collect()
    )
    if not counts:
        return zero
    affected: list[dict] = []
    for r in counts:
        e = by_path.get(r["__file"])
        if e is None:
            raise RuntimeError(
                f"delete_iceberg_lite: scanned file {r['__file']!r} missing "
                "from the manifest file list (path-normalization bug — "
                "refusing to commit a partial delete)"
            )
        affected.append(e)
    n_rows = sum(r["count"] for r in counts)
    affected_ids = {id(e) for e in affected}
    untouched = [e for e in live if id(e) not in affected_ids]

    txn = _SnapshotCommit(table_path, meta)

    # rewrite per partition group so outputs land with the right
    # recorded partition tuple (and physical columns for unrecorded);
    # v3 row lineage: survivors carry their tracked ids into the new
    # files (materialized _row_id, same as compaction/upsert)
    lineage = int(meta.get("format-version", 2)) == 3 and (
        _lineage_rewrite_col(affected, table_path) is not None
    )
    new_adds: list[tuple[str, dict]] = []
    for gidx, (key, group) in enumerate(
        sorted(
            grouped(affected).items(),
            key=lambda kv: tuple(str(v) for _, v in kv[0]),
        )
    ):
        recorded = any(v is not None for _, v in key)
        out_schema = data_schema if recorded else spark_schema
        kept = (
            scan(group, key, with_file=False, with_lineage=lineage)
            .filter(~pred)
            .select(
                *[f.name for f in out_schema.fields],
                *(
                    ["_row_id", "_last_updated_sequence_number"]
                    if lineage
                    else []
                ),
            )
        )
        gdir = os.path.join(table_path, "data", f"delete-{txn.uuid}-{gidx}")
        kept.write.parquet(gdir)
        pv = dict(key) if recorded else {}
        for p in sorted(_glob.glob(os.path.join(gdir, "*.parquet"))):
            if _parquet_row_count(p) == 0:
                continue
            new_adds.append((p, pv))

    _commit_rewrite_snapshot(
        txn, untouched, new_adds,
        part_fields, "overwrite",
        removed=(len(affected), sum(
            e["data_file"].get("record_count") or 0 for e in affected
        )),
    )
    return {
        "files_rewritten": len(affected),
        "files_added": len(new_adds),
        "rows_deleted": n_rows,
    }
