"""Engine-free Apache Hudi COPY-ON-WRITE reader: replay the timeline.

The Hudi spec (https://hudi.apache.org/tech-specs/) is public: a table
is parquet base files under partition paths plus a ``.hoodie/``
timeline of instants — ``<ts>.commit`` / ``<ts>.replacecommit`` JSON
files whose ``partitionToWriteStats`` lists the files each commit
wrote. COW semantics: an updated file group gets a NEW base file under
the same ``fileId``; the newest base file per file group IS the
snapshot. Replaying completed commits and keeping the latest slice per
fileId therefore yields the current table — plain
``spark.read.parquet`` scans it. Same replay-the-public-protocol
pattern as ``delta_lite``/``iceberg_lite``.

Supported: COW tables, multi-commit updates (latest file slice wins),
``replacecommit`` (clustering/insert-overwrite: replaced file groups
dropped via ``partitionToReplaceFileIds``), ``as-of=<ts>`` time travel
(instants up to ts), and MERGE_ON_READ in both documented views:
``read_optimized`` (latest base files only) and the default snapshot
view, which merges each file slice's ``.log`` blocks (upserts +
deletes, latest-per-record-key wins) over its base file via the
engine-free log codec in ``hudi_log.py``.
"""

from __future__ import annotations

import glob as _glob
import json
import os

from pyspark.sql import DataFrame, SparkSession

from spark_etl_cli_spark.session import local_frame
from spark_etl_cli_spark.sources.keygate import KeyGate, KeyStats


# Hudi's first bookkeeping meta column; stamped on COW base-file rows
# so incremental queries can filter "changed since instant T"
_HOODIE_TS_COL = "_hoodie_commit_time"


def is_hudi_table(table_path: str) -> bool:
    return os.path.isdir(os.path.join(table_path, ".hoodie"))


def _table_type(table_path: str) -> str:
    props = os.path.join(table_path, ".hoodie", "hoodie.properties")
    if os.path.exists(props):
        with open(props) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("hoodie.table.type="):
                    return line.split("=", 1)[1]
    return "COPY_ON_WRITE"


def _claim_instant(tdir: str, ts: str, action: str, body: dict) -> None:
    """Write the timeline file ``<ts>.<action>`` under ``tdir`` with
    ``O_CREAT|O_EXCL``: of two writers claiming one instant, the second
    raises ``FileExistsError`` and the first's file stays intact."""
    fd = os.open(
        os.path.join(tdir, f"{ts}.{action}"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    )
    with os.fdopen(fd, "w") as fh:
        json.dump(body, fh)


def _marker_ts() -> str:
    """Wall-clock instant time, to the millisecond, of a clean, restore
    or savepoint marker."""
    import time as _time

    return _time.strftime("%Y%m%d%H%M%S") + f"{int(_time.time()*1000)%1000:03d}"


def _claim_marker(table_path: str, action: str, body: dict) -> None:
    """Claim a clean/restore/savepoint marker at the current wall-clock
    instant, in ``.hoodie/timeline`` when the table has one (1.x
    layout), else in ``.hoodie``."""
    tdir = os.path.join(table_path, ".hoodie")
    if os.path.isdir(os.path.join(tdir, "timeline")):
        tdir = os.path.join(tdir, "timeline")
    _claim_instant(tdir, _marker_ts(), action, body)


def _completed_instants(table_path: str) -> list[tuple[str, str, str]]:
    """[(timestamp, action, path)] for completed commits, sorted by ts.

    Hudi 0.x names completed instants ``<ts>.commit``; 1.x uses
    ``<ts>_<completion-ts>.commit``. Both parse here. ``.inflight`` /
    ``.requested`` markers are in-progress and skipped; timeline may
    live in ``.hoodie/`` (0.x) or ``.hoodie/timeline/`` (1.x).
    """
    out = []
    for sub in ("", "timeline"):
        tdir = os.path.join(table_path, ".hoodie", sub)
        # deltacommit = MOR writes (base files on insert, .log on
        # update); COW timelines simply have none
        for action in ("commit", "replacecommit", "deltacommit"):
            for p in _glob.glob(os.path.join(tdir, f"*.{action}")):
                name = os.path.basename(p)[: -(len(action) + 1)]
                ts = name.split("_")[0]
                if ts.isdigit():
                    out.append((ts, action, p))
    return sorted(out)


def _hive_style_partition(part: str) -> dict[str, str | None] | None:
    """``key=val[/key2=val2]`` partition path → {col: value}, or None
    for non-hive layouts (``2021/01/01``) where column names are
    unrecoverable from the path alone. The hive null sentinel (and its
    textual 'None' twin from this module's own writer) map to SQL NULL
    so ``IS NULL`` predicates prune correctly."""
    if not part:
        return {}
    out: dict[str, str | None] = {}
    for seg in part.strip("/").split("/"):
        if "=" not in seg:
            return None
        k, v = seg.split("=", 1)
        out[k] = None if v in ("__HIVE_DEFAULT_PARTITION__", "None") else v
    return out


def _prune_partitions(
    spark: SparkSession, parts: set[str], where: str
) -> set[str] | None:
    """Partition paths kept by ``where``, or None when pruning can't
    apply (non-hive layout / predicate doesn't bind). Evaluated
    Spark-side per DISTINCT partition path; values are strings from the
    path — Spark's implicit casts make ``part = 5`` style predicates
    behave as the engine would."""
    from pyspark.sql import functions as F

    parsed = {p: _hive_style_partition(p) for p in parts}
    if any(v is None for v in parsed.values()):
        return None
    cols = sorted({k for v in parsed.values() for k in v})
    if not cols:
        return None
    rows = [
        tuple([p] + [parsed[p].get(c) for c in cols]) for p in sorted(parts)
    ]
    schema = "__hudi_part string, " + ", ".join(f"`{c}` string" for c in cols)
    try:
        kept_df = local_frame(spark, rows, schema).filter(F.expr(where))
        kept_df.columns  # force analysis
        return {r["__hudi_part"] for r in kept_df.collect()}
    except Exception:
        return None


def _load_commit_bodies(
    instants: list[tuple[str, str, str]],
) -> list[tuple[str, str, dict]]:
    """[(ts, action, parsed commit body)] — parse each timeline JSON
    exactly once so multi-pass readers (slices + incremental stats)
    share the I/O."""
    out = []
    for ts, action, path in instants:
        with open(path) as fh:
            out.append((ts, action, json.load(fh)))
    return out


def _live_file_slices(
    table_path: str,
    instants: list[tuple[str, str, str]],
    bodies: list[tuple[str, str, dict]] | None = None,
) -> dict[tuple[str, str], dict]:
    """Latest file slice per (partition, fileId) after timeline replay:
    ``{(part, fid): {"base": path|None, "base_ts": ts|None,
    "logs": [paths]}}``. Replacecommits drop whole file groups
    (clustering / insert_overwrite); a new BASE file for a fileId
    starts a new slice (compaction), so its accumulated log files
    reset. Pass pre-parsed ``bodies`` to share the JSON parse."""
    groups: dict[tuple[str, str], dict] = {}
    for ts, action, commit in (bodies or _load_commit_bodies(instants)):
        if action == "replacecommit":
            for part, fids in (
                commit.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    groups.pop((part, fid), None)
        for part, stats in (commit.get("partitionToWriteStats") or {}).items():
            for st in stats:
                fid = st.get("fileId") or st["path"]
                rel = st["path"]
                ent = groups.setdefault(
                    (part, fid), {"base": None, "base_ts": None, "logs": []}
                )
                if ".log." in os.path.basename(rel):
                    ent["logs"].append(os.path.join(table_path, rel))
                else:
                    ent["base"] = os.path.join(table_path, rel)
                    ent["base_ts"] = ts
                    ent["logs"] = []
    return groups


def _record_key_field(table_path: str) -> str | None:
    """The table's record key column(s) from ``hoodie.properties``
    (``hoodie.table.recordkey.fields``); None when absent. Composite
    keys return as the comma-joined field list — every keyed path
    joins on the canonical STRING key from :func:`_rk_expr`."""
    props = os.path.join(table_path, ".hoodie", "hoodie.properties")
    if os.path.exists(props):
        with open(props) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("hoodie.table.recordkey.fields="):
                    fields = [
                        c.strip()
                        for c in line.split("=", 1)[1].split(",")
                        if c.strip()
                    ]
                    return ",".join(fields) if fields else None
    return None


def _rk_fields(record_key: str) -> list[str]:
    """Record-key field list ('a' -> ['a'], 'a,b' -> ['a', 'b'])."""
    return [c.strip() for c in str(record_key).split(",") if c.strip()]


def _rk_expr(record_key: str):
    """Canonical STRING form of a row's record key — Hudi's HoodieKey:
    the raw value for a single key field, 'f1:v1,f2:v2' for composite
    keys (ComplexKeyGenerator convention). Delete log blocks store
    exactly this string, so the snapshot merge, the delete path, and
    the incremental decoder all agree. NULL if ANY key field is NULL
    (concat_ws would silently drop the null component otherwise)."""
    from pyspark.sql import functions as F

    fields = _rk_fields(record_key)
    if len(fields) == 1:
        return F.col(fields[0]).cast("string")
    any_null = F.lit(False)
    for f in fields:
        any_null = any_null | F.col(f).isNull()
    return F.when(~any_null, F.concat_ws(
        ",",
        *[F.concat(F.lit(f + ":"), F.col(f).cast("string")) for f in fields],
    ))


def _rk_py(record_key: str, rec: dict) -> str:
    """Python twin of :func:`_rk_expr` for decoded log records."""
    fields = _rk_fields(record_key)
    if len(fields) == 1:
        return str(rec.get(fields[0]))
    return ",".join(f"{f}:{rec.get(f)}" for f in fields)


def _mor_snapshot_df(
    spark: SparkSession,
    table_path: str,
    groups: dict[tuple[str, str], dict],
    key_field: str,
    keep_fid: bool = False,
) -> DataFrame:
    """Snapshot view of a MERGE_ON_READ table: per file group, replay
    the slice's log blocks over its base file — the latest record per
    (fileId, recordKey) wins, delete blocks tombstone.

    Spark-first shape: log files decode distributed (``mapInPandas``
    over a path frame, Arrow-batched — the codec path, same as
    avro_lite); the merge itself is a window + anti-join keyed on
    (fileId, key), so it shuffles on the group-local key, never
    all-pairs. At 100 TB the log side is the compaction-bounded
    un-compacted tail — orders of magnitude smaller than the base —
    and AQE broadcast-joins it when small.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    bases: dict[str, str] = {}  # abs base path -> fid
    logs: list[tuple[str, str, int]] = []  # (abs log path, fid, order)
    for (_part, fid), ent in sorted(groups.items()):
        if ent["base"]:
            bases[os.path.abspath(ent["base"])] = fid
        for i, lp in enumerate(ent["logs"]):
            logs.append((os.path.abspath(lp), fid, i))
    missing = [
        p for p in list(bases) + [l[0] for l in logs] if not os.path.exists(p)
    ]
    if missing:
        raise FileNotFoundError(
            f"hudi commit references missing files: {missing[:3]}"
        )
    norm = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    if bases:
        mapping = F.create_map(
            *[F.lit(x) for p, fid in sorted(bases.items()) for x in (p, fid)]
        )
        base_df = (
            spark.read.parquet(*sorted(bases))
            .withColumn("__fid", mapping[norm])
        )
        table_schema = T.StructType(
            [f for f in base_df.schema.fields if f.name != "__fid"]
        )
    else:
        # insert-only-to-log table: schema from the first data block
        from spark_etl_cli_spark.sources.avro_lite import avro_to_spark_type
        from spark_etl_cli_spark.sources.hudi_log import (
            AVRO_DATA_BLOCK,
            SCHEMA,
            read_log_blocks,
        )

        with open(logs[0][0], "rb") as fh:
            blks = read_log_blocks(fh.read())
        data_blk = next(
            (b for b in blks if b["type"] == AVRO_DATA_BLOCK), None
        )
        if data_blk is None:
            raise ValueError(
                f"hudi MOR table {table_path}: no base files and no "
                "data blocks to derive a schema from"
            )
        table_schema = avro_to_spark_type(
            json.loads(data_blk["header"][SCHEMA])
        )
        base_df = local_frame(spark, [], table_schema).withColumn(
            "__fid", F.lit(None).cast("string")
        )
    cols = table_schema.names
    missing_keys = [f for f in _rk_fields(key_field) if f not in cols]
    if missing_keys:
        raise ValueError(
            f"record key field(s) {missing_keys} not in table "
            f"columns {cols}"
        )
    out_cols = cols + (["__fid"] if keep_fid else [])
    if not logs:
        return base_df.select(*out_cols)

    out_schema = T.StructType(
        list(table_schema.fields)
        + [
            T.StructField("__rk", T.StringType()),
            T.StructField("__fid", T.StringType()),
            T.StructField("__ford", T.IntegerType()),
            T.StructField("__bidx", T.IntegerType()),
            T.StructField("__ridx", T.IntegerType()),
            T.StructField("__del", T.BooleanType()),
        ]
    )
    out_names = [f.name for f in out_schema.fields]
    paths_df = local_frame(
        spark, logs, "path string, fid string, ford int"
    )

    def decode(batches):
        import pandas as pd

        from spark_etl_cli_spark.sources.hudi_log import (
            DELETE_BLOCK,
            read_log_blocks,
        )

        for pdf in batches:
            for path, fid, ford in zip(pdf["path"], pdf["fid"], pdf["ford"]):
                with open(path, "rb") as fh:
                    blocks = read_log_blocks(fh.read())
                rows = []
                for bidx, blk in enumerate(blocks):
                    for ridx, rec in enumerate(blk["records"]):
                        if blk["type"] == DELETE_BLOCK:
                            row = dict.fromkeys(cols)
                            row["__rk"] = rec["recordKey"]
                            row["__del"] = True
                        else:
                            row = {c: rec.get(c) for c in cols}
                            row["__rk"] = None
                            row["__del"] = False
                        row["__fid"] = fid
                        row["__ford"] = int(ford)
                        row["__bidx"] = bidx
                        row["__ridx"] = ridx
                        rows.append(row)
                if rows:
                    yield pd.DataFrame.from_records(rows, columns=out_names)

    log_df = paths_df.repartition(min(len(logs), 64)).mapInPandas(
        decode, out_schema
    )
    # join key: the typed key column cast to string (data records), or
    # the delete record's recordKey string — Hudi record keys ARE
    # strings (HoodieKey.recordKey), so the string form is canonical
    keyed = log_df.withColumn(
        "__key",
        F.coalesce(_rk_expr(key_field), F.col("__rk")),
    )
    w = Window.partitionBy("__fid", "__key").orderBy(
        F.desc("__ford"), F.desc("__bidx"), F.desc("__ridx")
    )
    latest = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    superseded = latest.select("__fid", "__key")
    survivors = base_df.withColumn(
        "__key", _rk_expr(key_field)
    ).join(superseded, ["__fid", "__key"], "left_anti")
    upserts = latest.filter(~F.col("__del"))
    return survivors.select(*out_cols).unionByName(
        upserts.select(*out_cols)
    )


def read_hudi_lite(
    spark: SparkSession,
    table_path: str,
    as_of: str | None = None,
    view: str | None = None,
    where: str | None = None,
) -> DataFrame:
    """Snapshot read via timeline replay.

    COPY_ON_WRITE: latest base file per file group. MERGE_ON_READ:
    the default (snapshot) view merges each slice's ``.log`` blocks
    over its base file via ``_mor_snapshot_df``;
    ``view='read_optimized'`` serves the documented ``_ro`` view
    instead — latest BASE files only, un-compacted log updates not
    visible. MOR tables without a ``hoodie.table.recordkey.fields``
    property raise (the merge needs the record key).

    ``where``: SQL predicate; hive-style partition paths
    (``key=val/...``) prune the FILE LIST before any footer is opened,
    and the predicate is always applied to rows as well.
    """
    ttype = _table_type(table_path)
    read_optimized = view == "read_optimized"
    mor_snapshot = ttype != "COPY_ON_WRITE" and not read_optimized
    instants = _completed_instants(table_path)
    if as_of is not None:
        instants = [i for i in instants if i[0] <= str(as_of)]
    if not instants:
        raise ValueError(
            f"no completed Hudi commits under {table_path}/.hoodie"
            + (f" at or before {as_of}" if as_of else "")
        )
    groups = _live_file_slices(table_path, instants)
    if where:
        kept = _prune_partitions(spark, {p for p, _ in groups}, where)
        if kept is not None:
            groups = {k: v for k, v in groups.items() if k[0] in kept}
    if mor_snapshot and any(ent["logs"] for ent in groups.values()):
        key_field = _record_key_field(table_path)
        if not key_field:
            raise NotImplementedError(
                "hudi_lite MOR snapshot merge needs the record key: set "
                "hoodie.table.recordkey.fields in hoodie.properties, or "
                "pass view='read_optimized' for the base-file-only view"
            )
        df = _mor_snapshot_df(spark, table_path, groups, key_field)
    else:
        files = sorted(
            {ent["base"] for ent in groups.values() if ent["base"]}
        )
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            raise FileNotFoundError(
                f"hudi commit references missing base files: {missing[:3]}"
            )
        if not files:
            raise ValueError(
                f"hudi table {table_path} has no live base files"
                + (" matching the partition predicate" if where else "")
            )
        df = spark.read.parquet(*files)
    # drop Hudi's bookkeeping meta columns if present (the payload the
    # user wrote is everything after them)
    meta_cols = [c for c in df.columns if c.startswith("_hoodie_")]
    if meta_cols:
        df = df.drop(*meta_cols)
    return df.filter(where) if where else df


def read_hudi_incremental(
    spark: SparkSession,
    table_path: str,
    begin_instant: str,
    end_instant: str | None = None,
) -> DataFrame:
    """Hudi incremental query: rows INSERTED OR UPDATED by commits in
    ``(begin_instant, end_instant]`` — the latest state of each changed
    record, payload columns + ``_hoodie_commit_time``. Deleted rows
    simply don't appear (real Hudi's incremental contract).

    Only the LIVE slices (as of ``end_instant``) whose base instant
    falls in range are read, so a file group rewritten twice in range
    is read once at its latest slice. Within a rewritten slice,
    unchanged survivor rows carry their ORIGINAL ``_hoodie_commit_time``
    (the rewrite preserves the column) and are filtered out by
    ``> begin_instant``; rows whose commit time is unknown (files
    written before this module stamped the column) fail loudly for
    rewritten groups and pass whole for brand-new groups — never a
    silent wrong answer.

    MERGE_ON_READ tables resolve in-range changes from the LOG BLOCKS:
    every data/delete block carries its instant in the HoodieLogFormat
    header, so the changed-key set is (keys of in-range blocks) ∪
    (rows of new file groups whose base deltacommit is in range); the
    returned rows are the snapshot-as-of-``end_instant`` state of those
    keys, stamped with the latest in-range instant that touched them.
    Keys whose latest change is a delete vanish (the snapshot
    semi-join drops them) — the same contract as COW. Compaction
    commits contribute nothing (their rows are unchanged).
    """
    from pyspark.sql import functions as F

    if _table_type(table_path) == "MERGE_ON_READ":
        return _read_hudi_incremental_mor(
            spark, table_path, begin_instant, end_instant
        )
    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(
            f"no completed Hudi commits under {table_path}/.hoodie"
        )
    hi = str(end_instant) if end_instant is not None else instants[-1][0]
    lo = str(begin_instant)
    upto_end = [i for i in instants if i[0] <= hi]
    live_end = _live_file_slices(table_path, upto_end)
    live_begin = _live_file_slices(
        table_path, [i for i in instants if i[0] <= lo]
    )
    in_range: list[tuple[str, bool]] = []  # (base path, group_is_new)
    for (part, fid), ent in live_end.items():
        if not ent["base"] or not (lo < (ent["base_ts"] or "") <= hi):
            continue
        in_range.append(((ent["base"]), (part, fid) not in live_begin))
    schema_probe = read_hudi_lite(spark, table_path).limit(0)
    empty = schema_probe.select(
        F.lit(None).cast("string").alias(_HOODIE_TS_COL), "*"
    ).limit(0)
    if not in_range:
        return empty
    missing = [p for p, _ in in_range if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"hudi incremental: base files missing: {missing[:3]}"
        )
    import pyarrow.parquet as _pq

    unstamped = [
        p
        for p, _ in in_range
        if _HOODIE_TS_COL
        not in {f.name for f in _pq.read_schema(p)}
    ]
    action_of = {i[0]: i[1] for i in instants}
    base_ts_of = {
        ent["base"]: ent["base_ts"] for ent in live_end.values()
    }
    new_groups = {p for p, is_new in in_range if is_new}
    bad = [
        p
        for p in unstamped
        # sound only for brand-new groups born from a plain insert
        # commit; a replacecommit slice (delete survivors, clustering)
        # carries OLD rows under a new fileId
        if p not in new_groups
        or action_of.get(base_ts_of[p]) != "commit"
    ]
    if bad:
        raise ValueError(
            "hudi incremental: file slices without "
            f"{_HOODIE_TS_COL} (written by a pre-meta-column writer) "
            f"cannot distinguish changed rows: {bad[:3]} — run a "
            "snapshot read instead"
        )
    payload = [c for c in schema_probe.columns]
    pieces: list[DataFrame] = []
    stamped = [p for p, _ in in_range if p not in set(unstamped)]
    if stamped:
        pieces.append(
            spark.read.parquet(*stamped)
            .filter(F.col(_HOODIE_TS_COL) > F.lit(lo))
            .select(_HOODIE_TS_COL, *payload)
        )
    for p in unstamped:
        # brand-new legacy group: every row was inserted in range; its
        # commit time is the slice's base instant
        ts = next(
            ent["base_ts"]
            for ent in live_end.values()
            if ent["base"] == p
        )
        pieces.append(
            spark.read.parquet(p).select(
                F.lit(ts).alias(_HOODIE_TS_COL), *payload
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _read_hudi_incremental_mor(
    spark: SparkSession,
    table_path: str,
    begin_instant: str,
    end_instant: str | None = None,
) -> DataFrame:
    """MOR incremental query: changed keys from in-range log blocks
    (header instants) + rows of new in-range deltacommit file groups,
    served at their snapshot-as-of-``end_instant`` state. Distributed:
    log decoding runs in ``mapInPandas`` over a path frame, the
    changed-key set joins the snapshot on (fileId, key) — no key list
    ever reaches the driver."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    record_key = _record_key_field(table_path)
    if not record_key:
        raise NotImplementedError(
            "hudi_lite MOR incremental needs hoodie.table.recordkey.fields"
        )
    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(
            f"no completed Hudi commits under {table_path}/.hoodie"
        )
    hi = str(end_instant) if end_instant is not None else instants[-1][0]
    lo = str(begin_instant)
    upto_end = [i for i in instants if i[0] <= hi]
    bodies = _load_commit_bodies(upto_end)
    groups = _live_file_slices(table_path, upto_end, bodies=bodies)
    snapshot = _mor_snapshot_df(
        spark, table_path, groups, record_key, keep_fid=True
    )
    # the data-block decoder renders keys in PYTHON (_rk_py) and joins
    # them against Spark-rendered keys (_rk_expr); the two string forms
    # agree only for string/integral key fields (str(datetime) carries
    # trailing-zero microseconds Spark's cast drops, str(True) != 'true',
    # large doubles differ in exponent form) — refuse anything else
    # rather than silently dropping changed rows from the pull
    bad_key_types = [
        (f.name, f.dataType.simpleString())
        for f in snapshot.schema.fields
        if f.name in set(_rk_fields(record_key))
        and not isinstance(
            f.dataType,
            (T.StringType, T.ByteType, T.ShortType,
             T.IntegerType, T.LongType),
        )
    ]
    if bad_key_types:
        raise NotImplementedError(
            "hudi_lite MOR incremental needs string/integer record-key "
            f"fields; got {bad_key_types} (python and Spark string "
            "renderings diverge for these types)"
        )
    payload = [c for c in snapshot.columns if c != "__fid"]
    empty = snapshot.select(
        F.lit(None).cast("string").alias(_HOODIE_TS_COL), *payload
    ).limit(0)

    # One timeline pass collecting, per live file group:
    #   - log files RECORDED by an in-range deltacommit (every append
    #     re-records its log path in that commit's write stats, so this
    #     is exactly the set of files that can hold in-range blocks).
    #     The LIVE slice's log list is the wrong source here: a
    #     compaction inside (lo, hi] starts a new slice and RESETS the
    #     accumulated logs, silently dropping pre-compaction in-range
    #     changes (r6 ADVICE, high).
    #   - the group's CREATION instant (first base file in the
    #     timeline). The live slice's base_ts is the wrong source for
    #     "new group in range": a compaction replaces it with the
    #     compaction's own 'commit' instant, dropping groups that were
    #     inserted and then compacted inside the range.
    live_fids = {fid for (_part, fid) in groups}
    log_set: set[tuple[str, str]] = set()
    created: dict[tuple[str, str], tuple[str, str]] = {}
    for c_ts, c_action, c_commit in bodies:
        for c_part, c_stats in (
            c_commit.get("partitionToWriteStats") or {}
        ).items():
            for st in c_stats:
                c_fid = st.get("fileId") or st["path"]
                if ".log." in os.path.basename(st["path"]):
                    if (
                        c_action == "deltacommit"
                        and lo < c_ts <= hi
                        and c_fid in live_fids
                    ):
                        log_set.add((
                            os.path.abspath(
                                os.path.join(table_path, st["path"])
                            ),
                            c_fid,
                        ))
                else:
                    created.setdefault((c_part, c_fid), (c_ts, c_action))

    # (a) keys touched by in-range log blocks, with the block instant
    # (the block-header instant filter below selects the in-range rows
    # out of files that also carry blocks from other instants)
    logs = sorted(log_set)
    key_pieces = []
    if logs:
        paths_df = local_frame(spark, logs, "path string, fid string")

        def decode_keys(batches):
            import pandas as pd

            from spark_etl_cli_spark.sources.hudi_log import (
                DELETE_BLOCK,
                INSTANT_TIME,
                read_log_blocks,
            )

            for pdf in batches:
                rows = []
                for path, fid in zip(pdf["path"], pdf["fid"]):
                    with open(path, "rb") as fh:
                        blocks = read_log_blocks(fh.read())
                    for blk in blocks:
                        ts = blk["header"].get(INSTANT_TIME) or ""
                        if not (lo < ts <= hi):
                            continue
                        for rec in blk["records"]:
                            key = (
                                rec["recordKey"]
                                if blk["type"] == DELETE_BLOCK
                                else _rk_py(record_key, rec)
                            )
                            rows.append(
                                {"__fid": fid, "__key": key,
                                 "__instant": ts}
                            )
                if rows:
                    yield pd.DataFrame.from_records(
                        rows,
                        columns=["__fid", "__key", "__instant"],
                    )

        key_pieces.append(
            paths_df.repartition(min(len(logs), 64)).mapInPandas(
                decode_keys,
                "__fid string, __key string, __instant string",
            )
        )
    # (b) rows of file groups CREATED by an in-range deltacommit
    # (inserts; compaction/replace commits rewrite unchanged rows and
    # are excluded by the creation-action check — and because creation
    # is the FIRST base instant, a later in-range compaction cannot
    # mask an in-range insert)
    new_fids = {
        fid: created[(part, fid)][0]
        for (part, fid), ent in groups.items()
        if ent["base"]
        and (part, fid) in created
        and lo < created[(part, fid)][0] <= hi
        and created[(part, fid)][1] == "deltacommit"
    }
    if new_fids:
        fid_ts = local_frame(
            spark, sorted(new_fids.items()), "__fid string, __instant string"
        )
        key_pieces.append(
            snapshot.join(F.broadcast(fid_ts), "__fid")
            .select(
                "__fid",
                _rk_expr(record_key).alias("__key"),
                "__instant",
            )
        )
    if not key_pieces:
        return empty
    changed = key_pieces[0]
    for p in key_pieces[1:]:
        changed = changed.unionByName(p)
    changed = changed.groupBy("__fid", "__key").agg(
        F.max("__instant").alias(_HOODIE_TS_COL)
    )
    return (
        snapshot.withColumn("__key", _rk_expr(record_key))
        .join(changed, ["__fid", "__key"])
        .select(_HOODIE_TS_COL, *payload)
    )


# --- engine-free WRITER (COW) ---------------------------------------------
# insert (new file groups per commit), insert_overwrite_table
# (replacecommit), and record-key UPSERT: affected file groups located
# by a distributed semi-join over _metadata.file_path (the lite
# stand-in for Hudi's bloom index) and rewritten as new file slices;
# untouched groups are never read past the key probe or rewritten.


# the write's partition directory of incoming rows (``__fid`` NULL)
_INCOMING_DIR = "__fid=__HIVE_DEFAULT_PARTITION__"


def _upsert_probe(
    df: DataFrame,
    table_path: str,
    record_key: str,
    live: dict[tuple[str, str], str],
) -> tuple[list[str], dict[str, tuple[str, str]]]:
    """The live base files holding an incoming key, and every live
    file's (partition, fileId) by normalized absolute path.

    One distributed semi-join over ``_metadata.file_path`` — the lite
    stand-in for Hudi's bloom index; groups with no matching key are
    never read past it and never rewritten.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    loc: dict[str, tuple[str, str]] = {}
    for (part, fid), rel in live.items():
        loc[os.path.abspath(os.path.join(table_path, rel))] = (part, fid)
    keys = df.select(_rk_expr(record_key).alias("__k"))
    base = spark.read.parquet(*sorted(loc)).select(
        _rk_expr(record_key).alias("__k"),
        F.regexp_replace(
            F.col("_metadata.file_path"), "^file:/+", "/"
        ).alias("__path"),
    )
    affected = sorted(
        r["__path"]
        for r in base.join(keys, "__k", "left_semi")
        .select("__path")
        .distinct()
        .collect()
    )
    return affected, loc


def _upsert_remaining(
    df: DataFrame, record_key: str, affected: list[str], fid_of: dict
) -> DataFrame:
    """The rows of the affected file groups the upsert keeps (minus the
    incoming keys), with their group's ``__fid``, repartitioned by it
    so each group lands as exactly ONE new base file (a file slice is
    one base file per (fileId, instant))."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    norm_path = F.regexp_replace(
        F.col("_metadata.file_path"), "^file:/+", "/"
    )
    keys = df.select(_rk_expr(record_key).alias("__k"))
    mapping = F.create_map(
        *[F.lit(x) for p in affected for x in (p, fid_of[p])]
    )
    remaining = (
        spark.read.option("mergeSchema", "true")
        .parquet(*affected)
        .withColumn("__fid", mapping[norm_path])
        .withColumn("__k", _rk_expr(record_key))
        .join(keys, "__k", "left_anti")
        .drop("__k")
    )
    # survivors keep their ORIGINAL _hoodie_commit_time (they did not
    # change in this commit); files predating the meta column read null
    if _HOODIE_TS_COL not in remaining.columns:
        remaining = remaining.select(
            F.lit(None).cast("string").alias(_HOODIE_TS_COL), "*"
        )
    # uniform column order across slices: meta column first, then the
    # incoming frame's payload order
    payload = [c for c in df.columns if c != _HOODIE_TS_COL]
    return remaining.select(_HOODIE_TS_COL, *payload, "__fid").repartition(
        "__fid"
    )


def _place_rewrites(
    data_dir: str,
    table_path: str,
    ts: str,
    commit_uuid: str,
    schema,
    spark: SparkSession,
    affected: list[str],
    loc: dict[str, tuple[str, str]],
) -> dict[str, list[dict]]:
    """Move each affected group's new base file from the write's
    ``__fid=<fileId>`` directory into its partition as the group's new
    file slice. Returns {partition: [write stats]} with the ORIGINAL
    fileIds, so latest-slice-wins replay hides the old slices."""
    import shutil

    out: dict[str, list[dict]] = {}
    for p in affected:
        part, fid = loc[p]
        fid_dir = os.path.join(data_dir, f"__fid={fid}")
        new_name = f"{fid}_{ts}_{commit_uuid[:8]}.parquet"
        dst_dir = os.path.join(table_path, part) if part else table_path
        os.makedirs(dst_dir, exist_ok=True)
        dst = os.path.join(dst_dir, new_name)
        parts = sorted(
            f
            for f in _glob.glob(
                os.path.join(fid_dir, "**", "*.parquet"), recursive=True
            )
            if not os.path.basename(f).startswith("_")
        )
        if parts:
            shutil.move(parts[0], dst)
        else:
            # every row of this group was upserted away: the new
            # slice is an EMPTY base file (schema-only parquet)
            local_frame(spark, [], schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(fid_dir + "_empty")
            empty = next(
                f
                for f in os.listdir(fid_dir + "_empty")
                if f.endswith(".parquet") and not f.startswith("_")
            )
            shutil.move(os.path.join(fid_dir + "_empty", empty), dst)
            shutil.rmtree(fid_dir + "_empty")
        shutil.rmtree(fid_dir, ignore_errors=True)
        out.setdefault(part, []).append(
            {
                "fileId": fid,
                "path": os.path.relpath(dst, table_path),
                "numWrites": None,
                "fileSizeInBytes": os.path.getsize(dst),
            }
        )
    return out


def _table_partition_fields(table_path: str) -> list[str]:
    props = os.path.join(table_path, ".hoodie", "hoodie.properties")
    if os.path.exists(props):
        with open(props) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("hoodie.table.partition.fields="):
                    raw = line.split("=", 1)[1]
                    return [c for c in raw.split(",") if c]
    return []


def write_hudi_lite(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    record_key: str | None = None,
    partition_by: list[str] | None = None,
    table_type: str = "COPY_ON_WRITE",
) -> str:
    """Hudi commit; returns the new instant timestamp.

    ``mode``: append | overwrite | upsert.
    - overwrite = replacecommit replacing ALL prior file groups
      (insert_overwrite_table).
    - upsert (requires ``record_key``): incoming rows REPLACE existing
      rows with the same key and insert the rest. On COPY_ON_WRITE:
      every file group containing a matching key gets a NEW file slice
      holding its rows minus the incoming keys (latest-slice-wins
      makes the old slice invisible), and the full incoming frame
      lands as a new file group — together exactly
      ``(old − keys) ∪ incoming``. Key-to-file-group location uses a
      distributed semi-join over ``_metadata.file_path`` (the lite
      stand-in for Hudi's bloom index); unaffected groups are NOT
      rewritten. On MERGE_ON_READ: matched rows become AVRO data
      blocks APPENDED to the affected groups' log files (zero base
      bytes rewritten — ``_mor_upsert_commit``), the rest a new file
      group, all in one deltacommit. Incoming keys must be unique (no
      precombine field) — duplicate keys raise instead of picking a
      silent winner.

    ``table_type``: COPY_ON_WRITE | MERGE_ON_READ, applied when the
    table is CREATED (persisted to hoodie.properties together with
    ``record_key`` as hoodie.table.recordkey.fields); existing tables
    keep their recorded type. MOR inserts commit as ``deltacommit``,
    matching the real writer's timeline.

    ``partition_by``: hive-style partitioning. Files land per
    partition value but — matching Hudi, which never strips partition
    columns — still CONTAIN the columns (the split uses shadow
    columns, dropped by partitionBy). The commit stats are keyed by
    the canonical ``col=val[/..]`` partition path, which is exactly
    what the reader's ``?where=`` pruning consumes. Recorded in
    hoodie.properties (``hoodie.table.partition.fields``); appends and
    upserts must keep the table's partitioning.
    """
    import uuid as _uuid

    if mode not in ("append", "overwrite", "upsert"):
        raise ValueError(
            f"hudi_lite mode must be append|overwrite|upsert, got {mode!r}"
        )
    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(
            f"hudi_lite table_type must be COPY_ON_WRITE|MERGE_ON_READ, "
            f"got {table_type!r}"
        )
    if mode == "upsert" and not record_key:
        raise ValueError("hudi_lite upsert needs record_key=<column>")

    def bad_keys(s: KeyStats) -> None:
        if s.nulls or s.max_per_key > 1:
            raise ValueError(
                f"hudi_lite upsert: incoming {record_key!r} values must be "
                "unique and non-null (no precombine field is emulated); "
                f"first offender: {s.offender!r}"
            )

    # the key gate rides on the data write and is checked before the
    # commit (a MOR upsert runs it on its own)
    gate = KeyGate(_rk_fields(record_key), bad_keys) if mode == "upsert" else None
    fresh = not os.path.exists(table_path)
    hoodie = os.path.join(table_path, ".hoodie")
    os.makedirs(hoodie, exist_ok=True)
    props = os.path.join(hoodie, "hoodie.properties")
    new_props = not os.path.exists(props)
    if new_props:
        with open(props, "w") as fh:
            fh.write(
                "hoodie.table.name=%s\nhoodie.table.type=%s\n"
                % (os.path.basename(os.path.normpath(table_path)), table_type)
            )
            if record_key:
                fh.write(f"hoodie.table.recordkey.fields={record_key}\n")
            if partition_by:
                fh.write(
                    "hoodie.table.partition.fields=%s\n"
                    % ",".join(partition_by)
                )
    else:
        table_type = _table_type(table_path)
        table_parts = _table_partition_fields(table_path)
        if partition_by is None:
            partition_by = table_parts or None
        elif list(partition_by) != table_parts:
            raise ValueError(
                f"partition_by={partition_by} != table partitioning "
                f"{table_parts}"
            )
    is_mor = _table_type(table_path) == "MERGE_ON_READ"
    pcols = list(partition_by or [])
    missing_cols = [c for c in pcols if c not in df.columns]
    if missing_cols:
        raise ValueError(f"partition_by columns not in frame: {missing_cols}")

    prior = _completed_instants(table_path)
    if mode == "upsert" and prior:
        # a mismatched key silently merges on the WRONG column (and MOR
        # delete blocks store the TABLE key's string form) — refuse
        tbl_rk = _record_key_field(table_path)
        if tbl_rk and _rk_fields(tbl_rk) != _rk_fields(record_key):
            raise ValueError(
                f"hudi_lite upsert record_key={record_key!r} != the "
                f"table's hoodie.table.recordkey.fields={tbl_rk!r}"
            )
    # instants are ordered timestamps; derive the next one from the
    # prior tail so commits stay monotonic without wall-clock reads
    ts = f"{int(prior[-1][0]) + 1:014d}" if prior else f"{10**13:014d}"

    commit_uuid = _uuid.uuid4().hex
    if mode == "upsert" and prior and is_mor:
        gate.check(df)
        return _mor_upsert_commit(
            df, table_path, ts, record_key, pcols, commit_uuid
        )

    def _live_map() -> dict[tuple[str, str], str]:
        live: dict[tuple[str, str], str] = {}
        for pts, pact, ppath in prior:
            with open(ppath) as fh:
                c = json.load(fh)
            if pact == "replacecommit":
                for part, fids in (c.get("partitionToReplaceFileIds") or {}).items():
                    for fid in fids:
                        live.pop((part, fid), None)
            for part, sts in (c.get("partitionToWriteStats") or {}).items():
                for st in sts:
                    live[(part, st.get("fileId") or st["path"])] = st["path"]
        return live

    # upsert into a live COW table: a probe, then ONE job writes the
    # incoming file groups together with the rewritten ones
    affected: list[str] = []
    live = _live_map() if mode == "upsert" and prior else {}
    if live:
        affected, loc = _upsert_probe(df, table_path, record_key, live)
    if not is_mor:
        # real Hudi stamps every base-file row with its commit instant
        # (_hoodie_commit_time, first meta column); incremental reads
        # filter on it. Unchanged rows in upsert/delete rewrites keep
        # their ORIGINAL instant (the rewrite copies the column). MOR
        # base files stay unstamped — their log blocks carry no meta
        # columns and the snapshot merge needs aligned schemas.
        from pyspark.sql import functions as F

        if _HOODIE_TS_COL in df.columns:
            df = df.drop(_HOODIE_TS_COL)
        df = df.select(F.lit(ts).alias(_HOODIE_TS_COL), "*")
    data_dir = os.path.join(table_path, f"data_{ts}_{commit_uuid[:8]}")
    stamped = df
    if gate is not None:
        df = gate.windowed(df)
    if affected:
        from pyspark.sql import functions as F

        df = df.withColumn("__fid", F.lit(None).cast("string")).unionByName(
            _upsert_remaining(
                stamped, record_key, affected,
                {p: loc[p][1] for p in affected},
            )
        )
    # rewritten groups land under __fid=<fileId>, incoming rows under
    # the NULL fileId's directory
    fid_part = ["__fid"] if affected else []
    if pcols:
        # shadow columns drive the directory split so the REAL columns
        # stay in the data files (Hudi never strips partition columns)
        from pyspark.sql import functions as F
        from urllib.parse import unquote as _uq

        shadow = {c: f"__hp_{c}" for c in pcols}
        df2 = df
        for c, s in shadow.items():
            df2 = df2.withColumn(s, F.col(c))
        df2.write.partitionBy(*fid_part, *shadow.values()).parquet(data_dir)

        def _part_key(path: str) -> str:
            rel = os.path.relpath(os.path.dirname(path), data_dir)
            raw = {}
            for seg in ([] if rel == "." else rel.split(os.sep)):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    raw[k.removeprefix("__hp_")] = _uq(v)
            return "/".join(f"{c}={raw.get(c)}" for c in pcols)
    else:
        df.write.partitionBy(*fid_part).parquet(data_dir)

        def _part_key(path: str) -> str:
            return ""

    if gate is not None:
        try:
            gate.check()
        except ValueError:
            import shutil

            shutil.rmtree(table_path if fresh else data_dir)
            if new_props and not fresh:
                shutil.rmtree(hoodie)
            raise
    rewrites = {}
    if affected:
        rewrites = _place_rewrites(
            data_dir, table_path, ts, commit_uuid, stamped.schema,
            df.sparkSession, affected, loc,
        )
        incoming_dir = os.path.join(data_dir, _INCOMING_DIR)
        if os.path.isdir(incoming_dir):
            for name in os.listdir(incoming_dir):
                os.rename(
                    os.path.join(incoming_dir, name),
                    os.path.join(data_dir, name),
                )
            os.rmdir(incoming_dir)

    per_part: dict[str, list[dict]] = {}
    for f in sorted(
        _glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    ):
        import pyarrow.parquet as _pq

        if _pq.ParquetFile(f).metadata.num_rows == 0:
            continue  # empty task outputs bloat the timeline for no rows
        rel = os.path.relpath(f, table_path)
        per_part.setdefault(_part_key(f), []).append({
            "fileId": f"fg-{_uuid.uuid4().hex[:12]}",
            "path": rel,
            "numWrites": None,
            "fileSizeInBytes": os.path.getsize(f),
        })
    body: dict = {"partitionToWriteStats": per_part or {"": []}}
    # MOR inserts land in the timeline as deltacommits (the real
    # writer's shape); replacecommit below overrides for overwrite
    action = "deltacommit" if is_mor else "commit"
    if mode == "overwrite" and prior:
        # replace every live file group as of the prior snapshot
        replaced: dict[str, list[str]] = {}
        for part, fid in _live_map():
            replaced.setdefault(part, []).append(fid)
        body["partitionToReplaceFileIds"] = replaced
        action = "replacecommit"
    for part, sts in rewrites.items():
        body["partitionToWriteStats"].setdefault(part, []).extend(sts)
    # O_EXCL commit claim: two racing writers can't both win the instant
    _claim_instant(hoodie, ts, action, body)
    return ts


def _pd_clean(value):
    """pandas/numpy scalar → plain python (for the avro encoder)."""
    if value is None or (isinstance(value, float) and value != value):
        return None
    if hasattr(value, "to_pydatetime"):
        return value.to_pydatetime()
    if hasattr(value, "item"):
        return value.item()
    return value


def _mor_log_targets(
    groups: dict[tuple[str, str], dict],
) -> dict[str, tuple[str, str]]:
    """Per fileId: (partition path, RELATIVE path of the NEXT log file
    in its current slice). A fresh log file per commit (version = #logs
    + 1) keeps writers contention-free and matches the real writer's
    rollover naming ``.{fid}_{baseInstant}.log.{version}``."""
    out: dict[str, tuple[str, str]] = {}
    for (part, fid), ent in groups.items():
        if ent["base"] is None:
            continue  # log-only foreign group: no base instant to name by
        name = f".{fid}_{ent['base_ts']}.log.{len(ent['logs']) + 1}"
        rel = os.path.join(part, name) if part else name
        out[fid] = (part, rel)
    return out


def _mor_upsert_commit(
    df: DataFrame,
    table_path: str,
    ts: str,
    record_key: str,
    pcols: list[str],
    commit_uuid: str,
) -> str:
    """MERGE_ON_READ upsert: matched rows append as AVRO data blocks to
    their file group's log (zero base bytes rewritten), unmatched rows
    land as a new file group — one deltacommit covers both.

    Distributed shape: location is one join of the incoming frame
    against the merged snapshot's (key, fileId) projection; the log
    append runs inside ``mapInPandas`` after ``repartition(__fid)``,
    so each log file has exactly ONE writing task (hash partitioning
    puts a fileId in one partition) — the same single-writer-per-file
    discipline the real log writer enforces with rollover tokens. Only
    per-file STATS rows return to the driver.
    """
    from pyspark.sql import functions as F

    from spark_etl_cli_spark.sources.avro_lite import spark_to_avro_schema

    spark = df.sparkSession
    instants = _completed_instants(table_path)
    groups = _live_file_slices(table_path, instants)
    merged = _mor_snapshot_df(
        spark, table_path, groups, record_key, keep_fid=True
    )
    table_cols = [c for c in merged.columns if c != "__fid"]
    if list(df.columns) != table_cols:
        raise ValueError(
            f"MOR upsert schema {list(df.columns)} does not match table "
            f"columns {table_cols}"
        )
    targets = _mor_log_targets(groups)
    # partitioned tables: partition columns live inside the rows, so a
    # matched row's log block lands in its group's existing partition
    # path with no extra routing. An update that MOVES a key across
    # partitions becomes delete-in-old-group (a DELETE log block) +
    # insert-in-new-partition (a new file group), BOTH under this one
    # deltacommit — the timeline instant is claimed O_EXCL after every
    # file lands, so readers never see the half-applied state and a
    # crashed writer leaves only orphan files outside the timeline.
    key_fid = merged.select(
        _rk_expr(record_key).alias("__k"),
        "__fid",
        *[F.col(c).alias(f"__old_{c}") for c in pcols],
    ).distinct()
    incoming = df.withColumn("__k", _rk_expr(record_key))
    matched = incoming.join(key_fid, "__k", "inner").drop("__k")
    moved_rows = None
    if pcols:
        same_part = F.expr(
            " AND ".join(f"(`{c}` <=> `__old_{c}`)" for c in pcols)
        )
        moved_rows = matched.filter(~same_part).select(*df.columns, "__fid")
        matched = matched.filter(same_part)
    matched = matched.drop(*[f"__old_{c}" for c in pcols])
    unmatched = incoming.join(key_fid.select("__k"), "__k", "left_anti").drop(
        "__k"
    )
    if moved_rows is not None:
        # the moved rows' NEW versions insert like unmatched rows —
        # they land hive-split under their new partition values
        unmatched = unmatched.unionByName(moved_rows.select(*df.columns))

    avro_schema = spark_to_avro_schema(df.schema)
    schema_json = json.dumps(avro_schema)
    cols = list(df.columns)

    def append_blocks(batches):
        import pandas as pd

        from spark_etl_cli_spark.sources.hudi_log import append_data_block

        schema = json.loads(schema_json)
        for pdf in batches:
            for fid, g in pdf.groupby("__fid"):
                part, rel = targets[fid]
                path = os.path.join(table_path, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                recs = [
                    {k: _pd_clean(v) for k, v in rec.items()}
                    for rec in g[cols].to_dict("records")
                ]
                append_data_block(path, recs, schema, ts)
                yield pd.DataFrame(
                    [{"fid": fid, "part": part, "rel": rel,
                      "rows": len(recs)}]
                )

    stats = (
        matched.repartition("__fid")
        .mapInPandas(append_blocks, "fid string, part string, rel string, rows long")
        .collect()
    )

    if moved_rows is not None:
        # DELETE blocks tombstone the moved keys in their OLD groups
        # (same log files, same instant); runs AFTER the data-block job
        # so the two single-writer-per-fid jobs never interleave on a
        # shared log file, and file sizes are final at stats-merge time
        def append_move_deletes(batches):
            import pandas as pd

            from spark_etl_cli_spark.sources.hudi_log import (
                append_delete_block,
            )

            for pdf in batches:
                for fid, g in pdf.groupby("__fid"):
                    part, rel = targets[fid]
                    path = os.path.join(table_path, rel)
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    dkeys = [(str(k), part or None) for k in g["__rk"]]
                    append_delete_block(path, dkeys, ts)
                    yield pd.DataFrame(
                        [{"fid": fid, "part": part, "rel": rel,
                          "rows": len(dkeys)}]
                    )

        stats += (
            moved_rows.select(
                _rk_expr(record_key).alias("__rk"), "__fid"
            )
            .repartition("__fid")
            .mapInPandas(
                append_move_deletes,
                "fid string, part string, rel string, rows long",
            )
            .collect()
        )

    per_part: dict[str, list[dict]] = {}
    seen: dict[str, dict] = {}
    for r in stats:
        ent = seen.get(r["fid"])
        if ent is None:
            abs_path = os.path.join(table_path, r["rel"])
            ent = {
                "fileId": r["fid"],
                "path": r["rel"],
                "numWrites": 0,
                "fileSizeInBytes": os.path.getsize(abs_path),
            }
            seen[r["fid"]] = ent
            per_part.setdefault(r["part"], []).append(ent)
        ent["numWrites"] += r["rows"]

    # unmatched rows: new file groups in the same deltacommit, split
    # hive-style per partition (same shadow-column convention as the
    # COW writer: directories split, rows keep the real columns)
    import uuid as _uuid

    data_dir = os.path.join(table_path, f"data_{ts}_{commit_uuid[:8]}")
    if pcols:
        from urllib.parse import unquote as _uq

        shadow = {c: f"__hp_{c}" for c in pcols}
        un2 = unmatched
        for c, s in shadow.items():
            un2 = un2.withColumn(s, F.col(c))
        un2.write.partitionBy(*shadow.values()).parquet(data_dir)

        def _part_key(path: str) -> str:
            rel = os.path.relpath(os.path.dirname(path), data_dir)
            raw = {}
            for seg in ([] if rel == "." else rel.split(os.sep)):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    raw[k.removeprefix("__hp_")] = _uq(v)
            return "/".join(f"{c}={raw.get(c)}" for c in pcols)
    else:
        unmatched.write.parquet(data_dir)

        def _part_key(path: str) -> str:
            return ""
    import pyarrow.parquet as _pq

    for f in sorted(
        _glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    ):
        if _pq.ParquetFile(f).metadata.num_rows == 0:
            continue
        per_part.setdefault(_part_key(f), []).append({
            "fileId": f"fg-{_uuid.uuid4().hex[:12]}",
            "path": os.path.relpath(f, table_path),
            "numWrites": None,
            "fileSizeInBytes": os.path.getsize(f),
        })

    body = {"partitionToWriteStats": per_part or {"": []}}
    _claim_instant(
        os.path.join(table_path, ".hoodie"), ts, "deltacommit", body
    )
    return ts


def _mor_delete_commit(
    spark: SparkSession,
    table_path: str,
    where: str | None,
    keys: DataFrame | None = None,
) -> dict:
    """MERGE_ON_READ DELETE: append DELETE blocks naming the matched
    record keys to the affected groups' log files — nothing rewritten,
    one deltacommit. Same single-writer-per-log discipline as
    ``_mor_upsert_commit``; NULL-predicate rows are KEPT. ``keys``
    (one column, record-key values) deletes by key instead of by
    predicate — the natural MOR shape, since delete blocks carry keys."""
    from pyspark.sql import functions as F

    record_key = _record_key_field(table_path)
    if not record_key:
        raise NotImplementedError(
            "hudi_lite MOR DELETE needs hoodie.table.recordkey.fields"
        )
    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(
            f"no completed Hudi commits under {table_path}/.hoodie"
        )
    groups = _live_file_slices(table_path, instants)
    merged = _mor_snapshot_df(
        spark, table_path, groups, record_key, keep_fid=True
    )
    targets = _mor_log_targets(groups)
    rk_fields = _rk_fields(record_key)
    if keys is not None:
        if len(rk_fields) == 1:
            victims = merged.join(
                keys.select(F.col(keys.columns[0]).alias(rk_fields[0])),
                rk_fields[0],
                "left_semi",
            )
        else:
            missing = [f for f in rk_fields if f not in keys.columns]
            if missing:
                raise ValueError(
                    "hudi_lite delete by keys on a composite record key "
                    f"needs columns {rk_fields}; missing {missing}"
                )
            victims = merged.join(
                keys.select(*rk_fields).distinct(), rk_fields, "left_semi"
            )
    else:
        victims = merged.filter(F.coalesce(F.expr(where), F.lit(False)))
    victims = victims.select(
        _rk_expr(record_key).alias("__rk"), "__fid"
    )

    def append_deletes(batches):
        import pandas as pd

        from spark_etl_cli_spark.sources.hudi_log import append_delete_block

        for pdf in batches:
            for fid, g in pdf.groupby("__fid"):
                part, rel = targets[fid]
                path = os.path.join(table_path, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                keys = [(str(k), part or None) for k in g["__rk"]]
                append_delete_block(path, keys, ts)
                yield pd.DataFrame(
                    [{"fid": fid, "part": part, "rel": rel,
                      "rows": len(keys)}]
                )

    ts = f"{int(instants[-1][0]) + 1:014d}"
    stats = (
        victims.repartition("__fid")
        .mapInPandas(
            append_deletes, "fid string, part string, rel string, rows long"
        )
        .collect()
    )
    zero = {"files_rewritten": 0, "files_added": 0, "rows_deleted": 0}
    if not stats:
        return zero
    per_part: dict[str, list[dict]] = {}
    seen: dict[str, dict] = {}
    n_rows = 0
    for r in stats:
        n_rows += r["rows"]
        ent = seen.get(r["fid"])
        if ent is None:
            ent = {
                "fileId": r["fid"],
                "path": r["rel"],
                "numWrites": 0,
                "fileSizeInBytes": os.path.getsize(
                    os.path.join(table_path, r["rel"])
                ),
            }
            seen[r["fid"]] = ent
            per_part.setdefault(r["part"], []).append(ent)
        ent["numWrites"] += r["rows"]
    body = {"partitionToWriteStats": per_part}
    _claim_instant(
        os.path.join(table_path, ".hoodie"), ts, "deltacommit", body
    )
    return {
        "files_rewritten": 0,
        "files_added": len(seen),
        "rows_deleted": n_rows,
    }


def apply_changes_hudi_lite(
    changes: DataFrame,
    table_path: str,
    on: str,
    sequence_col: str | None = None,
) -> dict:
    """Apply a change feed (table columns + ``_change_type``
    [+ ``_commit_version``]) to a Hudi table — the hudi face of
    delta's ``?mode=cdc`` sink. Latest change per key wins
    (operators/cdc.py); the survivors upsert through the record-key
    writer (COW slice rewrites / MOR log blocks) and the deleted keys
    go through the key-based DELETE (COW replacecommit / MOR delete
    blocks) — two timeline instants, each individually atomic.

    GUARANTEE (weaker than the delta cdc sink's exactly-once txn
    contract, by design of Hudi's timeline): **at-least-once with
    convergence**, not atomic-per-batch. A reader between the two
    instants sees the upserts without the deletes (the multi-writer
    table-service gap Hudi itself has without a lock provider); a
    crash between them leaves the deletes unapplied until the
    streaming restart replays the whole batch — both halves are
    key-idempotent, so the replay converges to the correct snapshot,
    but the intermediate (upserts-without-deletes) state was
    reader-visible in the meantime. Callers needing an atomic
    replica should target the delta ``?mode=cdc`` sink and export to
    hudi afterwards.
    """
    from spark_etl_cli_spark.operators.cdc import (
        apply_changes_snapshot,
        resolve_cdc_sequence,
    )
    from pyspark.sql import functions as F

    meta_cols = ("_commit_version", "_commit_timestamp")
    # an explicit sequence column that is NOT a column of the existing
    # table is transport metadata (Debezium ts_ms/lsn): order by it,
    # keep it out of the written rows
    seq_meta: set[str] = set()
    if sequence_col and is_hudi_table(table_path) and _completed_instants(
        table_path
    ):
        tbl_cols = set(
            read_hudi_lite(changes.sparkSession, table_path).columns
        )
        # stripped names: '?sequence=a, ts_ms' must exclude 'ts_ms',
        # not ' ts_ms' (r6 ADVICE, low — same fix as the iceberg apply)
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
        delete_values=(),
        ignore_values=("update_preimage",),
    )
    upserts = latest.filter(
        F.col("_change_type") != "delete"
    ).select(*data_cols)
    deletes = latest.filter(
        F.col("_change_type") == "delete"
    ).select(on)
    stats = {"rows_upserted": 0, "rows_deleted": 0}
    exists = is_hudi_table(table_path) and bool(
        _completed_instants(table_path)
    )
    if not upserts.isEmpty():
        stats["rows_upserted"] = upserts.count()
        write_hudi_lite(
            upserts, table_path,
            mode="upsert" if exists else "append",
            record_key=on,
        )
        exists = True
    if exists and not deletes.isEmpty():
        d = delete_hudi_lite(changes.sparkSession, table_path, keys=deletes)
        stats["rows_deleted"] = d["rows_deleted"]
    return stats


def compact_hudi_mor_lite(spark: SparkSession, table_path: str) -> dict:
    """MOR compaction: materialize each log-carrying file group's
    MERGED state as a new base file — Hudi's ``compaction`` action.
    Committed as a plain ``commit`` (the real compactor's instant
    action); the reader's slice logic already treats a new base file
    as a new file slice, so the old logs stop applying and the RO view
    catches up to the snapshot view. Groups with no log files are
    untouched.

    One distributed job: the merged view (with fileId kept) is
    repartitioned by group so each group lands as exactly one new base
    file. Returns ``{"groups_compacted": n, "files_added": n}``.
    """
    import shutil
    import tempfile
    import uuid as _uuid

    if _table_type(table_path) != "MERGE_ON_READ":
        raise ValueError(
            "compact_hudi_mor_lite compacts MERGE_ON_READ tables; "
            "COPY_ON_WRITE has no log files to compact"
        )
    record_key = _record_key_field(table_path)
    if not record_key:
        raise NotImplementedError(
            "hudi_lite MOR compaction needs hoodie.table.recordkey.fields"
        )
    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(
            f"no completed Hudi commits under {table_path}/.hoodie"
        )
    groups = _live_file_slices(table_path, instants)
    logged = {
        (part, fid): ent
        for (part, fid), ent in groups.items()
        if ent["logs"]
    }
    if not logged:
        return {"groups_compacted": 0, "files_added": 0}
    from pyspark.sql import functions as F

    merged = _mor_snapshot_df(
        spark, table_path, dict(logged), record_key, keep_fid=True
    )
    ts = f"{int(instants[-1][0]) + 1:014d}"
    commit_uuid = _uuid.uuid4().hex
    cols = [c for c in merged.columns if c != "__fid"]

    tmp = tempfile.mkdtemp(prefix="hudi_mor_compact_")
    per_part: dict[str, list[dict]] = {}
    try:
        merged.repartition("__fid").write.mode("overwrite").partitionBy(
            "__fid"
        ).parquet(tmp)
        for (part, fid) in sorted(logged):
            fid_dir = os.path.join(tmp, f"__fid={fid}")
            pieces = (
                sorted(
                    f
                    for f in os.listdir(fid_dir)
                    if f.endswith(".parquet") and not f.startswith("_")
                )
                if os.path.isdir(fid_dir)
                else []
            )
            new_name = f"{fid}_{ts}_{commit_uuid[:8]}.parquet"
            dst_dir = os.path.join(table_path, part) if part else table_path
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, new_name)
            if pieces:
                shutil.move(os.path.join(fid_dir, pieces[0]), dst)
            else:
                # every row of the group was deleted via log blocks:
                # the compacted slice is an empty (schema-only) base
                local_frame(
                    spark, [], merged.select(*cols).schema
                ).coalesce(1).write.mode("overwrite").parquet(
                    fid_dir + "_empty"
                )
                empty = next(
                    f
                    for f in os.listdir(fid_dir + "_empty")
                    if f.endswith(".parquet") and not f.startswith("_")
                )
                shutil.move(os.path.join(fid_dir + "_empty", empty), dst)
            per_part.setdefault(part, []).append(
                {
                    "fileId": fid,
                    "path": os.path.relpath(dst, table_path),
                    "numWrites": None,
                    "fileSizeInBytes": os.path.getsize(dst),
                }
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    body = {"partitionToWriteStats": per_part}
    _claim_instant(os.path.join(table_path, ".hoodie"), ts, "commit", body)
    return {
        "groups_compacted": len(logged),
        "files_added": sum(len(v) for v in per_part.values()),
    }


def delete_hudi_lite(
    spark: SparkSession,
    table_path: str,
    where: str | None = None,
    keys: DataFrame | None = None,
) -> dict:
    """Copy-on-write DELETE: remove rows matching ``where``, OR —
    with ``keys`` (a one-column frame of record-key values) — every
    row whose record key appears in it (the CDC delete shape, fully
    distributed: the key frame never reaches the driver).

    Committed as a ``replacecommit`` — the affected file groups are
    replaced wholesale by new groups holding only their surviving rows
    (fully-emptied groups are replaced by nothing), which is exactly
    the shape Hudi's own delete/clustering actions take on a COW
    table. Hive-style partition paths prune the candidate FILE LIST
    before any footer opens; untouched file groups are never rewritten.
    Hudi base files physically contain partition columns, so the
    predicate binds directly — no literal restore needed.
    NULL-predicate rows are KEPT (SQL DELETE semantics).

    Returns ``{"files_rewritten", "files_added", "rows_deleted"}``.
    """
    import shutil
    import tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    if (where is None) == (keys is None):
        raise ValueError("delete: pass exactly one of where / keys")
    rk = None
    rk_join = None
    if keys is not None:
        rk = _record_key_field(table_path)
        if not rk:
            raise ValueError(
                "key-based delete needs hoodie.table.recordkey.fields"
            )
        rkf = _rk_fields(rk)
        if len(rkf) == 1:
            keys = keys.select(F.col(keys.columns[0]).alias(rkf[0])).distinct()
        else:
            missing = [f for f in rkf if f not in keys.columns]
            if missing:
                raise ValueError(
                    "hudi_lite delete by keys on a composite record key "
                    f"needs columns {rkf}; missing {missing}"
                )
            keys = keys.select(*rkf).distinct()
        rk_join = rkf if len(rkf) > 1 else rkf[0]
    ttype = _table_type(table_path)
    if ttype != "COPY_ON_WRITE":
        # MOR deletes ARE log-file appends — delegate to the log writer
        return _mor_delete_commit(spark, table_path, where, keys=keys)
    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(f"no completed Hudi commits under {table_path}/.hoodie")
    slices: dict[tuple[str, str], str] = {}
    for _ts, action, path in instants:
        with open(path) as fh:
            commit = json.load(fh)
        if action == "replacecommit":
            for part, fids in (
                commit.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    slices.pop((part, fid), None)
        for part, stats in (commit.get("partitionToWriteStats") or {}).items():
            for st in stats:
                slices[(part, st.get("fileId") or st["path"])] = st["path"]
    candidates = dict(slices)
    if where is not None:
        kept_parts = _prune_partitions(spark, {p for p, _ in slices}, where)
        if kept_parts is not None:
            candidates = {
                k: v for k, v in slices.items() if k[0] in kept_parts
            }
    zero = {"files_rewritten": 0, "files_added": 0, "rows_deleted": 0}
    if not candidates:
        return zero

    loc: dict[str, tuple[str, str]] = {}  # abs path -> (part, fid)
    for (part, fid), rel in candidates.items():
        loc[os.path.abspath(os.path.join(table_path, rel))] = (part, fid)
    norm_path = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    base = spark.read.parquet(*sorted(loc)).withColumn("__file", norm_path)
    if keys is not None:
        victims = base.join(keys, rk_join)
        pred = None
    else:
        pred = F.coalesce(F.expr(where), F.lit(False))
        victims = base.filter(pred)
    counts = victims.groupBy("__file").count().collect()
    if not counts:
        return zero
    affected: list[str] = []
    for r in counts:
        if r["__file"] not in loc:
            raise RuntimeError(
                f"delete_hudi_lite: scanned file {r['__file']!r} missing "
                "from the timeline file list (path-normalization bug — "
                "refusing to commit a partial delete)"
            )
        affected.append(r["__file"])
    affected.sort()
    n_rows = sum(r["count"] for r in counts)

    prior_ts = instants[-1][0]
    ts = f"{int(prior_ts) + 1:014d}"
    commit_uuid = _uuid.uuid4().hex

    # one distributed rewrite: survivors of the affected groups, one
    # output file per group (repartition by group), moved into place
    mapping = F.create_map(
        *[F.lit(x) for p in affected for x in (p, loc[p][1])]
    )
    survivors = spark.read.parquet(*affected).withColumn(
        "__fid", mapping[norm_path]
    )
    if keys is not None:
        survivors = survivors.join(keys, rk_join, "left_anti")
    else:
        survivors = survivors.filter(~pred)
    tmp = tempfile.mkdtemp(prefix="hudi_lite_delete_")
    per_part: dict[str, list[dict]] = {}
    replaced: dict[str, list[str]] = {}
    try:
        survivors.repartition("__fid").write.mode("overwrite").partitionBy(
            "__fid"
        ).parquet(tmp)
        for p in affected:
            part, fid = loc[p]
            replaced.setdefault(part, []).append(fid)
            fid_dir = os.path.join(tmp, f"__fid={fid}")
            pieces = (
                sorted(
                    f
                    for f in os.listdir(fid_dir)
                    if f.endswith(".parquet") and not f.startswith("_")
                )
                if os.path.isdir(fid_dir)
                else []
            )
            if not pieces:
                continue  # group fully deleted: replaced, nothing added
            import pyarrow.parquet as _pq

            new_fid = f"fg-{_uuid.uuid4().hex[:12]}"
            new_name = f"{new_fid}_{ts}_{commit_uuid[:8]}.parquet"
            dst_dir = os.path.join(table_path, part) if part else table_path
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, new_name)
            if len(pieces) == 1:
                shutil.move(os.path.join(fid_dir, pieces[0]), dst)
            else:
                # repartition("__fid") puts a group in one task, so one
                # piece is the norm; concat defensively if not
                import pyarrow as _pa

                _pq.write_table(
                    _pa.concat_tables(
                        _pq.read_table(os.path.join(fid_dir, f))
                        for f in pieces
                    ),
                    dst,
                )
            if _pq.ParquetFile(dst).metadata.num_rows == 0:
                os.remove(dst)
                continue
            per_part.setdefault(part, []).append(
                {
                    "fileId": new_fid,
                    "path": os.path.relpath(dst, table_path),
                    "numWrites": None,
                    "fileSizeInBytes": os.path.getsize(dst),
                }
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    body = {
        "partitionToWriteStats": per_part or {"": []},
        "partitionToReplaceFileIds": replaced,
    }
    _claim_instant(
        os.path.join(table_path, ".hoodie"), ts, "replacecommit", body
    )
    return {
        "files_rewritten": len(affected),
        "files_added": sum(len(v) for v in per_part.values()),
        "rows_deleted": n_rows,
    }


def clean_hudi_lite(
    table_path: str, retain_commits: int = 1
) -> dict:
    """Hudi's cleaner, KEEP_LATEST_COMMITS shape: delete data files no
    file-slice view of the last ``retain_commits`` completed instants
    can reach. For each retained instant the timeline is replayed up
    to it (``_live_file_slices``) and that view's base + log files are
    pinned; everything else the timeline ever wrote is deleted from
    disk. Snapshot/RO/incremental reads WITHIN the retained window are
    untouched; ``as_of`` time travel behind the horizon fails loudly
    on the missing files — exactly the retention trade every engine's
    cleaner makes (delta VACUUM, iceberg expire_snapshots).

    Driver-side bookkeeping only (the timeline is KB-sized); no data
    is read. A ``<ts>.clean`` JSON marker records what was removed —
    the replayer globs only commit/replacecommit/deltacommit, so the
    marker never perturbs reads. Returns ``{"files_deleted": n,
    "retained_instants": [...]}``.
    """
    if retain_commits < 1:
        raise ValueError("retain_commits must be >= 1")
    instants = _completed_instants(table_path)
    if not instants:
        return {"files_deleted": 0, "retained_instants": []}
    bodies = _load_commit_bodies(instants)
    all_written: set[str] = set()
    for _ts, _action, commit in bodies:
        for _part, stats in (commit.get("partitionToWriteStats") or {}).items():
            for st in stats:
                all_written.add(os.path.join(table_path, st["path"]))
    all_ts = [ts for ts, _a, _p in instants]
    retained = all_ts[-retain_commits:]
    # savepointed views are pinned regardless of the retention window
    retained = sorted(
        set(retained) | (_savepointed_instants(table_path) & set(all_ts))
    )
    needed: set[str] = set()
    for keep_ts in retained:
        upto = [b for b in bodies if b[0] <= keep_ts]
        for ent in _live_file_slices(table_path, [], bodies=upto).values():
            if ent["base"]:
                needed.add(ent["base"])
            needed.update(ent["logs"])
    victims = sorted(all_written - needed)
    deleted = []
    for p in victims:
        if os.path.exists(p):
            os.remove(p)
            deleted.append(os.path.relpath(p, table_path))
    _claim_marker(
        table_path,
        "clean",
        {
            "policy": "KEEP_LATEST_COMMITS",
            "retain_commits": retain_commits,
            "earliestInstantToRetain": retained[0],
            "deletedFiles": deleted,
        },
    )
    return {"files_deleted": len(deleted), "retained_instants": retained}


def restore_hudi_lite(table_path: str, instant: str) -> dict:
    """Hudi RESTORE: physically roll the table back to ``instant`` —
    every file recorded by the write stats of LATER instants is
    deleted, those timeline instants are removed, and a ``.restore``
    marker records the rollback (hudi-cli ``savepoint rollback`` /
    ``RESTORE TABLE ... TO`` shape; delta's RESTORE and the lite
    iceberg rollback are the sibling surfaces).

    Safe by construction in this writer: every commit writes FRESH
    files (MOR log rollover per commit — ``_mor_log_targets``), so a
    later instant's files never contain earlier data, and replaced
    file groups come back automatically because replacecommits don't
    delete what they replace. The one genuinely unrecoverable shape is
    a CLEANER run after the restore point — its deletions may include
    files the restored view needs — so that raises loudly instead of
    restoring a hole ("never a silent wrong answer").
    """
    import json as _json

    instants = _completed_instants(table_path)
    known = [ts for ts, _a, _p in instants]
    if instant not in known:
        raise ValueError(
            f"restore_hudi_lite: unknown instant {instant!r}; "
            f"timeline has {known}"
        )
    # a cleaner run after the restore point may have deleted files the
    # restored view needs — verify the view is fully materialized on
    # disk (a savepointed instant survives cleaning and passes here)
    upto = [(ts, a, p) for ts, a, p in instants if ts <= instant]
    needed: set[str] = set()
    for ent in _live_file_slices(table_path, upto).values():
        if ent["base"]:
            needed.add(ent["base"])
        needed.update(ent["logs"])
    missing = sorted(p for p in needed if not os.path.exists(p))
    if missing:
        raise ValueError(
            f"restore_hudi_lite: the view at {instant} needs "
            f"{len(missing)} files a cleaner already deleted (first: "
            f"{os.path.relpath(missing[0], table_path)}); savepoint "
            "instants before cleaning to keep them restorable"
        )
    later = [(ts, a, p) for ts, a, p in instants if ts > instant]
    if not later:
        return {
            "restored_to": instant,
            "instants_rolled_back": 0,
            "files_deleted": 0,
        }
    victims: set[str] = set()
    for _ts, _a, commit in _load_commit_bodies(later):
        for _part, stats in (
            commit.get("partitionToWriteStats") or {}
        ).items():
            for st in stats:
                victims.add(os.path.join(table_path, st["path"]))
    deleted = []
    for p in sorted(victims):
        if os.path.exists(p):
            os.remove(p)
            deleted.append(os.path.relpath(p, table_path))
    for _ts, _a, p in later:
        os.remove(p)
    # savepoints of rolled-back instants are dangling now
    for sub in ("", "timeline"):
        sdir = os.path.join(table_path, ".hoodie", sub)
        for p in _glob.glob(os.path.join(sdir, "*.savepoint")):
            with open(p) as fh:
                if _json.load(fh)["savepointedInstant"] > instant:
                    os.remove(p)
    _claim_marker(
        table_path,
        "restore",
        {
            "restoredTo": instant,
            "rolledBackInstants": [t for t, _a, _p in later],
            "deletedFiles": deleted,
        },
    )
    return {
        "restored_to": instant,
        "instants_rolled_back": len(later),
        "files_deleted": len(deleted),
    }


def savepoint_hudi_lite(
    table_path: str, instant: str | None = None, name: str | None = None
) -> dict:
    """Hudi SAVEPOINT: pin an instant's file-slice view so the cleaner
    retains it and RESTORE can always return to it (hudi-cli
    ``savepoint create``). A ``<ts>.savepoint`` JSON marker records the
    pinned instant; ``clean_hudi_lite`` adds every savepointed view to
    its retained set, and ``restore_hudi_lite``'s materialization check
    then passes for it by construction. Defaults to the latest
    completed instant."""
    instants = _completed_instants(table_path)
    if not instants:
        raise ValueError(f"no completed Hudi commits under {table_path}")
    known = [ts for ts, _a, _p in instants]
    pin = instant or known[-1]
    if pin not in known:
        raise ValueError(
            f"savepoint_hudi_lite: unknown instant {pin!r}; "
            f"timeline has {known}"
        )
    _claim_marker(
        table_path, "savepoint", {"savepointedInstant": pin, "name": name or pin}
    )
    return {"savepointed": pin, "name": name or pin}


def _savepointed_instants(table_path: str) -> set[str]:
    """Instants pinned by ``.savepoint`` markers (unknown ones — e.g.
    rolled back by a restore — are ignored by callers)."""
    import json as _json

    out: set[str] = set()
    for sub in ("", "timeline"):
        tdir = os.path.join(table_path, ".hoodie", sub)
        for p in _glob.glob(os.path.join(tdir, "*.savepoint")):
            with open(p) as fh:
                out.add(_json.load(fh)["savepointedInstant"])
    return out
