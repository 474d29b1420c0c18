"""``lakehouse_rowops``: seeded row operations on delta, iceberg and hudi.

Every op goes through the URI surface (``Pipeline.from_uris``/``run``).
Per pass and format: a load (the whole sf0.1 orders fixture table, 150k
rows, into the new table), then one round of append, merge/upsert and
row-level delete (deletion vectors on delta, merge-on-read position
deletes on iceberg, copy-on-write on hudi), each followed by a snapshot
read (count and sum); on delta, which alone has an ``*-update`` scheme,
an update and its read; then maintenance
(optimize or compact, then vacuum, expire or clean), each followed by a
snapshot read that must find the rows unchanged, and a last read that
writes the whole table out for the state checks. The formats
are interleaved op by op, so writes run beside reads.

The expected state after every step is replayed in DuckDB from the
batches, untimed, before the pass runs; every read is checked
against it, and the iceberg and hudi tables must end equal row for row.
"""

from __future__ import annotations

import os
import urllib.parse
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq_mod

from perfbench.common import Check, Context, Op, pq
from perfbench.stats import amplification

FORMATS = ("delta", "iceberg", "hudi")
# the round's append: orders copied under new keys
APPEND_ROWS = 5_000
# merge batch: half of it updates existing ids, half inserts new ones
UPSERT_ROWS = 5_000
COLS = "id, cust, status, price"
META_DIRS = ("_delta_log", "metadata", ".hoodie")


def _q(v: str) -> str:
    return urllib.parse.quote(v, safe="")


def write_uri(fmt: str, root: Path, kind: str) -> str:
    if fmt == "delta":
        return {
            "append": f"b+delta://{root}?mode=append",
            "upsert": f"b+delta://{root}?mode=merge&on=id"
                      "&set.cust=source.cust&set.status=source.status"
                      "&set.price=source.price",
        }[kind]
    if fmt == "iceberg":
        return {
            "append": f"b+iceberg://{root}?mode=append",
            "upsert": f"b+iceberg://{root}?mode=upsert&merge-key=id",
        }[kind]
    return {
        "append": f"b+hudi://{root}?mode=append&record-key=id",
        "upsert": f"b+hudi://{root}?mode=upsert&record-key=id",
    }[kind]


def delete_uri(fmt: str, root: Path, where: str) -> str:
    w = _q(where)
    return {
        "delta": f"rep+delta-delete://{root}?where={w}&deletion-vectors=true",
        "iceberg": f"rep+iceberg-delete://{root}?where={w}&mode=merge-on-read",
        "hudi": f"rep+hudi-delete://{root}?where={w}",
    }[fmt]


def maint_uris(fmt: str, root: Path) -> list[str]:
    return {
        "delta": [f"rep+delta-optimize://{root}?min-files=2",
                  f"rep+delta-vacuum://{root}?retention-hours=0&dry-run=false"],
        "iceberg": [f"rep+iceberg-compact://{root}?min-files=2",
                    f"rep+iceberg-expire://{root}?keep-last=1"
                    "&delete-orphans=true"],
        "hudi": [f"rep+hudi-clean://{root}?retain-commits=1"],
    }[fmt]


def tree_files(root: Path) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = Path(d) / f
            out[str(p.relative_to(root))] = p.stat().st_size
    return out


def _is_meta(rel: str) -> bool:
    return rel.split(os.sep, 1)[0] in META_DIRS


def arrow_bytes(path: Path) -> int:
    return pq_mod.read_table(path).nbytes


class Pass:
    """Inputs, expected states and file accounting for one pass."""

    def __init__(self, ctx: Context, p: int):
        import duckdb
        import pyarrow as pa

        self.dir = ctx.work / f"p{p}"
        self.inp = self.dir / "inputs"
        self.inp.mkdir(parents=True, exist_ok=True)
        self.roots = {f: self.dir / f for f in FORMATS}
        rng = np.random.default_rng([ctx.seed, p])
        orders = pq_mod.read_table(ctx.data / "orders.parquet")
        base = pa.table({
            "id": orders["o_orderkey"], "cust": orders["o_custkey"],
            "status": orders["o_orderstatus"], "price": orders["o_totalprice"],
        })
        pq_mod.write_table(base, self.inp / "load.parquet")
        top = int(base["id"].to_numpy().max()) + 1

        def copies(n: int, shift: int) -> pa.Table:
            """``n`` seeded orders under new ids above the fixture's keys."""
            t = base.take(rng.choice(base.num_rows, n, replace=False))
            return t.set_column(0, "id", pa.array(t["id"].to_numpy() + shift))

        pq_mod.write_table(copies(APPEND_ROWS, top), self.inp / "append.parquet")
        half = UPSERT_ROWS // 2
        old = base.take(rng.choice(base.num_rows, half, replace=False))
        old = old.set_column(3, "price", pa.array(
            np.round(rng.uniform(1000, 500000, half), 2)))
        old = old.set_column(2, "status", pa.array(["U"] * half))
        new = copies(UPSERT_ROWS - half, 2 * top)
        pq_mod.write_table(pa.concat_tables([old, new]), self.inp / "upsert.parquet")
        m = int(rng.integers(0, 40))
        self.delete_where = f"id % 40 = {m}"
        u = int(rng.integers(0, 30))
        self.update_where = f"id % 30 = {u}"
        self.states = {}
        con = duckdb.connect()
        steps = [
            ("load", f"SELECT * FROM {pq(self.inp / 'load.parquet')}"),
            ("append", f"SELECT * FROM prev UNION ALL "
                       f"SELECT * FROM {pq(self.inp / 'append.parquet')}"),
            ("upsert", f"SELECT * FROM prev WHERE id NOT IN (SELECT id FROM "
                       f"{pq(self.inp / 'upsert.parquet')}) UNION ALL "
                       f"SELECT * FROM {pq(self.inp / 'upsert.parquet')}"),
            ("delete", f"SELECT * FROM prev WHERE NOT ({self.delete_where})"),
            ("update", f"SELECT id, cust, status, CASE WHEN {self.update_where}"
                       " THEN price * 2 ELSE price END AS price FROM prev"),
        ]
        for name, sql in steps:
            path = self.inp / f"state_{name}.parquet"
            con.execute(f"CREATE OR REPLACE TABLE cur AS {sql}")
            con.execute(f"COPY cur TO '{path}' (FORMAT PARQUET)")
            con.execute("CREATE OR REPLACE TABLE prev AS SELECT * FROM cur")
            self.states[name] = path
        con.close()
        self.final = {f: self.states["update" if f == "delta" else "delete"]
                      for f in FORMATS}
        self.user_bytes = sum(
            arrow_bytes(self.inp / f"{k}.parquet")
            for k in ("load", "append", "upsert")
        )
        self.seen = {f: {} for f in FORMATS}
        self.written = {f: [0, 0, 0] for f in FORMATS}  # files, bytes, meta
        self.pre_maint_bytes = {}
        self.pre_maint_scan_files = {}
        self.scan_files = {f: [] for f in FORMATS}  # files each scan read


def _run(ctx: Context, sources: list[str], transforms: list[str],
         sinks: list[str]):
    from spark_etl_cli_spark.pipeline import Pipeline

    Pipeline.from_uris(sources, transforms, sinks).run(ctx.spark)


def _write(ctx, ps: Pass, p: int, fmt: str, kind: str, batch: str) -> Op:
    src = [f"b+parquet://{ps.inp / f'{batch}.parquet'}"]
    sink = [write_uri(fmt, ps.roots[fmt], kind)]

    n = pq_mod.ParquetFile(ps.inp / f"{batch}.parquet").metadata.num_rows
    return Op(f"p{p}_{fmt}_{batch}", "commit", n,
              lambda c: _run(c, src, [], sink))


def _source_op(ctx, ps: Pass, p: int, fmt: str, kind: str, uri: str,
               op_kind: str) -> Op:
    def run(c: Context):
        _run(c, [uri], [], [])  # the source performs the action
        c.spark.table("rep").collect()  # and reports it

    return Op(f"p{p}_{fmt}_{kind}", op_kind, 0, run)


def _scan(ctx, ps: Pass, p: int, fmt: str, step: str, k: int,
          state: Path | None = None) -> Op:
    """A snapshot read (count and sum) checked against ``state``, by
    default the replayed state after ``step``."""
    name = f"p{p}_{fmt}_scan{k}_{step}"
    state = state or ps.states[step]

    def run(c: Context):
        _run(c, [f"s+{fmt}://{ps.roots[fmt]}"],
             ["s+agg+sql://SELECT CAST(count(*) AS BIGINT) AS n, "
              "sum(price) AS s FROM s"], [])
        n, s = c.spark.table("agg").collect()[0]
        c.checks.append(Check(
            name, f"SELECT CAST({int(n)} AS BIGINT) AS n, "
                  f"CAST({float(s or 0.0)!r} AS DOUBLE) AS s",
            f"SELECT CAST(count(*) AS BIGINT) AS n, "
            f"CAST(coalesce(sum(price), 0) AS DOUBLE) AS s FROM {pq(state)}",
        ))

    return Op(name, "scan", pq_mod.ParquetFile(state).metadata.num_rows, run)


def _dump(ctx, ps: Pass, p: int, fmt: str) -> Op:
    """The last read: the whole table through a parquet sink."""
    name = f"p{p}_{fmt}_scan_final"
    dump = ps.dir / f"dump_{fmt}"
    src = [f"s+{fmt}://{ps.roots[fmt]}"]
    tr = [f"s+d+sql://SELECT {COLS} FROM s"]
    sink = [f"d+parquet://{dump}?mode=overwrite"]
    ctx.checks.append(Check(
        name, f"SELECT {COLS} FROM {pq(dump)}",
        f"SELECT {COLS} FROM {pq(ps.final[fmt])}",
    ))
    rows = pq_mod.ParquetFile(ps.final[fmt]).metadata.num_rows
    return Op(name, "scan", rows, lambda c: _run(c, src, tr, sink))


def ops(ctx: Context, p: int) -> list[Op]:
    ps = Pass(ctx, p)
    ctx.state.setdefault("passes", {})[p] = ps
    out: list[Op] = []
    for k, (kind, batch) in enumerate(
        [("append", "load"), ("append", "append"), ("upsert", "upsert")]
    ):
        for f in FORMATS:
            out += [_write(ctx, ps, p, f, kind, batch),
                    _scan(ctx, ps, p, f, batch, k)]
    for f in FORMATS:
        out += [_source_op(ctx, ps, p, f, "delete",
                           delete_uri(f, ps.roots[f], ps.delete_where), "commit"),
                _scan(ctx, ps, p, f, "delete", 3)]
    out += [_source_op(
        ctx, ps, p, "delta", "update",
        f"rep+delta-update://{ps.roots['delta']}?where={_q(ps.update_where)}"
        f"&set.price={_q('price * 2')}", "commit",
    ), _scan(ctx, ps, p, "delta", "update", 4)]
    for f in FORMATS:
        # maintenance must leave the table's rows as they were
        for i, uri in enumerate(maint_uris(f, ps.roots[f])):
            out += [_source_op(ctx, ps, p, f, f"maint{i}", uri, "maint"),
                    _scan(ctx, ps, p, f, f"maint{i}", 5 + i, ps.final[f])]
        out.append(_dump(ctx, ps, p, f))
    return out


def after_op(ctx: Context, op: Op, err) -> None:
    """Untimed file accounting: files and bytes each op added."""
    p = int(op.name.split("_", 1)[0][1:])
    fmt = op.name.split("_")[1]
    ps = ctx.state["passes"][p]
    root = ps.roots[fmt]
    if op.kind == "scan" and err is None:
        ps.scan_files[fmt].append(len(ctx.spark.table("s").inputFiles()))
    if op.kind == "maint" and fmt not in ps.pre_maint_bytes:
        ps.pre_maint_bytes[fmt] = sum(ps.seen[fmt].values())
        ps.pre_maint_scan_files[fmt] = (ps.scan_files[fmt] or [0])[-1]
    now = tree_files(root) if root.exists() else {}
    for rel, size in now.items():
        if rel not in ps.seen[fmt]:
            w = ps.written[fmt]
            if _is_meta(rel):
                w[2] += 1
            else:
                w[0] += 1
            w[1] += size
    ps.seen[fmt] = now


def finish(ctx: Context) -> None:
    """Untimed: cross-format check and the file and amplification figures."""
    tot_written = tot_user = tot_disk = tot_live = 0
    fig = ctx.figures
    for p, ps in ctx.state["passes"].items():
        ctx.checks.append(Check(
            f"p{p}_iceberg_equals_hudi",
            f"SELECT {COLS} FROM {pq(ps.dir / 'dump_iceberg')}",
            f"SELECT {COLS} FROM {pq(ps.dir / 'dump_hudi')}",
        ))
        for f in FORMATS:
            disk = sum(ps.seen[f].values())
            files, nbytes, meta = ps.written[f]
            for key, v in (("files_written", files), ("bytes_written", nbytes),
                           ("meta_files", meta), ("bytes_reclaimed", max(
                               ps.pre_maint_bytes.get(f, disk) - disk, 0))):
                fig[f"{f}_lite.{key}"] = fig.get(f"{f}_lite.{key}", 0) + v
            live = (ps.scan_files[f] or [0])[-1]
            if live and f in ps.pre_maint_scan_files:
                # files the final read scanned, and the files the last
                # read before maintenance scanned per each of those
                fig[f"{f}_lite.live_files"] = live
                fig[f"{f}_lite.scan_files_per_live"] = (
                    ps.pre_maint_scan_files[f] / live)
            tot_written += nbytes
            tot_user += ps.user_bytes
            tot_disk += disk
            tot_live += arrow_bytes(ps.final[f])
    fig["lakehouse.write_amp"] = amplification(tot_written, tot_user)
    fig["lakehouse.space_amp"] = amplification(tot_disk, tot_live)
