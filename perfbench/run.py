#!/usr/bin/env python3
"""Benchmark one workload of the URI-pipeline engine at one seed.

    python3 perfbench/run.py --workload lakehouse_rowops --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are the fixture tables under
``perfbench/fixture``; the seed picks key and date ranges, residues, the
stream replay and the lakehouse batches. A run starts one fresh worker
process (``perfbench/worker.py``) that sets up and runs the workload's
ops, checks every output in DuckDB and prints one JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full record of the run
(every op, the environment stamps, spans of a traced run) is written to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.

Exit code 0 with a result; 2 (and no result) when the engine's package
is not beside this directory or a worker fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import procs, stats  # noqa: E402
from perfbench.common import FIXTURE  # noqa: E402
from perfbench.layers import E2E, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# The session's own default (48g) does not fit small boxes. With a 4 GiB
# heap the JVM grew by different amounts from run to run and the memory
# peak spread by 30-40% across seeds (4 cores, 16 GB); 2 GiB still spread
# by ~20%; at 1 GiB it spread by ~6% and no op got slower.
DRIVER_MEM = "1g"
STEAL_LIMIT = 0.10
QUIET_STEAL = 0.03
QUIET_WAIT_S = 15.0
# A run ends within this many seconds; the output checks get the last
# CHECK_RESERVE_S of it.
RUN_LIMIT_S = 170.0
CHECK_RESERVE_S = 15.0


def worker_env(run: Path) -> dict[str, str]:
    env = dict(os.environ)
    for d in ("local", "tmp"):
        (run / d).mkdir(parents=True, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_LOCAL_DIRS": str(run / "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(run / "tmp"),
        # -XX:-UsePerfData: no hsperfdata files in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p]
        ),
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


@dataclass
class WorkerRun:
    result: dict | None  # the worker's result file, None when it failed
    t_spawn: float
    t_exit: float
    watch: procs.TreeWatch
    log: str


def run_worker(run: Path, spec: dict, timeout: float) -> WorkerRun:
    """Run the worker process on ``spec`` inside the run directory, then
    stop its whole tree."""
    spec = dict(spec, work=str(run / "work"), result=str(run / "result.json"))
    (run / "work").mkdir(parents=True)
    (run / "spec.json").write_text(json.dumps(spec))
    log_path = run / "worker.log"
    with open(log_path, "wb") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", str(run / "spec.json")],
            cwd=run, env=worker_env(run), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        watch = procs.TreeWatch(proc.pid)
        watch.start()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {timeout:.0f} s", file=sys.stderr)
        finally:
            watch.done.set()
            watch.join()
            procs.stop_tree(proc, watch)
        t_exit = time.time()
    result = Path(spec["result"])
    ok = proc.returncode == 0 and result.exists()
    return WorkerRun(json.loads(result.read_text()) if ok else None,
                     t_spawn, t_exit, watch,
                     log_path.read_text(errors="replace")[-3000:])


# --- output checks -------------------------------------------------------

def _canon(row: tuple) -> tuple:
    return tuple(
        ("f", round(v, 6)) if isinstance(v, float) and math.isfinite(v)
        else ("v", str(v)) for v in row
    )


def _same(a: tuple, b: tuple) -> bool:
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, (float, int)):
            if not math.isclose(x, float(y), rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif isinstance(y, float) and isinstance(x, int):
            if not math.isclose(float(x), y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y and str(x) != str(y):
            return False
    return len(a) == len(b)


def run_check(con, check: dict) -> str | None:
    """None when ``actual`` and ``expected`` return the same multiset of
    rows (same column count; floats to a relative 1e-9); else why not."""
    a, e = check["actual"], check["expected"]
    try:
        for stmt in check["setup"]:
            con.execute(stmt)
    except Exception as exc:
        return f"setup: {type(exc).__name__}: {exc}"[:300]
    try:
        # fast path: the same multiset exactly, decided inside DuckDB
        if con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM ({a}) EXCEPT ALL "
            f"SELECT * FROM ({e})) UNION ALL (SELECT * FROM ({e}) EXCEPT ALL "
            f"SELECT * FROM ({a})))"
        ).fetchone()[0] == 0:
            return None
    except Exception:
        pass  # column types that do not line up: compare in Python
    try:
        act = con.execute(a).fetchall()
        exp = con.execute(e).fetchall()
    except Exception as exc:  # a broken output is a failed check
        return f"{type(exc).__name__}: {exc}"[:300]
    if len(act) != len(exp):
        return f"row count {len(act)} != expected {len(exp)}"
    act.sort(key=_canon)
    exp.sort(key=_canon)
    for x, y in zip(act, exp):
        if not _same(tuple(x), tuple(y)):
            return f"row {tuple(x)!r} != expected {tuple(y)!r}"[:300]
    return None


# --- metrics ---------------------------------------------------------------

def end_to_end(res: dict, t_spawn: float, peak_rss: float) -> dict[str, float]:
    ops = [o["seconds"] for o in res["ops"]]
    passes = res["passes"]
    return {
        "setup_s": res["t_ready"] - t_spawn,
        "wall_s": statistics.median([p["seconds"] for p in passes]),
        "op_p50_s": statistics.median(ops),
        "op_tail_s": stats.tail(ops).value,
        "rows_per_s": statistics.median(
            [p["rows_in"] / p["seconds"] for p in passes]
        ),
        "peak_rss_mb": peak_rss,
    }


def per_layer(res: dict, t_spawn: float, steal: float, failed: int,
              attempted: int) -> dict:
    from perfbench.stats import Span, self_times

    spans = [Span(**s) for s in res["spans"]]
    by_op = {i: o for i, o in enumerate(res["ops"])}
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v for k, v in res["layers"].items() if k in out})
    out.update({k: v for k, v in res["figures"].items() if k in out})
    out["session.import_s"] = res["t_import"] - t_spawn
    out["session.start_s"] = res["t_session"] - res["t_import"]
    out["session.first_op_s"] = res["t_ready"] - res["t_session"]
    for name in ("registry.resolve", "pipeline.source", "pipeline.transform",
                 "pipeline.sink", "plans.build"):
        out[f"{name}_s"] = sum(s.end - s.start for s in spans if s.name == name)
    build_by_op: dict[int, float] = {}
    for s in spans:
        if s.name == "plans.build" and s.op_id is not None:
            build_by_op[s.op_id] = build_by_op.get(s.op_id, 0.0) + s.end - s.start
    out["plans.exec_s"] = sum(
        by_op[i]["seconds"] - b for i, b in build_by_op.items()
        if by_op[i]["kind"] == "query"
    )
    for fmt in ("delta", "iceberg", "hudi"):
        key = f"{fmt}_lite"
        commits = [s for s in spans if s.name == f"{key}.commit"]
        out[f"{key}.commits"] = float(len(commits))
        out[f"{key}.commit_s"] = sum(s.end - s.start for s in commits)
        scan_ops = {i for i, o in by_op.items()
                    if o["kind"] == "scan" and f"_{fmt}_" in o["name"]}
        snap = sum(s.end - s.start for s in spans
                   if s.name == f"{key}.snapshot" and s.op_id in scan_ops)
        out[f"{key}.snapshot_s"] = snap
        out[f"{key}.scan_s"] = sum(by_op[i]["seconds"] for i in scan_ops) - snap
        out[f"{key}.maint_s"] = sum(
            s.end - s.start for s in spans if s.name == f"{key}.maint"
        )
    kinds: dict[str, list[float]] = {}
    for o in res["ops"]:
        kinds.setdefault(o["kind"], []).append(o["seconds"])
    if "commit" in kinds:
        out["lakehouse.commit_p50_s"] = statistics.median(kinds["commit"])
        out["lakehouse.commit_tail_s"] = stats.tail(kinds["commit"]).value
    if "scan" in kinds:
        out["lakehouse.scan_p50_s"] = statistics.median(kinds["scan"])
    wall = sum(o["seconds"] for o in res["ops"])
    cores = res["cores"]
    out["spark.slot_busy_frac"] = out["spark.task_run_s"] / (wall * cores)
    out["proc.steal_frac"] = steal
    out["ops.fail_frac"] = failed / attempted
    # self time of the op spans: op time no layer span accounts for
    st = self_times(spans)
    out["bench.op_self_s"] = sum(st[s.span_id] for s in spans if s.name == "op")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM exits through the finally blocks, which stop the worker tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_run = time.time()
    if not (ROOT / "spark_etl_cli_spark" / "__init__.py").is_file():
        print("spark_etl_cli_spark not found: run from the repository root",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run = ROOT / ".perfbench_runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    spec = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "data": str(FIXTURE / "sf0.1")}

    quiet_wait, probes = procs.wait_for_quiet(QUIET_STEAL, QUIET_WAIT_S)
    ticks0 = procs.cpu_ticks()
    wrun = run_worker(
        run, spec, RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t_run)
    )
    ticks1 = procs.cpu_ticks()
    busy, steal_j = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    steal = steal_j / max(busy + steal_j, 1)
    res = wrun.result
    if res is None:
        print(f"worker failed:\n{wrun.log}", file=sys.stderr)
        return 2

    t_checks = time.time()
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run / 'tmp'}'")
    bad: dict[str, str] = {}
    for c in res["checks"]:
        why = run_check(con, c)
        if why:
            bad[c["op"]] = why
    con.close()
    check_s = time.time() - t_checks
    op_names = {o["name"] for o in res["ops"]}
    failed_ops = {o["name"] for o in res["ops"] if o["error"]} | (
        set(bad) & op_names
    )
    if args.trace:
        spans = [stats.Span(**sp) for sp in res["spans"]]
        op_total = sum(o["seconds"] for o in res["ops"])
        res["checks"].append({"op": "trace_self_times_fit"})
        if not stats.self_times_fit(spans, op_total):
            bad["trace_self_times_fit"] = (
                f"layer self times exceed the ops' {op_total:.3f} s")
    extra = {c["op"] for c in res["checks"]} - op_names
    attempted = len(op_names) + len(extra)
    failed = len(failed_ops) + len(set(bad) & extra)

    e2e = end_to_end(res, wrun.t_spawn, wrun.watch.peak)
    layers = per_layer(res, wrun.t_spawn, steal, failed, attempted)
    tail = stats.tail([o["seconds"] for o in res["ops"]])
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "rows_in_per_pass": [p["rows_in"] for p in res["passes"]],
        "worker_s": wrun.t_exit - wrun.t_spawn, "check_s": check_s,
        "run_s": time.time() - t_run,
        "cores": res["cores"], "driver_mem": DRIVER_MEM,
        "steal_frac": steal, "steal_flagged": steal > STEAL_LIMIT,
        "quiet_wait_s": quiet_wait, "steal_probes": probes,
        "rss_at_peak_mb": wrun.watch.at_peak,
        "canary_s": res["layers"].get("proc.canary_s"),
        "op_tail": {"pct": tail.pct, "n": tail.n},
        "end_to_end": e2e, "per_layer": layers,
        "errors": {o["name"]: o["error"] for o in res["ops"] if o["error"]},
        "check_failures": bad, "passes": res["passes"], "ops": res["ops"],
        "self_s_by_layer": stats.self_time_by_layer(
            [stats.Span(**sp) for sp in res["spans"]]),
        "spans": res["spans"],
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{tag}.json").write_text(json.dumps(report, indent=1))
    shutil.rmtree(run, ignore_errors=True)

    pct = f"p{tail.pct:g}" if tail.pct is not None else "max"
    print(f"{args.workload} seed={args.seed}: {len(res['passes'])} passes, "
          f"{tail.n} ops, op_tail_s is the {pct}; steal {steal:.1%}"
          f"{' (above limit)' if steal > STEAL_LIMIT else ''}; "
          f"canary {report['canary_s']:.3f} s")
    for name, why in list(bad.items())[:5]:
        print(f"check failed: {name}: {why}")
    for name, err in list(report["errors"].items())[:5]:
        print(f"op failed: {name}: {err}")
    table = PER_LAYER if args.trace else E2E
    values = layers if args.trace else e2e
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in table.items()
    }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
