"""CLI-shaped URI pipelines, batch and streaming.

Batch: ``parquet://`` sources through ``sql://`` joins, aggregations and
windows, ``flatten://`` of ``events.props`` and one ``diff://``, into
``parquet://`` sinks. Streaming: a seeded events replay split into files
with late and out-of-order rows, run as ``parquet-stream://`` ->
``watermark://`` -> session-window ``sql://`` -> ``parquet-stream://``
with availableNow and ``maxFilesPerTrigger``, so the stream runs several
epochs. The batch pipelines read the sf0.1 fixture tables; the stream
reads a replay of fixture events written per run. The seed picks the
date window, the residues and the replay.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq_mod

from perfbench.common import Check, Context, Op, pq, view_setup

TABLES = ["orders", "lineitem", "events"]
STREAM_FILES = 3
FILES_PER_TRIGGER = 1
STREAM_ROWS = 12_000
STREAM_USERS = 200


def _day(d: int) -> str:
    """Timestamp literal ``d`` days after 1995-01-01, the fixture's first
    order date (ship dates run to 2001-11-04)."""
    return str(np.datetime64("1995-01-01") + np.timedelta64(int(d), "D"))


def _rows(data: Path, table: str) -> int:
    return pq_mod.ParquetFile(data / f"{table}.parquet").metadata.num_rows


def _batch(ctx: Context, name: str, sources: dict[str, str],
           transforms: list[str], outputs: list[tuple[str, str, str]]) -> Op:
    """One CLI-shaped pipeline; ``outputs`` lists (view, columns,
    expected DuckDB SQL) for each ``parquet://`` sink."""
    from spark_etl_cli_spark.pipeline import Pipeline

    src = [f"{v}+parquet://{ctx.data / f'{t}.parquet'}" for v, t in sources.items()]
    sinks = []
    for view, columns, expected in outputs:
        out = ctx.work / f"{name}_{view}"
        sinks.append(f"{view}+parquet://{out}?mode=overwrite")
        ctx.checks.append(Check(
            name, f"SELECT {columns} FROM {pq(out)}", expected,
            view_setup(ctx.data, TABLES),
        ))

    def run(c: Context):
        Pipeline.from_uris(src, transforms, sinks).run(c.spark)

    rows = sum(_rows(ctx.data, t) for t in sources.values())
    return Op(name, "pipeline", rows, run)


def _revenue(ctx: Context, p: int, rng) -> Op:
    """Join, aggregate (cached for its two consumers) and rank revenue;
    ``diff://`` it against the same aggregate over a thinned lineitem."""
    # the seed moves the window and the thinned residue, not their sizes
    d0 = int(rng.integers(0, 2000))
    d1 = d0 + 450
    thin = int(rng.integers(0, 11))

    def agg(where: str) -> str:
        return (
            "SELECT o_orderpriority, year(l_shipdate) AS y, "
            "CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"
            " AS DOUBLE) AS revenue "
            f"FROM li JOIN o ON l_orderkey = o_orderkey "
            f"WHERE l_shipdate >= TIMESTAMP '{_day(d0)}' "
            f"AND l_shipdate < TIMESTAMP '{_day(d1)}'{where} GROUP BY 1, 2"
        )

    full, part = agg(""), agg(f" AND l_orderkey % 11 <> {thin}")
    rank = "SELECT *, rank() OVER (PARTITION BY y ORDER BY revenue DESC) AS rk"

    def duck(sql: str) -> str:
        return sql.replace("FROM li JOIN o", "FROM lineitem JOIN orders")

    ranked = f"{rank} FROM ({duck(full)})"
    diffed = (
        f"SELECT CASE WHEN b.y IS NULL THEN 'D' WHEN a.y IS NULL THEN 'I' "
        f"ELSE 'C' END AS diff, coalesce(a.o_orderpriority, b.o_orderpriority) "
        f"AS o_orderpriority, coalesce(a.y, b.y) AS y, a.n AS left_n, "
        f"b.n AS right_n, a.revenue AS left_revenue, b.revenue AS right_revenue "
        f"FROM ({duck(full)}) a FULL OUTER JOIN ({duck(part)}) b "
        f"ON a.o_orderpriority = b.o_orderpriority AND a.y = b.y "
        f"WHERE a.n IS DISTINCT FROM b.n OR a.revenue IS DISTINCT FROM b.revenue"
    )
    return _batch(
        ctx, f"p{p}_revenue", {"li": "lineitem", "o": "orders"},
        [f"li+rev0+sql://{full}", "rev0+rev+cache://",
         f"rev+ranked+sql://{rank} FROM rev", f"li+thin+sql://{part}",
         "rev+d+diff://thin?id=o_orderpriority,y&handleDifferences=filter"],
        [("ranked", "o_orderpriority, y, n, revenue, rk", ranked),
         ("d", "diff, o_orderpriority, y, left_n, right_n, left_revenue, "
               "right_revenue", diffed)],
    )


def _props(ctx: Context, p: int, rng) -> Op:
    m, r = 3, int(rng.integers(0, 3))
    parse = (
        "SELECT event_id, event_type, value, "
        "from_json(props, 'k INT') AS props FROM ev "
        f"WHERE user_id % {m} = {r}"
    )
    agg = (
        "SELECT event_type, props_k % 10 AS kb, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(props_k) AS BIGINT) AS sk, "
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
        "FROM flat GROUP BY 1, 2"
    )
    expected = (
        "SELECT event_type, CAST(json_extract(props, '$.k') AS INT) % 10 AS kb, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sk, "
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
        f"FROM events WHERE user_id % {m} = {r} GROUP BY 1, 2"
    )
    return _batch(
        ctx, f"p{p}_props", {"ev": "events"},
        [f"ev+parsed+sql://{parse}", "parsed+flat+flatten://",
         f"flat+agg+sql://{agg}"],
        [("agg", "event_type, kb, n, sk, v", expected)],
    )


# --- streaming -----------------------------------------------------------

STREAM_SCHEMA = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


def replay_events(events: Path, rng) -> pa.Table:
    """``STREAM_ROWS`` fixture events drawn by the seed, re-timed and
    re-keyed into a denser stream: ``STREAM_USERS`` users over 12 hours,
    in time order. The fixture spreads 1,500 users over 30 days, which
    would leave almost every session a single event."""
    t = pq_mod.read_table(events)
    t = t.take(np.sort(rng.choice(t.num_rows, STREAM_ROWS, replace=False)))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, 12 * 3600 * 1_000_000, STREAM_ROWS))
    t = t.set_column(t.schema.get_field_index("ts"), "ts",
                     pa.array(ts, pa.timestamp("us")))
    return t.set_column(t.schema.get_field_index("user_id"), "user_id",
                        pa.array(rng.integers(1, STREAM_USERS + 1, STREAM_ROWS)))


def write_replay(events: Path, out: Path, rng) -> int:
    """Write the seeded replay (``replay_events``) split into
    ``STREAM_FILES`` files in arrival order: rows are shuffled within a
    file, and 5% of each file's rows arrive two epochs late (most of
    those fall behind the watermark). File modification times increase
    with the file index, so ``maxFilesPerTrigger`` takes them in order."""
    ev = replay_events(events, rng)
    idx = np.array_split(np.arange(STREAM_ROWS), STREAM_FILES)
    lag = 2 * FILES_PER_TRIGGER
    late = [rng.random(len(ix)) < 0.05 for ix in idx]
    files = []
    for i, ix in enumerate(idx):
        rows = list(ix[~late[i]]) if i + lag < STREAM_FILES else list(ix)
        if i >= lag:
            rows += list(idx[i - lag][late[i - lag]])
        files.append(rows)
    out.mkdir(parents=True, exist_ok=True)
    for i, rows in enumerate(files):
        rows = np.array(rows)
        rng.shuffle(rows)
        path = out / f"part-{i:03d}.parquet"
        pq_mod.write_table(ev.take(rows), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return STREAM_ROWS


GAP_US = 10 * 60 * 1_000_000
DELAY_US = 30 * 60 * 1_000_000


def expected_sessions(epochs: list[list[tuple[int, int]]]) -> list[tuple]:
    """Reference for the session-window stream, epoch by epoch, as Spark
    runs it. ``epochs`` holds each epoch's (user_id, ts_us) rows.

    Epoch ``e`` evicts with the watermark ``wm[e]`` (max event time of
    the epochs before ``e`` minus the 30 min delay) and drops a row as
    late when its own window (ts + 10 min gap) ends at or before the
    previous epoch's watermark ``wm[e-1]``. Kept rows merge with the
    open sessions of their user; sessions whose end is at or before the
    epoch's watermark are emitted and leave the state. A final no-data
    epoch evicts with the last watermark; sessions still open are never
    emitted. Returns (user_id, start_us, end_us, n_events) rows.
    """
    neg = -(1 << 62)
    wm = [neg]
    seen = neg
    for rows in epochs:
        seen = max([seen] + [t for _, t in rows])
        wm.append(seen - DELAY_US)
    state: dict[int, list[list[int]]] = {}
    out = []
    for e, rows in enumerate(epochs + [[]]):
        late_wm = wm[e - 1] if e >= 1 else neg
        for user, ts in rows:
            if ts + GAP_US > late_wm:
                state.setdefault(user, []).append([ts, ts + GAP_US, 1])
        for user, sess in state.items():
            sess.sort()
            merged = []
            for s0, s1, n in sess:
                if merged and s0 < merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], s1)
                    merged[-1][2] += n
                else:
                    merged.append([s0, s1, n])
            keep = []
            for s0, s1, n in merged:
                if s1 <= wm[min(e, len(epochs))]:
                    out.append((user, s0, s1, n))
                else:
                    keep.append([s0, s1, n])
            state[user] = keep
    return out


def write_expected_sessions(src: Path, out: Path) -> None:
    epochs: list[list[tuple[int, int]]] = [
        [] for _ in range(STREAM_FILES // FILES_PER_TRIGGER)
    ]
    for i in range(STREAM_FILES):
        t = pq_mod.read_table(src / f"part-{i:03d}.parquet",
                              columns=["user_id", "ts"])
        ts = t["ts"].cast("int64").to_pylist()
        epochs[i // FILES_PER_TRIGGER] += list(zip(t["user_id"].to_pylist(), ts))
    rows = expected_sessions(epochs)
    pq_mod.write_table(pa.table({
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "start_us": pa.array([r[1] for r in rows], pa.int64()),
        "end_us": pa.array([r[2] for r in rows], pa.int64()),
        "n_events": pa.array([r[3] for r in rows], pa.int64()),
    }), out)


def await_streams(spark, op) -> float:
    """Run ``op`` and wait for every stream it started to really end.

    ``Pipeline.run(await_termination=...)`` can return before its stream
    has ended (it waits for *any* termination since the last reset, and
    an earlier stream in the session may already count); so the op is
    timed to the termination of each handle it left active. Returns the
    seconds between ``op`` returning and the last termination.
    """
    import time

    spark.streams.resetTerminated()
    op()
    t_ret = time.perf_counter()
    for q in spark.streams.active:
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream {q.name} failed: {q.exception()}")
    return time.perf_counter() - t_ret


def _sessions(ctx: Context, p: int, rng) -> Op:
    from spark_etl_cli_spark.pipeline import Pipeline

    src = ctx.work / f"p{p}_replay"
    rows = write_replay(ctx.data / "events.parquet", src, rng)
    expected = ctx.work / f"p{p}_sessions_expected.parquet"
    write_expected_sessions(src, expected)
    out = ctx.work / f"p{p}_sessions"
    uris = (
        [f"ev+parquet-stream://{src}?schema={STREAM_SCHEMA}"
         f"&maxFilesPerTrigger={FILES_PER_TRIGGER}"],
        ["ev+evts+sql://SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM ev",
         "evts+evwm+watermark://ts:30 minutes",
         "evwm+sess+sql://SELECT user_id, session_window(ts, '10 minutes') AS w,"
         " COUNT(*) AS n_events FROM evwm GROUP BY 1, 2",
         "sess+flat+sql://SELECT user_id, unix_micros(w.start) AS start_us, "
         "unix_micros(w.end) AS end_us, n_events FROM sess"],
        [f"flat+parquet-stream://{out}?checkpointLocation={out}-ckpt"
         "&trigger-interval=availableNow"],
    )

    def run(c: Context):
        pipe = Pipeline.from_uris(*uris)
        late = await_streams(
            c.spark, lambda: pipe.run(c.spark, await_termination=True)
        )
        c.tracer.add("streaming.early_return_s", late)

    ctx.checks.append(Check(
        f"p{p}_sessions",
        f"SELECT user_id, start_us, end_us, CAST(n_events AS BIGINT) "
        f"FROM {pq(out)}",
        f"SELECT * FROM {pq(expected)}",
    ))
    return Op(f"p{p}_sessions", "stream", rows, run)


def ops(ctx: Context, p: int) -> list[Op]:
    # The order is fixed: the first ops of a process pay the JVM's
    # remaining warm-up, which would move between ops with a seeded order.
    rng = np.random.default_rng([ctx.seed, p])
    return [_revenue(ctx, p, rng), _props(ctx, p, rng), _sessions(ctx, p, rng)]
