"""Start the driver JVM from a class-data-sharing (CDS) archive.

Every CLI call is a fresh process, so every call starts a JVM and loads
Spark's classes before it touches data: about 8 s to start a session
and 7 s more for the first pipeline on 4 cores. A JDK dynamic CDS
archive (JEP 350) holds those classes already parsed and verified; a
JVM started with ``-XX:SharedArchiveFile`` maps it instead of loading
the classes from the jars.

:func:`launch` is called by ``session.get_spark`` to launch the gateway
JVM. It looks the archive up under a key derived
from everything the archive depends on (the JDK, the jars, the heap
size, the driver's Java options and extra classpath). On a miss it
builds the archive once, in a child process that runs
:func:`warm_up` under ``-XX:ArchiveClassesAtExit`` with the caller's
confs (:func:`build_main`); later sessions with the
same key start from it. The key also hashes this module, which holds
the warm-up, so a changed warm-up builds a new archive. Archives live in
``$XDG_CACHE_HOME/spark_etl_cli_spark/cds`` (``~/.cache`` when unset),
with the build's log beside each one.

CDS refuses a classpath that holds a non-empty directory, and Spark
puts its conf directory on the classpath. When that directory holds
nothing but ``*.template`` files the gateway is launched with
``SPARK_CONF_DIR`` pointing at an empty directory, which changes
nothing Spark reads. When it holds real configuration, or Hadoop/YARN
configuration or an extra distribution classpath is set, no archive is
used and the session starts as it would without this module. A build
that fails or outlasts ``BUILD_TIMEOUT_S`` leaves a ``.failed`` marker
and is not retried; a build another process is running is not waited
for. A stale or corrupt archive is refused by the JVM itself
(``-Xshare:auto`` is the default), which then loads classes from the
jars; a JVM that dies on one is started again without it.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from collections.abc import Callable, Iterator
from pathlib import Path
from typing import TypeVar

from pyspark.errors import PySparkRuntimeError

T = TypeVar("T")

JAVA_OPTS = "spark.driver.extraJavaOptions"
# The driver confs that reach the JVM's command line and can change
# which classes it loads or how it lays out the heap (32g is the
# compressed-oops boundary; the two modes use different base archives).
KEY_CONFS = ("spark.driver.memory", JAVA_OPTS, "spark.driver.extraClassPath")
# Configuration the engine must never hide by swapping the conf dir.
USER_CONFIG_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# A build takes 45-62 s on 4 cores: the JVM starts in ~13 s (slower
# while recording classes), the warm-up runs ~20 s, the dump ~15-20 s.
BUILD_TIMEOUT_S = 120.0
# The warm-up's stream ends in a few seconds; a stream still running
# after this long is stopped, and the archive holds what it loaded.
STREAM_BOUND_S = 60.0
BUILD_MAIN = (
    "import sys; from spark_etl_cli_spark import cds; "
    "sys.exit(cds.build_main(sys.argv[1]))"
)


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
    return Path(base) / "spark_etl_cli_spark" / "cds"


def spark_home() -> Path:
    from pyspark.find_spark_home import _find_spark_home

    return Path(_find_spark_home())


def java_home() -> Path | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"]).resolve()
    java = shutil.which("java")
    return Path(java).resolve().parent.parent if java else None


def _user_config(home: Path) -> bool:
    """True when the launch reads configuration a swapped conf dir would
    hide, or puts directories on the classpath that CDS refuses."""
    if any(os.environ.get(v) for v in USER_CONFIG_ENV):
        return True
    d = Path(os.environ.get("SPARK_CONF_DIR") or home / "conf")
    return d.is_dir() and any(
        not p.name.endswith(".template") for p in d.iterdir()
    )


def warm_up_digest() -> str:
    """A hash of this module's source, which holds the warm-up: an
    archive another warm-up built holds other classes."""
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()


def archive_key(confs: dict[str, str], home: Path, jdk: Path) -> str:
    """A hash of everything the archive's validity depends on."""
    release = jdk / "release"
    jars = sorted(
        (p.name, st.st_size, st.st_mtime_ns)
        for p in (home / "jars").glob("*.jar")
        for st in [p.stat()]
    )
    parts = {
        "jdk": str(jdk),
        "release": release.read_text() if release.is_file() else "",
        "jars": jars,
        "confs": {k: v for k, v in sorted(confs.items())
                  if k in KEY_CONFS or k.startswith("spark.jars")},
        # spark-submit adds these to the JVM's command line too
        "env": {v: os.environ.get(v, "")
                for v in ("SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS")},
        "warm_up": warm_up_digest(),
    }
    blob = json.dumps(parts, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:20]


def with_java_opt(confs: dict[str, str], opt: str) -> dict[str, str]:
    opts = " ".join(o for o in (confs.get(JAVA_OPTS), opt) if o)
    return {**confs, JAVA_OPTS: opts}


@contextlib.contextmanager
def _environ(**env: str) -> Iterator[None]:
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def lookup(confs: dict[str, str]) -> tuple[Path, Path] | None:
    """(archive, empty conf dir) for a launch with ``confs``, building the
    archive on a miss; None when no archive can be used."""
    home, jdk = spark_home(), java_home()
    if jdk is None or _user_config(home):
        return None
    if any(w in confs.get(JAVA_OPTS, "")
           for w in ("SharedArchiveFile", "ArchiveClassesAtExit", "Xshare")):
        return None  # the caller manages CDS itself
    cache = cache_dir()
    conf = cache / "conf"  # stays empty
    try:
        conf.mkdir(parents=True, exist_ok=True)
    except OSError:
        return None
    if not os.access(cache, os.W_OK):
        return None
    key = archive_key(confs, home, jdk)
    jsa = cache / f"{key}.jsa"
    if jsa.exists():
        return jsa, conf
    failed = cache / f"{key}.failed"
    if failed.exists():
        return None
    with open(cache / f"{key}.lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return None  # another process is building it: do not wait
        if not jsa.exists() and not failed.exists():
            error = build(confs, jsa, conf)
            if error:
                failed.write_text(error + "\n")
    return (jsa, conf) if jsa.exists() else None


def build(confs: dict[str, str], jsa: Path, conf: Path) -> str | None:
    """Dump the archive for ``confs`` to ``jsa`` from a child process;
    returns why it failed, or None."""
    tmp = jsa.with_suffix(f".{os.getpid()}.tmp")
    spec = with_java_opt(confs, f"-XX:ArchiveClassesAtExit={tmp}")
    root = str(Path(__file__).resolve().parent.parent)
    path = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    env = {**os.environ, "SPARK_CONF_DIR": str(conf), "PYTHONPATH": path}
    log_path = jsa.with_suffix(".log")
    try:
        with open(log_path, "wb") as log, tempfile.TemporaryDirectory(
            prefix="cds-build-"
        ) as cwd:
            child = subprocess.Popen(
                [sys.executable, "-c", BUILD_MAIN, json.dumps(spec)],
                env=env, cwd=cwd, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = child.wait(timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                # the JVM shares the child's process group
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(child.pid, signal.SIGKILL)
                child.wait()
        if code == 0 and tmp.is_file() and tmp.stat().st_size > 0:
            os.replace(tmp, jsa)
            return None
    finally:
        tmp.unlink(missing_ok=True)  # a partial dump
    if code is None:
        return f"build ran past {BUILD_TIMEOUT_S:.0f} s; see {log_path}"
    return f"build exited with {code}; see {log_path}"


def _crash_logs() -> set[Path]:
    """The JVM's fatal-error logs in the working directory, where a
    gateway JVM that crashes writes its ``hs_err_pid<N>.log``."""
    return set(Path.cwd().glob("hs_err_pid*.log"))


def _remove_crash_logs(before: set[Path], opt: str) -> None:
    """Delete the crash logs that appeared since ``before`` and whose
    recorded ``jvm_args`` line holds ``opt``; any other log stays."""
    for log in _crash_logs() - before:
        try:
            with log.open(errors="replace") as fh:
                args = next(
                    (ln for ln in fh if ln.startswith("jvm_args:")), ""
                )
        except OSError:
            continue
        if opt in args.split():
            log.unlink(missing_ok=True)


def launch(confs: dict[str, str], start: Callable[[dict[str, str]], T]) -> T:
    """``start(confs)``, which launches the gateway JVM, with the archive
    for ``confs`` when one can be used. A JVM that dies on the archive
    (a truncated file passes its header checks and then faults) is
    started again without it, the key is marked failed, and the crash
    log the dead JVM left in the working directory is removed."""
    found = lookup(confs)
    if found is None:
        return start(confs)
    jsa, conf = found
    opt = f"-XX:SharedArchiveFile={jsa}"
    before = _crash_logs()
    try:
        with _environ(SPARK_CONF_DIR=str(conf)):
            return start(with_java_opt(confs, opt))
    except PySparkRuntimeError:
        out = start(confs)  # raises again when the archive was not the cause
        jsa.with_suffix(".failed").write_text(f"the JVM died on {jsa}\n")
        jsa.unlink(missing_ok=True)
        _remove_crash_logs(before, opt)
        return out


def warm_up_stream(spark, root: Path) -> list:
    """The warm-up's stream: two files of events under ``root / "ev"``
    through ``parquet-stream://`` -> ``watermark://`` ->
    ``session_window`` -> ``parquet-stream://`` (``root / "sessions"``)
    with availableNow, one file an epoch, so it runs two data epochs and
    the no-data epoch that evicts the first file's sessions. It is
    awaited for at most ``STREAM_BOUND_S``; a query still running then
    is stopped. Returns the queries it started."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_etl_cli_spark.pipeline import Pipeline

    src, out = root / "ev", root / "sessions"
    src.mkdir(parents=True)
    t0 = 1_700_000_000 * 1_000_000
    for i, minutes in enumerate([(0, 1, 2), (60, 61)]):
        ts = [t0 + m * 60_000_000 for m in minutes for _ in (1, 2)]
        users = [u for _ in minutes for u in (1, 2)]
        path = src / f"part-{i}.parquet"
        pq.write_table(pa.table({"user_id": pa.array(users, pa.int64()),
                                 "ts": pa.array(ts, pa.timestamp("us"))}), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # file order
    pipe = Pipeline.from_uris(
        [f"ev+parquet-stream://{src}?schema=user_id BIGINT, ts TIMESTAMP_NTZ"
         "&maxFilesPerTrigger=1"],
        ["ev+evts+sql://SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM ev",
         "evts+evwm+watermark://ts:10 minutes",
         "evwm+sess+sql://SELECT user_id, session_window(ts, '5 minutes') AS w,"
         " count(*) AS n FROM evwm GROUP BY 1, 2",
         "sess+flat+sql://SELECT user_id, w.start AS session_start, "
         "w.end AS session_end, n FROM sess"],
        [f"flat+parquet-stream://{out}?checkpointLocation={root / 'ckpt'}"
         "&trigger-interval=availableNow"],
    )
    try:
        pipe.run(spark, await_termination=STREAM_BOUND_S)
    finally:
        for q in getattr(pipe, "queries", []):
            q.stop()
    return pipe.queries


def warm_up(spark) -> None:
    """A fixed pipeline over the plan shapes the engine runs most: parquet
    scan, join, aggregate, window and write, an append, merge and read
    on each lakehouse format, and a stateful stream
    (:func:`warm_up_stream`). The five parts run in parallel threads; a
    cold JVM spends their time loading classes, which its class loaders
    do concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    from spark_etl_cli_spark.pipeline import Pipeline
    from spark_etl_cli_spark.session import local_frame

    def run(sources, transforms, sinks=()):
        Pipeline.from_uris(sources, transforms, list(sinks)).run(spark)

    def batch(root: Path) -> None:
        run([f"a+parquet://{root / 'a'}", f"b+parquet://{root / 'b'}"],
            ["a+j+sql://SELECT a.cust, count(*) AS n, sum(b.price) AS p, "
             "max(a.status) AS s FROM a JOIN b ON a.id = b.id GROUP BY a.cust",
             "a+w+sql://SELECT id, cust, row_number() OVER (PARTITION BY cust "
             "ORDER BY price DESC) AS r, sum(price) OVER (PARTITION BY status) "
             "AS t FROM a"],
            [f"j+parquet://{root / 'j'}?mode=overwrite",
             f"w+parquet://{root / 'w'}?mode=overwrite"])

    def table(root: Path, fmt: str, append: str, merge: str) -> None:
        t = root / fmt
        run([f"{fmt}a+parquet://{root / 'a'}"], [], [f"{fmt}a+{fmt}://{t}?{append}"])
        run([f"{fmt}b+parquet://{root / 'b'}"], [], [f"{fmt}b+{fmt}://{t}?{merge}"])
        run([f"{fmt}t+{fmt}://{t}"],
            [f"{fmt}t+{fmt}c+sql://SELECT count(*) AS n, sum(price) AS p "
             f"FROM {fmt}t"])
        spark.table(f"{fmt}c").collect()

    with tempfile.TemporaryDirectory(prefix="cds-warmup-") as d:
        root = Path(d)
        rows = [(i, i % 7, f"s{i % 3}", i * 1.5) for i in range(200)]
        schema = "id bigint, cust bigint, status string, price double"
        local_frame(spark, rows, schema).write.parquet(str(root / "a"))
        more = [(500 + i, 1, "n", 2.0) for i in range(50)]
        local_frame(spark, rows[150:] + more, schema).write.parquet(
            str(root / "b")
        )
        parts = [
            (batch, root),
            (table, root, "delta", "mode=append",
             "mode=merge&on=id&set.price=source.price"),
            (table, root, "iceberg", "mode=append", "mode=upsert&merge-key=id"),
            (table, root, "hudi", "mode=append&record-key=id",
             "mode=upsert&record-key=id"),
            (warm_up_stream, spark, root / "stream"),
        ]
        with ThreadPoolExecutor(len(parts)) as pool:
            for f in [pool.submit(*p) for p in parts]:
                f.result()


def build_main(confs_json: str) -> int:
    """Child side of :func:`build`: run the warm-up in a JVM that dumps
    its loaded classes at exit, then stop it and wait for the dump."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("cds-warmup").master("local[*]")
    for k, v in json.loads(confs_json).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warm_up(spark)
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # the gateway exits (and dumps) when its stdin closes
    jvm.stdin.close()
    return jvm.wait(timeout=BUILD_TIMEOUT_S)
