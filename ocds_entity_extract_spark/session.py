"""SparkSession factory tuned for the KG-construction workload.

Scale stance (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting for
  hot domains/entities (north_rule requirement), dynamic join strategy.
- Arrow enabled for all pandas-UDF stages (the only Python in the hot path).
- `spark.sql.shuffle.partitions` is max(8, 2x the master's cores) (see
  `_master_cores`; on a real cluster ~2-3x total cores, AQE coalesces down).
- Nested schema pruning stays on (default) so struct-typed mention columns
  prune at the parquet scan.
- In local mode the Python workers come from `pyworker` (Spark's daemon with
  Spark's archives off `sys.path`) wherever that module is importable when
  Spark starts the daemon; see `_daemon_module`.
- A driver JVM that `get_spark` launches starts from a JDK class-data archive
  of the Spark classes where Spark's class path allows one: the first session
  writes it at JVM exit, later ones map it; see `_driver_launch`.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import shutil
import site
import subprocess
import tempfile
import time
from collections.abc import Iterable, Mapping
from dataclasses import dataclass

import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    conf = {  # 2 shuffle partitions per core; AQE coalesces small ones
        "spark.sql.shuffle.partitions": str(max(8, 2 * _master_cores(master, cpus))),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # coalesce small shuffles by SIZE, not up to defaultParallelism:
        # the KG graph stages (linking/CC) move KBs — without this every
        # tiny shuffle runs `cores` tasks and scheduling overhead dominates
        # (inverted scaling local[8] -> local[32] measured before the fix).
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE re-plan (incl. partition coalescing) under .cache() — off
        # by default, which silently pins cached subtrees (mention/signature
        # caches) to the raw shuffle-partition count.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # throughput GC: the KG stages are allocation-heavy (explode + string
        # normalization + columnar cache build); G1's concurrent machinery
        # contends badly at 32 executor threads in one JVM (measured ~1.5-2x
        # slower than ParallelGC on the cache-build phases).
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.ui.enabled": "false",
        "spark.sql.legacy.createHiveTableByDefault": "false",
    }
    daemon = _daemon_module(master)
    if daemon:
        conf["spark.python.daemon.module"] = daemon
    conf.update(extra_conf or {})
    launch = None
    if SparkContext._gateway is None and not (
        os.environ.get("PYSPARK_GATEWAY_PORT") or os.environ.get("SPARK_REMOTE")
    ):  # this call starts the driver JVM (spark-submit's already runs)
        launch = _driver_launch(conf, os.environ, _find_spark_home(), tempfile.gettempdir())
    if launch:
        conf["spark.driver.extraJavaOptions"] = launch.java_options
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if not launch:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.writer:
        atexit.register(_publish_archive, spark.sparkContext._gateway.proc, launch.writer)
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """Driver-side rows -> DataFrame, via an Arrow table.

    `spark.createDataFrame(<list>)` parallelizes pickled rows, so every scan
    of the frame starts Python-worker tasks to unpickle them. An Arrow table
    becomes a JVM `LocalRelation` (planned as `LocalTableScan`, broadcast
    from the driver with no job) below
    `spark.sql.execution.arrow.localRelationThreshold`, and a JVM-only RDD of
    Arrow batches above it. `schema` is a DDL string or a StructType; naive
    datetimes are read as UTC wall-clock time.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def _daemon_module(master: str) -> str | None:
    """`pyworker` as Spark's Python daemon, where Spark can import it.

    Spark starts the daemon as `python -m <module>` once per executor, with
    the executor's working directory and environment. Under a `local[...]`
    master that is this process's, so the module is importable when the
    engine was imported from a plain directory that is the working
    directory, on `PYTHONPATH`, or a site-packages directory. An engine
    shipped by `--py-files` reaches a worker's `sys.path` per task, after
    the daemon started, and `local-cluster` or cluster executors run
    elsewhere: those keep Spark's own daemon.
    """
    if not re.fullmatch(r"local(\[.*\])?", master):
        return None
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    if not os.path.isdir(pkg):
        return None
    importable = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    real = os.path.realpath(root)
    if any(p and os.path.realpath(p) == real for p in importable):
        return f"{__package__}.pyworker"
    return None


def _master_cores(master: str, cpus: int) -> int:
    """Task slots of a `local`, `local[N]` or `local-cluster[n,c,mem]`
    master; `cpus` for `local[*]` and any other."""
    m = re.fullmatch(r"local(?:\[(\d+)\]|-cluster\[(\d+),(\d+),\d+\])?", master)
    if not m:
        return cpus
    return int(m[2]) * int(m[3]) if m[2] else int(m[1] or 1)


# Environment through which Spark's launcher puts more entries on the driver
# class path. The JDK refuses to dump an archive whose class path holds a
# non-empty directory, and a dump that fails still costs the session ~7 s.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING", "SPARK_SQL_TESTING",
)
# Environment whose JVM options reach the driver JVM.
_JAVA_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
# The JVM's own log lines go to stderr: the archive-writing JVM prints ~1,000
# `[warning][cds]` lines at exit, and stdout is the program's.
_JVM_LOG_TO_STDERR = "-Xlog:all=off:stdout -Xlog:all=warning:stderr"
# First bytes of a finished JDK dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC,
# little-endian). The JDK writes the header last, so a dump cut short starts
# with zeros.
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
_ARCHIVE_DIR = "ocds-entity-extract-spark-cds"


@dataclass(frozen=True)
class _DriverLaunch:
    """How `get_spark` starts the driver JVM from a class-data archive."""

    java_options: str  # the driver's spark.driver.extraJavaOptions
    conf_dir: str  # SPARK_CONF_DIR while the JVM launches: an empty directory
    writer: str | None  # where this JVM dumps a new archive at exit


def _driver_launch(
    conf: Mapping[str, str], env: Mapping[str, str], spark_home: str, tmp: str
) -> _DriverLaunch | None:
    """Class-data-sharing settings for a driver JVM about to launch, or None
    to start it exactly as Spark would.

    An archive holds the classes the JVM loaded; mapping it at start replaces
    class loading. The JDK needs the dump-time class path to hold no
    non-empty directory, and Spark's launcher puts its conf dir first, so
    the archive is used only where that dir holds nothing but `*.template`
    files: `SPARK_CONF_DIR` then points at an empty directory without
    changing what Spark reads. Files under `<tmp>/ocds-entity-extract-spark-cds/`:

    - `<key>.<size>.jsa`: a finished archive, mapped with
      `-XX:SharedArchiveFile` only when its size and header check out (a cut
      archive kills the JVM with SIGBUS, a zero header is a dump cut short);
    - `<key>.<pid>.<ns>.part`: the dump of the session in process `pid`,
      created empty at launch (the JVM fills it at exit) and renamed to the
      above at that process's exit once the JVM has exited.

    The key covers what the archive depends on: the JDK, the jar set and
    every JVM option. With no archive for it and no live writer, this
    session writes one (`-XX:ArchiveClassesAtExit`); while another session
    writes one it starts as is.
    """
    opts = conf.get("spark.driver.extraJavaOptions", "")
    if (
        any(env.get(k) for k in _CLASSPATH_ENV)
        or conf.get("spark.driver.extraClassPath")
        or env.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
    ):
        return None
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(
        n.endswith(".template") and os.path.isfile(os.path.join(conf_dir, n))
        for n in os.listdir(conf_dir)
    ):
        return None
    # the java Spark's launcher runs: $JAVA_HOME/bin/java, else `java` on PATH
    java = (
        os.path.join(env["JAVA_HOME"], "bin", "java")
        if env.get("JAVA_HOME")
        else shutil.which("java", path=env.get("PATH"))
    )
    jars = os.path.join(spark_home, "jars")
    if not (java and os.path.isfile(java) and os.path.isdir(jars)):
        return None
    home = os.path.join(tmp, _ARCHIVE_DIR)
    empty_conf = os.path.join(home, "conf")
    os.makedirs(empty_conf, exist_ok=True)
    if os.listdir(empty_conf):
        return None
    options = [conf.get("spark.driver.memory", ""), opts]
    options += [f"{k}={env.get(k, '')}" for k in _JAVA_OPTIONS_ENV]
    key = _archive_key(java, jars, options)
    archive = _sweep_archives(home, key, None)
    if archive:
        flag, writer = f"-XX:SharedArchiveFile={shlex.quote(archive)}", None
    elif any(_writer_alive(n) for n in os.listdir(home) if n.startswith(key + ".")):
        return None
    else:
        writer = os.path.join(home, f"{key}.{os.getpid()}.{time.time_ns()}.part")
        open(writer, "x").close()  # claims the dump until this process is gone
        flag = f"-XX:ArchiveClassesAtExit={shlex.quote(writer)}"
    return _DriverLaunch(
        " ".join(o for o in (opts, flag, _JVM_LOG_TO_STDERR) if o),
        empty_conf,
        writer,
    )


def _archive_key(java: str, jars: str, options: list[str]) -> str:
    """Name of the archive for this JDK (real path, `release` file and
    binary), jar set (names, sizes, mtimes) and JVM option strings."""
    h = hashlib.sha256()
    real = os.path.realpath(java)
    st = os.stat(real)
    h.update(f"{real}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    release = os.path.join(os.path.dirname(os.path.dirname(real)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    for o in options:
        h.update(f"\0{o}".encode())
    return h.hexdigest()[:20]


def _writer_alive(name: str) -> bool:
    """Whether the process that writes `<key>.<pid>.<ns>.part` still runs."""
    parts = name.split(".")
    if len(parts) != 4 or parts[3] != "part" or not parts[1].isdigit():
        return False
    try:
        os.kill(int(parts[1]), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finished_archive(path: str) -> bool:
    """`<key>.<size>.jsa` is whole: its size is the one it was published
    with and its header was written."""
    parts = os.path.basename(path).split(".")
    try:
        with open(path, "rb") as f:
            return (
                len(parts) == 3
                and parts[1].isdigit()
                and os.fstat(f.fileno()).st_size == int(parts[1])
                and f.read(len(_ARCHIVE_MAGIC)) == _ARCHIVE_MAGIC
            )
    except OSError:
        return False


def _sweep_archives(home: str, key: str, published: str | None) -> str | None:
    """Delete dead writers' dumps, then either this key's unsafe archives
    (returning its newest finished one) or, once `published` is, every
    other archive but the newest of another key, so two sessions with
    different JVM options that share a temp dir keep one archive each."""
    found, others, drop = [], [], []
    for e in os.scandir(home):
        if e.name.endswith(".part"):
            if not _writer_alive(e.name):
                drop.append(e.path)
        elif not e.name.endswith(".jsa") or e.path == published:
            continue
        elif not e.name.startswith(key + "."):
            if published:
                others.append((e.stat().st_mtime_ns, e.path))
        elif published or not _finished_archive(e.path):
            drop.append(e.path)
        else:
            found.append((e.stat().st_mtime_ns, e.path))
    drop += [path for _, path in sorted(others)[:-1]]
    for path in drop:
        try:
            os.unlink(path)
        except OSError:
            pass
    return max(found)[1] if found else None


def _publish_archive(proc: subprocess.Popen, writer: str) -> None:
    """At interpreter exit: let the driver JVM finish its dump, publish it as
    `<key>.<size>.jsa` and delete the engine's older archives."""
    if proc.poll() is None:
        if SparkContext._active_spark_context is not None:  # else its accumulator
            SparkContext._active_spark_context.stop()  # server reads a closed socket
        if not proc.stdin.closed:
            proc.stdin.close()  # the driver JVM exits when its stdin closes
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            return  # a later session deletes the dump once this process is gone
    home, name = os.path.split(writer)
    key = name.split(".")[0]
    try:
        with open(writer, "rb") as f:
            done = proc.returncode == 0 and f.read(len(_ARCHIVE_MAGIC)) == _ARCHIVE_MAGIC
        if not done:
            os.unlink(writer)
            return
        archive = os.path.join(home, f"{key}.{os.path.getsize(writer)}.jsa")
        os.replace(writer, archive)
    except OSError:
        return
    _sweep_archives(home, key, archive)
