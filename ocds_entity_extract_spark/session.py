"""SparkSession factory tuned for the KG-construction workload.

Scale stance (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting for
  hot domains/entities (north_rule requirement), dynamic join strategy.
- Arrow enabled for all pandas-UDF stages (the only Python in the hot path).
- `spark.sql.shuffle.partitions` sized by caller (max(8, 2N) for local[N];
  on a real cluster this is ~2-3x total cores and AQE coalesces down).
- Nested schema pruning stays on (default) so struct-typed mention columns
  prune at the parquet scan.
- In local mode the Python workers come from `pyworker` (Spark's daemon with
  Spark's archives off `sys.path`) wherever that module is importable when
  Spark starts the daemon; see `_daemon_module`.
"""

from __future__ import annotations

import os
import re
import site
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "ocds-entity-extract-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N*2 shuffle partitions; AQE coalesces small ones.
        n = cpus if "local" not in master or "*" in master else _local_n(master, cpus)
        shuffle_partitions = max(8, n * 2)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE, not up to defaultParallelism:
        # the KG graph stages (linking/CC) move KBs — without this every
        # tiny shuffle runs `cores` tasks and scheduling overhead dominates
        # (inverted scaling local[8] -> local[32] measured before the fix).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (incl. partition coalescing) under .cache() — off
        # by default, which silently pins cached subtrees (mention/signature
        # caches) to the raw shuffle-partition count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # throughput GC: the KG stages are allocation-heavy (explode + string
        # normalization + columnar cache build); G1's concurrent machinery
        # contends badly at 32 executor threads in one JVM (measured ~1.5-2x
        # slower than ParallelGC on the cache-build phases).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    daemon = _daemon_module(master)
    if daemon:
        builder = builder.config("spark.python.daemon.module", daemon)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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


def _local_n(master: str, default: int) -> int:
    try:
        return int(master.split("[", 1)[1].rstrip("]"))
    except (IndexError, ValueError):
        return default
