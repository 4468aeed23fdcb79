#!/usr/bin/env python
"""One KG-pipeline run: the unit of the N -> 4N scaling pair (bench/scaling.py).

    python bench/pipeline_job.py <master> <n_pages> [driver|distributed]

`master` is `local[N]` (N task threads in one JVM) or
`local-cluster[n,c,mem]` (n executor JVMs of c cores each, forked by an
in-process standalone Master/Worker, with a `mem - 512` MB heap each and a
4 GB driver). Modes:

- driver (default): the engine's own size-adaptive plan;
- distributed: every size-adaptive escape hatch off (distributed LSH
  linking, alternating-star CC, AQE-decided joins: the plan a 10^9-surface
  crawl runs), and the merged-entities table is counted too, so the merge
  groupBy is inside the window.

Prints one JSON line {"master", "cores", "n_pages", "mode", "secs",
"triples", "entities", "jvms", "triples_hash", "pages_per_sec",
"triples_per_sec"}. `jvms` counts the driver and every registered executor;
`triples_hash` is bit_xor(xxhash64(subj, pred, obj)) over the triples.

The corpus is materialized once as parquet under $SPARK_GRAFT_TMP (default
/tmp), cached across invocations, and read back with spark.read.parquet.
JVM start, executor registration, worker warmup, corpus generation and the
triple hash stay outside the timed window.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MODES = ("driver", "distributed")
# scan+extract task waves per core: page cost is uniform (bounded html), so
# fewer, larger tasks win; every pass over the cached spans table inherits
# this partitioning (waves=2 cut 8-core extract+assembly ~20% vs 4)
WAVES = 2
# lz4 over zstd: the job is CPU-bound and zstd's compression CPU lands on
# the bottleneck (4M pages: local[2] 273.6 s vs 216.6 s, local[8] 107.8 s
# vs 80.7 s)
CODEC = "lz4"
# the production per-shingle hash family (xxhash64), in both modes
HASH_FAMILY = "fast"


def _datagen_fingerprint() -> str:
    """Version tag for the cached corpus: hash of datagen.py source, so a
    datagen change can never silently reuse a stale corpus."""
    import hashlib

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "ocds_entity_extract_spark"
        / "datagen.py"
    ).read_bytes()
    return hashlib.sha256(src).hexdigest()[:10]


def corpus_path(n_pages: int, seed: int = 42) -> str:
    """Write-once parquet corpus shared by every parallelism level.

    The directory name carries a datagen fingerprint and a _SUCCESS marker
    is written only after ALL files land — an interrupted write or an older
    datagen can never be silently reused as scaling-evidence input.
    """
    out = pathlib.Path(os.environ.get("SPARK_GRAFT_TMP", "/tmp")) / (
        f"kg_corpus_n{n_pages}_s{seed}_v{_datagen_fingerprint()}"
    )
    success = out / "_SUCCESS"
    if not success.exists():
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        from ocds_entity_extract_spark.datagen import write_corpus_parquet

        write_corpus_parquet(str(out), n_pages, seed=seed)
        success.touch()
    return str(out / "pages.parquet")


def main() -> None:
    master, n_pages = sys.argv[1], int(sys.argv[2])
    mode = sys.argv[3] if len(sys.argv) > 3 else "driver"
    if mode not in MODES:
        sys.exit(f"mode must be one of {MODES}, not {mode!r}")

    from pyspark.sql import functions as F

    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.session import _master_cores, get_spark

    cores = _master_cores(master, os.cpu_count() or 1)
    path = corpus_path(n_pages)
    corpus_bytes = sum(f.stat().st_size for f in pathlib.Path(path).glob("*.parquet"))
    conf = {
        "spark.sql.files.maxPartitionBytes": str(max(1 << 20, corpus_bytes // (cores * WAVES))),
        "spark.sql.files.openCostInBytes": str(128 * 1024),
        # a fixed advisory size caps reduce-side parallelism at
        # shuffle_bytes/advisory, so it scales with cores, floored at 4 MB
        # (2 MB measured worse)
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            max(4 << 20, corpus_bytes // (cores * 8))
        ),
        "spark.io.compression.codec": CODEC,
    }
    lc = re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", master)
    if lc:
        n_exec, exec_cores, worker_mb = map(int, lc.groups())
        # executor work dirs (launch scripts, logs) beside the corpus, not in
        # $SPARK_HOME/work; the in-process Worker reads this at launch
        os.environ.setdefault(
            "SPARK_WORKER_DIR", os.path.join(os.environ.get("SPARK_GRAFT_TMP", "/tmp"), "lc_work")
        )
        conf.update({
            "spark.executor.memory": f"{worker_mb - 512}m",
            "spark.driver.memory": "4g",
            # executor Python workers import the engine (cloudpickle ships
            # module-level UDF helpers by reference), as --py-files would
            "spark.executorEnv.PYTHONPATH": ROOT,
            # size the executor JVM's GC and thread pools by its own slots,
            # as a cgroup-limited container would, not by the box's cores
            "spark.executor.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:ActiveProcessorCount={exec_cores}"
                f" -XX:ParallelGCThreads={max(2, exec_cores)}"
            ),
            "spark.worker.cleanup.enabled": "true",
        })
    spark = get_spark(app_name=f"scaling-{master}", master=master, extra_conf=conf)
    sc = spark.sparkContext

    def jvms() -> int:
        return sc._jsc.sc().getExecutorMemoryStatus().size()

    deadline = time.time() + 120
    while lc and jvms() <= n_exec and time.time() < deadline:
        time.sleep(0.5)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # start a Python worker (and import pandas) on every core
    warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, cores * 4, 1, cores * 2).select(F.sum(warm("id"))).collect()

    pages = spark.read.parquet(path)
    kw = {"linking_hash_family": HASH_FAMILY}
    if mode == "distributed":
        kw.update(max_driver_linking=0, surface_broadcast="aqe", cc_small_graph_threshold=0)

    t0 = time.time()
    res = build_triples(spark, pages, **kw)
    n_triples = res.triples.count()
    n_entities = res.entities.count() if mode == "distributed" else None
    secs = time.time() - t0
    triples_hash = res.triples.agg(F.bit_xor(F.xxhash64("subj", "pred", "obj"))).first()[0]
    print(json.dumps({
        "master": master,
        "cores": cores,
        "n_pages": n_pages,
        "mode": mode,
        "secs": round(secs, 3),
        "triples": n_triples,
        "entities": n_entities,
        "jvms": jvms(),
        "triples_hash": triples_hash,
        "pages_per_sec": round(n_pages / secs, 1),
        "triples_per_sec": round(n_triples / secs, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
