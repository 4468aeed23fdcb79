"""Multi-JVM plumbing gate: the pipeline on a real local-cluster.

`local-cluster[2,1,mem]` forks one REAL executor JVM per executor (the
standalone Master/Worker path used by spark-submit on a cluster), so this
test covers what single-JVM local[N] cannot: module-pickled pandas UDFs
imported by EXECUTOR-side Python workers (spark.executorEnv.PYTHONPATH —
the --py-files analogue), cross-process shuffle fetches, and broadcast
distribution to non-driver block managers. The job is bench/pipeline_job.py,
the executor axis of bench/scaling.py.

One SparkContext per process, so the local-cluster session runs in a
subprocess; the assertion is OUTPUT IDENTITY — the triple set hash from
the multi-JVM run must equal the one computed by the in-process local[4]
session on the same 300-page parquet corpus.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_local_cluster_matches_local_mode(spark, tmp_path, monkeypatch):
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    out = subprocess.run(
        [sys.executable, str(ROOT / "bench" / "pipeline_job.py"), "local-cluster[2,1,1536]", "300"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(ROOT),
        env={**os.environ, "SPARK_GRAFT_TMP": str(tmp_path)},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])
    # driver + 2 executor JVMs registered
    assert got["jvms"] >= 3, got

    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path))
    monkeypatch.syspath_prepend(str(ROOT / "bench"))
    from pipeline_job import HASH_FAMILY, corpus_path

    pages = spark.read.parquet(corpus_path(300))
    triples = build_triples(spark, pages, linking_hash_family=HASH_FAMILY).triples
    want = triples.agg(F.bit_xor(F.xxhash64("subj", "pred", "obj"))).first()[0]
    assert got["triples"] == triples.count()
    assert got["triples_hash"] == want
