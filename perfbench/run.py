#!/usr/bin/env python3
"""Pages -> triples benchmark of the KG engine on ``local[4]``.

    python3 perfbench/run.py --workload crawl_adaptive --seed 1 --seconds 10 --trace 0

One run is one fresh process: it generates (or reuses) the workload's
seeded corpus, starts a Spark session, runs the workload's job and checks
its output against the corpus's golden triples. The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; all other
output goes to stderr. The full report (environment, every job rep, the
checks, spans and per-layer numbers) is written to
``perfbench/.work/reports/<run id>.json``.

``--trace 0`` measures the end-to-end metrics, with tracing off:

    setup_s      session start + first JVM action + first Python-worker
                 action (once per run: each sample needs a fresh JVM)
    cold_job_s   the first job in the fresh process (a CLI user pays it on
                 every run)
    job_s        median wall time of the warm jobs: after the cold job and
                 one untimed warm-up job (the JIT and the Python workers
                 are still warming on the second job), as many as fit in
                 ``--seconds``, and at least two (one job is too exposed to
                 bursts of host contention)
    pages_per_s  pages / job_s
    cpu_s        median CPU seconds of one warm job: driver Python, driver
                 JVM and Python workers
    bytes_written_per_triple   (cli_materialize only)

The report also holds ``peak_rss_mb``, the peak resident memory of the
driver JVM + driver Python after each job. It is not a printed metric: the
JVM's adaptive heap sizing makes it bimodal from run to run (1.5 or 2.5 GB
on crawl_adaptive), wider than any regression bound could hold.

Every job's triple count must equal the others'. The cold job's triples
are checked against ``golden_triples.parquet`` (precision and recall
>= 0.95 overall, >= 0.90 per predicate); for cli_materialize the lineage
``row_count`` sum must also equal the triple count. A job that crashes or
fails a check counts in ``failed``; it is never dropped or re-run.

``--trace 1`` is the separate traced run (layers.py): event log on, each
layer called on its own under a job group, then the pipeline job and the
CLI's write path. It prints the per-layer metrics; the report adds the
tracing overhead: traced ``pipeline.wall_s`` minus ``job_s`` of the latest
untraced run of the same workload (same seed if there is one).

Which layer metrics should move which end-to-end metric, on which workload:

    layer metrics                       moves              heavy on / light on
    extract.py_run_s, extract.py_*_mb,  job_s, pages_per_s, crawl_adaptive /
      extract.cpu_s                     cpu_s               entity_dense_distributed
    linking.*, cc.*, pipeline.stages,   job_s, cpu_s        entity_dense_distributed /
      pipeline.tasks                                        crawl_adaptive
    driver.py_cpu_s                     job_s, cold_job_s   crawl_adaptive, cli_materialize /
                                                            entity_dense_distributed
    classify.*, probe.*, merge.*        job_s, cpu_s        alike on both
    pipeline.shuffle_write_mb           job_s, peak_rss_mb* neither (see below)
    documents.*, sink.*                 job_s,              cli_materialize / the other two
                                        bytes_written_per_triple
    *.gc_s                              cpu_s, peak_rss_mb* entity_dense_distributed /
                                                            crawl_adaptive
    (* in the report only)

At 8000 pages the forced web-scale plan of entity_dense_distributed runs
~70 stages per job against ~11 for crawl_adaptive, but every exchange
stays a few MB (pipeline.shuffle_write_mb ~2 MB, linking <1 MB). So its
linking and CC layers measure the fixed cost of each distributed stage,
not data volume: a gain on the corpus-sized (url, canon) exchange would
not show on either workload.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import pathlib
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from corpus import ROOT, WORK, WORKLOADS, corpus_dir
from layers import UNITS, aggregate, evlog_dir, layer_metrics, traced_run, written_files
from procstat import cpu_ticks, peak_rss_mb, self_cpu_s, tree_cpu_s

MASTER = "local[4]"
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
    "pages_per_s": "pages/s",
    "cpu_s": "s",
}
# precision/recall floors of tests/test_pipeline_golden.py
MIN_PR, MIN_PR_PER_PRED = 0.95, 0.90


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine."""
    for d in ("tmp", "spark-local", "reports"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(evlog: pathlib.Path | None):
    """Spark session with the engine's own config. Returns (spark,
    setup_s): session start, first JVM action and first Python-worker
    action."""
    from pyspark.sql import functions as F

    from ocds_entity_extract_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if evlog is not None:
        evlog.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(evlog),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    echo = F.pandas_udf(lambda s: s, "long")
    # twice as many partitions as cores, so every core starts a worker
    spark.range(0, 16, 1, 8).select(F.sum(echo("id"))).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when its
    stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def control_s() -> float:
    """A fixed pure-Python CPU loop: taken in the same window as the
    measurements, it tells co-tenant noise apart from a regression."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i & 7
    return time.perf_counter() - t0


def environment(spark) -> dict:
    import pyspark

    commit = None  # a checkout without .git: the source hash identifies it
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    src = hashlib.sha256()
    for p in sorted((ROOT / "ocds_entity_extract_spark").rglob("*.py")):
        src.update(p.relative_to(ROOT).as_posix().encode())
        src.update(p.read_bytes())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "engine_source_sha256": src.hexdigest(),
        "loadavg": os.getloadavg(),
    }


def golden_triples(corpus: pathlib.Path) -> set:
    import pyarrow.parquet as pq

    rows = pq.read_table(corpus / "golden_triples.parquet").to_pylist()
    return {(r["subj"], r["pred"], r["obj"]) for r in rows}


def pr_check(got: set, golden: set) -> dict:
    def pr(g: set, gg: set) -> tuple[float, float]:
        tp = len(g & gg)
        return (tp / len(g) if g else 0.0, tp / len(gg) if gg else 0.0)

    precision, recall = pr(got, golden)
    per_pred = {
        pred: pr({t for t in got if t[1] == pred}, {t for t in golden if t[1] == pred})
        for pred in sorted({t[1] for t in got | golden})
    }
    ok = min(precision, recall) >= MIN_PR and all(
        min(v) >= MIN_PR_PER_PRED for v in per_pred.values()
    )
    return {"ok": ok, "precision": precision, "recall": recall, "per_predicate": per_pred}


def _triple_set(df) -> set:
    pdf = df.select("subj", "pred", "obj").toPandas()  # Arrow: no Row objects
    return set(zip(pdf["subj"], pdf["pred"], pdf["obj"]))


class Job:
    """One rep of the workload's job: `run` is what the timed window covers,
    `counts` and `triples` read the result afterwards."""

    def __init__(self, spark, wl, corpus: pathlib.Path, warehouse: pathlib.Path):
        self.spark, self.wl, self.warehouse = spark, wl, warehouse
        self.pages = corpus / "pages.parquet"
        self.res = None
        self.n = {}

    def run(self) -> None:
        if self.wl.cli:
            from ocds_entity_extract_spark.__main__ import main as cli_main

            self.warehouse.mkdir(parents=True)
            rc = cli_main([
                "-d", str(self.warehouse),
                "-c", os.path.relpath(self.pages, self.warehouse),
                "-o", "db", "--master", MASTER,
            ])
            if rc != 0:
                raise RuntimeError(f"CLI exited with {rc}")
            return
        from ocds_entity_extract_spark.plans.pipeline import build_triples

        self.res = build_triples(
            self.spark, self.spark.read.parquet(str(self.pages)), **dict(self.wl.pipeline_kw)
        )
        self.n["triples"] = self.res.triples.count()
        if self.wl.count_entities:
            self.n["entities"] = self.res.entities.count()

    def counts(self) -> dict:
        """Result counts; for the CLI job also the lineage sum and bytes."""
        if self.wl.cli:
            from ocds_entity_extract_spark.sources.catalog import Catalog

            cat = Catalog(self.spark, str(self.warehouse))
            self.n["triples"] = cat.read("triples").count()
            self.n["lineage_rows"] = sum(
                r[0] for r in cat.read("lineage").select("row_count").collect()
            )
            self.n["bytes_written"] = sum(
                p.stat().st_size for p in written_files(self.warehouse)
            )
        return self.n

    def triples(self) -> set:
        if self.wl.cli:
            from ocds_entity_extract_spark.sources.catalog import Catalog

            return _triple_set(Catalog(self.spark, str(self.warehouse)).read("triples"))
        return _triple_set(self.res.triples)

    def close(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.warehouse, ignore_errors=True)


def untraced(spark, wl, corpus, seconds: float, run_id: str, golden: set) -> dict:
    """The cold job, an untimed warm-up job, then warm jobs until `seconds`
    have passed and at least two ran. The cold job's triples are checked
    against the golden set right after its timed window."""
    pid = jvm_pid(spark)
    reps: list[dict] = []
    check = None

    def total_cpu() -> float:
        return tree_cpu_s(pid) + self_cpu_s()

    def attempt(kind: str) -> None:
        nonlocal check
        job = Job(spark, wl, corpus, WORK / "warehouse" / run_id / f"rep{len(reps)}")
        rep = {"kind": kind, "ok": False}
        cpu0, t0 = total_cpu(), time.perf_counter()
        try:
            job.run()
            rep["wall_s"] = time.perf_counter() - t0
            rep["cpu_s"] = total_cpu() - cpu0
            rep.update(job.counts())
            rep["ok"] = True
            if wl.cli and rep["lineage_rows"] != rep["triples"]:
                rep["ok"], rep["error"] = False, "lineage row_count sum != triples"
            rep["peak_rss_mb"] = peak_rss_mb(pid)
            if check is None:
                t_check = time.perf_counter()
                check = pr_check(job.triples(), golden)
                check["seconds"] = time.perf_counter() - t_check
                if not check["ok"]:
                    rep["ok"], rep["error"] = False, "golden precision/recall check failed"
        except Exception as e:  # one failed job is recorded, the run goes on
            traceback.print_exc()
            rep["error"] = repr(e)
        finally:
            job.close()
        reps.append(rep)
        print(f"# {kind}: {rep}", file=sys.stderr)

    attempt("cold")
    attempt("warmup")
    deadline = time.perf_counter() + seconds
    while len(reps) < 4 or time.perf_counter() < deadline:
        attempt("warm")

    ref = next((r["triples"] for r in reps if r["ok"]), None)
    for r in reps:
        if r["ok"] and r["triples"] != ref:
            r["ok"], r["error"] = False, f"triple count {r['triples']} != {ref}"
    timed = [r for r in reps if r["kind"] == "warm" and r["ok"]]
    metrics = {}
    if reps[0]["ok"]:
        metrics["cold_job_s"] = reps[0]["wall_s"]
    if timed:
        metrics["job_s"] = statistics.median(r["wall_s"] for r in timed)
        metrics["pages_per_s"] = wl.n_pages / metrics["job_s"]
        metrics["cpu_s"] = statistics.median(r["cpu_s"] for r in timed)
        if wl.cli:
            metrics["bytes_written_per_triple"] = statistics.median(
                r["bytes_written"] / r["triples"] for r in timed
            )
    return {
        "metrics": metrics,
        "peak_rss_mb": max(r.get("peak_rss_mb", 0) for r in reps),
        "units": dict(
            END_TO_END_UNITS, **({"bytes_written_per_triple": "bytes"} if wl.cli else {})
        ),
        "reps": reps,
        "check": check,
        "attempted": len(reps),
        "failed": sum(not r["ok"] for r in reps),
    }


def traced(spark, wl, corpus, run_id: str, golden: set) -> dict:
    warehouse = WORK / "warehouse" / run_id
    shutil.rmtree(warehouse, ignore_errors=True)
    out = {"units": UNITS, "attempted": 1, "failed": 1, "metrics": {}}
    try:
        tr, res, n_triples = traced_run(
            spark, wl, str(corpus / "pages.parquet"), warehouse, run_id
        )
        out["spans"], out["tracer"] = tr.spans, tr
        out["check"] = pr_check(_triple_set(res.triples), golden)
        from ocds_entity_extract_spark.sources.catalog import Catalog

        lineage = sum(
            r[0] for r in Catalog(spark, str(warehouse)).read("lineage")
            .select("row_count").collect()
        )
        if lineage != n_triples:
            out["error"] = f"lineage row_count sum {lineage} != {n_triples} triples"
        elif not out["check"]["ok"]:
            out["error"] = "triples fail the golden precision/recall check"
        else:
            out["failed"] = 0
    except Exception as e:
        traceback.print_exc()
        out["error"] = repr(e)
    return out


def finish_traced(out: dict, wl, seed: int, evlog: pathlib.Path, run_id: str) -> None:
    """After the session stopped (event log flushed): per-layer metrics,
    tracing overhead; then drop the log and the scratch warehouse."""
    warehouse = WORK / "warehouse" / run_id
    tr = out.pop("tracer", None)
    if tr is not None:
        out["layer_groups"] = aggregate(evlog_dir(evlog))
        out["metrics"] = layer_metrics(tr, out["layer_groups"], warehouse)
        # the latest untraced run of this workload, of this seed if any
        prior = sorted(
            (WORK / "reports").glob(f"{wl.name}-s*-t0-*.json"),
            key=lambda p: (p.name.startswith(f"{wl.name}-s{seed}-"), p.stat().st_mtime),
        )
        job_s = prior and json.loads(prior[-1].read_text())["metrics"].get("job_s")
        if job_s:
            out["tracing_overhead_s"] = out["metrics"]["pipeline.wall_s"] - job_s
            out["tracing_overhead_vs"] = prior[-1].stem
            print(f"# tracing overhead {out['tracing_overhead_s']:.3f} s", file=sys.stderr)
    shutil.rmtree(evlog, ignore_errors=True)
    shutil.rmtree(warehouse, ignore_errors=True)


def run(wl, seed: int, seconds: float, trace: bool, run_id: str) -> dict:
    phases: dict[str, float] = {}  # wall time of each part of the run
    t = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal t
        phases[name] = time.perf_counter() - t
        t = time.perf_counter()

    controls = [control_s() for _ in range(3)]
    corpus = corpus_dir(wl, seed)
    golden = golden_triples(corpus)
    lap("corpus")
    evlog = WORK / "evlog" / run_id if trace else None
    steal0, total0 = cpu_ticks()
    spark, setup_s = start_session(evlog)
    lap("session")
    try:
        env = environment(spark)
        if trace:
            body = traced(spark, wl, corpus, run_id, golden)
        else:
            body = untraced(spark, wl, corpus, seconds, run_id, golden)
            body["metrics"] = {"setup_s": setup_s, **body["metrics"]}
        lap("body")
        steal1, total1 = cpu_ticks()
        controls += [control_s() for _ in range(3)]
    finally:
        stop_session(spark)
    if trace:
        finish_traced(body, wl, seed, evlog, run_id)
    shutil.rmtree(WORK / "warehouse" / run_id, ignore_errors=True)
    lap("stop")
    return {
        "run_id": run_id,
        "workload": wl.name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "n_pages": wl.n_pages,
        "n_entities": wl.n_entities,
        "pipeline_kw": dict(wl.pipeline_kw),
        "corpus": corpus.name,
        "setup_s": setup_s,
        "phases_s": phases,
        "environment": env,
        "control_s": {"values": controls, "median": statistics.median(controls)},
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        **body,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "ocds_entity_extract_spark" / "plans" / "pipeline.py").is_file() or not (
        ROOT / "bench" / "pipeline_job.py"
    ).is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    prepare_env()
    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{time.time_ns()}"
    with contextlib.redirect_stdout(sys.stderr):
        report = run(wl, args.seed, args.seconds, bool(args.trace), run_id)
    report["error_rate"] = report["failed"] / report["attempted"]
    report["correct"] = report["failed"] == 0 and set(report["metrics"]) == set(
        report["units"]
    )
    (WORK / "reports" / f"{run_id}.json").write_text(
        json.dumps(report, indent=1, default=str)
    )
    units = report["units"]
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {
            k: {"value": v, "unit": units[k]}
            for k, v in report["metrics"].items()
        },
    }))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
