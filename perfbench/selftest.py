"""Smoke self-test of the benchmark: every workload on a tiny corpus, the
traced run on both linking paths and the event-log layer aggregation, in
one Spark session.

    python3 -m pytest perfbench/selftest.py

The file name is outside pytest's default ``test_*.py`` pattern, so a
plain ``python -m pytest`` of the engine's suite does not collect it.
"""

from __future__ import annotations

import dataclasses
import json
import os
import pathlib
import shutil

import pytest

import run
from corpus import WORK, WORKLOADS, corpus_dir
from layers import UNITS

_TINY = {"crawl_adaptive": (300, None), "entity_dense_distributed": (300, 120),
         "cli_materialize": (300, None)}


def _tiny(name: str):
    n_pages, n_entities = _TINY[name]
    return dataclasses.replace(WORKLOADS[name], n_pages=n_pages, n_entities=n_entities)


@pytest.fixture(scope="module")
def spark():
    env = dict(os.environ)
    run.prepare_env()
    evlog = WORK / "evlog" / "smoke"
    shutil.rmtree(evlog, ignore_errors=True)
    session, setup_s = run.start_session(evlog)
    assert setup_s > 0
    yield session, evlog
    # session.stop() only: the JVM gateway stays usable for any Spark test
    # run later in the same process, and exits with it
    session.stop()
    os.environ.clear()
    os.environ.update(env)
    shutil.rmtree(evlog, ignore_errors=True)
    for name in _TINY:
        shutil.rmtree(WORK / "warehouse" / f"smoke-traced-{name}", ignore_errors=True)


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((pathlib.Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == UNITS


@pytest.mark.parametrize("name", sorted(_TINY))
def test_untraced_workload(spark, name):
    session, _ = spark
    wl = _tiny(name)
    corpus = corpus_dir(wl, seed=3)
    out = run.untraced(session, wl, corpus, 0, f"smoke-{name}", run.golden_triples(corpus))
    assert out["failed"] == 0, out["reps"]
    assert out["check"]["ok"], out["check"]
    assert [r["kind"] for r in out["reps"]] == ["cold", "warmup", "warm", "warm"]
    expected = set(run.END_TO_END_UNITS) - {"setup_s"}
    if wl.cli:
        expected.add("bytes_written_per_triple")
    assert set(out["metrics"]) - {"setup_s"} == expected
    assert all(v > 0 for k, v in out["metrics"].items() if k != "setup_s")


# the driver linking path and the distributed one
@pytest.mark.parametrize("name", ["crawl_adaptive", "entity_dense_distributed"])
def test_traced_run_and_layer_aggregation(spark, name):
    session, evlog = spark
    wl = _tiny(name)
    corpus = corpus_dir(wl, seed=3)
    run_id = f"smoke-traced-{name}"
    out = run.traced(session, wl, corpus, run_id, run.golden_triples(corpus))
    assert out["failed"] == 0, out.get("error")
    assert [s["name"] for s in out["spans"]] == [
        "extract", "classify", "probe", "merge", "linking", "cc",
        "pipeline", "documents", "sink",
    ]
    # the session stays up for the other tests: wait until the event log
    # has caught up with the jobs run so far
    session.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    from layers import aggregate, evlog_dir, layer_metrics

    groups = aggregate(evlog_dir(evlog))
    m = layer_metrics(out["tracer"], groups, WORK / "warehouse" / run_id)
    assert set(m) == set(UNITS)
    for layer in ("extract", "classify", "linking", "cc", "pipeline", "sink"):
        assert m[f"{layer}.tasks"] > 0 and m[f"{layer}.task_s"] > 0, layer
    assert m["extract.py_sent_mb"] > 0 and m["pipeline.py_run_s"] > 0
    # the sink writes the triples and the entity, membership and product docs
    assert m["sink.rows_out"] > m["pipeline.rows_out"] > 0
    assert m["sink.files_written"] > 0 and m["sink.bytes_written"] > 0
