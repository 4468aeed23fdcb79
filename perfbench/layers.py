"""Traced run: the pipeline's layers called one by one, and the Spark event
log aggregated per layer.

Each layer is a span recorded from outside the program, around calls into
the public functions of the module it is named after. Inside a span every
Spark job runs under a job group named for the layer; its output is forced
with a ``noop`` write, cached for the next layer, and its row count taken
by an `Observation` (no extra job). The event log then gives task time,
CPU, GC, shuffle, spill and Python-worker traffic per job group.

Layers, in plan order:

    extract    operators.mentions.detect_spans_fused
    classify   operators.mentions.surface_dim_batched
               + functions.classify.with_entity_type
    probe      operators.mentions.mentions_via_dim
    merge      operators.merge.merge_entities
    linking    operators.linking.verified_edges (distributed plan) or
               linking_canon_dict (driver plan; rows_out = aliases found)
    cc         operators.cc.canonical_mapping (distributed plan) or the
               driver plan's mapping table built from the canonical dict
    pipeline   plans.pipeline.build_triples forced as the timed job is
    documents  plans.documents.entity_documents, membership_documents
    sink       materialize.materialize_triples,
               sources.catalog.Catalog.replace_table

An untraced pipeline job runs first, so every layer runs warm. Which
linking/cc path runs follows a copy of `build_triples`' own gates for the
workload's arguments; the run fails if the pipeline job took another path
or mapped another number of ids. Triple assembly has no public entry point,
so its cost shows only inside ``pipeline.*``.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import pathlib
import sys
import time
from collections import defaultdict

from procstat import self_cpu_s

LAYERS = (
    "extract", "classify", "probe", "merge", "linking", "cc",
    "documents", "sink", "pipeline",
)
_PER_LAYER = (
    ("wall_s", "s"), ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("rows_out", "rows"), ("stages", "count"), ("tasks", "count"),
)
_PY = (("py_sent_mb", "MB"), ("py_recv_mb", "MB"), ("py_run_s", "s"))
# every per-layer metric a traced run prints, with its unit
UNITS = {
    **{f"{l}.{m}": u for l in LAYERS for m, u in _PER_LAYER},
    **{f"{l}.{m}": u for l in ("extract", "pipeline") for m, u in _PY},
    "driver.py_cpu_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
}

_MB = 1 << 20
_PY_ACC = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to run Python workers": "py_run_ms",
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out with
    the report when the run ends."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.rows: dict[str, int] = defaultdict(int)
        self._pending: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        cpu0, t0 = self_cpu_s(), time.time()
        try:
            yield
        finally:
            self.spans.append({
                "name": name, "start": t0, "end": time.time(),
                "parent": f"run:{self.run_id}", "run_id": self.run_id,
                "driver_cpu_s": self_cpu_s() - cpu0,
            })
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, layer: str, df):
        """Run `df` to completion (noop write), cache it for the next layer
        and add its row count to the layer's rows_out."""
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("n")).cache()
        out.write.format("noop").mode("overwrite").save()
        self.rows[layer] += obs.get["n"]
        return out

    def observed(self, layer: str, df):
        """`df` with its rows counted into `layer` when a later action
        (a table write) runs it; `settle` reads the counts."""
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        self._pending.append((layer, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def settle(self) -> None:
        for layer, obs in self._pending:
            self.rows[layer] += obs.get["n"]
        self._pending = []


def _plan_args(pipeline_kw: dict) -> dict:
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    args = {
        k: p.default
        for k, p in inspect.signature(build_triples).parameters.items()
        if p.default is not inspect.Parameter.empty
    }
    args.update(pipeline_kw)
    return args


def traced_run(spark, wl, pages_path: str, warehouse: pathlib.Path, run_id: str):
    """Call every layer in plan order under spans, then the pipeline job and
    the CLI's write path on its result. Returns (tracer, pipeline result,
    triple count)."""
    from pyspark.sql import functions as F

    from ocds_entity_extract_spark.functions.classify import with_entity_type
    from ocds_entity_extract_spark.materialize import materialize_triples
    from ocds_entity_extract_spark.operators.cc import canonical_mapping
    from ocds_entity_extract_spark.operators.linking import (
        linking_canon_dict,
        verified_edges,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans_fused,
        mentions_via_dim,
        surface_dim_batched,
    )
    from ocds_entity_extract_spark.operators.merge import merge_entities
    from ocds_entity_extract_spark.plans.documents import (
        entity_documents,
        membership_documents,
    )
    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.sources.catalog import Catalog

    tr = Tracer(spark, run_id)
    kw = dict(wl.pipeline_kw)
    args = _plan_args(kw)
    pages = spark.read.parquet(pages_path)

    # one untraced pipeline job first, so the layers and the pipeline span
    # all run warm, like the untraced job_s they are compared with
    build_triples(spark, pages, **kw).triples.count()
    spark.catalog.clearCache()
    with tr.span("extract"):
        spans = tr.force("extract", detect_spans_fused(pages))
    with tr.span("classify"):
        dim = tr.force("classify", with_entity_type(surface_dim_batched(spans)))
    # build_triples' gates: only "auto" counts the dim; without the count
    # the distributed linking path runs
    dim_count = (
        tr.rows["classify"]
        if args["surface_broadcast"] == "auto" and args["cache_intermediates"]
        else None
    )
    broadcast = args["surface_broadcast"] == "force" or (
        dim_count is not None and dim_count <= args["max_broadcast_surfaces"]
    )
    with tr.span("probe"):
        mentions = tr.force("probe", mentions_via_dim(spans, dim, broadcast=broadcast))
    with tr.span("merge"):
        tr.force("merge", merge_entities(mentions))
    ids = dim.select("entity_id")
    driver_linked = dim_count is not None and dim_count <= args["max_driver_linking"]
    if driver_linked:
        with tr.span("linking"):
            dim_pdf = dim.select("surface", "entity_id", "entity_type").toPandas()
            canon = linking_canon_dict(
                sorted(set(dim_pdf["entity_id"])),
                hash_family=args["linking_hash_family"],
            )
            tr.rows["linking"] += sum(1 for s, c in canon.items() if s != c)
        with tr.span("cc"):
            tr.force("cc", spark.createDataFrame(
                sorted(canon.items()), "entity_id string, canonical_id string"
            ))
    else:
        with tr.span("linking"):
            edges = tr.force(
                "linking", verified_edges(ids, hash_family=args["linking_hash_family"])
            )
        with tr.span("cc"):
            tr.force("cc", canonical_mapping(
                ids, edges, small_graph_threshold=args["cc_small_graph_threshold"]
            ))
    spark.catalog.clearCache()

    with tr.span("pipeline"):
        res = build_triples(spark, spark.read.parquet(pages_path), **kw)
        n_triples = res.triples.count()
        if wl.count_entities:
            res.entities.count()
    tr.rows["pipeline"] = n_triples
    # the gates above are a copy of build_triples' own: fail if the timed
    # job took another linking path (the driver path's mapping is built
    # from a Python dict, so its plan reads no file) or mapped other ids
    if driver_linked == _reads_files(res.mapping):
        raise RuntimeError("traced linking path differs from build_triples'")
    if tr.rows["cc"] != res.mapping.count():
        raise RuntimeError("traced cc rows differ from build_triples' mapping")

    with tr.span("documents"):
        ent_docs = tr.force("documents", entity_documents(
            res.entities, res.mapping, res.member_edges,
            contact_edges=res.contact_edges, inst_regions=res.inst_regions,
        ))
        mem_docs = tr.force("documents", membership_documents(
            res.member_edges.select(
                "url", F.col("member_canon").alias("person_id"), "role",
                F.col("org_canon").alias("org_id"),
            ),
            res.mapping.select(
                F.col("canonical_id").alias("entity_id"), "canonical_id"
            ).distinct(),
        ))
    with tr.span("sink"):
        cat = Catalog(spark, str(warehouse))
        written = materialize_triples(cat, res.triples, run_id=run_id)
        tr.rows["sink"] += int(written["triples_total"])
        cat.replace_table(
            "entity_docs", tr.observed("sink", ent_docs), partition_by=["entity_type"]
        )
        cat.replace_table("membership_docs", tr.observed("sink", mem_docs))
        cat.replace_table("product_docs", tr.observed("sink", res.products))
        tr.settle()
    return tr, res, n_triples


def _reads_files(df) -> bool:
    """Whether `df`'s analyzed plan (before any cache substitution) has a
    file scan among its leaves."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        if leaves.next().getClass().getSimpleName() == "LogicalRelation":
            return True
    return False


def aggregate(evlog: str) -> dict[str, dict[str, float]]:
    """Event log -> per job group: task time, CPU, GC, shuffle, spill,
    Python-worker traffic, stage and task counts. Per-stage task metrics
    come from `bench/evlog_report.parse`; this pass adds the stage -> job
    group map, spill and the Python-worker SQL metrics."""
    bench = str(pathlib.Path(__file__).resolve().parent.parent / "bench")
    if bench not in sys.path:
        sys.path.insert(0, bench)
    from evlog_report import _open_lines, parse

    stages, _ = parse(evlog)
    group_of: dict[int, str] = {}
    extra: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in _open_lines(evlog):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                group_of.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            x = extra[ev["Stage ID"]]
            x["spill"] += (ev.get("Task Metrics") or {}).get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                key = _PY_ACC.get(acc.get("Name"))
                if key:
                    x[key] += float(acc.get("Update") or 0)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, s in stages.items():
        g = group_of.get(sid)
        if g is None or not s["tasks"]:
            continue
        a, x = out[g], extra[sid]
        a["stages"] += 1
        a["tasks"] += s["tasks"]
        a["task_s"] += s["run"] / 1e3
        a["cpu_s"] += s["cpu"] / 1e3
        a["gc_s"] += s["gc"] / 1e3
        a["shuffle_write_mb"] += s["sh_w"] / _MB
        a["shuffle_read_mb"] += s["sh_r"] / _MB
        a["spill_mb"] += x["spill"] / _MB
        a["py_sent_mb"] += x["py_sent"] / _MB
        a["py_recv_mb"] += x["py_recv"] / _MB
        a["py_run_s"] += x["py_run_ms"] / 1e3
    return out


def layer_metrics(tr: Tracer, groups: dict, warehouse: pathlib.Path) -> dict[str, float]:
    """Spans + event-log aggregates + sink file sizes -> every metric in
    `UNITS`."""
    walls = {s["name"]: s["end"] - s["start"] for s in tr.spans}
    m: dict[str, float] = {}
    for layer in LAYERS:
        g = groups.get(layer, {})
        for name, _unit in _PER_LAYER:
            if name == "wall_s":
                m[f"{layer}.wall_s"] = walls[layer]
            elif name == "rows_out":
                m[f"{layer}.rows_out"] = tr.rows[layer]
            elif name in ("stages", "tasks"):
                m[f"{layer}.{name}"] = int(g.get(name, 0))
            else:
                m[f"{layer}.{name}"] = g.get(name, 0.0)
    for layer in ("extract", "pipeline"):
        for name, _unit in _PY:
            m[f"{layer}.{name}"] = groups.get(layer, {}).get(name, 0.0)
    m["driver.py_cpu_s"] = next(
        s["driver_cpu_s"] for s in tr.spans if s["name"] == "pipeline"
    )
    files = written_files(warehouse)
    m["sink.bytes_written"] = sum(p.stat().st_size for p in files)
    m["sink.files_written"] = len(files)
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer metrics out of step: {set(m) ^ set(UNITS)}")
    return m


def written_files(warehouse: pathlib.Path) -> list[pathlib.Path]:
    """Data files of the tables under `warehouse` (no markers, no CRCs)."""
    return [
        p for p in warehouse.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    ]


def evlog_dir(root: pathlib.Path) -> str:
    """The one application log a traced run leaves in `root`."""
    (only,) = os.listdir(root)
    return str(root / only)
