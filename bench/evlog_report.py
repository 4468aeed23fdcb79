#!/usr/bin/env python
"""Per-stage attribution from a Spark event log (shuffle bytes, executor
CPU vs run time, GC) — the offline evidence tool behind the scaling
narrative in BENCH/BASELINE.md.

    python tools/make_pyfiles.py
    spark-submit --conf spark.eventLog.enabled=true \
        --conf spark.eventLog.dir=/tmp/evlog \
        --py-files dist/ocds_entity_extract_spark.zip tools/submit_job.py 20000
    python bench/evlog_report.py /tmp/evlog/eventlog_v2_<app-id>

Any Spark application's event log works; `perfbench/run.py --trace 1`
aggregates its own per run and then deletes it.

Prints one row per stage (sorted by total executor run time) plus totals:

    stage  tasks  run_s  cpu_s  cpu/run  gc_s  sh_write_MB  sh_read_MB  in_MB  name

`cpu/run` near 1.0 = the stage's tasks burned cores the whole time
(compute- or memory-stall-bound — stalls count as CPU); well below 1.0 =
blocked on fetch/IO/Python-worker round-trips. Shuffle columns are the
PLAN's payload — they are co-tenancy-independent, so byte attribution is
valid even from a noisy run (timings then carry the noise caveat).
"""

from __future__ import annotations

import glob
import io
import json
import os
import subprocess
import sys
from collections import defaultdict


def _open_lines(path: str):
    """Yield event-log JSON lines from a file, a .zstd file, or a rolling
    eventlog_v2 directory (events_*.zstd parts, in order)."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")))
        for p in parts:
            yield from _open_lines(p)
        return
    if path.endswith(".zstd"):
        out = subprocess.run(
            ["zstd", "-dc", path], capture_output=True, check=True
        ).stdout
        yield from io.StringIO(out.decode("utf-8", "replace"))
    else:
        with open(path) as f:
            yield from f


def parse(path: str) -> tuple[dict, dict]:
    stages: dict[int, dict] = defaultdict(
        lambda: {
            "tasks": 0, "run": 0, "cpu": 0, "gc": 0,
            "sh_w": 0, "sh_r": 0, "inp": 0,
        }
    )
    names: dict[int, str] = {}
    for line in _open_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        k = ev.get("Event")
        if k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            names[si["Stage ID"]] = si.get("Stage Name", "?")
        elif k == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            s = stages[sid]
            s["tasks"] += 1
            s["run"] += tm.get("Executor Run Time", 0)
            s["cpu"] += tm.get("Executor CPU Time", 0) / 1e6  # ns -> ms
            s["gc"] += tm.get("JVM GC Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            s["sh_w"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            s["sh_r"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            im = tm.get("Input Metrics") or {}
            s["inp"] += im.get("Bytes Read", 0)
    return stages, names


def main() -> int:
    path = sys.argv[1]
    stages, names = parse(path)
    rows = sorted(stages.items(), key=lambda kv: -kv[1]["run"])
    tot = defaultdict(float)
    print(
        f"{'stage':>5} {'tasks':>5} {'run_s':>8} {'cpu_s':>8} {'c/r':>5} "
        f"{'gc_s':>6} {'shW_MB':>8} {'shR_MB':>8} {'in_MB':>8}  name"
    )
    for sid, s in rows:
        for k in ("run", "cpu", "gc", "sh_w", "sh_r", "inp"):
            tot[k] += s[k]
        name = names.get(sid, "?")[:70]
        ratio = s["cpu"] / s["run"] if s["run"] else 0.0
        print(
            f"{sid:>5} {s['tasks']:>5} {s['run']/1e3:>8.1f} {s['cpu']/1e3:>8.1f}"
            f" {ratio:>5.2f} {s['gc']/1e3:>6.1f} {s['sh_w']/2**20:>8.1f}"
            f" {s['sh_r']/2**20:>8.1f} {s['inp']/2**20:>8.1f}  {name}"
        )
    print(
        f"TOTAL {sum(s['tasks'] for s in stages.values()):>5}"
        f" {tot['run']/1e3:>8.1f} {tot['cpu']/1e3:>8.1f}"
        f" {tot['cpu']/max(tot['run'],1):>5.2f} {tot['gc']/1e3:>6.1f}"
        f" {tot['sh_w']/2**20:>8.1f} {tot['sh_r']/2**20:>8.1f}"
        f" {tot['inp']/2**20:>8.1f}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
