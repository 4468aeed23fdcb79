#!/usr/bin/env python
"""The north rule's N -> 4N pair on one box: the same job at 1 and 4 cores.

    python bench/scaling.py <n_pages> threads|executors [reps] [driver|distributed]

- threads: local[1] -> local[4], task threads in one JVM heap;
- executors: local-cluster[1,1,2560] -> local-cluster[4,1,2560], one
  executor JVM per core with a 2 GB heap each, beside a 4 GB driver JVM.

Each rep (default 3) runs bench/pipeline_job.py at both levels in fresh
processes, alternating which goes first, then times a fixed pure-Python
control as 1 and 4 processes in the same window. Prints one JSON line:
per-level seconds and medians, efficiency = (median_N / median_4N) / 4, the
control's efficiency (its 1-process time over its 4-process time: what
perfect scaling reads on this box) and their ratio, `normalized`. Exits
non-zero when a run fails or the runs' triple-set hashes differ.

On one box the 4N level shares the memory bus, and on the executors axis
the driver JVM shares the cores too; a real cluster adds neither.
"""

from __future__ import annotations

import json
import pathlib
import statistics
import subprocess
import sys
import time

JOB = pathlib.Path(__file__).resolve().parent / "pipeline_job.py"
AXES = {
    "threads": ("local[1]", "local[4]"),
    "executors": ("local-cluster[1,1,2560]", "local-cluster[4,1,2560]"),
}
CONTROL = "x = 0\nfor i in range(10_000_000):\n    x += i * i"


def job(master: str, n_pages: int, mode: str) -> dict | None:
    """One pipeline_job.py run in a fresh process; None when it fails."""
    out = subprocess.run(
        [sys.executable, str(JOB), master, str(n_pages), mode],
        capture_output=True, text=True, cwd=JOB.parent.parent,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode or not lines:
        print(f"# {master} failed (exit {out.returncode}):\n{out.stderr[-3000:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def control(n: int) -> float:
    """Seconds for n processes each running CONTROL at once."""
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", CONTROL]) for _ in range(n)]
    for p in procs:
        p.wait()
    return time.perf_counter() - t0


def main() -> int:
    n_pages, axis = int(sys.argv[1]), sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    mode = sys.argv[4] if len(sys.argv) > 4 else "driver"
    levels = AXES[axis]
    secs: dict[str, list[float]] = {m: [] for m in levels}
    ctrl: dict[int, list[float]] = {1: [], 4: []}
    hashes, triples, failed = set(), set(), 0
    for rep in range(reps):
        for master in levels if rep % 2 == 0 else levels[::-1]:
            r = job(master, n_pages, mode)
            if r is None:
                failed += 1
                continue
            print(f"# rep {rep} {master}: {r['secs']} s", file=sys.stderr)
            secs[master].append(r["secs"])
            hashes.add(r["triples_hash"])
            triples.add(r["triples"])
        for n in (1, 4) if rep % 2 == 0 else (4, 1):
            ctrl[n].append(round(control(n), 3))

    median = {m: round(statistics.median(v), 3) if v else None for m, v in secs.items()}
    lo, hi = median.values()
    eff = lo / hi / 4 if lo and hi else None
    ctrl_eff = statistics.median(ctrl[1]) / statistics.median(ctrl[4])
    print(json.dumps({
        "axis": axis,
        "mode": mode,
        "n_pages": n_pages,
        "secs": secs,
        "median": median,
        "efficiency": round(eff, 3) if eff else None,
        "control_secs": ctrl,
        "control_efficiency": round(ctrl_eff, 3),
        "normalized": round(eff / ctrl_eff, 3) if eff else None,
        "triples": sorted(triples),
        "triples_hash": sorted(hashes),
        "failed": failed,
    }))
    return 1 if failed or len(hashes) != 1 else 0


if __name__ == "__main__":
    sys.exit(main())
