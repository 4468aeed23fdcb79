#!/usr/bin/env python
"""Local-cluster scaling evidence: N vs 4N EXECUTORS (not threads).

    python bench/scaling_lc.py [n_pages] [levels_csv] [reps]
    python bench/scaling_lc.py 4000000 1x2,4x2 2

Levels are `<n_executors>x<cores_per_exec>` — per-executor cores and heap
are IDENTICAL at every level (8g / 2 cores by default), so a level step
multiplies the number of executor JVMs exactly as a real cluster's N -> 4N
step does. Each round runs bench/pipeline_job_lc.py in a fresh process
(fresh driver JVM, fresh Master/Worker, fresh executor JVMs).

Methodology is identical to bench/scaling.py (interleaved rounds, pooled
per-level minima across windows in BENCH/scaling_history.jsonl, keyed by
the same engine fingerprint plus an lc-job fingerprint) — see that file's
docstring for why interleaving + pooled minima is the only estimator that
survives this box's ±25-30% co-tenancy drift.

Report: writes BENCH/LOCAL_CLUSTER.md and prints a JSON summary.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "bench"))

from scaling import append_history, engine_fingerprint, HISTORY  # noqa: E402


def lc_fingerprint() -> str:
    """Pool key extension: LC rounds additionally pin the lc job's source,
    so a pipeline_job_lc.py change can never silently pool with old rows."""
    h = hashlib.sha256()
    h.update((ROOT / "bench" / "pipeline_job_lc.py").read_bytes())
    return h.hexdigest()[:12]


def run_once(level: str, n_pages: int, mode: str) -> dict:
    n_exec, cores = level.split("x")
    out = subprocess.run(
        [
            sys.executable,
            str(ROOT / "bench" / "pipeline_job_lc.py"),
            n_exec,
            cores,
            str(n_pages),
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=str(ROOT),
        env={**os.environ, "SPARK_GRAFT_MODE": mode},
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def load_rounds(fp: str, lcfp: str, n_pages: int, mode: str) -> list[dict]:
    rounds = []
    if HISTORY.exists():
        for line in HISTORY.read_text().splitlines():
            if not line.strip():
                continue
            r = json.loads(line)
            if (
                r.get("kind") == "round_lc"
                and r.get("fp") == fp
                and r.get("lcfp") == lcfp
                and r.get("n_pages") == n_pages
                and r.get("mode") == mode
            ):
                rounds.append(r)
    return rounds


def pooled(rounds: list[dict], n_pages: int) -> dict:
    """Per-level pooled minima of `rounds`: the levels (by executor count),
    best row and round count per level, the efficiency of every 4x-executor
    pair, and the markdown table and efficiency lines that both this
    report and BENCH/BASELINE.md (scaling.lc_summary) print."""
    levels = sorted({r["level"] for r in rounds}, key=lambda s: int(s.split("x")[0]))
    best = {
        lv: min((r for r in rounds if r["level"] == lv), key=lambda r: r["secs"])
        for lv in levels
    }
    n_rounds = {lv: sum(1 for r in rounds if r["level"] == lv) for lv in levels}
    effs = {
        (a, b): (best[a]["secs"] / best[b]["secs"]) / 4
        for i, a in enumerate(levels)
        for b in levels[i + 1:]
        if int(b.split("x")[0]) == 4 * int(a.split("x")[0])
        and b.split("x")[1] == a.split("x")[1]
    }
    table = "\n".join(
        [
            "| cluster size | wall (s) | pages/s | triples/s | rounds pooled |",
            "|---|---|---|---|---|",
        ]
        + [
            f"| local-cluster[{lv.replace('x', ' exec x ')} cores] | "
            f"{best[lv]['secs']} | {round(n_pages / best[lv]['secs'], 1)} | "
            f"{round(best[lv]['triples'] / best[lv]['secs'], 1)} | {n_rounds[lv]} |"
            for lv in levels
        ]
    )
    eff_lines = "\n".join(
        f"- **{a} -> {b} executors (x4 executors, per-executor cores+heap "
        f"fixed): {e:.3f}**" for (a, b), e in effs.items()
    )
    return {
        "levels": levels,
        "best": best,
        "n_rounds": n_rounds,
        "effs": effs,
        "table": table,
        "eff_lines": eff_lines,
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    report_only = "--report-only" in sys.argv[1:]
    mode = os.environ.get("SPARK_GRAFT_MODE", "distributed")
    n_pages = int(args[0]) if args else 4_000_000
    levels = args[1].split(",") if len(args) > 1 else ["1x2", "4x2"]
    reps = int(args[2]) if len(args) > 2 else 2

    fp = engine_fingerprint()
    lcfp = lc_fingerprint()
    run_id = f"lc{int(time.time())}"

    if not report_only:
        print(
            f"# lc window {run_id}: {reps} interleaved rounds over {levels} "
            f"(fp {fp}, lcfp {lcfp}, mode {mode})",
            file=sys.stderr,
        )
        for i in range(reps):
            for lv in levels:
                r = run_once(lv, n_pages, mode)
                print(f"#   round {i} lc[{lv}]: {r['secs']}s", file=sys.stderr)
                append_history(
                    {
                        "kind": "round_lc",
                        "fp": fp,
                        "lcfp": lcfp,
                        "run": run_id,
                        "mode": mode,
                        "n_pages": n_pages,
                        "level": lv,
                        "n_exec": r["n_exec"],
                        "cores": r["cores"],
                        "secs": r["secs"],
                        "triples": r["triples"],
                        "entities": r.get("entities"),
                        "ts": round(time.time(), 1),
                    }
                )

    rounds = load_rounds(fp, lcfp, n_pages, mode)
    if not rounds:
        print("# no lc history rows — run without --report-only first",
              file=sys.stderr)
        return 1

    pool = pooled(rounds, n_pages)
    levels_m, best, n_rounds, effs = (
        pool["levels"], pool["best"], pool["n_rounds"], pool["effs"]
    )
    windows = sorted({r["run"] for r in rounds})
    by_run: dict[str, dict[str, float]] = {}
    for r in rounds:
        w = by_run.setdefault(r["run"], {})
        w[r["level"]] = min(w.get(r["level"], r["secs"]), r["secs"])
    paired = {
        p: sorted(
            (w[p[0]] / w[p[1]]) / 4
            for w in by_run.values()
            if p[0] in w and p[1] in w
        )
        for p in effs
    }

    def _median(vs):
        return vs[len(vs) // 2] if len(vs) % 2 else (
            vs[len(vs) // 2 - 1] + vs[len(vs) // 2]
        ) / 2

    paired_rows = "\n".join(
        f"- {a} -> {b}: median {_median(v):.3f}, best window {v[-1]:.3f}, "
        f"worst {v[0]:.3f} ({len(v)} windows with both levels)"
        for (a, b), v in paired.items()
        if v
    )
    t_all = {best[lv]["triples"] for lv in levels_m}
    ident = f"{len(t_all) == 1} ({t_all.pop()})"

    md = f"""# BENCH/LOCAL_CLUSTER — N vs 4N EXECUTORS (multi-JVM proxy)

The north rule's scaling criterion is N -> 4N EXECUTORS. The local[N]
evidence in BENCH/BASELINE.md scales the thread count inside ONE shared
JVM heap — faithful for cores, unfaithful for executors (the event-log
attribution shows the shared heap itself is what degrades: GC core-seconds
12x at 4x threads). This file scales the number of REAL EXECUTOR JVMs
(`local-cluster[n,2,mem]`, one CoarseGrainedExecutorBackend process per
executor, own heap/GC/Python workers/shuffle server), holding
per-executor cores (2) and heap ({os.environ.get('SPARK_GRAFT_EXEC_MEM', '8g')})
fixed — exactly how a real cluster adds executors.

Same forced-distributed KG job, same deterministic {n_pages}-page corpus,
same interleaved-window + pooled-minima methodology as BENCH/BASELINE.md
(engine fingerprint {fp}, lc-job fingerprint {lcfp},
mode {mode}; rows in BENCH/scaling_history.jsonl kind=round_lc).

Bias note: at 1 executor all shuffle fetches are process-local; at 4,
~75% cross process boundaries. A real cluster pays remote fetches at BOTH
sizes, so the pair below UNDER-states true executor scaling.

Pooled per-level minima over {len(rounds)} interleaved rounds across
{len(windows)} windows:

{pool["table"]}

Scaling efficiency per 4x-executor pair ((thr_4N/thr_N)/4):

{pool["eff_lines"]}

Paired within-window ratios (drift cancels inside a window):

{paired_rows}

Triples emitted identical at every level and round: {ident}.
"""
    (ROOT / "BENCH" / "LOCAL_CLUSTER.md").write_text(md)
    print(md)
    print(json.dumps({
        "fingerprint": fp,
        "lcfp": lcfp,
        "mode": mode,
        "rounds": len(rounds),
        "windows": len(windows),
        "efficiencies": {f"{a}->{b}": round(e, 3) for (a, b), e in effs.items()},
        "levels": {
            lv: {"secs": best[lv]["secs"], "rounds": n_rounds[lv]}
            for lv in levels_m
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
