#!/usr/bin/env python3
"""Steadiness check: run workloads on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
against the metric's bound. With ``--traced`` it also makes one traced
run per seed and reports tracing overhead as traced minus untraced
median.

    python3 perfbench/steady.py --workloads query_mix --seeds 5
    python3 perfbench/steady.py --seeds 10 --traced

Each run's wall time is printed, to check the run budget. Every run's
last line is kept in ``.perfbench/steady/<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    detail = next((json.loads(x)["detail"] for x in lines if x.startswith('{"detail"')), {})
    stamp = next((json.loads(x)["host"] for x in lines if x.startswith('{"host"')), {})
    return {"seed": seed, "trace": trace, "wall_s": wall, "host": stamp,
            "result": json.loads(lines[-1]), "detail": detail}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    out_dir = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for w in args.workloads:
        runs, traced = [], []
        with open(os.path.join(out_dir, f"{w}.jsonl"), "a") as log:
            for seed in range(args.first_seed, args.first_seed + args.seeds):
                for trace in (0, 1) if args.traced else (0,):
                    r = run_once(w, seed, bench["run_seconds"], trace)
                    log.write(json.dumps(r) + "\n")
                    log.flush()
                    (traced if trace else runs).append(r)
                    res = r["result"]
                    print(f"{w} seed={seed} trace={trace} wall={r['wall_s']:.1f}s "
                          f"steal={r['host'].get('steal_pct')}% correct={res['correct']} "
                          f"attempted={res['attempted']} failed={res['failed']}", flush=True)
                    ok &= res["correct"]
        walls = [r["wall_s"] for r in runs + traced]
        print(f"\n{w}: {len(runs)} untraced runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"  {'metric':32s} {'median':>14s} {'spread':>8s} {'bound':>6s} {'overhead':>9s}")
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
            over = ""
            if traced:
                tv = [r["detail"]["traced_end_to_end"][m["name"]] for r in traced]
                over = f"{(statistics.median(tv) - med) / med:+.1%}" if med else ""
            flag = "" if m["name"] == "setup_s" or spread <= m["bound"] / 3 else "  <-- above bound/3"
            print(f"  {m['name']:32s} {med:14.6g} {spread:8.3f} {m['bound']:6.2f} {over:>9s}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
