"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the interquartile
spread as a share of the median (``statistics.quantiles(values, n=4)``),
next to the metric's bound, and the same for the unscaled figures
each run prints beside the metrics (see ``hostspeed.py``).

    python3 perfbench/steady.py --workloads etl_fleet sql_mix llm_mix --seeds 1-10

Runs are sequential, each a fresh ``perfbench/run.py`` process started
from the checkout root, with the workloads interleaved seed by seed so
that a slow spell of the host falls on all of them alike. The raw
results are written as JSON to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: rc {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    result["summary"] = json.loads(proc.stdout.strip().splitlines()[-2][2:])
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in declared["workloads"]])
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--out")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    raw: dict[str, list[dict]] = {}
    for s in args.seeds:
        for w in args.workloads:
            r = run_once(w, s, declared["run_seconds"])
            raw.setdefault(w, []).append({"seed": s, **r})
            values = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed={s} wall={r['wall_s']:.1f}s "
                  f"host_ref={r['summary']['host_ref_ms']['ops_median']:.2f}ms "
                  f"attempted={r['attempted']} failed={r['failed']} correct={r['correct']} "
                  f"{values}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)

    print("\n| workload | metric | median | q1 | q3 | spread | bound | raw median | raw spread |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w, runs in raw.items():
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs]
            unscaled = [r["summary"]["raw"][name] for r in runs]
            q1, med, q3 = stats.quartiles(values)
            print(f"| {w} | {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{stats.spread(values):.3f} | {bound} | "
                  f"{statistics.median(unscaled):.4g} | {stats.spread(unscaled):.3f} |")
        walls = [r["wall_s"] for r in runs]
        refs = [r["summary"]["host_ref_ms"]["ops_median"] for r in runs]
        print(f"| {w} | run wall (s) | {statistics.median(walls):.4g} | | | | | max {max(walls):.4g} | |")
        print(f"| {w} | host reference (ms) | {statistics.median(refs):.4g} | | | "
              f"{stats.spread(refs):.3f} | | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
