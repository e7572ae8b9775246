"""Steadiness mode: run each workload repeatedly and report spreads.

    python3 perfbench/steady.py --workloads dashboard,trade_stream --seeds 1-10

For every end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median, against the metric's
bound in BENCHMARK.json: ``ok`` under a third of the bound, ``near``
under the bound, ``NOISY`` over it. ``--traced`` also makes a traced
run per seed and prints the per-layer medians and the tracing
overhead (traced minus untraced ``batch_s``). Each run is a fresh
process started from the repository root.
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


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["log"] = [ln for ln in lines[:-1] if ln.startswith("#")]
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=None,
                    help="comma list (default: every workload in BENCHMARK.json)")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = args.seconds or bench["run_seconds"]
    seeds = _seeds(args.seeds)

    for wl in workloads:
        runs = []
        for seed in seeds:
            r = run_once(wl, seed, seconds, 0)
            runs.append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"{wl} seed={seed} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
            for line in r["log"] if not r["correct"] else ():
                print("   " + line)
        print(f"== {wl}: {len(runs)} runs, wall median "
              f"{statistics.median(r['wall_s'] for r in runs):.1f}s, "
              f"all correct: {all(r['correct'] for r in runs)}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            verdict = ("ok" if sp < bound / 3 else "near" if sp <= bound
                       else "NOISY")
            print(f"   {name:18s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={sp:.3f} bound={bound} {verdict}")
        if args.traced:
            traced = [run_once(wl, seed, seconds, 1) for seed in seeds]
            layers = sorted(traced[0]["metrics"])
            for name in layers:  # layers this workload leaves idle read 0
                med = statistics.median(r["metrics"][name]["value"] for r in traced)
                if med:
                    print(f"   layer {name:42s} median={med:.4f}")
            t_b = statistics.median(r["metrics"]["trace.batch_s"]["value"]
                                    for r in traced)
            u_b = statistics.median(r["metrics"]["batch_s"]["value"] for r in runs)
            print(f"   tracing overhead: traced batch_s {t_b:.4f} - untraced "
                  f"{u_b:.4f} = {t_b - u_b:+.4f}s ({(t_b - u_b) / u_b:+.1%})")
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
