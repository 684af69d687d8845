"""Steadiness check: run workloads repeatedly and report each metric's
median, quartiles and spread.

    python3 perfbench/steady.py --runs 10 --seconds 10 [--workloads point_mix rw_curate] [--seed0 1]

Runs alternate between the workloads (w1 s1, w2 s1, w1 s2, ...), each in
its own process and with its own seed (``seed0``, ``seed0 + 1``, ...).
The spread is (Q3 - Q1) / median, with quartiles as
``statistics.quantiles(values, n=4)`` gives them.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", nargs="+", default=["point_mix", "rw_curate"])
    a = ap.parse_args(argv)
    results: dict[str, list[dict]] = {w: [] for w in a.workloads}
    for i in range(a.runs):
        for w in a.workloads:
            seed = a.seed0 + i
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(a.seconds), "--trace", "0"]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {out.returncode}", flush=True)
                continue
            r = json.loads(lines[-1])
            r["seed"] = seed
            results[w].append(r)
            brief = {k: round(v["value"], 2) for k, v in r["metrics"].items()}
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} {brief}", flush=True)
    for w, runs in results.items():
        if len(runs) < 2:
            continue
        print(f"\n{w}: {len(runs)} runs, seeds {[r['seed'] for r in runs]}, "
              f"failed share {sorted({r['failed'] / r['attempted'] for r in runs})}")
        for m in runs[0]["metrics"]:
            s = summarise([r["metrics"][m]["value"] for r in runs])
            print(f"  {m:24s} median {s['median']:14.4f}  q1 {s['q1']:14.4f}  q3 {s['q3']:14.4f}  spread {s['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
