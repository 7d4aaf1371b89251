"""Steadiness of the benchmark: run one workload N times, one seed each,
and print every metric's median, quartiles and spread.

    python3 perfbench/steady.py --workload code_lake --runs 10 --seconds 10

Run from the repository root. The spread is (q3 - q1) / median with the
quartiles of ``statistics.quantiles(values, n=4)``; the bounds in
BENCHMARK.json are set from it. Each run is a separate process, one
after the other, with seeds 1..N.
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


def summarize(results: list[dict]) -> dict[str, dict]:
    out = {}
    names = sorted({k for r in results for k in r["metrics"]})
    for k in names:
        vals = [r["metrics"][k]["value"] for r in results if k in r["metrics"]]
        if len(vals) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[k] = {"unit": results[0]["metrics"][k]["unit"], "n": len(vals),
                  "median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else float("nan")}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args(argv)
    results = []
    for seed in range(1, a.runs + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(a.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}, no result", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, wall
        for line in p.stderr.splitlines():
            if line.startswith("[perfbench] walls "):
                res["walls"] = json.loads(line[len("[perfbench] walls "):])
            elif line.startswith("[perfbench] jvm."):
                res["runtime"] = dict(kv.split("=") for kv in line.split()[1:])
        results.append(res)
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"{res.get('runtime', {})}", file=sys.stderr, flush=True)
    print(f"{a.workload}: {len(results)} runs, seeds 1..{a.runs}, "
          f"--seconds {a.seconds}, "
          f"run wall median {statistics.median(r['wall_s'] for r in results):.1f} s")
    print(f"{'metric':24s} {'unit':7s} {'median':>11s} {'q1':>11s} "
          f"{'q3':>11s} {'spread':>7s}")
    for k, s in summarize(results).items():
        print(f"{k:24s} {s['unit']:7s} {s['median']:11.4g} {s['q1']:11.4g} "
              f"{s['q3']:11.4g} {s['spread']:7.3f}")
    ops = sorted({k for r in results for k in r.get("walls", {})})
    if ops:
        print("per-operation walls (median of each run's median, spread):")
        for k in ops:
            per = [statistics.median(r["walls"][k]) for r in results
                   if r.get("walls", {}).get(k)]
            if len(per) >= 2:
                q1, _, q3 = statistics.quantiles(per, n=4)
                med = statistics.median(per)
                print(f"  {k:16s} {med:8.3f} s  spread {(q3 - q1) / med:6.3f}  "
                      f"calls/run {len(results[0]['walls'].get(k, []))}")
    fails = {(r["failed"], r["attempted"]) for r in results}
    print(f"correct in every run: {all(r['correct'] for r in results)}; "
          f"(failed, attempted) seen: {sorted(fails)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
