"""Run the benchmark over every workload and print its metrics.

    python3 perfbench/report.py                      # one run per workload
    python3 perfbench/report.py --seeds 1-10         # ten runs per workload + spreads
    python3 perfbench/report.py --trace              # the per-layer runs
    python3 perfbench/report.py --seeds 1-10 --out perfbench/BASELINE.json

Each run is ``perfbench/run.py`` in its own process, one at a time, on
every workload of ``BENCHMARK.json`` at its ``run_seconds``.
For every end-to-end metric the table gives the median over the runs
and, with several seeds, the spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median.  Exits non-zero when any run fails or reports a failed
output check.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    for line in proc.stderr.splitlines():
        if line.startswith("#"):
            print(f"  [{workload} seed {seed}] {line[2:]}", file=sys.stderr)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  [{workload} seed {seed}] exit {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def spread(values: list[float]) -> float | None:
    if len(values) < 2:
        return None
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1", help="seed or inclusive range, e.g. 1-10")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", help="write the summary as JSON to this file")
    args = ap.parse_args()

    specs = bench["per_layer" if args.trace else "end_to_end"]
    summary: dict = {"host": {"cpus": os.cpu_count(), "machine": platform.machine()},
                     "seeds": args.seeds, "seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for wl in (w["name"] for w in bench["workloads"]):
        runs = [run_once(wl, s, bench["run_seconds"], args.trace) for s in seed_list(args.seeds)]
        good = [r for r in runs if r is not None and r["correct"]]
        ok = ok and len(good) == len(runs)
        print(f"\n{wl}: {len(good)}/{len(runs)} runs correct")
        rows = {}
        for spec in specs:
            values = [r["metrics"][spec["name"]]["value"] for r in good]
            if not values:
                continue
            med, spr = statistics.median(values), spread(values)
            rows[spec["name"]] = {"median": med, "spread": spr, "values": values,
                                  "unit": spec["unit"]}
            bound = spec.get("bound")
            print(f"  {spec['name']:28s} {med:14.4f} {spec['unit']:8s}"
                  + ("" if spr is None else f" spread {spr:.4f}")
                  + ("" if bound is None else f" (bound {bound})"))
        summary["workloads"][wl] = rows
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
