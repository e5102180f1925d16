"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the median, the quartile spread as a share of the
median, and the metric's bound from BENCHMARK.json.

Usage: python3 perfbench/steadiness.py [--seeds 1-10] [--trace 0] [workload ...]

Runs are sequential; each prints its result line as it finishes. The
summary also gives the wall time of every run, which must keep all of a
workload's runs inside the benchmark's time budget.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    summary = {}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for s in args.seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.monotonic() - t0)
            if proc.returncode != 0:
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            detail = json.loads(proc.stdout.splitlines()[-2])["detail"]
            result = json.loads(proc.stdout.splitlines()[-1])
            print(f"{w} seed {s} ({walls[-1]:.1f}s): {json.dumps(result)}", flush=True)
            print(f"  passes {detail['passes_s']} steal {detail['host_steal']} "
                  f"gauge {detail['host_gauge_s']}", flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        rows = {}
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            rows[name] = {
                "median": med, "spread": (q3 - q1) / med if med else 0.0,
                "bound": bounds.get(name), "n": len(vals),
            }
        summary[w] = {"metrics": rows, "wall_s": walls}
        for name, r in rows.items():
            print(f"  {w:10s} {name:24s} median {r['median']:10.4f}  spread {r['spread']:.3f}"
                  f"  bound {r['bound']}")
        print(f"  {w:10s} wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
