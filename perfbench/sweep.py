"""Steadiness sweep: run the benchmark once per seed on each workload and
summarise every end-to-end metric as median, quartiles and spread.

Run from the repository root:

    python3 perfbench/sweep.py --label A --seeds 301-310 \
        --out perfbench/baseline.json

Spread is (q3 - q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``: the figure each metric's ``bound``
in BENCHMARK.json is set against.  Each run's output goes to
``.perfbench/out/sweep/``.  An existing ``--out`` file keeps its other
labels and, under ``--label``, the workloads not run again, so two sets of
runs can sit side by side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_list(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def summary(results: list[dict], bounds: dict[str, float]) -> dict:
    out = {}
    for name, first in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[name] = {"unit": first["unit"], "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med, "bound": bounds[name]}
    return out


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--label", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 301-310")
    p.add_argument("--out", required=True)
    p.add_argument("--workload", action="append",
                   help="default: every workload in BENCHMARK.json")
    args = p.parse_args()
    seeds = seed_list(args.seeds)
    logs = os.path.join(".perfbench", "out", "sweep")
    os.makedirs(logs, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = json.load(open(args.out)) if os.path.exists(args.out) else {}
    label = sets.setdefault(args.label, {})
    label.update(seeds=seeds, run_seconds=bench["run_seconds"],
                 cpu=cpu_model(), cores=len(os.sched_getaffinity(0)),
                 date=time.strftime("%Y-%m-%d"))
    for w in args.workload or [x["name"] for x in bench["workloads"]]:
        results, walls, steal = [], [], []
        for seed in seeds:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"]
            base = os.path.join(logs, f"{args.label}-{w}-{seed}")
            t, ticks = time.perf_counter(), cpu_ticks()
            with open(base + ".out", "w") as out, open(base + ".err", "w") as err:
                subprocess.run(cmd, stdout=out, stderr=err, check=True)
            walls.append(time.perf_counter() - t)
            total, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
            steal.append(stolen / total)
            with open(base + ".out") as f:
                results.append(json.loads(f.read().strip().splitlines()[-1]))
            print(f"{w} seed {seed}: {walls[-1]:.1f} s, cpu steal "
                  f"{steal[-1]:.2f}, failed {results[-1]['failed']}",
                  file=sys.stderr, flush=True)
        label[w] = {"attempted": sum(r["attempted"] for r in results),
                    "failed": sum(r["failed"] for r in results),
                    "run_wall_s": {"median": statistics.median(walls),
                                   "max": max(walls)},
                    # share of the machine's CPU time taken by other guests
                    # of the host while the runs went on
                    "cpu_steal": {"median": statistics.median(steal),
                                  "max": max(steal)},
                    "metrics": summary(results, bounds)}
        with open(args.out, "w") as f:
            json.dump(sets, f, indent=1)
            f.write("\n")
        for name, m in label[w]["metrics"].items():
            print(f"{w:20s} {name:34s} median {m['median']:12.4f} "
                  f"spread {m['spread']:.4f} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
