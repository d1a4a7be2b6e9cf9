"""Benchmark of lucene_plugin_spark as a search service's user sees it.

Run from the repository root:

    python3 perfbench/run.py --workload search_interactive --seed 1 \
        --seconds 10 --trace 0

It generates its inputs from ``--seed``, starts Spark at local[<cores>],
builds the index, runs the workload with one closed-loop client for
``--seconds`` (with a floor of operations), checks every result against
``lucene_plugin_spark.oracle.OracleEngine`` and prints each metric with its
unit.  The last line of standard output is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.  State
(input cache, scratch warehouses, span dumps) lives under ``.perfbench/``.
See perfbench/README.md for the metrics and the workloads.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

#: corpus size; set by the time one run may take (README.md, "Sizing")
N_DOCS = 10_000


def main(argv=None) -> int:
    from workloads import WORKLOADS, run
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lucene_plugin_spark", "api.py")):
        print("perfbench: run from the repository root (lucene_plugin_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 N_DOCS, os.path.join(root, ".perfbench"), T_PROCESS)
    for name, m in result["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'attempted':40s} {result['attempted']:>16d}\n"
          f"{'failed':40s} {result['failed']:>16d}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
