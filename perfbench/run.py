"""TheoremKB KG-construction benchmark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository (the directory that
holds ``theoremkb_spark/``). One process runs one workload on
``local[N]``, N = the cores this process may use. Inputs are generated
from ``--seed`` and cached under ``.perfbench_cache/``. Every metric is
printed as ``name value unit``; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` whose
metrics are the end-to-end set (``--trace 0``) or the per-layer set
from the traced layer sweep (``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

# the workloads and end-to-end metrics of BENCHMARK.json
REGISTERED = ("kg_batch", "simjoin")
END_TO_END = ("setup_s", "rep_p50_s", "work_per_s")


def _prepare_env(root: str) -> None:
    """The package comes from the checkout (also for Spark's Python
    workers), and every temporary file stays inside it."""
    sys.path.insert(0, root)
    from perfbench.inputs import cache_root

    tmp = os.path.join(cache_root(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache_root(root), "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "theoremkb_spark", "__init__.py")):
        print(f"perfbench: no theoremkb_spark package under {root}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    _prepare_env(root)

    from perfbench.common import Run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(root, args.seed, args.seconds, T_START)
    try:
        if args.trace:
            from perfbench.trace import traced

            metrics = traced(run, args.workload)
        else:
            metrics = WORKLOADS[args.workload](run)
    finally:
        peak = run.close()
    if not args.trace:
        metrics["peak_rss_mb"] = (peak, "MB")
    attempted, failed = run.attempted, run.failed
    metrics["fail_frac"] = (failed / attempted if attempted else 1.0, "ratio")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value} {unit}")
    if args.trace or args.workload not in REGISTERED:
        keep = [m for m in metrics if m != "fail_frac"]
    else:
        keep = END_TO_END
    print(
        json.dumps(
            {
                "correct": attempted > 0 and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in keep},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
