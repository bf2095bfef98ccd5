"""nreadability_spark benchmark: one workload, one seed, one result.

    python3 perfbench/run.py --workload pages_large --seed 1 --seconds 10 \\
        --trace 0

Run it from the repository root: the package under test is imported
from there. One driver process submits one Spark action at a time
(closed loop) to ``local[N]``, N being the CPUs this process may use.
A run generates the workload's inputs from ``perfbench/data`` and the
seed, sets up once from cold (a new JVM, a new package zip), warms up
once, times passes for ``--seconds`` (at least one), then times
``job.transcode_row`` in-process on a sample while Spark is idle.
Outputs are checked throughout. ``--trace 1`` adds the layer passes and
the traced kernel sample (``warc_job``: also a resume and the ops
layer), writes spans under ``.perfbench_work/traces/`` and reports the
per-layer metrics of BENCHMARK.json instead of the end-to-end ones.

Every metric is printed by name with its unit, median, highest
supported percentile and sample count. The last line of standard output
is the JSON result. Exit code 1: a check failed; 2: the run could not
start (for example, the package under test is missing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import nreadability_spark  # noqa: F401  the program under test
        import harness
        import workloads
    except (OSError, ImportError, ValueError) as exc:
        print(f"perfbench: cannot start: {exc!r}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run = harness.Run(args.workload, args.seed, args.seconds,
                      bool(args.trace), WORK)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(run.path(sub), exist_ok=True)
    # the run, the JVM and the Python workers write only inside the checkout
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")  # wins over conf
    # also reaches the JVM spark-submit starts to build the driver command
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp')}"
    tempfile.tempdir = None
    sys.setrecursionlimit(40000)  # as the extraction workers do

    result = None
    try:
        result = workloads.WORKLOADS[args.workload](run).execute()
    except Exception:  # a crash is a failed run, reported as one
        traceback.print_exc()
        run.problem("run crashed")
    finally:
        run.shutdown()
        shutil.rmtree(run.dir, ignore_errors=True)
    if result is None:
        return 1

    names = spec["per_layer" if run.trace else "end_to_end"]
    metrics = {}
    for m in names:
        # a per-layer metric of a layer this workload does not run is 0
        value = result[m["name"]] if not run.trace \
            else result.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = not run.problems
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
